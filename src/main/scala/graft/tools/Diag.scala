package graft.tools

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{GraftSession, SparkEntry}

/** Diagnostics over the declared queries. Not part of the driver contract.
  *
  * {{{
  * sbt "runMain graft.tools.Diag plan q111,q112 <sfDir>"
  * sbt "runMain graft.tools.Diag profile q163,q167 <sfDir>"
  * }}}
  *
  * A name selects the keys it equals or that continue it after a `_`:
  * `q16` is `q16_asof_join`, never q160-q169. A name that selects
  * nothing fails.
  *
  * `plan` prints each frame's formatted plan without running it, then a
  * smell line that flags nested-loop/cartesian joins and single-partition
  * windows. Flags are leads, not verdicts: a `crossJoin(broadcast(…))`
  * attaching a 1-row aggregate plans as BroadcastNestedLoopJoin +
  * SinglePartition (q112's bloom, q117's dmin, q121's extrema — the
  * repo's scalar-attach idiom), and `Window [` also matches keyed windows
  * and windows over small aggregated inputs. The real kills are a BNLJ
  * between two corpus-scale sides or an unkeyed window over raw rows —
  * confirm against the source before acting.
  *
  * `profile` runs the first query once, untimed (classloading, codegen),
  * then each query once, and prints its ledger (wall time, jobs, stages,
  * tasks, summed task run/CPU/GC time), its heaviest stages with their
  * call sites, and the final post-AQE plan of the counting action — the
  * numbers that separate per-job scheduling cost from executor compute.
  */
object Diag {
  private val usage = "usage: Diag plan|profile <name>[,<name>...] <sfDir>"

  def main(args: Array[String]): Unit = {
    require(args.length == 3, usage)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val spark = GraftSession.create()
    spark.sparkContext.setLogLevel("ERROR")
    try args(0) match {
      case "plan" => plan(spark, names, args(2))
      case "profile" => profile(spark, names, args(2))
      case other => throw new IllegalArgumentException(s"unknown mode '$other'; $usage")
    } finally spark.stop()
  }

  /** The declared queries `names` select, sorted by name. */
  def select(names: Seq[String]): Seq[(String, (SparkSession, String) => DataFrame)] = {
    def selects(x: String)(n: String) = n == x || n.startsWith(x + "_")
    val all = SparkEntry.queries
    names.foreach(x => require(all.keys.exists(selects(x)), s"no declared query is named '$x'"))
    all.toSeq.sortBy(_._1).filter { case (n, _) => names.exists(selects(_)(n)) }
  }

  private val smells =
    Seq("BroadcastNestedLoopJoin", "CartesianProduct", "Window [", "SinglePartition")

  def plan(spark: SparkSession, names: Seq[String], dir: String): Unit =
    select(names).foreach { case (name, fn) =>
      val (what, df) = lazyCore(spark, name, dir)
        .getOrElse(("declared query frame", fn(spark, dir)))
      println(s"========== $name [$what] ==========")
      println(df.queryExecution.explainString(ExplainMode.fromString("formatted")))
      val executed = df.queryExecution.executedPlan.toString
      println(s"=== $name smells=${smells.filter(executed.contains).mkString("|")}")
    }

  /** A declared frame that collects a bounded result and re-parallelizes
    * it plans as a LocalTableScan that hides the dataflow; such queries
    * are planned from their lazy core instead. */
  private def lazyCore(spark: SparkSession, name: String, dir: String): Option[(String, DataFrame)] =
    if (name == "q71_hard_negatives") {
      val (out, _) = graft.ops.Retrieval.hardNegativesLazy(
        graft.Tables.documents(spark, dir), col("doc_id") % 100 === 0, 10, 0L)
      Some(("lazy core: Retrieval.hardNegativesLazy (the declared q71 " +
        "collects this bounded frame and re-parallelizes it)", out))
    } else None

  final case class StageCost(name: String, tasks: Int, runMs: Long, cpuMs: Long, gcMs: Long)

  /** What one profiled query cost. `plan` is the executed plan of its
    * counting action. */
  final case class Ledger(name: String, wallSec: Double, jobs: Int,
                          stages: Seq[StageCost], plan: String) {
    def tasks: Int = stages.map(_.tasks).sum

    def report: String = {
      def sec(f: StageCost => Long) = stages.map(f).sum / 1000.0
      val head = f"$name%-30s wall=$wallSec%7.2f s  jobs=$jobs%4d stages=${stages.size}%4d " +
        f"tasks=$tasks%6d  taskRun=${sec(_.runMs)}%8.1f s " +
        f"taskCpu=${sec(_.cpuMs)}%8.1f s gc=${sec(_.gcMs)}%6.1f s"
      val heaviest = stages.sortBy(-_.runMs).take(5).map { s =>
        f"    stage ${s.runMs / 1000.0}%8.1f s tasks=${s.tasks}%5d  ${s.name.take(180)}"
      }
      (head +: heaviest :+ s"========== $name executed plan ==========" :+ plan.take(40000))
        .mkString("\n")
    }
  }

  def profile(spark: SparkSession, names: Seq[String], dir: String): Seq[Ledger] = {
    val qs = select(names)
    val sc = spark.sparkContext
    qs.head._2(spark, dir).count()
    val c = new Collector
    sc.addSparkListener(c)
    spark.listenerManager.register(c)
    try qs.map { case (name, fn) =>
      spark.catalog.clearCache()
      // a job tag, not a job group: a streaming query's thread inherits
      // the caller's tags but sets its run id as the job group, so a
      // group would miss every micro-batch job
      val tag = s"graft-diag-${java.util.UUID.randomUUID}"
      sc.addJobTag(tag)
      sc.setJobDescription(name)
      val t0 = System.nanoTime()
      try fn(spark, dir).count() finally {
        sc.removeJobTag(tag)
        sc.setJobDescription(null)
      }
      val wall = (System.nanoTime() - t0) / 1e9
      Bridge.drainListenerBus(sc)
      val l = Ledger(name, wall, c.jobsOf(tag), c.stagesOf(tag), c.lastPlan)
      println(l.report)
      l
    } finally {
      sc.removeSparkListener(c)
      spark.listenerManager.unregister(c)
    }
  }

  /** Attributes jobs and completed stages to each job tag
    * (`spark.job.tags`) they carry, and keeps the executed plan of the
    * last successful action. */
  private final class Collector extends SparkListener with QueryExecutionListener {
    private val tagsOf = mutable.HashMap.empty[Int, Seq[String]]
    private val jobs = mutable.HashMap.empty[String, Int]
    private val stages = mutable.HashMap.empty[String, Vector[StageCost]]
    @volatile var lastPlan = ""

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
        .toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
      tags.foreach(t => jobs(t) = jobs.getOrElse(t, 0) + 1)
      if (tags.nonEmpty) e.stageIds.foreach(tagsOf(_) = tags)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      tagsOf.get(i.stageId).foreach(_.foreach { t =>
        val m = Option(i.taskMetrics)
        stages(t) = stages.getOrElse(t, Vector.empty) :+ StageCost(i.name, i.numTasks,
          m.fold(0L)(_.executorRunTime), m.fold(0L)(_.executorCpuTime / 1000000L),
          m.fold(0L)(_.jvmGCTime))
      })
    }

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      lastPlan = qe.executedPlan.toString

    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

    def jobsOf(tag: String): Int = synchronized(jobs.getOrElse(tag, 0))
    def stagesOf(tag: String): Seq[StageCost] = synchronized(stages.getOrElse(tag, Vector.empty))
  }
}
