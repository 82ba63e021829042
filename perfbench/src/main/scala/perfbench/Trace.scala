package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Counts for one stage attempt of a traced span, summed over its tasks. */
final class StageStat(val group: String) {
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var outBytes = 0L
  var maxTaskMs = 0L
  var submittedMs = 0L
  var completedMs = 0L
}

/** Benchmark-side SparkListener. Jobs are attributed to the span that
  * started them through the job group the tracer sets around each span
  * (`spark.jobGroup.id`); stages and tasks follow their job. */
final class Collector extends SparkListener {
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobs = mutable.HashMap.empty[String, Int]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), StageStat]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
      jobs(g) = jobs.getOrElse(g, 0) + 1
      e.stageIds.foreach(stageGroup(_) = g)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val info = e.stageInfo
    stageGroup.get(info.stageId).foreach { g =>
      val s = stages.getOrElseUpdate((info.stageId, info.attemptNumber()), new StageStat(g))
      s.submittedMs = info.submissionTime.getOrElse(System.currentTimeMillis())
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get((e.stageId, e.stageAttemptId)).foreach { s =>
      s.tasks += 1
      s.maxTaskMs = math.max(s.maxTaskMs, e.taskInfo.duration)
      Option(e.taskMetrics).foreach { m =>
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.outBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stages.get((info.stageId, info.attemptNumber())).foreach { s =>
      s.completedMs = info.completionTime.getOrElse(System.currentTimeMillis())
    }
  }

  def jobsOf(group: String): Int = synchronized(jobs.getOrElse(group, 0))
  def stagesOf(group: String): Seq[StageStat] = synchronized(stages.values.filter(_.group == group).toSeq)
}

/** One traced call: name, start, end (ns), parent span and request id. */
final case class Span(id: Int, name: String, parent: Int, request: Int,
                      startNs: Long, startMs: Long, var endNs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
  def group: String = s"perfbench-span-$id"
}

/** In-memory spans around the benchmark's calls into each layer, written
  * out once at the end of the run. A span with no open parent starts a new
  * request (one export hour, one store query). */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  val collector = new Collector
  sc.addSparkListener(collector)

  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Span]
  private var requests = 0

  def span[T](name: String)(body: => T): (T, Span) = {
    val parent = open.headOption
    val request = parent.map(_.request).getOrElse { requests += 1; requests }
    val s = Span(spans.size, name, parent.fold(-1)(_.id), request, System.nanoTime(), System.currentTimeMillis())
    spans += s
    open ::= s
    sc.setJobGroup(s.group, name)
    try (body, s)
    finally {
      s.endNs = System.nanoTime()
      open = open.tail
      open.headOption match {
        case Some(p) => sc.setJobGroup(p.group, p.name)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Block until the listener has seen every event of the spans so far. */
  def settle(): Unit = org.apache.spark.perfbench.BusDrain(sc)

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  /** Span duration minus the part of it that its child spans cover. */
  def selfSeconds(s: Span): Double = s.seconds - children(s).map(_.seconds).sum

  def stages(s: Span): Seq[StageStat] = collector.stagesOf(s.group)

  /** All stages of a span and its descendants. */
  def stagesUnder(s: Span): Seq[StageStat] = stages(s) ++ children(s).flatMap(stagesUnder)

  /** Wall time of a span not covered by any of its stages' busy intervals:
    * driver-side planning, listing, commit and waiting. */
  def driverRestSeconds(s: Span): Double = {
    val ivs = stagesUnder(s).filter(_.completedMs > 0).map(st => (st.submittedMs, st.completedMs)).sortBy(_._1)
    var busy = 0L; var curS = -1L; var curE = -1L
    ivs.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) busy += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) busy += curE - curS
    math.max(0.0, s.seconds - busy / 1e3)
  }

  def write(file: java.io.File): Unit = {
    file.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(file, "UTF-8")
    try spans.foreach { s =>
      val st = stages(s)
      w.println(s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"request":${s.request},""" +
        s""""start_ms":${s.startMs},"seconds":${s.seconds},"jobs":${collector.jobsOf(s.group)},""" +
        s""""stages":${st.size},"tasks":${st.map(_.tasks).sum},"task_s":${st.map(_.runMs).sum / 1e3},""" +
        s""""cpu_s":${st.map(_.cpuNs).sum / 1e9}}""")
    } finally w.close()
  }
}

/** File-scan metrics of an executed plan. `AdaptiveSparkPlanHelper` walks
  * into AQE query stages and subqueries, which `SparkPlan.collect` skips. */
object Scans extends AdaptiveSparkPlanHelper {
  final case class ScanStat(files: Long, bytes: Long, rows: Long)

  def of(plan: SparkPlan): ScanStat = {
    val scans = collectWithSubqueries(plan) { case s: FileSourceScanExec => s }
    def sum(name: String) = scans.flatMap(_.metrics.get(name)).map(_.value).sum
    ScanStat(sum("numFiles"), sum("filesSize"), sum("numOutputRows"))
  }
}
