package perfbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.{GraftSession, QuerySession}
import graft.etl.{Enrich, ExportJob}

/** A workload: the shape of each ingested hour, and the store it lands in.
  * `window = 0` exports the same hour into a fresh store every cycle;
  * otherwise the store keeps the last `window` hours (older hours are
  * dropped, as a retention rule would), starting from one history hour
  * delivered as `historyFiles` large objects. `cycleSeconds` is the
  * nominal time of a warm cycle on a 4-core host; it turns `--seconds`
  * into a fixed cycle count, so every run of a workload does the same work
  * and reports the same tail percentile. */
final case class Workload(name: String, shape: Shape, window: Int, historyFiles: Int, cycleSeconds: Double)

object Workload {
  val all: Map[String, Workload] = Seq(
    // the Python ETL bench's shape (16 objects, 5 buckets x 3 operations) at 200k lines
    Workload("export_hour", Shape(lines = 200000, files = 16, buckets = 5, ops = 3, skew = 0.0),
      window = 0, historyFiles = 0, cycleSeconds = 3.7),
    // many small objects, Zipf-skewed over 10 buckets x 4 operations
    Workload("logstore_mixed", Shape(lines = 20000, files = 24, buckets = 10, ops = 4, skew = 1.0),
      window = 2, historyFiles = 2, cycleSeconds = 3.1),
  ).map(w => w.name -> w).toMap

  /** Queries of each class in a measured cycle. */
  val PerClass = 4
  /** Set-up ends with `WarmCycles` untimed cycles of `WarmPerClass` queries
    * of each class: query planning needs many more runs than the export to
    * reach its JIT-compiled speed. */
  val WarmCycles = 2
  val WarmPerClass = 12
}

/** Samples of one run, kept apart for traced and untraced cycles. */
final class Samples {
  val exportS = mutable.ArrayBuffer.empty[Double]
  val rowsPerS = mutable.ArrayBuffer.empty[Double]
  val bytesRatio = mutable.ArrayBuffer.empty[Double]
  val freshnessS = mutable.ArrayBuffer.empty[Double]
  val queryMs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def query(cls: String): mutable.ArrayBuffer[Double] = queryMs.getOrElseUpdate(cls, mutable.ArrayBuffer.empty)
  /** Per-layer values, one per traced call; reported as medians. */
  val layer = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def put(name: String, v: Double): Unit = layer.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
}

object Stats {
  def median(xs: Iterable[Double]): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it: the
    * (n-10)-th smallest of n samples. */
  def tail(xs: Iterable[Double]): (Double, Double) = {
    val s = xs.toArray.sorted
    if (s.length < 11) (Double.NaN, Double.NaN)
    else (s(s.length - 11), 100.0 * (s.length - 10) / s.length)
  }
}

final class Run(spark: SparkSession, wl: Workload, seed: Long, work: File) {
  import Run._
  private val gen = new LogGen(seed, wl.shape)
  private val rng = new SplittableRandom(LogGen.mix(seed, 0x51L))
  val untraced = new Samples
  val traced = new Samples
  var attempted = 0
  var failed = 0
  val problems = mutable.ArrayBuffer.empty[String]

  /** One operation: counted as attempted; an exception or a failed check
    * counts it as failed. */
  private def op[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch { case e: Throwable =>
      failed += 1
      problems += s"$what: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
      None
    }
  }

  private def check(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new IllegalStateException(s"output check failed: $msg")

  // ---------------------------------------------------------------- input

  private val inputDir = new File(work, "in")
  private val storeDir = new File(work, "store")
  private val trackDir = new File(work, "track")
  /** Generator tallies of the hours the store holds, oldest first. */
  private var window: Seq[HourTally] = Nil
  private var nextHour = 0

  /** Replace the input directory's contents with `hours`. */
  private def generate(hours: Seq[Int], files: Int): Seq[HourTally] = {
    Dirs.delete(inputDir)
    hours.map(h => gen.writeHour(inputDir, h, files))
  }

  private def freshStore(): Unit = { Dirs.delete(storeDir); Dirs.delete(trackDir) }

  /** Set-up: the base inputs, generated three times, and for a store with
    * a window its history hour, exported. Returns the three generation
    * times. */
  def setUp(): Seq[Double] = {
    def genTimed(hours: Seq[Int], files: Int): Seq[Double] = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      window = generate(hours, files)
      (System.nanoTime() - t0) / 1e9
    }
    val genSeconds =
      if (wl.window == 0) genTimed(Seq(ExportHour), wl.shape.files)
      else {
        val g = genTimed(Seq(0), wl.historyFiles)
        window.foreach(h => ingest(h, new Samples, None))
        g
      }
    nextHour = window.last.hour + 1
    genSeconds
  }

  /** One closed-loop cycle: ingest an hour, open the store, run
    * `perClass` queries of each class. */
  def cycle(s: Samples, t: Option[Tracer], perClass: Int): Unit = {
    if (wl.window == 0) freshStore()
    else { window = window ++ generate(Seq(nextHour), wl.shape.files); nextHour += 1 }
    // collect garbage outside the timed calls, so no operation pays for the
    // previous one's heap
    System.gc()
    val exported = ingest(window.last, s, t)
    if (wl.window > 0 && window.size > wl.window) {
      val (d, hh) = LogGen.dayHour(window.head.hour)
      for (b <- Dirs.children(storeDir); o <- Dirs.children(b))
        Dirs.delete(new File(o, s"year=2021/month=7/day=$d/hour=$hh"))
      window = window.tail
    }
    val opened = reopen(s, t)
    for (e <- exported; o <- opened) s.freshnessS += e + o
    val q0 = StoreQueries.Classes.map(c => s.query(c).size)
    System.gc()
    runQueries(s, t, perClass)
    System.err.println(f"perfbench: cycle export ${exported.getOrElse(Double.NaN)}%.3f s, " +
      f"open ${opened.getOrElse(Double.NaN)}%.3f s, " + StoreQueries.Classes.zip(q0).map { case (c, n) =>
        s"$c " + s.query(c).drop(n).map(v => f"$v%.0f").mkString(",") }.mkString(" "))
  }

  // --------------------------------------------------------------- export

  /** Export one hour through the engine. Untraced: `ExportJob.runHour`
    * itself. Traced: the same public calls `runHour` makes, one span each. */
  private def export(dst: String, track: String, h: Int, t: Option[Tracer], s: Samples): Long = {
    val hour = LogGen.hourString(h)
    val src = inputDir.getPath
    t match {
      case None => ExportJob.runHour(spark, src, dst, track, hour)
      case Some(tr) =>
        val ((n, lines, renamed, spans), hs) = tr.span("etl.hour") {
          check(!ExportJob.Tracking.done(spark, track, hour), s"hour $hour already marked")
          val (lines, rs) = tr.span("etl.readHour")(ExportJob.readHour(spark, src, hour).get)
          val (parsed, _) = tr.span("etl.parse")(Enrich.parseLines(lines))
          val obs = Observation(s"perfbench-export-$hour")
          val (_, ws) = tr.span("etl.write")(ExportJob.write(parsed.observe(obs, count(lit(1)).as("rows")), dst))
          val n = obs.get("rows").asInstanceOf[Long]
          val (renamed, ns) = tr.span("etl.rename")(ExportJob.renameToReferenceLayout(spark, dst, Some(hour)))
          val (_, ms) = tr.span("etl.mark")(ExportJob.Tracking.mark(spark, track, hour, s"exported hour=$hour rows=$n"))
          (n, lines, renamed, Seq(rs, ws, ns, ms))
        }
        val Seq(rs, ws, ns, ms) = spans
        s.put("etl.readHour.s", rs.seconds)
        s.put("etl.readHour.files", lines.inputFiles.length)
        s.put("etl.write.s", ws.seconds)
        s.put("etl.rename.s", ns.seconds)
        s.put("etl.rename.files", renamed)
        s.put("etl.mark.s", ms.seconds)
        tr.settle()
        val write = tr.stages(ws)
        // the write job's map stages scan, tokenize, enrich and shuffle-write;
        // the rest sort, encode and write files
        val (map, reduce) = write.partition(_.shuffleWrite > 0)
        val parseCpu = map.map(_.cpuNs).sum / 1e9
        s.put("etl.parse.task_s", map.map(_.runMs).sum / 1e3)
        s.put("etl.parse.cpu_s", parseCpu)
        s.put("etl.parse.tasks", map.map(_.tasks).sum.toDouble)
        s.put("etl.parse.rows_per_cpu_s", if (parseCpu > 0) n / parseCpu else 0.0)
        s.put("etl.shuffle.write_bytes", map.map(_.shuffleWrite).sum.toDouble)
        s.put("etl.write.task_s", reduce.map(_.runMs).sum / 1e3)
        s.put("etl.write.cpu_s", reduce.map(_.cpuNs).sum / 1e9)
        s.put("etl.write.tasks", reduce.map(_.tasks).sum.toDouble)
        s.put("etl.write.gc_s", reduce.map(_.gcMs).sum / 1e3)
        s.put("etl.write.spill_bytes", reduce.map(_.spill).sum.toDouble)
        s.put("etl.write.max_task_s", reduce.map(_.maxTaskMs).foldLeft(0L)(math.max) / 1e3)
        s.put("etl.write.bytes", reduce.map(_.outBytes).sum.toDouble)
        s.put("etl.driver_rest.s", tr.driverRestSeconds(hs))
        s.put("etl.hour.self_s", tr.selfSeconds(hs))
        n
    }
  }

  /** Layout checks on one exported hour: one reference-named file per
    * partition dir, and the dirs are exactly the generated combos.
    * Returns (files, bytes). */
  private def checkLayout(dst: File, tally: HourTally): (Int, Long) = {
    val (d, hh) = LogGen.dayHour(tally.hour)
    val found = for {
      b <- Dirs.children(dst).filter(_.getName.startsWith("bucket_name="))
      o <- Dirs.children(b).filter(_.getName.startsWith("operation="))
      dir = new File(o, s"year=2021/month=7/day=$d/hour=$hh") if dir.isDirectory
    } yield {
      val bucket = b.getName.stripPrefix("bucket_name="); val opn = o.getName.stripPrefix("operation=")
      val data = Dirs.children(dir).filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))
      val want = s"$bucket-$opn-2021-7-$d-$hh.parquet"
      check(data.map(_.getName) == Seq(want), s"$dir holds ${data.map(_.getName).mkString(",")}, want $want")
      ((bucket, opn), data.head.length())
    }
    check(found.map(_._1).toSet == tally.combos.toSet,
      s"hour ${tally.hour}: ${found.size} partition dirs, generated ${tally.combos.size} combos")
    (found.size, found.map(_._2).sum)
  }

  /** Ingest one generated hour into the store, check it, and record its samples. */
  private def ingest(tally: HourTally, s: Samples, t: Option[Tracer]): Option[Double] =
    op(s"export hour ${tally.hour}") {
      val t0 = System.nanoTime()
      val n = export(storeDir.getPath, trackDir.getPath, tally.hour, t, s)
      val secs = (System.nanoTime() - t0) / 1e9
      check(n == tally.rows, s"exported $n rows, generated ${tally.rows}")
      val (files, bytes) = checkLayout(storeDir, tally)
      if (t.isDefined) s.put("etl.write.files", files)
      s.exportS += secs
      s.rowsPerS += n / secs
      s.bytesRatio += bytes.toDouble / tally.inputBytes
      secs
    }

  // ---------------------------------------------------------------- query

  private def reopen(s: Samples, t: Option[Tracer]): Option[Double] = op("open store") {
    val t0 = System.nanoTime()
    t match {
      case None => QuerySession.open(spark, storeDir.getPath)
      case Some(tr) =>
        val (_, sp) = tr.span("query.open")(QuerySession.open(spark, storeDir.getPath))
        s.put("query.open.s", sp.seconds)
        s.put("query.open.files", spark.table(StoreQueries.View).inputFiles.length)
    }
    (System.nanoTime() - t0) / 1e9
  }

  private def runQueries(s: Samples, t: Option[Tracer], perClass: Int): Unit =
    StoreQueries.forCycle(rng, gen, window, perClass).foreach { q =>
      op(s"${q.cls}/${q.name}") {
        val t0 = System.nanoTime()
        val rows = t match {
          case None => spark.sql(q.sql).collect()
          case Some(tr) =>
            val ((rows, plan, exec, df), qs) = tr.span(s"query.${q.cls}") {
              val df = spark.sql(q.sql)
              val (_, ps) = tr.span(s"query.${q.cls}.plan")(df.queryExecution.executedPlan)
              val (rows, es) = tr.span(s"query.${q.cls}.exec")(df.collect())
              (rows, ps, es, df)
            }
            val scan = Scans.of(df.queryExecution.executedPlan)
            val p = s"query.${q.cls}"
            s.put(s"$p.plan_s", plan.seconds)
            s.put(s"$p.exec_s", exec.seconds)
            s.put(s"$p.files_read", scan.files.toDouble)
            s.put(s"$p.bytes_read", scan.bytes.toDouble)
            s.put(s"$p.rows_scanned", scan.rows.toDouble)
            s.put(s"$p.rows_scanned_per_row_out", scan.rows.toDouble / math.max(1, rows.length))
            s.put("query.self_s", tr.selfSeconds(qs))
            rows
        }
        s.query(q.cls) += (System.nanoTime() - t0) / 1e6
        val got = rows.map(_.toSeq.map(v => String.valueOf(v)).mkString(",")).toSeq.sorted
        check(got == q.expected.sorted,
          s"${q.name}: got ${got.take(5).mkString(" | ")}, want ${q.expected.sorted.take(5).mkString(" | ")}")
      }
    }

  /** Sampled rows of the store equal the generator's field values. */
  def checkSampledRows(n: Int): Unit = op("sampled rows") {
    val want = Seq.fill(n)(StoreQueries.pick(rng, gen, window))
      .map(x => x.requestId -> x).toMap
    val ids = want.keys.map(id => s"'$id'").mkString(",")
    val got = spark.sql(
      s"SELECT requestid, bucket_name, operation, requester, remoteip_int, key, httpstatus, bytessent, ts " +
        s"FROM ${StoreQueries.View} WHERE requestid IN ($ids)").collect()
    check(got.length == want.size, s"${got.length} sampled rows found, want ${want.size}")
    got.foreach { r =>
      val x = want(r.getString(0))
      val exp = Seq(x.bucket, x.operation, x.requester, x.ip, x.key, x.status, x.bytesSent, x.epochSec)
      val act = Seq(r.get(1), r.get(2), r.get(3), r.get(4), r.get(5), r.get(6), r.get(7), r.get(8))
      check(exp.map(String.valueOf) == act.map(String.valueOf), s"row ${x.requestId}: got $act, want $exp")
    }
  }
}

object Run {
  /** The hour `export_hour` exports, as in the Python ETL bench. */
  val ExportHour = 5
}

object Dirs {
  def children(d: File): Seq[File] = Option(d.listFiles()).map(_.toSeq.sortBy(_.getName)).getOrElse(Nil)
  def delete(f: File): Unit = {
    if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath)) children(f).foreach(delete)
    f.delete()
  }
}

object Main {
  private def fail(msg: String): Nothing = { System.err.println(s"perfbench: $msg"); sys.exit(2) }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val wl = Workload.all.getOrElse(opts.getOrElse("workload", ""),
      fail(s"--workload must be one of ${Workload.all.keys.toSeq.sorted.mkString(", ")}"))
    val seed = opts.get("seed").flatMap(_.toLongOption).getOrElse(fail("--seed <integer> is required"))
    val seconds = opts.get("seconds").flatMap(_.toDoubleOption).getOrElse(fail("--seconds <n> is required"))
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = new File(opts.getOrElse("work", fail("--work <dir> is required")))
    val outDir = new File(opts.getOrElse("out", fail("--out <dir> is required")))

    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    def sinceJvm: Double = (System.currentTimeMillis() - jvmStart) / 1e3
    val cpus = Runtime.getRuntime.availableProcessors()
    // the export's own entry point builds its session this way
    val spark = GraftSession.create(s"local[$cpus]")
    val sessionS = sinceJvm
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val run = new Run(spark, wl, seed, work)

    // ---- set-up: the inputs (generated three times, median kept), the
    // store history and the untimed warm-up cycles
    val t0 = System.nanoTime()
    val genSeconds = run.setUp()
    for (_ <- 0 until Workload.WarmCycles if run.failed == 0) run.cycle(new Samples, None, Workload.WarmPerClass)
    val setupS = sessionS + Stats.median(genSeconds) + (System.nanoTime() - t0) / 1e9 - genSeconds.sum
    System.err.println(f"perfbench: set-up $setupS%.2f s (session $sessionS%.2f s, generate " +
      genSeconds.map(g => f"$g%.2f").mkString(",") + " s)")

    // ---- measured loop: closed, one client. Traced runs interleave
    // untraced, traced, traced, untraced cycles, so tracing overhead is
    // measured in the same run at the same average point of JIT warm-up.
    val cycles = math.max(if (trace) 4 else 2, math.round(seconds / wl.cycleSeconds).toInt)
    val deadline = 140.0 // seconds since JVM start: the run must end well within 180 s
    val loopStart = System.nanoTime()
    var cycle = 0
    while (run.failed == 0 && cycle < cycles && sinceJvm < deadline) {
      val t = if (trace && (cycle % 4 == 1 || cycle % 4 == 2)) tracer else None
      run.cycle(if (t.isDefined) run.traced else run.untraced, t, Workload.PerClass)
      cycle += 1
    }
    val broken = run.failed > 0
    if (!broken) run.checkSampledRows(8)
    val loopS = (System.nanoTime() - loopStart) / 1e9
    val rssMb = peakRssMb()
    tracer.foreach { tr => tr.settle(); tr.write(new File(outDir, s"trace-${wl.name}-seed$seed.jsonl")) }
    spark.sparkContext.setLogLevel("ERROR")
    spark.stop()
    Dirs.delete(work)

    // ---- report
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val u = run.untraced
    val allQueries = u.queryMs.values.flatten
    val (tailMs, tailPct) = Stats.tail(allQueries)
    if (!trace) {
      metrics("setup_s") = (setupS, "s")
      metrics("peak_rss_mb") = (rssMb, "MB")
      metrics("export_rows_per_s") = (Stats.median(u.rowsPerS), "rows/s")
      metrics("export_bytes_ratio") = (Stats.median(u.bytesRatio), "ratio")
      metrics("freshness_s") = (Stats.median(u.freshnessS), "s")
      StoreQueries.Classes.foreach(c => metrics(s"${c}_p50_ms") = (Stats.median(u.query(c)), "ms"))
      metrics("query_tail_ms") = (tailMs, "ms")
    } else {
      val tr = run.traced
      tr.layer.foreach { case (k, v) => metrics(k) = (Stats.median(v), Units.of(k)) }
      metrics("trace.hour_overhead_s") = (Stats.median(tr.exportS) - Stats.median(u.exportS), "s")
      val perClass = StoreQueries.Classes.map(c => Stats.median(tr.query(c)) - Stats.median(u.query(c)))
      metrics("trace.query_overhead_ms") = (perClass.sum / perClass.size, "ms")
    }
    if (!broken && cycle < cycles) run.problems += s"only $cycle of $cycles cycles ran before the deadline"
    if (metrics.values.exists(_._1.isNaN)) run.problems += "a metric has no samples"
    val correct = run.failed == 0 && run.problems.isEmpty

    println(f"perfbench ${wl.name} seed=$seed trace=${if (trace) 1 else 0} cpus=$cpus " +
      f"cycles=$cycle loop=$loopS%.1f s")
    metrics.foreach { case (k, (v, unit)) => println(f"  $k%-40s $v%16.4f $unit") }
    println(f"  ${"failed_share"}%-40s ${run.failed.toDouble / math.max(1, run.attempted)}%16.4f share " +
      s"(${run.failed} of ${run.attempted} operations)")
    if (!trace) println(f"  query_tail_ms is p$tailPct%.1f of ${allQueries.size} queries; " +
      StoreQueries.Classes.map(c => s"$c n=${u.query(c).size}").mkString(", "))
    run.problems.foreach(p => println(s"  FAILED $p"))
    val body = metrics.map { case (k, (v, unit)) => s""""$k":{"value":${jsonNum(v)},"unit":"$unit"}""" }
    println(s"""{"correct":$correct,"attempted":${run.attempted},"failed":${run.failed},"metrics":{${body.mkString(",")}}}""")
    sys.exit(if (correct) 0 else 1)
  }

  private def jsonNum(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString

  /** Peak resident set of this process (VmHWM), in MB. */
  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }
}

object Units {
  def of(metric: String): String = metric.split('.').last match {
    case n if n.contains("bytes") => "B"
    case n if n.endsWith("files") || n.endsWith("files_read") || n == "tasks" || n == "rows_scanned" => "count"
    case "rows_per_cpu_s" => "rows/s"
    case "rows_scanned_per_row_out" => "ratio"
    case _ => "s"
  }
}
