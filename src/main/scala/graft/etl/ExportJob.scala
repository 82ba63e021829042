package graft.etl

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's batch pipeline (cmd/export.py:204-397), Spark-first:
  * one narrow scan→parse→enrich chain, one wide boundary (the shuffle
  * before the partitioned write). No driver-side materialization — the
  * reference's whole-hour pandas gather (cmd/export.py:134) is exactly
  * the ceiling this design removes at 100 TB.
  */
object ExportJob {

  /** Hour-glob text scan (reference create_files_index, cmd/export.py:31-56).
    * The `$hour*` glob is pushed into the file listing, so only that hour's
    * objects are enumerated — the reference's only scan predicate. Applied
    * uniformly to local and object-store paths (the reference skips the
    * filter on its local branch — a deliberate divergence, SURVEY.md §2.1).
    * Returns None when no files match (reference exits 0,
    * cmd/export.py:339-341). */
  def readHour(spark: SparkSession, src: String, hour: String): Option[DataFrame] = {
    val pattern = new Path(s"${src.stripSuffix("/")}/$hour*")
    val fs = pattern.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val matches = Option(fs.globStatus(pattern)).getOrElse(Array.empty)
    if (matches.isEmpty) None
    else Some(spark.read.text(matches.map(_.getPath.toString): _*))
  }

  /** Partitioned, clustered, Snappy parquet sink (reference
    * s3access/parquet.py:31-112): one file per partition combo, clustered
    * on `rowGroupCols` — the Spark equivalent of the reference's
    * per-key-combo `write_table` loop (parquet.py:20-21). The sort rule and
    * the page encoding are in [[graft.io.Layout.write]]'s scaladoc; the
    * columns written without a dictionary are
    * [[LogSchema.noDictionaryCols]]. */
  def write(df: DataFrame, dst: String): Unit =
    graft.io.Layout.write(df, dst, SaveMode.Append,
      LogSchema.partitionCols, LogSchema.rowGroupCols, LogSchema.noDictionaryCols)

  /** One exported hour's rows and, among them, the malformed inputs:
    * `partial` lines had fewer than 24 tokens (no `tlsversion`),
    * `badTime` had an unparseable request time (no `ts`), `badIp` a
    * remote IP that is not an IPv4 literal (no `remoteip_int`). */
  case class HourCounts(rows: Long, partial: Long, badTime: Long, badIp: Long) {
    def marker(hour: String): String =
      s"exported hour=$hour rows=$rows partial=$partial bad_time=$badTime bad_ip=$badIp"
    def json: String = s""""rows":$rows,"partial":$partial,"bad_time":$badTime,"bad_ip":$badIp"""
  }

  /** Idempotency markers (reference cmd/export.py:158-168, 319-324):
    * presence of `{trackingDst}/{hour}` means the hour is already done. */
  object Tracking {
    def done(spark: SparkSession, trackingDst: String, hour: String): Boolean = {
      val p = new Path(s"${trackingDst.stripSuffix("/")}/$hour")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    }
    def mark(spark: SparkSession, trackingDst: String, hour: String, detail: String): Unit = {
      val p = new Path(s"${trackingDst.stripSuffix("/")}/$hour")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val out = fs.create(p, true)
      try out.write(detail.getBytes("UTF-8")) finally out.close()
    }
  }

  /** Post-commit rename to the reference's deterministic file naming
    * (s3access/parquet.py:89-92): each partition dir's single data file
    * becomes `{bucket}-{operation}-{year}-{month}-{day}-{hour}.parquet`.
    * Valid because `write` routes each partition combo to one task
    * (repartition on the partition cols) → exactly one file per dir.
    * Closes SURVEY §7.4#1; a FileCommitProtocol would do this atomically
    * inside the commit — the rename pass is the simpler equivalent and
    * touches only filesystem metadata. */
  def renameToReferenceLayout(spark: SparkSession, dst: String,
                              hour: Option[String] = None): Int = {
    val root = new Path(dst)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Scoping the glob to one hour keeps the rename pass O(this hour's
    // partition combos): the unscoped glob walks every partition dir ever
    // written — a year of appends is ~8,760 hours of dirs listed to
    // rename a handful of new files. Partition dir values are unpadded
    // ints (year=2021/month=7/...), so strip the HOUR string's zero pads.
    val hourValues = hour.fold(Map.empty[String, String]) { h =>
      val Array(y, mo, d, hh) = h.split("-").map(_.toInt.toString)
      Map("year" -> y, "month" -> mo, "day" -> d, "hour" -> hh)
    }
    val glob = LogSchema.partitionCols.map(c => s"$c=${hourValues.getOrElse(c, "*")}")
      .mkString("/", "/", "/part-*.parquet")
    val parts = Option(fs.globStatus(new Path(dst + glob))).getOrElse(Array.empty)
    parts.map { st =>
      val dir = st.getPath.getParent
      // dir chain: .../bucket_name=B/operation=O/year=Y/month=M/day=D/hour=H
      val values = Iterator.iterate(dir)(_.getParent).take(LogSchema.partitionCols.size)
        .toSeq.reverse.map(_.getName.split("=", 2)(1))
      val target = new Path(dir, values.mkString("-") + ".parquet")
      if (st.getPath == target) 1
      else {
        // Crash-and-rerun idempotency: the rename runs BEFORE the hour's
        // tracking marker, so a rerun re-exports the complete hour — the
        // fresh part-* file supersedes any previously-renamed target.
        // Without the delete, HDFS-semantics rename returns false on an
        // existing target and both files would survive in the dir
        // (duplicate rows on read).
        if (fs.exists(target)) fs.delete(target, false)
        if (!fs.rename(st.getPath, target)) throw new java.io.IOException(
          s"renameToReferenceLayout: rename ${st.getPath} -> $target failed")
        1
      }
    }.sum
  }

  /** Preflight smoke checks (reference cmd/export.py:346-376): read the
    * FIRST matched input file end-to-end counting its lines (the
    * reference's smoke_read counts len(readlines()) — a full-object read,
    * catching truncated/permission-broken objects that a first-byte probe
    * would pass); write/read/delete a probe file under dst. Fails fast
    * before any cluster work is scheduled. */
  def preflight(spark: SparkSession, src: String, dst: String, hour: String): Boolean = {
    val pattern = new Path(s"${src.stripSuffix("/")}/$hour*")
    val srcFs = pattern.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val first = Option(srcFs.globStatus(pattern)).getOrElse(Array.empty).headOption
    val ok = first.forall { st =>
      // the read IS the check: an unreadable/truncated object throws out
      // of the count; any line count (including zero) means readable —
      // there is deliberately no predicate on the value
      spark.read.text(st.getPath.toString).count()
      true
    }
    val probe = new Path(s"${dst.stripSuffix("/")}/.graft-preflight-${java.util.UUID.randomUUID()}")
    val fs = probe.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val out = fs.create(probe, true)
      try out.write("probe".getBytes("UTF-8")) finally out.close()
      val in = fs.open(probe)
      val buf = new Array[Byte](5)
      try in.readFully(buf) finally in.close()
      ok && new String(buf, "UTF-8") == "probe"
    } finally fs.delete(probe, false)
  }

  /** One hour's export: read → parse → enrich → write → mark.
    * Returns number of rows written, or -1 if skipped (marker present or
    * no input files). */
  def runHour(spark: SparkSession, src: String, dst: String,
              trackingDst: String, hour: String): Long =
    exportHour(spark, src, dst, trackingDst, hour).fold(-1L)(_.rows)

  /** The HOUR contract (reference cmd/export.py:238-241): a real
    * calendar hour spelled `yyyy-MM-dd-HH`. Anything else is refused
    * before any listing: [[readHour]]'s `$hour*` glob would widen a
    * shorter string to a whole day (`2021-07-18`) or to hours 00-09
    * (`2021-07-18-0`), and the hour-scoped rename after the write cannot
    * parse it, so the hour would commit without a marker and a rerun
    * would append it again. */
  def requireHour(hour: String): Unit = {
    val valid = hour.matches("""\d{4}-\d{2}-\d{2}-\d{2}""") && scala.util.Try {
      java.time.LocalDate.parse(hour.take(10)) // ISO_LOCAL_DATE: strict calendar
      hour.drop(11).toInt < 24
    }.getOrElse(false)
    if (!valid) throw new IllegalArgumentException(
      s"HOUR must be a calendar hour as yyyy-MM-dd-HH, got '$hour'")
  }

  /** [[runHour]], returning the hour's [[HourCounts]], or None if skipped. */
  def exportHour(spark: SparkSession, src: String, dst: String,
                 trackingDst: String, hour: String): Option[HourCounts] = {
    requireHour(hour)
    if (Tracking.done(spark, trackingDst, hour)) None
    else readHour(spark, src, hour).map { lines =>
      val parsed = Enrich.parseLines(lines)
      // observe() counts the rows that flow through THIS write — no
      // post-write re-scan of dst (which accumulates across hours under
      // SaveMode.Append: a year in, that scan reads ~8,760 hours to
      // produce one marker line, and its count is cumulative, not
      // per-hour). The metrics are only published once the write commits,
      // so the marker still reflects committed rows.
      val obs = org.apache.spark.sql.Observation(s"graft-export-$hour")
      write(parsed.observe(obs, count(lit(1)).as("rows"),
        count_if(col("tlsversion").isNull).as("partial"),
        count_if(col("ts").isNull).as("bad_time"),
        count_if(col("remoteip_int").isNull).as("bad_ip")), dst)
      val m = obs.get
      def n(k: String) = m(k).asInstanceOf[Long]
      val counts = HourCounts(n("rows"), n("partial"), n("bad_time"), n("bad_ip"))
      // Reference file-name parity (s3access/parquet.py:89-92): each
      // partition dir's single file becomes
      // {bucket}-{op}-{y}-{m}-{d}-{h}.parquet. Runs before the marker so
      // a crash mid-rename leaves the hour unmarked.
      renameToReferenceLayout(spark, dst, Some(hour))
      Tracking.mark(spark, trackingDst, hour, counts.marker(hour))
      counts
    }
  }

  /** Job-level watchdog — the analogue of the reference's `TIMEOUT` env
    * (cmd/export.py:259). Documented divergence: the reference passes it
    * to a condition-variable wait inside a re-check loop (s3access/
    * wg.py:29-32), so it never actually aborts anything; here the env var
    * gets teeth as a hard deadline — a wedged S3 read must not silently
    * eat the cron slot (and the next hour's run) forever. `TIMEOUT=0`
    * (the default) disables the deadline. Exit code 124, `timeout`(1)
    * convention. */
  private[etl] def startWatchdog(spark: SparkSession, timeoutSec: Int): Option[Thread] =
    if (timeoutSec <= 0) None
    else {
      val t = new Thread(() => {
        val finishedInTime =
          try { Thread.sleep(timeoutSec * 1000L); false }
          catch { case _: InterruptedException => true }
        if (!finishedInTime) {
          System.err.println(s"""{"error":"export timed out","timeout_sec":$timeoutSec}""")
          spark.sparkContext.cancelAllJobs()
          Runtime.getRuntime.halt(124)
        }
      }, "graft-export-watchdog")
      t.setDaemon(true)
      t.start()
      Some(t)
    }

  /** Env contract of the reference (cmd/export.py:234-259): SRC, DST,
    * TRACKING_DST, HOUR (default = previous hour UTC, cmd/export.py:238-241),
    * TIMEOUT (seconds; see `startWatchdog`). In the reference's order
    * (cmd/export.py:319-376): an hour already marked is skipped, then
    * [[preflight]] must pass — on failure a one-line JSON error goes to
    * stderr and the exit code is 1 — then the hour is exported. */
  def main(args: Array[String]): Unit = {
    val src = sys.env("SRC")
    val dst = sys.env("DST")
    val tracking = sys.env.getOrElse("TRACKING_DST", dst + "_tracking")
    val hour = sys.env.getOrElse("HOUR", {
      val prev = java.time.ZonedDateTime.now(java.time.ZoneOffset.UTC).minusHours(1)
      prev.format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd-HH"))
    })
    requireHour(hour)
    val spark = graft.GraftSession.create()
    S3Config.applyFromEnv(spark, dst)
    val watchdog = startWatchdog(spark, sys.env.getOrElse("TIMEOUT", "0").toInt)
    val exitCode = try {
      if (!Tracking.done(spark, tracking, hour) &&
          !scala.util.Try(preflight(spark, src, dst, hour)).getOrElse(false)) {
        System.err.println(s"""{"hour":"$hour","error":"preflight failed"}""")
        1
      } else {
        val t0 = System.nanoTime()
        val counts = exportHour(spark, src, dst, tracking, hour)
        val secs = (System.nanoTime() - t0) / 1e9
        val fields = counts.fold(""""rows":-1""")(_.json)
        println(f"""{"hour":"$hour",$fields,"job_sec":$secs%.2f}""")
        0
      }
    } finally {
      watchdog.foreach(_.interrupt())
      spark.stop()
    }
    if (exitCode != 0) sys.exit(exitCode)
  }
}
