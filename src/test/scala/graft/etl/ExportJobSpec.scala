package graft.etl

import java.nio.file.Files
import graft.{Fixtures, SparkSpec}

/** Golden end-to-end (SURVEY.md §5.2): fixture hour of raw lines →
  * ExportJob.runHour → assert partition layout, values, pruning, and
  * idempotency. */
class ExportJobSpec extends SparkSpec {

  test("export hour end-to-end: layout, rows, pruning, idempotency") {
    val base = Files.createTempDirectory("graft-e2e").toFile.getAbsolutePath
    val src = s"$base/in"; val dst = s"$base/out"; val tracking = s"$base/track"
    new java.io.File(src).mkdirs()

    // FIXTURES.md §2: two files in hour 05, one in hour 06 (must be excluded)
    Files.write(java.nio.file.Paths.get(s"$src/2021-07-18-05-00-12-ABCDEF0123456789"),
      (Fixtures.happyLine + "\n" + Fixtures.dashLine).getBytes)
    Files.write(java.nio.file.Paths.get(s"$src/2021-07-18-05-30-44-FEDCBA9876543210"),
      Fixtures.happyLine.getBytes)
    Files.write(java.nio.file.Paths.get(s"$src/2021-07-18-06-00-01-0123456789ABCDEF"),
      Fixtures.roleLine.getBytes)

    assert(ExportJob.preflight(spark, src, dst, "2021-07-18-05"))

    val n = ExportJob.runHour(spark, src, dst, tracking, "2021-07-18-05")
    assert(n == 3) // hour-06 file excluded by the glob

    // Hive partition layout (FIXTURES.md §3)
    assert(new java.io.File(
      s"$dst/bucket_name=awsexamplebucket1/operation=REST.GET.OBJECT/year=2021/month=7/day=18/hour=5").isDirectory)
    assert(new java.io.File(
      s"$dst/bucket_name=awsexamplebucket1/operation=REST.GET.LOGGING_STATUS/year=2021/month=7/day=18/hour=5").isDirectory)

    // reference-parity file names (s3access/parquet.py:89-92) come out of
    // runHour itself
    assert(new java.io.File(
      s"$dst/bucket_name=awsexamplebucket1/operation=REST.GET.OBJECT/year=2021/month=7/day=18/hour=5/" +
        "awsexamplebucket1-REST.GET.OBJECT-2021-7-18-5.parquet").isFile)

    val out = spark.read.parquet(dst)
    assert(out.count() == 3)
    assert(out.columns.toSet == LogSchema.schema.fieldNames.toSet)

    // partition-pruned read: only the GET.OBJECT dir should be scanned
    val pruned = out.where("operation = 'REST.GET.OBJECT' and hour = 5")
    val planStr = pruned.queryExecution.executedPlan.toString
    assert(pruned.count() == 2)
    assert(planStr.contains("PartitionFilters"))

    // idempotency: marker written, re-run is a no-op
    assert(ExportJob.Tracking.done(spark, tracking, "2021-07-18-05"))
    assert(ExportJob.runHour(spark, src, dst, tracking, "2021-07-18-05") == -1L)
    assert(spark.read.parquet(dst).count() == 3)

    // empty hour: no files → skip, no marker
    assert(ExportJob.runHour(spark, src, dst, tracking, "2021-07-18-07") == -1L)
    assert(!ExportJob.Tracking.done(spark, tracking, "2021-07-18-07"))

    // marker rows are PER-HOUR, not cumulative: hour 06 appends 1 row to a
    // dst that already holds 3, and both its return and marker must say 1
    // (the count comes from observe() on the written frame, not a re-scan
    // of the accumulated dataset)
    assert(ExportJob.runHour(spark, src, dst, tracking, "2021-07-18-06") == 1L)
    assert(spark.read.parquet(dst).count() == 4)
    val markerPath = java.nio.file.Paths.get(s"$tracking/2021-07-18-06")
    val marker = new String(Files.readAllBytes(markerPath), "UTF-8")
    assert(marker == "exported hour=2021-07-18-06 rows=1 partial=0 bad_time=0 bad_ip=0")

    // TIMEOUT watchdog: 0 disables; an interrupted watchdog dies without
    // firing (the halt path is exercised in packaging tests, not in-JVM)
    assert(ExportJob.startWatchdog(spark, 0).isEmpty)
    val wd = ExportJob.startWatchdog(spark, 3600).get
    wd.interrupt(); wd.join(5000)
    assert(!wd.isAlive)
  }

  test("a malformed HOUR is refused before anything is listed or written") {
    val base = Files.createTempDirectory("graft-hour").toFile.getAbsolutePath
    val src = s"$base/in"; val dst = s"$base/out"; val tracking = s"$base/track"
    new java.io.File(src).mkdirs()
    Files.write(java.nio.file.Paths.get(s"$src/2021-07-18-05-00-12-ABCDEF0123456789"),
      Fixtures.happyLine.getBytes)
    Files.write(java.nio.file.Paths.get(s"$src/2021-07-18-06-00-01-0123456789ABCDEF"),
      Fixtures.roleLine.getBytes)
    // a day globs every hour of it; a one-digit hour globs hours 00-09;
    // the rest are not calendar hours at all
    Seq("2021-07-18", "2021-07-18-0", "2021-07-18-5", "2021-07-18-24",
      "2021-02-30-05", "2021-7-18-05", "2021-07-18-05x", "").foreach { h =>
      intercept[IllegalArgumentException](
        ExportJob.exportHour(spark, src, dst, tracking, h))
      assert(!new java.io.File(dst).exists, s"HOUR '$h' wrote under dst")
      assert(!new java.io.File(tracking).exists, s"HOUR '$h' wrote a marker")
    }
    ExportJob.requireHour("2021-07-18-05")
    ExportJob.requireHour("2024-02-29-23")
  }

  test("malformed-input counters: truncated, bad-time and bad-IP lines reach the marker") {
    val base = Files.createTempDirectory("graft-malformed").toFile.getAbsolutePath
    val src = s"$base/in"; val tracking = s"$base/track"
    new java.io.File(src).mkdirs()
    val lines = Seq(
      Fixtures.happyLine,
      // 22 tokens: the line stops before endpoint and tlsversion
      Fixtures.happyLine.stripSuffix(" awsexamplebucket1.s3.us-west-2.amazonaws.com TLSv1.2"),
      Fixtures.happyLine.replace("18/Jul/2021", "18/Xyz/2021"),
      Fixtures.happyLine.replace("192.0.2.3", "not-an-ip"))
    Files.write(java.nio.file.Paths.get(s"$src/2021-07-18-05-00-12-ABCDEF0123456789"),
      lines.mkString("\n").getBytes)
    val counts = ExportJob.exportHour(spark, src, s"$base/out", tracking, "2021-07-18-05")
    assert(counts.contains(ExportJob.HourCounts(rows = 4, partial = 1, badTime = 1, badIp = 1)), counts)
    val marker = new String(Files.readAllBytes(java.nio.file.Paths.get(s"$tracking/2021-07-18-05")), "UTF-8")
    assert(marker == "exported hour=2021-07-18-05 rows=4 partial=1 bad_time=1 bad_ip=1")
    assert(counts.get.json == "\"rows\":4,\"partial\":1,\"bad_time\":1,\"bad_ip\":1")
    assert(ExportJob.exportHour(spark, src, s"$base/out", tracking, "2021-07-18-05").isEmpty)
  }

  test("each exported file is sorted on rowGroupCols") {
    val base = Files.createTempDirectory("graft-cluster").toFile.getAbsolutePath
    val src = s"$base/in"; val dst = s"$base/out"
    new java.io.File(src).mkdirs()
    // 60 rows in one partition combo, requesters and IPs in scrambled order,
    // plus the dash line's anonymous rows in a second combo
    val lines = (0 until 60).map { i =>
      val k = (i * 37) % 60
      Fixtures.happyLine
        .replace("user/alice", f"user/u${k % 7}%02d")
        .replace("192.0.2.3", s"192.0.2.${(k * 11) % 250}")
    } ++ Seq.fill(3)(Fixtures.dashLine)
    Files.write(java.nio.file.Paths.get(s"$src/2021-07-18-05-00-12-ABCDEF0123456789"),
      lines.mkString("\n").getBytes)
    assert(ExportJob.runHour(spark, src, dst, s"$base/track", "2021-07-18-05") == 63L)

    val files = parquetFiles(dst)
    assert(files.size == 2)
    for (f <- files) assert(sortedOn(f, LogSchema.rowGroupCols), f)
    val big = spark.read.parquet(files.filter(_.contains("REST.GET.OBJECT")): _*)
    assert(big.select("requester").distinct().count() == 7)
  }
}
