package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec

class ScaleOpsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("SpaceSaving heavy hitters: exact on small domains, frequency guarantee") {
    import spark.implicits._
    // skewed synthetic stream: item i appears (50-i)^2 times
    val data = (0 until 50).flatMap(i => Seq.fill((50 - i) * (50 - i))(s"item$i"))
    val ds = spark.createDataset(spark.sparkContext.parallelize(data, 16))
    val top = HeavyHitters.topK(ds, 64) // capacity > domain → exact
    assert(top.head.item == "item0" && top.head.count == 2500L && top.head.maxError == 0L)
    assert(top.map(_.item).take(3) == Seq("item0", "item1", "item2"))

    // capacity < domain → approximate, but guaranteed to surface the top item
    val approx = HeavyHitters.topK(ds, 8)
    assert(approx.map(_.item).contains("item0"))
    val item0 = approx.find(_.item == "item0").get
    assert(item0.count >= 2500L) // SpaceSaving never undercounts
  }

  test("bounded top-k-per-group aggregator matches the window formulation") {
    import org.apache.spark.sql.expressions.Window
    val orders = graft.Tables.orders(spark, dir)
    // q06 ships the aggregate since round 8 — the window formulation
    // lives HERE as the ground truth it must keep matching
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val viaWindow = orders
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("o_custkey"), col("rnk"), col("o_orderkey"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val viaAgg = graft.queries.Relational.q06TopOrdersPerCustomer(spark, dir)
      .select(col("o_custkey"), col("rnk"), col("o_orderkey"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaAgg == viaWindow)
  }

  test("runHour produces the reference's deterministic file names by default") {
    val base = java.nio.file.Files.createTempDirectory("graft-rename").toFile.getAbsolutePath
    val src = s"$base/in"; val dst = s"$base/out"
    new java.io.File(src).mkdirs()
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$src/2021-07-18-05-00-12-AAAA"),
      (graft.Fixtures.happyLine + "\n" + graft.Fixtures.dashLine).getBytes)
    // the rename is wired into runHour itself — no manual
    // renameToReferenceLayout call
    graft.etl.ExportJob.runHour(spark, src, dst, s"$base/track", "2021-07-18-05")
    assert(new java.io.File(
      s"$dst/bucket_name=awsexamplebucket1/operation=REST.GET.OBJECT/year=2021/month=7/day=18/hour=5/" +
        "awsexamplebucket1-REST.GET.OBJECT-2021-7-18-5.parquet").isFile)
    // a second (manual, unscoped) pass finds nothing left to rename
    assert(graft.etl.ExportJob.renameToReferenceLayout(spark, dst) == 0)
    // still a valid readable dataset afterwards
    assert(spark.read.parquet(dst).count() == 2)

    // crash-and-rerun: the hour's marker never landed (crash after the
    // rename, before the mark), so a rerun re-exports the complete hour
    // into the SAME dirs. The fresh file must REPLACE the reference-named
    // target — the old ignored-rename-result path left both files in the
    // dir (duplicate rows on every read)
    graft.etl.ExportJob.runHour(spark, src, dst, s"$base/track-rerun", "2021-07-18-05")
    val dir = new java.io.File(
      s"$dst/bucket_name=awsexamplebucket1/operation=REST.GET.OBJECT/year=2021/month=7/day=18/hour=5")
    assert(dir.listFiles().count(_.getName.endsWith(".parquet")) == 1,
      s"rerun left duplicate files: ${dir.listFiles().map(_.getName).mkString(", ")}")
    assert(spark.read.parquet(dst).count() == 2)
  }

  test("bucketed range join equals the nested-loop formulation") {
    import spark.implicits._
    val points = (1 to 5000).map(i => (i.toLong, (i % 997) * 1.7)).toDF("pid", "v")
    val intervals = (1 to 300).map { i =>
      val lo = (i * 11) % 900 * 1.9
      (i.toLong, lo, lo + (i % 7) * 25.0)
    }.toDF("iid", "lo", "hi")
    val bucketed = RangeJoin.pointInInterval(points, "v", intervals, "lo", "hi", 50.0)
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val naive = points.join(intervals, $"v" >= $"lo" && $"v" <= $"hi")
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bucketed == naive)
    assert(naive.nonEmpty)
    // and it plans as an equi-join, not a nested loop
    val plan = RangeJoin.pointInInterval(points, "v", intervals, "lo", "hi", 50.0)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("as-of join: merged-stream plan, joinless, survives a hot user") {
    import spark.implicits._
    // One bot user with 1e4 events and 1e3 orders. The old
    // equality-join-then-argmax plan evaluates 1e7 (event, order) pairs
    // for this user; the merged-stream window sorts 11k rows once.
    val hot = 1L
    val events = ((1 to 10000).map { i =>
      (i.toLong, i.toLong * 1000000000L, hot)
    } ++ (1 to 50).map { i => (100000L + i, i.toLong * 7000000000L, 2L) })
      .toDF("event_id", "ts", "user_id")
    val orders = ((1 to 1000).map { i =>
      (i.toLong, hot, new java.sql.Timestamp(i.toLong * 9000L))
    } :+ (5000L, 3L, new java.sql.Timestamp(1000L))) // user 3: orders, no events
      .toDF("o_orderkey", "o_custkey", "o_orderdate")
    val asOf = graft.queries.Relational.asOfOrders(events, orders)
    // Scale guarantee: no node can enumerate per-user event x order
    // pairs — the only joins are hot-key routing (broadcast against the
    // bounded stats set) and the chunked path's (user, chunk) summary
    // join. Any shuffle join keyed by the bare user would re-create the
    // single-task hot partition, so every SMJ/SHJ must carry the chunk
    // column in its keys; nest-loop/cartesian pairing is banned outright.
    val plan = asOf.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop") && !plan.contains("CartesianProduct"),
      s"expected merged-stream + broadcast-routing plan, got:\n$plan")
    val shuffleJoinKeys =
      """(?:SortMergeJoin|ShuffledHashJoin) \[([^\]]*)\]""".r
        .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(shuffleJoinKeys.forall(k => k.contains("__chunk") || k.contains("__cc")),
      s"shuffle join not keyed by (user, chunk): $shuffleJoinKeys\n$plan")
    // Correctness vs the brute-force definition on the same data.
    val naive = events.join(orders,
        events("user_id") === orders("o_custkey") &&
          unix_millis(col("o_orderdate").cast("timestamp")) <= expr("ts DIV 1000000"),
        "left")
      .groupBy(col("event_id"), col("user_id"))
      .agg(max(struct(col("o_orderdate"), col("o_orderkey"))).as("best"))
      .select(col("event_id"), col("user_id"),
        coalesce(col("best.o_orderkey"), lit(-1L)).as("asof_orderkey"),
        coalesce(date_format(col("best.o_orderdate"), "yyyy-MM-dd"), lit("1970-01-01"))
          .as("asof_orderdate"))
    assert(asOf.count() == 10050L)
    assert(asOf.exceptAll(naive).isEmpty && naive.exceptAll(asOf).isEmpty)

    // force the bot (11k timeline rows) through the CHUNKED heavy path:
    // same rows out, and the chunked sub-windows are really in the plan
    val routed = graft.queries.Relational.asOfOrders(events, orders,
      hotAt = 1000L, chunkTarget = 512L)
    assert(routed.queryExecution.executedPlan.toString.contains("__chunk"))
    assert(routed.exceptAll(naive).isEmpty && naive.exceptAll(routed).isEmpty)
  }

  test("hot-key routing: chunked sessionize equals the plain window on a planted bot") {
    import spark.implicits._
    // bot: 100k events a minute apart, with a 2-hour gap every 1000th
    // event (so sessions = 100 boundaries + 1) plus duplicate-timestamp
    // ticks to exercise the tie column; two light users alongside
    val botMs = (1 to 100000).map { i =>
      i.toLong * 60000L + (i / 1000).toLong * 7200000L
    }
    val rows =
      botMs.zipWithIndex.map { case (t, i) => (1L, t, i.toLong) } ++
        Seq((1L, botMs.head, 999999L)) ++ // duplicate-ts tie on the bot
        (1 to 40).map(i => (2L, i.toLong * 1000000L, 200000L + i)) ++
        Seq((3L, 5L, 300000L))
    val events = rows.toDF("user_id", "tms", "event_id")

    // with hotAt=1000 the bot routes through the chunked path (200
    // chunks at chunkTarget=500); light users keep the plain window
    val routed = SkewWindows.sessionCounts(events, "user_id", col("tms"),
      col("event_id"), 1800000L, hotAt = 1000L, chunkTarget = 500L)
    val plan = routed.queryExecution.executedPlan.toString
    assert(plan.contains("__chunk"), s"chunked sub-window path not in plan:\n$plan")
    assert(SkewWindows.hotKeyStats(
        events.select(col("user_id"), col("tms").as("__t")),
        "user_id", col("__t"), 1000L, 500L)
      .select(col("__nchunks")).as[Long].head() > 100L)

    // ground truth: the plain single-window formulation on everything
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("tms"), col("event_id"))
    val plain = events
      .withColumn("prev", lag(col("tms"), 1).over(w))
      .groupBy(col("user_id"))
      .agg(sum(when(col("prev").isNull || col("tms") - col("prev") > 1800000L, 1L)
        .otherwise(0L)).as("n_sessions"), count(lit(1)).as("n_events"))
    val r = routed.collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
    val p = plain.collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
    assert(r == p, s"routed=$r\nplain=$p")
    assert(r.exists { case (u, s, _) => u == 1L && s == 101L }) // the planted gaps
  }

  test("hot-key routing: chunked running sum equals the plain window on a planted bot") {
    import spark.implicits._
    val rows =
      (1 to 50000).map { i =>
        (1L, i.toLong * 1000L, i.toLong, (i % 97).toDouble / 7.0)
      } ++ (1 to 30).map { i =>
        (2L, i.toLong * 5000L, 100000L + i, i.toDouble)
      }
    val events = rows.toDF("user_id", "ts", "event_id", "value")
    val routed = SkewWindows.runningSum(events, "user_id", "ts", "event_id",
      "value", hotAt = 1000L, chunkTarget = 512L)
    assert(routed.queryExecution.executedPlan.toString.contains("__chunk"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val plain = events.withColumn("running",
      sum(col("value").cast("decimal(28,6)")).over(w).cast("decimal(38,6)"))
    val r = routed.select(col("event_id"), col("running")).collect()
      .map(x => (x.getLong(0), x.getDecimal(1))).toMap
    val p = plain.select(col("event_id"), col("running")).collect()
      .map(x => (x.getLong(0), x.getDecimal(1))).toMap
    assert(r == p, "chunked running sums diverged from the single window")
  }

  test("event funnel: ordering is strict, earliest-first, no windows in the plan") {
    import spark.implicits._
    val events = Seq(
      // full conversion in order
      (1L, "view", 10L), (1L, "click", 20L), (1L, "purchase", 30L),
      // click only BEFORE the first view → stuck at stage 1
      (2L, "click", 5L), (2L, "view", 10L),
      // purchase before the qualifying click → stage 2
      (3L, "view", 10L), (3L, "purchase", 15L), (3L, "click", 20L),
      // no view at all → stage 0 whatever else happened
      (4L, "purchase", 5L),
      // min view wins: the view@2 qualifies the click@5
      (5L, "view", 10L), (5L, "view", 2L), (5L, "click", 5L)
    ).toDF("user_id", "event_type", "ts")
    val got = graft.queries.Relational
      .eventFunnel(events, Seq("view", "click", "purchase"))
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(1)), Option(r.get(2)), Option(r.get(3)), r.getLong(4))).toMap
    assert(got == Map(
      1L -> ((Some(10L), Some(20L), Some(30L), 3L)),
      2L -> ((Some(10L), None, None, 1L)),
      3L -> ((Some(10L), Some(20L), None, 2L)),
      4L -> ((None, None, None, 0L)),
      5L -> ((Some(2L), Some(5L), None, 2L))), s"funnel drifted: $got")
    // hot-key safety by construction: no window operator anywhere
    val plan = graft.queries.Relational
      .eventFunnel(events, Seq("view", "click", "purchase"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"funnel plan grew a window:\n$plan")
  }

  test("id-depth buckets stay balanced and monotone under sparse clustered ids") {
    import spark.implicits._
    // timestamp-like ids clustered in a narrow range + one far sentinel:
    // equal-WIDTH bucketing would put everything in one bucket
    val ids = (1 to 2000).map(i => 1700000000000L + i) :+ Long.MaxValue / 2
    val d = ids.toDF("doc_id")
    val p = spark.sparkContext.defaultParallelism
    val bucketed = d.withColumn("b", Selection.idDepthBuckets(d, p))
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    // monotone in doc_id (the prefix-recombination requirement)
    val sorted = bucketed.sortBy(_._1)
    assert(sorted.zip(sorted.tail).forall { case ((_, b1), (_, b2)) => b1 <= b2 })
    // balanced: no bucket holds more than ~3x its fair share
    val maxPop = bucketed.groupBy(_._2).map(_._2.length).max
    assert(maxPop <= 3 * (ids.size / p + 1),
      s"bucket population $maxPop for fair share ~${ids.size / p}")
  }

  test("a hot NULL key routes through the chunked path and loses no rows") {
    import spark.implicits._
    // 5000 null-key events (the hot "garbage" key) + two light users
    val rows = (1 to 5000).map(i =>
        (None: Option[Long], i.toLong * 1000, i.toLong, 1.5)) ++
      (1 to 10).map(i => (Some(7L), i.toLong * 1000, 10000L + i, 2.0)) ++
      (1 to 10).map(i => (Some(8L), i.toLong * 1000, 20000L + i, 3.0))
    val events = rows.toDF("user_id", "ts", "event_id", "value")
    val routed = SkewWindows.runningSum(events, "user_id", "ts", "event_id",
      "value", hotAt = 1000L, chunkTarget = 512L)
    // the null key IS routed (chunk machinery in the plan) and the
    // result equals the plain single-window formulation row for row
    assert(routed.queryExecution.executedPlan.toString.contains("__chunk"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val plain = events.withColumn("running",
      sum(col("value").cast("decimal(28,6)")).over(w).cast("decimal(38,6)"))
    val r = routed.select(col("event_id"), col("running")).collect()
      .map(x => (x.getLong(0), x.getDecimal(1))).toMap
    val p = plain.select(col("event_id"), col("running")).collect()
      .map(x => (x.getLong(0), x.getDecimal(1))).toMap
    assert(r.size == 5020 && r == p,
      s"null-key routing lost rows or drifted: ${r.size} rows")
    // and the hot null key's rows were NOT all computed in one window
    // partition: the per-(key, chunk) windows cap partition size
    val sc = SkewWindows.sessionCounts(events, "user_id", col("ts"),
      col("event_id"), gapMs = 10000L, hotAt = 1000L, chunkTarget = 512L)
      .collect().map(x => (Option(x.get(0)), x.getLong(1), x.getLong(2)))
    assert(sc.exists(x => x._1.isEmpty && x._3 == 5000L),
      s"null-key session counts missing: ${sc.mkString(",")}")
  }

  test("withKeyTotal conserves rows with a planted NULL key (both routing branches)") {
    import spark.implicits._
    // null keys must form their own group with their own total (the
    // count-over-window semantics this helper replaced) — a plain
    // equi-join-back would silently drop them. Exercise BOTH branches:
    // heavyAt=3 puts the 5-row null group and the 4-row "the" group on
    // the broadcast path and the singletons on the shuffle path.
    val rows = (Seq.fill(5)(Option.empty[String]) ++
      Seq.fill(4)(Some("the")) ++ Seq(Some("a"), Some("b"))).zipWithIndex
      .map { case (tok, i) => (i.toLong, tok.orNull) }
      .toDF("doc_id", "token")
    val out = SkewJoin.withKeyTotal(rows, "token", "df", heavyAt = 3L)
      .collect().map(r => (r.getLong(0), Option(r.getString(1)), r.getLong(2)))
    assert(out.length == 11, s"row conservation broke: ${out.length} of 11")
    assert(out.filter(_._2.isEmpty).map(_._3).toSet == Set(5L),
      "null-key rows must carry the null group's own total")
    assert(out.filter(_._2.contains("the")).map(_._3).toSet == Set(4L))
    assert(out.filter(_._2.contains("a")).map(_._3).toSet == Set(1L))
  }
}
