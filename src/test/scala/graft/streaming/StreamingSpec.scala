package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.SparkSpec

class StreamingSpec extends SparkSpec {

  test("streaming quality filter ≡ batch q39 over the documents fixture") {
    val dir = "/root/testdata/sf0.001"
    val schema = graft.Tables.documents(spark, dir).schema
    // a file stream source watches a DIRECTORY; stage the fixture file
    val watched = java.nio.file.Files.createTempDirectory("graft-docs-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/documents.parquet"),
      watched.resolve("documents.parquet"))
    val stream = spark.readStream.schema(schema).parquet(watched.toString)
    val q = graft.ops.TextAnalysis.filterVerdicts(stream)
      .writeStream.format("memory").queryName("quality_sink")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.sql("SELECT doc_id, reason, keep FROM quality_sink")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2))).toSet
    val batch = graft.ops.TextAnalysis.q39FilterPipeline(spark, dir)
      .select("doc_id", "reason", "keep")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2))).toSet
    assert(streamed.nonEmpty && streamed == batch)
    // both verdicts occur on the fixture — the filter actually filters
    assert(streamed.exists(_._3) && streamed.exists(!_._3))
  }

  test("streaming learned-quality scoring ≡ batch q68 with offline-trained weights") {
    val dir = "/root/testdata/sf0.001"
    // train offline (batch), score the stream with the frozen weights
    val w = graft.ops.QualityModel.trainLogistic(
      graft.ops.QualityModel.features(graft.Tables.documents(spark, dir)))
    val schema = graft.Tables.documents(spark, dir).schema
    val watched = java.nio.file.Files.createTempDirectory("graft-score-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/documents.parquet"),
      watched.resolve("documents.parquet"))
    val stream = spark.readStream.schema(schema).parquet(watched.toString)
    val q = graft.ops.QualityModel.score(
        graft.ops.QualityModel.features(stream, widen = false), w)
      .writeStream.format("memory").queryName("score_sink")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.sql("SELECT doc_id, score, predicted FROM score_sink")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2))).toSet
    val batch = graft.ops.QualityModel.q68QualityModel(spark, dir)
      .select("doc_id", "score", "predicted")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2))).toSet
    assert(streamed.nonEmpty && streamed == batch)
    assert(streamed.exists(_._3) && streamed.exists(!_._3))
  }

  test("streaming rollup maintenance ≡ batch: partials from micro-batches serve identically") {
    import graft.ops.Rollup
    val ev = graft.Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "ts", "user_id", "value").localCheckpoint()
    val root = java.nio.file.Files.createTempDirectory("graft-rollup-stream")
    val watched = java.nio.file.Files.createDirectory(root.resolve("in"))
    def stage(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val tmpd = root.resolve(name + "_tmp").toString
      df.coalesce(1).write.parquet(tmpd)
      val part = new java.io.File(tmpd).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, watched.resolve(name))
    }
    stage("b1.parquet", ev.filter(col("event_id") % 2 === 0))
    stage("b2.parquet", ev.filter(col("event_id") % 2 === 1))
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(watched.toString)
    val partials = root.resolve("partials").toString
    Streaming.appendEachBatch(stream)((b, _) => Rollup.appendPartials(b, partials))
      .awaitTermination()
    // the store holds at least two segments per covered hour-set, and
    // the merged serve equals the batch direct aggregate
    val got = Rollup.mergedDaily(spark, partials).drop("approx_users")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getDouble(3), r.getDouble(4))).toSet
    val direct = ev.withColumn("day", expr("ts DIV 86400000000000"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(28,6)")).cast("double").as("sv"),
        min(col("value")).as("mn"), max(col("value")).as("mx"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getDouble(3), r.getDouble(4))).toSet
    assert(got == direct, "streamed partials drifted from the batch aggregate")

    // the histogram partials stream the same way: micro-batch bins serve
    // the exact percentiles a one-pass batch store serves
    val stream2 = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(watched.toString)
    val hist = root.resolve("vhist").toString
    Streaming.appendEachBatch(stream2)((b, _) => Rollup.appendHistograms(b, hist))
      .awaitTermination()
    val oneShot = root.resolve("vhist_batch").toString
    Rollup.appendHistograms(ev, oneShot)
    def served(d: String) = Rollup.servedQuantiles(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val sq = served(hist)
    assert(sq == served(oneShot) && sq.nonEmpty,
      "streamed histogram partials drifted from the batch store")

    // the per-user-hour store streams the same way: gap fill and
    // anomaly scoring served from streamed partials must equal the
    // direct raw-history computation (wave 6's standing-store claim)
    import graft.ops.TimeSeries
    val stream3 = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(watched.toString)
    val uh = root.resolve("user_hourly").toString
    Streaming.appendEachBatch(stream3)((b, _) => TimeSeries.appendUserHourly(b, uh))
      .awaitTermination()
    val servedFill = TimeSeries.gapFillFromHourly(
        TimeSeries.mergedUserHourly(spark, uh))
      .collect().map(_.toSeq).toSet
    val directFill = TimeSeries.hourlyGapFill(ev).collect().map(_.toSeq).toSet
    assert(servedFill == directFill && servedFill.nonEmpty,
      "gap fill served from streamed partials drifted from raw history")
    val servedZ = TimeSeries.anomaliesFromHourly(
        TimeSeries.mergedUserHourly(spark, uh).drop("n_events"))
      .collect().map(_.toSeq).toSet
    val directZ = TimeSeries.hourlyAnomalies(ev).collect().map(_.toSeq).toSet
    assert(servedZ == directZ, "anomalies served from streamed partials drifted")
  }

  test("streaming KMV sketch maintenance ≡ batch, and replay is idempotent") {
    import graft.ops.KmvSketch
    val k = 128
    val ev = graft.Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "ts", "user_id").localCheckpoint()
    val root = java.nio.file.Files.createTempDirectory("graft-kmv-stream")
    val watched = java.nio.file.Files.createDirectory(root.resolve("in"))
    def stage(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val tmpd = root.resolve(name + "_tmp").toString
      df.coalesce(1).write.parquet(tmpd)
      val part = new java.io.File(tmpd).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, watched.resolve(name))
    }
    // user-sliced batches: every day's users are split across both
    // micro-batches, so the serve must merge multiple partials per day
    stage("b1.parquet", ev.filter(col("user_id") % 2 === 0))
    stage("b2.parquet", ev.filter(col("user_id") % 2 === 1))
    def mkStream() = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(watched.toString)
    val store = root.resolve("kmv").toString
    Streaming.appendEachBatch(mkStream())((b, _) =>
      KmvSketch.appendDailySketches(b, store, k)).awaitTermination()
    def weekly(d: String) = KmvSketch.serveRangeDistinct(spark, d, k,
        expr("CAST(day AS BIGINT) DIV 7"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val streamed = weekly(store)
    val batch = root.resolve("kmv_batch").toString
    KmvSketch.appendDailySketches(ev, batch, k)
    assert(streamed == weekly(batch) && streamed.nonEmpty,
      "streamed sketch partials drifted from the one-shot batch store")
    // the claimed idempotence: replaying the whole source into the same
    // store (a checkpoint-less restart) must not move any estimate —
    // min-k is a set-union order statistic, not a sum
    Streaming.appendEachBatch(mkStream())((b, _) =>
      KmvSketch.appendDailySketches(b, store, k)).awaitTermination()
    assert(weekly(store) == streamed,
      "replayed append changed a served estimate — idempotence broken")
  }

  test("streaming PII scrub ≡ batch q60 over the synthesized log lines") {
    val dir = "/root/testdata/sf0.001"
    // stage the synthesized raw lines as a text file the stream watches
    val lines = graft.Tables.events(spark, dir)
      .select(graft.queries.LogParsing.syntheticLogLine.as("value"))
    val watched = java.nio.file.Files.createTempDirectory("graft-pii-stream")
    lines.coalesce(1).write.mode("overwrite").text(watched.toString)
    val stream = spark.readStream.text(watched.toString)
    val q = graft.ops.Privacy.piiScan(stream, col("value"))
      .select(org.apache.spark.sql.functions.col("redacted_md5"),
        org.apache.spark.sql.functions.col("n_ips"))
      .writeStream.format("memory").queryName("pii_sink")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.sql("SELECT redacted_md5, n_ips FROM pii_sink")
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    val batch = graft.ops.Privacy.q60PiiRedact(spark, dir)
      .select("redacted_md5", "n_ips")
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    assert(streamed.nonEmpty && streamed == batch,
      "streamed scrub diverged from the batch operator")
  }

  test("streaming chunking ≡ batch q59 over the documents fixture") {
    val dir = "/root/testdata/sf0.001"
    val schema = graft.Tables.documents(spark, dir).schema
    val watched = java.nio.file.Files.createTempDirectory("graft-chunk-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/documents.parquet"),
      watched.resolve("documents.parquet"))
    val stream = spark.readStream.schema(schema).parquet(watched.toString)
    val q = graft.ops.Chunking.chunkUnsorted(stream, 64, 48)
      .writeStream.format("memory").queryName("chunk_sink")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.sql(
      "SELECT doc_id, chunk_id, chunk_md5 FROM chunk_sink")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val batch = graft.ops.Chunking.q59Chunking(spark, dir)
      .select("doc_id", "chunk_id", "chunk_md5")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(streamed.nonEmpty && streamed == batch,
      "streamed chunks diverged from the batch operator")
  }

  test("streaming gram-df maintenance ≡ batch q158 store: served frequent set identical") {
    import graft.ops.Boilerplate
    val dir = "/root/testdata/sf0.001"
    val docs = graft.Tables.documents(spark, dir).localCheckpoint()
    val root = java.nio.file.Files.createTempDirectory("graft-gramdf-stream")
    val watched = java.nio.file.Files.createDirectory(root.resolve("in"))
    def stage(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val tmpd = root.resolve(name + "_tmp").toString
      df.coalesce(1).write.parquet(tmpd)
      val part = new java.io.File(tmpd).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, watched.resolve(name))
    }
    // doc-sliced batches: frequent grams' dfs split across partials
    stage("b1.parquet", docs.filter(col("doc_id") % 2 === 0))
    stage("b2.parquet", docs.filter(col("doc_id") % 2 === 1))
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(watched.toString)
    val store = root.resolve("gramdf").toString
    Streaming.appendEachBatch(stream)((b, _) => Boilerplate.appendGramDf(b, store, 3))
      .awaitTermination()
    val streamed = Boilerplate.frequentFromStore(spark, store, 1)
      .collect().map(_.getString(0)).toSet
    val batchStore = root.resolve("gramdf_batch").toString
    Boilerplate.appendGramDf(docs, batchStore, 3)
    val batch = Boilerplate.frequentFromStore(spark, batchStore, 1)
      .collect().map(_.getString(0)).toSet
    assert(streamed.nonEmpty && streamed == batch,
      "streamed gram-df partials drifted from the one-shot batch store")
  }

  test("streaming tokenization ≡ batch q91 under the same frozen rules") {
    val dir = "/root/testdata/sf0.001"
    // batch run trains + persists the rules and is the parity target
    // q91 now emits the gate-safe joined string (q35 rule); the stream
    // still carries the raw id array — join it for the comparison
    val batch = graft.ops.Bpe.q91TokenIds(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    // the stream applies the PERSISTED tables — frozen rules, the
    // operator's contract (a mid-stream retrain would invalidate every
    // previously emitted sequence)
    val merges = spark.read.parquet(graft.ops.Bpe.MergesPath)
      .orderBy(col("rank")).collect().map(r => (r.getString(1), r.getString(2)))
    val vocab = spark.read.parquet(graft.ops.Bpe.VocabPath)
      .orderBy(org.apache.spark.sql.functions.col("id"))
      .collect().map(_.getString(1))
    val schema = graft.Tables.documents(spark, dir).schema
    val watched = java.nio.file.Files.createTempDirectory("graft-tok-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/documents.parquet"),
      watched.resolve("documents.parquet"))
    val stream = spark.readStream.schema(schema).parquet(watched.toString)
    val q = stream
      .select(col("doc_id"), graft.ops.Bpe.bpeIds(col("text"), merges, vocab).as("token_ids"))
      .writeStream.format("memory").queryName("tok_sink")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.sql("SELECT doc_id, token_ids FROM tok_sink")
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1).mkString(","))).toMap
    assert(streamed.nonEmpty && streamed == batch,
      "streamed token ids diverged from the batch encoding")
  }

  test("stream-stream interval join ≡ batch join; cross-user and out-of-window never match") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-03-01 10:00:00")
    def ts(offsetMin: Int) =
      new java.sql.Timestamp(t0.getTime + offsetMin * 60000L)
    val ordersRows = Seq(
      (1L, 500L, ts(0)),    // user 1 orders at 10:00
      (1L, 501L, ts(60)),   // and again at 11:00
      (2L, 502L, ts(0)))
    val eventRows = Seq(
      (1L, 9000L, ts(10)),  // matches order 500 (within 30m)
      (1L, 9001L, ts(50)),  // matches nothing (40m after 500, before 501)
      (1L, 9002L, ts(75)),  // matches order 501
      (2L, 9003L, ts(29)),  // matches order 502 at the boundary
      (3L, 9004L, ts(5)))   // no orders for user 3
    val root = java.nio.file.Files.createTempDirectory("graft-ssjoin")
    ordersRows.toDF("o_user", "order_id", "order_time")
      .write.parquet(root.resolve("orders").toString)
    eventRows.toDF("user_id", "event_id", "event_time")
      .write.parquet(root.resolve("events").toString)
    val oStream = spark.readStream
      .schema(ordersRows.toDF("o_user", "order_id", "order_time").schema)
      .parquet(root.resolve("orders").toString)
    val eStream = spark.readStream
      .schema(eventRows.toDF("user_id", "event_id", "event_time").schema)
      .parquet(root.resolve("events").toString)
    val q = Streaming.attributionJoinStream(oStream, eStream)
      .writeStream.format("memory").queryName("attr_sink")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.sql("SELECT event_id, order_id FROM attr_sink")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed === Set((9000L, 500L), (9002L, 501L), (9003L, 502L)))
    // batch parity: identical frames through the same operator code path
    val batch = Streaming.attributionJoinStream(
      spark.read.parquet(root.resolve("orders").toString),
      spark.read.parquet(root.resolve("events").toString))
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(batch === streamed)
  }

  test("q147 streamed session windows ≡ batch sessionizer counts; q148 is rerun-stable") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val sessions = graft.ops.StreamingGates.q147StreamedSessions(spark, dir)
      .localCheckpoint()
    // invariants: sentinel excluded, every session ≥ 1 event, end = last+gap
    assert(sessions.filter(col("user_id") === -1L).isEmpty)
    assert(sessions.filter(col("n_events") < 1L).isEmpty)
    assert(sessions.filter(
      col("session_end_us") - col("session_start_us") < 1800000000L).isEmpty)
    // cross-operator lock: per-user session COUNT matches the batch
    // hot-key-safe sessionizer. (Boundary conventions differ — batch
    // opens on gap > 30 min, session_window on gap ≥ 30 min — but the
    // micros-resolution fixture has no exact-30:00.000000 gap, so the
    // counts must agree; a divergence here means real semantics drift.)
    val streamed = sessions.groupBy(col("user_id"))
      .agg(count(lit(1)).as("ns"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ev = graft.Tables.events(spark, dir)
    val batch = graft.ops.SkewWindows.sessionCounts(
        ev.select(col("user_id"), expr("ts DIV 1000000").as("tms"), col("event_id")),
        "user_id", col("tms"), col("event_id"), gapMs = 1800000L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed === batch,
      s"streamed-only: ${streamed.toSet.diff(batch.toSet)}; batch-only: ${batch.toSet.diff(streamed.toSet)}")
    // q148 rerun determinism: identical frames run-to-run (the staging
    // and state iteration are pinned, not accidental)
    val a = graft.ops.StreamingGates.q148StreamedDedup(spark, dir)
      .collect().map(_.toSeq).toSeq
    val b = graft.ops.StreamingGates.q148StreamedDedup(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(a == b)
    assert(a.nonEmpty)
  }

  test("q146 streamed attribution ≡ batch interval join over the real events fixture") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val streamed = graft.ops.Attribution.q146StreamedAttribution(spark, dir)
      .collect().map(_.toSeq).toSet
    // the batch truth, straight from the table with integer-µs math
    val ev = graft.Tables.events(spark, dir)
      .select(col("event_id"), expr("ts DIV 1000").as("us"),
        col("user_id"), col("event_type"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("us").as("click_us"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("us").as("purchase_us"))
    val batch = p.join(c, "user_id")
      .filter(col("purchase_us") >= col("click_us") &&
        col("purchase_us") <= col("click_us") + lit(14400000000L))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        col("click_us"), col("purchase_us"))
      .collect().map(_.toSeq).toSet
    assert(batch.nonEmpty, "fixture yields no attribution pairs — test is vacuous")
    assert(streamed === batch,
      s"streamed-only: ${streamed.diff(batch)}; batch-only: ${batch.diff(streamed)}")
  }

  test("appendEachBatch runs each batch under the micro-batch confs; the caller's session keeps its own") {
    import spark.implicits._
    val keys = Streaming.MicroBatchConfs.map(_._1)
    val before = keys.map(spark.conf.get)
    assert(before != Streaming.MicroBatchConfs.map(_._2), "the test session must differ from the confs")
    val watched = Files.createTempDirectory("graft-each-batch").resolve("in").toString
    (1 to 100).toDF("x").coalesce(1).write.parquet(watched)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Seq[String], Int, Long)]()
    Streaming.appendEachBatch(spark.readStream.schema("x INT").parquet(watched)) { (b, id) =>
      // a shuffle planned from the pinned batch: 8 partitions, no AQE
      val shuffled = b.groupBy(col("x") % 3).count()
      seen.add((keys.map(b.sparkSession.conf.get), shuffled.rdd.getNumPartitions, id))
    }.awaitTermination()
    assert(seen.toArray.toSeq == Seq((Streaming.MicroBatchConfs.map(_._2), 8, 0L)))
    assert(keys.map(spark.conf.get) == before)
  }

  test("streaming IVF assignment and window-hash appends ≡ the one-shot batch append") {
    import graft.ops.{Clustering, ExactSubstring, StreamingGates, VectorStore}
    val dir = "/root/testdata/sf0.001"
    def rows(path: String) = spark.read.parquet(path).collect().map(_.toSeq).toSet

    val emb = graft.Tables.embeddings(spark, dir).localCheckpoint()
    val centroids = Clustering.trainCentroids(emb, 4)
    val ivf = Files.createTempDirectory("graft-ivf-stream").toString
    val embStream = StreamingGates.stagedFileStream(ivf,
      (0 until 3).map(i => emb.filter(pmod(col("vec_id"), lit(3)) === i)))
    Streaming.appendEachBatch(embStream)((b, _) =>
      VectorStore.appendAssignments(b, centroids, s"$ivf/store")).awaitTermination()
    VectorStore.appendAssignments(emb, centroids, s"$ivf/batch")
    val ivfRows = rows(s"$ivf/store")
    assert(ivfRows.nonEmpty && ivfRows == rows(s"$ivf/batch"),
      "streamed cell assignments drifted from the one-shot append")

    val docs = graft.Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      .localCheckpoint()
    val wh = Files.createTempDirectory("graft-winhash-stream").toString
    val base = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
    val fresh = (0 until 2).map(i => docs.filter(pmod(col("doc_id"), lit(4)) === 2 * i + 1))
    Seq("store", "batch").foreach(d =>
      ExactSubstring.writeWindowHashLayout(base, s"$wh/$d", 20, nBuckets = 4))
    Streaming.appendEachBatch(StreamingGates.stagedFileStream(wh, fresh))((b, _) =>
      ExactSubstring.appendToWindowHashLayout(b, s"$wh/store")).awaitTermination()
    ExactSubstring.appendToWindowHashLayout(fresh.reduce(_ union _), s"$wh/batch")
    Seq("", "_docs").foreach { part =>
      val streamed = rows(s"$wh/store$part")
      assert(streamed.nonEmpty && streamed == rows(s"$wh/batch$part"),
        s"streamed window-hash layout$part drifted from the one-shot append")
    }
  }
}
