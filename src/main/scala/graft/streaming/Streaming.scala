package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import graft.etl.{Enrich, LogSchema}

/** Streaming half of the engine (SURVEY.md §2.3 "Streaming" row): the
  * reference's cron-per-hour batch model becomes a Structured Streaming
  * file source with checkpointed exactly-once progress — the checkpoint
  * subsumes the reference's idempotency markers (cmd/export.py:319-324),
  * and late-arriving files are picked up automatically instead of
  * requiring a manual HOUR re-run.
  */
object Streaming {

  /** Continuous export: watch `src` for new log files, parse/enrich with
    * the same production path as the batch job, append to the same
    * partitioned layout. `maxFilesPerTrigger` bounds micro-batch size so
    * a backlog catch-up cannot blow executor memory at scale. */
  def streamingExport(spark: SparkSession, src: String, dst: String,
                      checkpoint: String, maxFilesPerTrigger: Int = 1000): StreamingQuery = {
    val lines = spark.readStream
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .text(src)
    Enrich.parseLines(lines)
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .option("compression", "snappy")
      .partitionBy(LogSchema.partitionCols: _*)
      .trigger(Trigger.AvailableNow())
      .format("parquet")
      .start(dst)
  }

  /** Continuous quality filtering: the q39 keep/drop verdict applied to
    * a DOCUMENT STREAM — the ingestion-time filter a training-data
    * pipeline runs as data lands, not as a nightly batch. The verdict is
    * stateless narrow column work, so the batch operator IS the
    * streaming operator (same expressions, no watermark or state);
    * parity with batch q39 is spec-asserted. */
  def qualityFilterStream(docs: DataFrame): DataFrame =
    graft.ops.TextAnalysis.filterVerdicts(docs)

  /** Continuous learned-quality scoring: q68's trained model applied to
    * a document STREAM — score-at-ingest with weights trained offline
    * (the standard split: training is batch, inference is a stateless
    * narrow projection, so the batch scorer IS the streaming scorer);
    * parity with batch q68 scoring is spec-asserted. */
  def qualityScoreStream(docs: DataFrame, weights: Array[Double]): DataFrame =
    graft.ops.QualityModel.score(
      graft.ops.QualityModel.features(docs, widen = false), weights)

  /** Continuous PII scrubbing: the q60 scan/redaction applied to a raw
    * log-line STREAM — redact identifiers as data LANDS, so nothing
    * un-scrubbed is ever at rest downstream. Stateless narrow regex
    * work: the batch operator IS the streaming operator; parity with
    * batch q60 is spec-asserted. */
  def piiScrubStream(lines: DataFrame, textCol: String = "value"): DataFrame =
    graft.ops.Privacy.piiScan(lines, col(textCol))

  /** Continuous chunking: q59's sliding token windows over a document
    * STREAM — ingestion-time context-window preparation. Stateless
    * narrow slice/explode work, so the batch operator IS the streaming
    * operator (minus its deterministic output sort, which streaming
    * sinks don't support and don't need); parity is spec-asserted. */
  def chunkStream(docs: DataFrame, maxLen: Int = 64, stride: Int = 48): DataFrame =
    graft.ops.Chunking.chunkUnsorted(docs, maxLen, stride)

  /** Continuous tokenization: q91's token-ID encoding applied to a
    * document STREAM — tokenize-at-ingest under rules TRAINED OFFLINE
    * and frozen (the q68 split: training is batch, application is a
    * stateless narrow codegen'd map, so the batch encoder IS the stream
    * encoder). The merges/vocab arrive as driver data (read from the
    * persisted tables a q91 run wrote), never retrained mid-stream — a
    * tokenizer that drifts under the trainer invalidates every
    * previously emitted sequence; parity with batch encoding is
    * spec-asserted. */
  def tokenizeStream(docs: DataFrame, merges: Array[(String, String)],
                     vocab: Array[String]): DataFrame =
    docs.withColumn("token_ids",
        graft.ops.Bpe.bpeIds(col("text"), merges, vocab))
      .withColumn("n_tokens", size(col("token_ids")).cast("long"))

  /** Session confs every micro-batch's maintenance runs under: few
    * shuffle partitions and adaptive execution off. AQE earns its keep
    * on corpus-scale shuffles (runtime coalescing, skew splits); on a
    * maintenance unit whose every stage is KB-scale it only adds
    * per-shuffle re-planning jobs — measured on the minhash append: 29
    * jobs/3.6 s with AQE vs 16 jobs/2.9 s without, identical results
    * (the md5-determinism discipline makes every op partitioning-
    * independent). Production sizes these per stream. */
  val MicroBatchConfs: Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> "8",
    "spark.sql.adaptive.enabled" -> "false")

  /** Run `append` on every micro-batch of `df` — the one `foreachBatch`
    * driver behind each streamed store maintenance step. Each batch
    * runs under [[MicroBatchConfs]], set on the batch's own session
    * (the stream's clone of the caller's, so the caller's values never
    * change), is pinned once with `localCheckpoint` (an emptiness probe
    * and the append must not each re-read its files) and is skipped
    * when empty; `append` gets the pinned batch and its id.
    *
    * Replay: without a `checkpoint` a restart re-reads the whole
    * source. A store whose appends are counts or per-row facts then
    * double-counts, so production runs of such a store pass a
    * checkpoint; an idempotent store only grows. Each append function
    * says which kind it is. */
  def appendEachBatch(df: DataFrame, checkpoint: Option[String] = None,
                      trigger: Trigger = Trigger.AvailableNow())(
      append: (DataFrame, Long) => Unit): StreamingQuery = {
    val w = df.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        MicroBatchConfs.foreach { case (k, v) => batch.sparkSession.conf.set(k, v) }
        val b = batch.localCheckpoint()
        if (b.limit(1).count() > 0) append(b, batchId)
      }
      .trigger(trigger)
    checkpoint.foreach(c => w.option("checkpointLocation", c))
    w.start()
  }

  /** Continuous near-dup dedup-on-ingest against a standing
    * [[graft.ops.NearDupIndex]] layout: each micro-batch is PROBED
    * (O(batch) bucket-pruned reads, never a corpus scan), near-dups are
    * dropped — first-arrival wins across batches, min doc_id within a
    * batch — the keepers are APPENDED to the index so later batches
    * dedup against them, and one verdict row per arriving doc lands in
    * `verdictDst`. Greedy ingest dedup is inherently arrival-order
    * dependent (that IS the semantic: the standing corpus was there
    * first); within-batch ties are made deterministic by the min-id
    * rule. Batch doc_ids must be globally fresh (the index's
    * append-only contract). The df sidecar accrues one segment per
    * batch — compact by rewriting the layout when segment counts grow,
    * as with the posting-list index.
    *
    * The within-batch rule drops any doc with a SMALLER near-dup
    * neighbor in the same batch (q57's clusters use min-label CC; at
    * micro-batch size the one-hop rule is the same for mirror/star
    * shapes and errs toward dropping in longer chains — conservative
    * for a dedup gate). */
  def nearDupIngestStream(docs: DataFrame, indexDst: String,
                          verdictDst: String,
                          trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    appendEachBatch(docs.select(col("doc_id"), col("text")), trigger = trigger) {
      (b, batchId) =>
        val bIds = b.select(col("doc_id"))
        // membership by join, never a collected id set — a catch-up
        // micro-batch can be arbitrarily large
        val m = graft.ops.NearDupIndex.probeNearDup(b.sparkSession, indexDst, b)
          .join(bIds.select(col("doc_id").as("d1"), lit(true).as("b1")),
            Seq("d1"), "left")
          .join(bIds.select(col("doc_id").as("d2"), lit(true).as("b2")),
            Seq("d2"), "left")
        // within-batch pair → the greater id drops; cross pair → the
        // batch side drops (corpus and batch id spaces are disjoint)
        val drops = m.select(
            when(col("b1").isNotNull && col("b2").isNotNull, col("d2"))
              .when(col("b1").isNotNull, col("d1"))
              .otherwise(col("d2")).as("doc_id"))
          .distinct().localCheckpoint()
        val keepers = b.join(drops, Seq("doc_id"), "left_anti")
        if (keepers.limit(1).count() > 0)
          graft.ops.NearDupIndex.appendToMinhashLayout(keepers, indexDst)
        b.join(drops.withColumn("near_dup", lit(true)), Seq("doc_id"), "left")
          .select(col("doc_id"), lit(batchId).as("batch_id"),
            coalesce(col("near_dup"), lit(false)).as("near_dup"))
          .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(verdictDst)
    }

  /** Tumbling 1-hour windowed counts per (bucket, operation) with a
    * 2-hour watermark: the streaming analogue of the reference's
    * hour-partitioned layout, emitting finalized rows once the watermark
    * passes — late events inside the watermark still count. */
  def hourlyOperationCounts(parsed: DataFrame): DataFrame = {
    parsed
      .withColumn("event_time", to_timestamp(col("datetime"), "yyyy-MM-dd'T'HH:mm:ssxxx"))
      .withWatermark("event_time", "2 hours")
      .groupBy(window(col("event_time"), "1 hour"),
        col("bucket_name"), col("operation"))
      .agg(count(lit(1)).as("n"), sum(col("bytessent")).as("bytes_sent"))
  }

  /** Streaming exact dedup: drop duplicate request ids within the
    * watermark horizon — state is bounded by the watermark (old keys are
    * evicted), so it runs indefinitely at any rate. The streaming
    * counterpart of ops.Dedup's batch operators.
    *
    * `dropDuplicatesWithinWatermark` keys state on the id ALONE: a retry
    * or clock-skewed duplicate arrives with a different event timestamp —
    * the normal duplicate case — and must still be dropped. (A plain
    * `dropDuplicates(id, event_time)` would key on the pair and pass
    * every such duplicate through.) */
  def dedupStream(parsed: DataFrame, idCol: String = "requestid"): DataFrame =
    parsed
      .withColumn("event_time", to_timestamp(col("datetime"), "yyyy-MM-dd'T'HH:mm:ssxxx"))
      .withWatermark("event_time", "2 hours")
      .dropDuplicatesWithinWatermark(idCol)

  /** Session windows via the built-in `session_window` (gap-based merge
    * handled by Spark's streaming state store): one row per closed
    * session once the watermark passes its end. */
  def sessionWindowAgg(events: DataFrame, tsCol: String = "event_time",
                       gap: String = "30 minutes"): DataFrame = {
    events
      .withWatermark(tsCol, "1 hour")
      .groupBy(col("user_id"), session_window(col(tsCol), gap))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("total_value"))
  }

  case class DocIn(doc_id: Long, source: String)
  case class QuotaState(admitted: Long)
  case class QuotaVerdict(doc_id: Long, source: String, admitted: Boolean,
                          admit_rank: Long)

  /** Streaming per-source quota — ADMISSION CONTROL at ingest: each
    * source admits at most `quota` documents across the whole stream,
    * with the counter carried in per-source state (O(sources), a few
    * bytes each). Deliberate divergence from batch q61, documented:
    * the batch operator sees the whole corpus and keeps each source's
    * BEST `quota` docs by quality priority; a stream cannot un-admit,
    * so it takes the FIRST `quota` arrivals (doc_id order within a
    * micro-batch, for rerun determinism). Same cap, different
    * selection — the price of deciding online. Rejected docs are
    * emitted with admitted=false so a downstream sink can audit what
    * the cap cost. */
  def sourceQuotaStream(docs: Dataset[DocIn],
                        quota: Long): Dataset[QuotaVerdict] = {
    import docs.sparkSession.implicits._
    docs
      .groupByKey(_.source)
      .flatMapGroupsWithState[QuotaState, QuotaVerdict](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (source: String, batch: Iterator[DocIn], state: GroupState[QuotaState]) =>
          var n = state.getOption.map(_.admitted).getOrElse(0L)
          val out = batch.toSeq.sortBy(_.doc_id).map { d =>
            val admit = n < quota
            if (admit) n += 1
            QuotaVerdict(d.doc_id, source, admit, if (admit) n else -1L)
          }
          state.update(QuotaState(n))
          out.iterator
      }
  }

  /** Watermarked stream-stream interval join — attribution at ingest:
    * each event joins the same user's order placed at most `window`
    * before it. The missing piece of the streaming surface next to
    * stream-static enrichment: BOTH sides buffer in the state store,
    * and the interval condition plus the two watermarks give Spark a
    * provable eviction bound (an order older than
    * `watermark - window` can never match a future event, so its
    * buffered row drops) — state is O(in-flight window), not
    * O(stream history). Inner join, so matches emit as they are found;
    * the watermark governs cleanup, not emission.
    *
    * Contract: `orders(o_user, order_id, order_time)`,
    * `events(user_id, event_id, event_time)`; both time columns
    * TIMESTAMP. Batch parity: the same frames through a plain inner
    * join with the identical predicate (spec-asserted). */
  def attributionJoinStream(orders: DataFrame, events: DataFrame,
                            window: String = "30 minutes",
                            watermark: String = "1 hour"): DataFrame = {
    val o = orders.withWatermark("order_time", watermark)
    val e = events.withWatermark("event_time", watermark)
    e.join(o,
      col("user_id") === col("o_user") &&
        col("event_time") >= col("order_time") &&
        col("event_time") <= col("order_time") + expr(s"interval $window"))
      .select(col("user_id"), col("event_id"), col("order_id"),
        col("event_time"), col("order_time"))
  }

  case class Event(user_id: Long, ts_ms: Long, value: Double)
  case class SessionState(sessionCount: Long, lastMs: Long, eventCount: Long)
  case class SessionUpdate(user_id: Long, n_sessions: Long, n_events: Long)

  /** Stateful sessionization with mapGroupsWithState — the streaming
    * equivalent of Relational.q14Sessionize's lag+cumsum: per-user state
    * carries (session count, last-seen time); a >30 min gap opens a new
    * session. State size is O(users), not O(events). */
  def sessionize(events: Dataset[Event]): Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[SessionState, SessionUpdate](GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[SessionState]) =>
          var s = state.getOption.getOrElse(SessionState(0L, Long.MinValue, 0L))
          batch.toSeq.sortBy(e => e.ts_ms).foreach { e =>
            val newSession = s.lastMs == Long.MinValue || e.ts_ms - s.lastMs > 1800000L
            s = SessionState(
              sessionCount = s.sessionCount + (if (newSession) 1L else 0L),
              lastMs = e.ts_ms,
              eventCount = s.eventCount + 1L)
          }
          state.update(s)
          SessionUpdate(userId, s.sessionCount, s.eventCount)
      }
  }
}
