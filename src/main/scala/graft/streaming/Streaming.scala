package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming half of the engine (SURVEY.md §2.3 "Streaming" row): the
  * one `foreachBatch` driver the streamed store-maintenance gates run
  * their appends through, and the watermarked stream-stream join behind
  * q146. The hourly export itself stays a batch job (`etl.ExportJob`).
  */
object Streaming {

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
}
