package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stream-stream attribution, promoted to the driver's oracle gate —
  * the q145 pattern applied to the JOIN half of the streaming surface:
  * StreamingSpec already asserts `Streaming.attributionJoinStream` ≡ a
  * batch inner join on a micro fixture; q146 hash-proves the same
  * equivalence against the DuckDB oracle on the real events table, with
  * the stream genuinely split across micro-batches.
  *
  * Reference scope note: the reference engine (s3-access-logs) has no
  * streaming join at all — this is part of the mandated
  * beyond-reference training-pipeline surface (attribution feeds
  * preference-pair mining, q123).
  */
object Attribution {

  /** Where q146 stages its source slices, checkpoint, and sink. */
  val StreamedAttrPath = graft.Sidecars.path("graft_streamed_attr")

  /** Attribution window: a purchase attributes to every same-user click
    * at most this long before it. 4 h on the 30-day fixture yields a
    * ~150-pair result at sf0.01 — exercised, not vacuous. */
  val WindowSpec = "4 hours"

  /** Watermark delay on both streams. The chronological slicing below
    * makes this SAFE for exactness, not just state size: slices
    * partition the time axis, so batch i+1 holds no row older than any
    * batch-i row — nothing is ever late — and a click matched by a
    * cross-batch purchase is at most `WindowSpec` older than that
    * purchase, hence younger than (watermark − window) by construction;
    * the state store can never evict it before the match lands.
    * (Formally: eviction needs click_t < max_t(prev) − 2h − 4h, but a
    * cross-batch match needs click_t ≥ min_t(next) − 4h ≥ max_t(prev)
    * − 4h.) So the streamed inner join emits EXACTLY the batch join's
    * pairs — the equality the oracle hashes. */
  val WatermarkSpec = "2 hours"

  /** q146: purchases attributed to prior same-user clicks through the
    * STRUCTURED STREAMING interval join
    * ([[graft.streaming.Streaming.attributionJoinStream]]). The events
    * table is staged as three CHRONOLOGICAL slices (equal thirds of the
    * observed time span — time-sliced where q145 is user-sliced,
    * because a stream-stream join's correctness argument lives on the
    * time axis); two independent file sources ingest them with
    * `maxFilesPerTrigger = 1`, so click/purchase sides buffer in the
    * join state store across ≥ 3 micro-batches and cross-slice pairs
    * MUST come from state, not from a single batch's locality. The
    * sink parquet is re-read and emitted as sorted (user, click,
    * purchase, epoch-micros) rows; the oracle replays the identical
    * interval join in SQL — hash equality proves streamed ≡ batch. */
  def q146StreamedAttribution(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.Tables.events(s, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
    val root = new org.apache.hadoop.fs.Path(StreamedAttrPath)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(root, true)
    val watched = s"$StreamedAttrPath/in"

    // three chronological slices: [t0,t1) [t1,t2) [t2,∞), cut at equal
    // thirds of the span (1-row bounds aggregate — bounded driver data)
    val b = ev.agg(min(col("ts")).as("lo"), max(col("ts")).as("hi")).head()
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    val step = math.max(1L, (hi - lo) / 3)
    val cuts = Seq(lo + step, lo + 2 * step)
    val ranges = Seq(
      col("ts") < cuts(0),
      col("ts") >= cuts(0) && col("ts") < cuts(1),
      col("ts") >= cuts(1))
    // the shared staging kernel pins ascending mtimes: FileStreamSource
    // orders new files by modification time, and the slice order IS the
    // chronology the watermark-safety argument above depends on
    StreamingGates.stageSlices(StreamedAttrPath, ranges.map(ev.filter))

    // two INDEPENDENT sources (a filtered self-join would share one
    // source instance; separate instances keep each side's per-trigger
    // file budget and progress explicit)
    def side(eventType: String): DataFrame = s.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(watched)
      .filter(col("event_type") === eventType)
      // ts is epoch-nanos LongType (the Tables.events contract); the
      // join runs on TIMESTAMP for watermark semantics — micros, exact
      .withColumn("t", timestamp_micros(expr("ts DIV 1000")))
    val clicks = side("click").select(col("user_id").as("o_user"),
      col("event_id").as("order_id"), col("t").as("order_time"))
    val purchases = side("purchase").select(col("user_id"),
      col("event_id").as("event_id"), col("t").as("event_time"))
    val joined = graft.streaming.Streaming.attributionJoinStream(
      clicks, purchases, WindowSpec, WatermarkSpec)
    val sink = s"$StreamedAttrPath/pairs"
    // 8 state partitions: the join buffers KB-scale state per side —
    // 32 partitions × 2 sides × batches of state-store commits was
    // measured as ~half of q146's bench time (StreamingGates scaladoc)
    StreamingGates.runStatefulToParquet(joined, sink, s"$StreamedAttrPath/cp")

    s.read.parquet(sink)
      .select(col("user_id"),
        col("order_id").as("click_id"),
        col("event_id").as("purchase_id"),
        unix_micros(col("order_time")).as("click_us"),
        unix_micros(col("event_time")).as("purchase_us"))
      .orderBy(col("user_id"), col("click_id"), col("purchase_id"))
  }
}
