package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental aggregate maintenance — the materialized-rollup pattern
  * that keeps a 100 TB dashboard from rescanning the corpus.
  *
  * Each ingest batch (say, an hour of events) is reduced ONCE to a
  * handful of partial rows keyed by (day, hour), carrying only
  * MERGEABLE state: count, DECIMAL sum, min, max, and a DataSketches
  * HLL sketch of the distinct-user set. The partials store is
  * append-only (the `_sh_df` segment contract — `SegmentCompaction`
  * applies if it ever fragments): a new hour lands as new rows under
  * its `day=` dir, nothing is rewritten, and an hour ingested in
  * several slices lands as several rows for that hour — harmless, the
  * merge re-aggregates. (Re-ingesting the SAME slice double-counts:
  * ingest idempotency lives with the tracker, `ExportJob.Tracking`'s
  * contract, not in the partials.) Serving a
  * day/total query then reads the TINY partials table — O(hours), not
  * O(events).
  *
  * Exactness contract: every served metric except the HLL estimate is
  * EXACTLY mergeable — a sum of per-hour DECIMAL sums is the corpus
  * DECIMAL sum, counts add, min/max compose — so merged-from-partials
  * must be bit-identical to a direct aggregate over raw events. That
  * equivalence IS the q84 oracle check (the oracle aggregates the raw
  * table; the engine answers from its partials). Distinct users are the
  * one metric that is NOT exactly mergeable at bounded state, which is
  * the whole reason the partial carries an HLL sketch: register-wise
  * max-merge is lossless w.r.t. the sketch itself, and the estimate
  * error bound is asserted spec-side (q31's rows-only precedent).
  *
  * Shape at 100 TB: the per-batch reduction is one map-side-combined
  * aggregate over the batch (never the corpus); the merge is a
  * second-level aggregate over O(hours) rows — driver-trivial; day
  * pruning on the serve path is partition pruning on the `day=` layout.
  */
object Rollup {

  /** Where q84 materializes its partials (q81-centroids precedent). */
  val PartialsPath = graft.Sidecars.path("graft_rollup_partials.parquet")

  private def withGrain(events: DataFrame): DataFrame = events
    .withColumn("day", expr("ts DIV 86400000000000"))
    .withColumn("hour", expr("ts DIV 3600000000000"))

  /** Reduce one ingest batch to its mergeable partial rows. */
  def partialRows(events: DataFrame): DataFrame =
    withGrain(events)
      .groupBy(col("day"), col("hour"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(28,6)")).as("sum_value"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"),
        hll_sketch_agg(col("user_id")).as("users_hll"))

  /** Append a batch's partials to the standing store — O(batch) work,
    * no existing file touched. The same reducer serves backfill batches
    * and a live stream's micro-batches
    * ([[graft.streaming.Streaming.appendEachBatch]]), so [[mergedDaily]]
    * answers identically from either. Partials are counts: a replayed
    * batch double-counts, so a stream feeding this store needs a
    * checkpoint. */
  def appendPartials(events: DataFrame, dst: String): Unit =
    graft.io.Layout.write(partialRows(events), dst, SaveMode.Append, Seq("day"), Nil)

  /** Serve the daily rollup from the partials store: exact n/sum/min/max
    * plus the HLL-union distinct-user estimate. */
  def mergedDaily(s: SparkSession, dst: String): DataFrame =
    s.read.parquet(dst)
      // the day partition column reads back path-inferred as INT;
      // re-widen so the served schema matches the raw-events BIGINT
      .groupBy(col("day").cast("long").as("day"))
      .agg(sum(col("n")).as("n_events"),
        sum(col("sum_value")).as("sv"),
        min(col("min_value")).as("min_value"),
        max(col("max_value")).as("max_value"),
        hll_union_agg(col("users_hll")).as("u"))
      .select(col("day"), col("n_events"),
        col("sv").cast("double").as("sum_value"),
        col("min_value"), col("max_value"),
        hll_sketch_estimate(col("u")).as("approx_users"))

  /** Where q99 materializes its value-histogram partials. */
  val HistogramPath = graft.Sidecars.path("graft_rollup_vhist.parquet")

  /** Value-histogram partial rows — the MERGEABLE state behind exact
    * percentile serving: (day, bin = floor(value·100), count). Bins
    * compose by addition, so quantiles of the cent-binned value served
    * from partials are EXACT (unlike sketch quantiles) — the declared
    * metric is "percentile at cent granularity", and floor(value·100)
    * is one IEEE multiply+floor both engines compute identically (the
    * q97 bin rule; a round() here would sit on half-cent ties the two
    * engines break differently). */
  def histogramRows(events: DataFrame): DataFrame =
    withGrain(events)
      .withColumn("bin", floor(col("value") * 100).cast("long"))
      .groupBy(col("day"), col("bin"))
      .agg(count(lit(1)).as("c"))

  /** Append a batch's histogram partials — O(batch), no rewrite; from
    * backfill or a stream, [[servedQuantiles]] answers identically.
    * Bins are counts: a replayed batch double-counts (checkpoint the
    * stream). */
  def appendHistograms(events: DataFrame, dst: String): Unit =
    graft.io.Layout.write(histogramRows(events), dst, SaveMode.Append, Seq("day"), Nil)

  /** Exact per-day p50/p95 cent bins served from the partials:
    * re-sum the (day, bin) rows (append slices collapse here), one
    * cumulative window over the AGGREGATED histogram (the q88
    * selection — never a per-event sort), k = ceil(q·n) in exact
    * integer arithmetic. */
  def servedQuantiles(s: SparkSession, dst: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = s.read.parquet(dst)
      .groupBy(col("day").cast("long").as("day"), col("bin"))
      .agg(sum(col("c")).as("c"))
    val t = h.groupBy(col("day")).agg(sum(col("c")).as("n"))
    val w = Window.partitionBy(col("day")).orderBy(col("bin"))
    h.join(t, "day")
      .withColumn("cum", sum(col("c")).over(w))
      .groupBy(col("day"), col("n"))
      .agg(
        min(when(col("cum") >= expr("(n + 1) div 2"), col("bin"))).as("p50_cents"),
        min(when(col("cum") >= expr("(19 * n + 19) div 20"), col("bin"))).as("p95_cents"))
      .select(col("day"), col("n").as("n_events"),
        col("p50_cents"), col("p95_cents"))
  }

  /** q99: exact percentile serving from mergeable partials — the q84
    * loop with order statistics: two-batch ingest (backfill + append),
    * then per-day p50/p95 answered FROM THE HISTOGRAM STORE. The
    * oracle computes the same cent-binned percentiles from raw events —
    * hash equality proves the partials lose nothing the declared
    * metric needs. */
  def q99RollupQuantiles(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.Tables.events(s, dir)
    val p = new org.apache.hadoop.fs.Path(HistogramPath)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    val minRow = withGrain(ev).agg(min(col("day"))).head()
    require(!minRow.isNullAt(0), "events table is empty — nothing to roll up")
    val cut = minRow.getLong(0) + 15L
    appendHistograms(withGrain(ev).filter(col("day") < cut).drop("day", "hour"), HistogramPath)
    appendHistograms(withGrain(ev).filter(col("day") >= cut).drop("day", "hour"), HistogramPath)
    servedQuantiles(s, HistogramPath).orderBy(col("day"))
  }

  /** q84: the maintenance loop end-to-end — ingest the events table in
    * two batches (a backfill and an append, so the declared query itself
    * exercises the no-rewrite append path), then answer the daily
    * rollup FROM THE PARTIALS. The oracle aggregates the raw table
    * directly; hash equality proves the materialized view is lossless.
    * The HLL estimate column stays out of the oracle surface (sketch
    * internals are engine-specific — q31's rule) and is spec-bounded
    * instead. */
  def q84RollupMaintenance(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.Tables.events(s, dir)
    val p = new org.apache.hadoop.fs.Path(PartialsPath)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    // cut point from the data, never a constant (q63's shift lesson)
    val minRow = withGrain(ev).agg(min(col("day"))).head()
    require(!minRow.isNullAt(0), "events table is empty — nothing to roll up")
    val cut = minRow.getLong(0) + 15L
    appendPartials(withGrain(ev).filter(col("day") < cut).drop("day", "hour"), PartialsPath)
    appendPartials(withGrain(ev).filter(col("day") >= cut).drop("day", "hour"), PartialsPath)
    mergedDaily(s, PartialsPath)
      .drop("approx_users")
      .orderBy(col("day"))
  }
}
