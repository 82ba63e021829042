package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** KMV (k minimum values) distinct-count sketch — the member of the
  * sketch family that supports INTERSECTION estimates, which HLL
  * cannot (Beyer et al., SIGMOD 2007): keep the k smallest hash
  * fractions of a set; `(k-1)/U(k)` estimates the distinct count, and
  * two sketches combine by merging min-k sets (union) or by the
  * fraction of shared values in the merged min-k (intersection — the
  * basis of set-overlap profiling between sources without comparing
  * the sets).
  *
  * Unlike probabilistic-looking sketches, KMV here is FULLY
  * deterministic: the hash is the md5-prefix fraction (the Splits
  * rule), so the sketch content is a pure order statistic the DuckDB
  * oracle replays hash-for-hash — q135's estimates are oracle-checked
  * equalities, not tolerance checks. The min-k itself rides the
  * bounded `top_k` aggregate (O(k) state, map-side combined); merge
  * and intersection are in-row array ops over ≤ 2k elements. */
object KmvSketch {

  /** Uniform [0,1) hash fraction: first 8 md5 hex chars / 2^32. */
  def fracOf(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("double") / lit(4294967296.0)

  /** Per-key KMV sketch: sorted ascending array of the ≤ k smallest
    * DISTINCT hash fractions of `valCol`. */
  def sketch(rows: DataFrame, keyCol: String, valCol: String, k: Int): DataFrame =
    rows.select(col(keyCol).as("key"), fracOf(col(valCol)).as("__f"))
      .distinct()
      .groupBy(col("key"))
      .agg(TopKPerGroup.topKColumn(-col("__f"), lit(0L), k).as("__top"))
      // stored score-descending = negated-fraction descending = the
      // fractions already ASCEND; just negate back
      .select(col("key"),
        transform(col("__top"), e => -e("score")).as("minK"))

  /** Distinct estimate from a min-k array: exact when the set was
    * smaller than k, else the classic (k-1)/U(k). */
  def estimate(minK: Column, k: Int): Column =
    when(size(minK) < k, size(minK).cast("double"))
      .otherwise(lit(k - 1.0) / element_at(minK, k))

  /** Pairwise set-overlap profile from per-key sketches: for every
    * unordered key pair, the union estimate, intersection estimate and
    * estimated Jaccard — all from the O(k) sketch rows, NEVER from the
    * underlying sets. This is KMV's raison d'être at 100 TB: "how much
    * do crawl sources overlap" costs one sketch aggregation over the
    * corpus plus |keys|²/2 in-row array comparisons of ≤ 2k doubles —
    * the pair stage is corpus-size-independent (the cross join is over
    * the |keys|-row sketch frame, bounded by source cardinality, and
    * is the documented intent, not an accident). */
  def overlapMatrix(sketches: DataFrame, k: Int): DataFrame = {
    val a = sketches.select(col("key").as("s1"), col("minK").as("ka"))
    val b = sketches.select(col("key").as("s2"), col("minK").as("kb"))
    val merged = slice(array_sort(array_distinct(concat(col("ka"), col("kb")))), 1, k)
    a.crossJoin(b).filter(col("s1") < col("s2"))
      .withColumn("__m", merged)
      .withColumn("__sz", size(col("__m")))
      .withColumn("__u",
        when(col("__sz") < k, col("__sz").cast("double"))
          .otherwise(lit(k - 1.0) / element_at(col("__m"), k)))
      .withColumn("__shared",
        size(array_intersect(array_intersect(col("__m"), col("ka")), col("kb"))))
      .select(col("s1"), col("s2"),
        round(col("__u"), 6).as("union_est"),
        round(col("__shared").cast("double") / col("__sz").cast("double") *
          col("__u"), 6).as("inter_est"),
        round(col("__shared").cast("double") / col("__sz").cast("double"), 6)
          .as("jaccard_est"))
  }

  /** q136: which sources share vocabulary — the overlap matrix over the
    * per-source distinct-token sketches (k=128). Deterministic hash ⇒
    * every estimate is an oracle-checked equality. */
  def q136SourceOverlap(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("t"))
    overlapMatrix(sketch(toks, "source", "t", 128), 128)
      .orderBy(col("s1"), col("s2"))
  }

  /** Trailing-window distinct counts from MERGEABLE hourly partials —
    * the streaming-OLAP classic ("distinct users in the last 24 h, per
    * hour") that exact counting cannot serve incrementally: min-k is a
    * true mergeable summary (min-k(A∪B) = min-k(min-k(A) ∪ min-k(B)),
    * exactly — not approximately — so the merged estimate EQUALS the
    * estimate a from-scratch sketch of the window's union would give;
    * the oracle replays that equality hash-for-hash). Shape: one
    * map-side-combined sketch aggregate to ≤ span_hours rows (calendar-
    * bounded — a decade is 87k rows of ≤ k doubles, independent of
    * corpus size), each hour's sketch posted in-row to the 24 target
    * hours it serves, one hash aggregate merging ≤ 24 arrays per
    * target — no window function, no re-scan of raw events per hour. */
  def trailingDistinct(events: DataFrame, windowHours: Int, k: Int): DataFrame = {
    val hourly = sketch(
      events.select(expr("ts DIV 3600000000000").as("h"),
        col("user_id").cast("string").as("v")),
      "h", "v", k)
    val posted = hourly
      .select(explode(sequence(col("key"), col("key") + lit(windowHours - 1)))
        .as("hour_idx"), col("minK"))
    val merged = posted.groupBy(col("hour_idx"))
      .agg(slice(array_sort(array_distinct(flatten(collect_list(col("minK"))))),
        1, k).as("mk"))
    // only hours that themselves have events (a trailing window is
    // reported at observation points, not over the dead calendar)
    merged.join(hourly.select(col("key").as("hour_idx")), Seq("hour_idx"))
      .select(col("hour_idx"), size(col("mk")).cast("long").as("n_kept"),
        round(estimate(col("mk"), k), 6).as("kmv_est"))
  }

  /** q140: distinct users over the trailing 24 h at each active hour,
    * k=128 — merged-partial estimates the oracle replays exactly. */
  def q140TrailingDistinct(s: SparkSession, dir: String): DataFrame =
    trailingDistinct(Tables.events(s, dir), windowHours = 24, k = 128)
      .orderBy(col("hour_idx"))

  // --- the standing sketch store (q107's mergeable-partials pattern,
  // --- sketch edition) ------------------------------------------------

  /** Reduce one ingest batch to per-day KMV partials of its distinct
    * users — O(batch) work, ≤ span_days output rows of k doubles. A day
    * split across batches yields MULTIPLE partials for that day; the
    * serve path's merge absorbs them exactly (min-k mergeability), so
    * appends never read or rewrite existing files. */
  def dailySketchRows(events: DataFrame, k: Int): DataFrame =
    sketch(events.select(expr("ts DIV 86400000000000").as("d"),
        col("user_id").cast("string").as("v")), "d", "v", k)
      .withColumnRenamed("key", "day")

  /** Append a batch's partials to the standing store (`day=` dirs give
    * range serves partition pruning). Because min-k merge is EXACT,
    * [[serveRangeDistinct]] answers identically from backfill or a
    * stream's micro-batches. Unlike the counting stores this one is
    * IDEMPOTENT under replay — re-appending the same partial cannot
    * change the merged min-k (a set-union order statistic, not a sum) —
    * so a stream's checkpoint protects store size, not correctness. */
  def appendDailySketches(events: DataFrame, dst: String, k: Int): Unit =
    dailySketchRows(events, k)
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .option("compression", "snappy").partitionBy("day").parquet(dst)

  /** Serve distinct-user estimates for ANY day-range grouping from the
    * store — the data-cube query a raw-event scan cannot serve
    * incrementally ("distinct users per week / per quarter / all
    * time"): partials merge in-row per group (≤ span_days × appends
    * arrays of k doubles — calendar- and batch-bounded, never
    * event-bounded), and because min-k merge is EXACT the served
    * estimate equals a from-scratch sketch of the range's raw union.
    * `grouping` maps the `day` column to a group id. */
  def serveRangeDistinct(s: SparkSession, dst: String, k: Int,
                         grouping: Column): DataFrame =
    s.read.parquet(dst)
      .groupBy(grouping.as("grp"))
      .agg(slice(array_sort(array_distinct(flatten(collect_list(col("minK"))))),
        1, k).as("mk"))
      .select(col("grp"), size(col("mk")).cast("long").as("n_kept"),
        round(estimate(col("mk"), k), 6).as("kmv_est"))

  /** Where q141 materializes its store (q84/q107's path precedent). */
  val DailySketchPath = graft.Sidecars.path("graft_daily_kmv.parquet")

  /** q141: the standing sketch store as a DECLARED query (the q107
    * precedent — maintenance paths belong in the oracle gate): build
    * the store in three HOUR-sliced appends whose cuts fall mid-day
    * (so at least one day's users are split across batches and the
    * serve MUST merge multiple partials — q63's shift lesson applied
    * to sketches), then serve weekly distinct-user estimates plus the
    * all-time total (week = -1) FROM THE STORE. The oracle replays
    * each range's order statistics from raw events — hash equality IS
    * the mergeability proof. */
  def q141SketchStoreServe(s: SparkSession, dir: String): DataFrame = {
    val k = 128
    val ev = Tables.events(s, dir)
    val p = new org.apache.hadoop.fs.Path(DailySketchPath)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    val h = expr("ts DIV 3600000000000")
    val minRow = ev.agg(min(h)).head()
    require(!minRow.isNullAt(0), "events table is empty — nothing to store")
    val cut1 = minRow.getLong(0) + 243L // 10.125 days — mid-day on purpose
    val cut2 = minRow.getLong(0) + 486L
    appendDailySketches(ev.filter(h < cut1), DailySketchPath, k)
    appendDailySketches(ev.filter(h >= cut1 && h < cut2), DailySketchPath, k)
    appendDailySketches(ev.filter(h >= cut2), DailySketchPath, k)
    val weekly = serveRangeDistinct(s, DailySketchPath, k,
      expr("CAST(day AS BIGINT) DIV 7")).withColumnRenamed("grp", "week")
    val total = serveRangeDistinct(s, DailySketchPath, k, lit(-1L))
      .withColumnRenamed("grp", "week")
    weekly.unionByName(total).orderBy(col("week"))
  }

  /** Where q145 stages its source files and materializes its store. */
  val StreamedSketchPath = graft.Sidecars.path("graft_streamed_kmv")

  /** q145: the q141 store built through the STRUCTURED STREAMING
    * maintenance path ([[graft.streaming.Streaming.appendEachBatch]])
    * instead of batch appends — the missing half of the q107/q141
    * pattern: q141 hash-proves batch maintenance, q145 hash-proves
    * stream maintenance. The events table is staged as three
    * USER-sliced files and ingested with `maxFilesPerTrigger = 1`, so
    * every day's users are split across all three micro-batches and
    * the serve must merge ≥ 3 partials per day (StreamingSpec's
    * batch≡stream parity, promoted to the driver's oracle gate). The
    * serve groups by FORTNIGHT (day DIV 14) plus all-time (-1) to keep
    * the query distinct from q141's weekly serve; the oracle replays
    * each range's min-128 order statistics from raw events — hash
    * equality proves the streamed store ≡ a from-scratch sketch. */
  def q145StreamedSketchServe(s: SparkSession, dir: String): DataFrame = {
    val k = 128
    val ev = Tables.events(s, dir).select("event_id", "ts", "user_id")
    val root = new org.apache.hadoop.fs.Path(StreamedSketchPath)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(root, true)
    val stream = StreamingGates.stagedFileStream(StreamedSketchPath,
      (0 until 3).map(i => ev.filter(pmod(col("user_id"), lit(3)) === i)))
    val store = s"$StreamedSketchPath/store"
    graft.streaming.Streaming.appendEachBatch(stream)((b, _) =>
      appendDailySketches(b, store, k)).awaitTermination()
    val fortnightly = serveRangeDistinct(s, store, k,
      expr("CAST(day AS BIGINT) DIV 14")).withColumnRenamed("grp", "fortnight")
    val total = serveRangeDistinct(s, store, k, lit(-1L))
      .withColumnRenamed("grp", "fortnight")
    fortnightly.unionByName(total).orderBy(col("fortnight"))
  }

  /** q135: per-source distinct-token estimates vs exact — the sketch's
    * accuracy ledger, hash-exact in the oracle. k=128. */
  def q135KmvDistinct(s: SparkSession, dir: String): DataFrame = {
    val k = 128
    val toks = Tables.documents(s, dir)
      .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("t"))
    val sk = sketch(toks, "source", "t", k)
      .select(col("key").as("source"), col("minK"))
    val exact = toks.groupBy(col("source"))
      .agg(countDistinct(col("t")).as("exact_distinct"))
    sk.join(exact, Seq("source"))
      .select(col("source"), col("exact_distinct"),
        size(col("minK")).cast("long").as("n_kept"),
        round(estimate(col("minK"), k), 6).as("kmv_est"))
      .withColumn("rel_err",
        round((col("kmv_est") - col("exact_distinct").cast("double")) /
          col("exact_distinct").cast("double"), 6))
      .orderBy(col("source"))
  }
}
