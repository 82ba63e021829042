package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Time-series regularization — turning an irregular event stream into
  * the dense per-key hourly series a monitoring dashboard or a feature
  * pipeline consumes: every hour between a key's first and last
  * activity gets a row, activity-free hours carry the last observed
  * value forward (gap filling / forward fill, the `LOCF` of every
  * time-series stack), and a trailing-window z-score flags the hours
  * that break their own baseline.
  *
  * Scale shape — the part that matters at 100 TB: the spine is
  * generated from the PER-KEY AGGREGATE (one row per key → `sequence`
  * + `explode` bounded by the corpus hour span), never from raw
  * events, and every window runs over the HOURLY grain. So a scanner
  * bot with 100M raw events still contributes at most `span_hours`
  * rows (720 for a 30-day corpus) to any window — the raw volume is
  * absorbed by the map-side-combined hourly aggregate, and no per-key
  * path grows with event count. That makes these some of the few
  * ordered-window operators that need NO [[SkewWindows]] routing: the
  * grain itself is the skew bound.
  *
  * A standing deployment maintains the hourly grain as a MERGEABLE
  * partial store (the [[Rollup]] pattern, one finer key):
  * [[appendUserHourly]] reduces each ingest batch to (day, user, hour,
  * count, decimal sum) rows and appends under `day=` dirs;
  * [[mergedUserHourly]] re-sums the append slices — decimal addition
  * is exact and associative, so gap fill and anomaly scoring served
  * from the store are IDENTICAL to a fresh scan of raw history
  * (spec-asserted), while costing O(user-hours), not O(events).
  * `Streaming.appendEachBatch` maintains the same store live.
  *
  * Event time is epoch-nanos integer arithmetic throughout
  * ([[Tables.events]]); the hour index is `ts DIV 3.6e12` in exact
  * long division (`/` on longs is double division, and epoch-nanos
  * magnitudes exceed the 2^53 mantissa), mirrored by the oracle as
  * `epoch_us // 3.6e9`.
  */
object TimeSeries {

  /** The hourly grain from raw events: one map-side-combined aggregate
    * to (user_id, hour_idx, n_events, exact-decimal hv). */
  def userHourly(events: DataFrame): DataFrame = events
    .groupBy(col("user_id"), expr("ts DIV 3600000000000").as("hour_idx"))
    .agg(count(lit(1)).as("n_events"),
         sum(col("value").cast("decimal(28,6)")).as("hv"))

  // --- the standing store (mergeable partials, Rollup pattern) --------

  /** Reduce one ingest batch to its mergeable per-user-hour partials
    * (day-keyed for the partitioned layout). */
  def userHourlyRows(events: DataFrame): DataFrame = events
    .groupBy(expr("ts DIV 86400000000000").as("day"),
             col("user_id"), expr("ts DIV 3600000000000").as("hour_idx"))
    .agg(count(lit(1)).as("n"),
         sum(col("value").cast("decimal(28,6)")).as("hv"))

  /** Append a batch's partials to the standing store — O(batch) work,
    * no existing file touched; `day=` dirs give the serve path
    * partition pruning. From backfill or a stream, the serve paths over
    * [[mergedUserHourly]] answer identically. Partials are counts: a
    * replayed batch double-counts its hours (checkpoint the stream). */
  def appendUserHourly(events: DataFrame, dst: String): Unit =
    graft.io.Layout.write(userHourlyRows(events), dst, SaveMode.Append, Seq("day"), Nil)

  /** Serve the hourly grain from the store: append slices collapse
    * under exact long/decimal re-summation, so this frame is
    * row-for-row the [[userHourly]] of the full raw history. */
  def mergedUserHourly(s: SparkSession, dst: String): DataFrame =
    s.read.parquet(dst)
      .groupBy(col("user_id"), col("hour_idx"))
      .agg(sum(col("n")).as("n_events"), sum(col("hv")).as("hv"))

  // --- gap fill / forward fill (q102) ---------------------------------

  /** [[hourlyGapFill]] over an already-aggregated hourly frame
    * (user_id, hour_idx, n_events, hv) — the standing-store serve path
    * (O(user-hours), no raw scan). */
  def gapFillFromHourly(hourly: DataFrame): DataFrame = {
    // One row per user; sequence() materializes the spine per key.
    val spine = hourly.groupBy(col("user_id"))
      .agg(min("hour_idx").as("mn"), max("hour_idx").as("mx"))
      .select(col("user_id"),
        explode(sequence(col("mn"), col("mx"))).as("hour_idx"))
    val joined = spine.join(hourly, Seq("user_id", "hour_idx"), "left")
    // The fill window: bounded by span_hours per key (see object doc).
    val w = Window.partitionBy("user_id").orderBy("hour_idx")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    joined.select(
      col("user_id"), col("hour_idx"),
      coalesce(col("n_events"), lit(0L)).as("n_events"),
      last(col("hv"), ignoreNulls = true).over(w).cast("double").as("filled_value"),
      (coalesce(col("n_events"), lit(0L)) === 0L).as("is_gap"))
  }

  /** Dense per-user hourly series over raw events: `hour_idx` (epoch
    * hours), `n_events` (0 on gap hours), `filled_value` (the hour's
    * exact decimal `sum(value)`, carried forward over gaps), `is_gap`.
    *
    * Plan note: the spine bounds and the hourly measures are separate
    * aggregates over the raw scan (Catalyst folds the bounds into ONE
    * direct min/max-of-hour aggregate, but the raw table is still read
    * twice). The standing deployment serves from the partial store
    * instead — `gapFillFromHourly(mergedUserHourly(...))` — which
    * drops both scans to O(user-hours); the join stays broadcast while
    * user-hours fit, and AQE falls back to a (user, hour)-keyed
    * shuffle join beyond that. */
  def hourlyGapFill(events: DataFrame): DataFrame =
    gapFillFromHourly(userHourly(events))

  /** q102: the dense gap-filled hourly series, oracle-ordered. */
  def q102GapFill(s: SparkSession, dir: String): DataFrame =
    hourlyGapFill(Tables.events(s, dir))
      .orderBy(col("user_id"), col("hour_idx"))

  // --- Trailing-window anomaly detection (q105) -----------------------

  /** [[hourlyAnomalies]] over an already-aggregated hourly frame — the
    * standing-store serve path. */
  def anomaliesFromHourly(hourly: DataFrame, lookbackHours: Int = 24,
                          minObs: Int = 8, zThreshold: Double = 3.0): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("hour_idx")
      .rangeBetween(-lookbackHours, -1)
    val x   = col("hv").cast("double")
    val n   = count(col("hv")).over(w)
    val sx  = sum(col("hv")).over(w).cast("double")
    val sxx = sum((x * x).cast("decimal(28,6)")).over(w).cast("double")
    val withMoments = hourly.select(
      col("user_id"), col("hour_idx"), x.as("value"),
      n.as("n_obs"), sx.as("sx"), sxx.as("sxx"))
    val nn   = col("n_obs")
    val mean = col("sx") / nn
    val vr   = round((col("sxx") - col("sx") * col("sx") / nn) / (nn - 1), 12)
    val z    = round((col("value") - mean) / sqrt(vr), 12)
    withMoments.select(
      col("user_id"), col("hour_idx"), col("value"), col("n_obs"),
      when(nn >= minObs && vr > 0, z).as("z"),
      coalesce(when(nn >= minObs && vr > 0, abs(z) > zThreshold),
        lit(false)).as("is_anomaly"))
  }

  /** Per-user hourly anomaly flags: an hour is anomalous when its value
    * deviates more than `zThreshold` sample standard deviations from
    * the user's TRAILING window (`RANGE lookbackHours PRECEDING AND 1
    * PRECEDING` on the hour index — calendar hours, so inactive hours
    * thin the window instead of silently stretching it, and the current
    * hour never contaminates its own baseline). Hours with fewer than
    * `minObs` baseline observations, or a degenerate (zero-variance)
    * baseline, release a NULL z-score — "don't know" stays distinct
    * from "normal".
    *
    * Float-determinism contract (the q34 idiom): window sums ride
    * exact DECIMAL, moments are computed from the sums in double, the
    * variance is rounded to 12 digits BEFORE both the positivity guard
    * and the sqrt (an ulp-level negative from engine-specific FMA
    * fusion must not flip the guard on one engine only), and the final
    * z is rounded to 12 digits. */
  def hourlyAnomalies(events: DataFrame, lookbackHours: Int = 24,
                      minObs: Int = 8, zThreshold: Double = 3.0): DataFrame =
    anomaliesFromHourly(
      userHourly(events).drop("n_events"), lookbackHours, minObs, zThreshold)

  /** q105: the trailing-24h z-score anomaly scan, oracle-ordered. */
  def q105HourlyAnomaly(s: SparkSession, dir: String): DataFrame =
    hourlyAnomalies(Tables.events(s, dir))
      .orderBy(col("user_id"), col("hour_idx"))

  /** Where q107 materializes its store (q84's path precedent). */
  val UserHourlyPath = graft.Sidecars.path("graft_user_hourly.parquet")

  /** q107: the standing-store claim as a DECLARED query (the q84/q100
    * precedent — maintenance paths belong in the oracle gate, not just
    * specs): build the per-user-hour store in three day-sliced appends
    * (cut points from the data, q63's shift lesson), then serve the
    * gap-filled series FROM THE STORE. The oracle is q102's SQL
    * verbatim over raw history — hash equality IS the losslessness
    * proof (append slices collapse exactly; serving never re-reads
    * raw). */
  def q107HourlyStoreServe(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val p = new org.apache.hadoop.fs.Path(UserHourlyPath)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    val d = expr("ts DIV 86400000000000")
    val minRow = ev.agg(min(d)).head()
    require(!minRow.isNullAt(0), "events table is empty — nothing to store")
    val cut1 = minRow.getLong(0) + 10L
    val cut2 = minRow.getLong(0) + 20L
    appendUserHourly(ev.filter(d < cut1), UserHourlyPath)
    appendUserHourly(ev.filter(d >= cut1 && d < cut2), UserHourlyPath)
    appendUserHourly(ev.filter(d >= cut2), UserHourlyPath)
    gapFillFromHourly(mergedUserHourly(s, UserHourlyPath))
      .orderBy(col("user_id"), col("hour_idx"))
  }

  /** q115: first-order Markov transition matrix over per-user event
    * streams — P(next event type | current), the standard behavioral
    * fingerprint (bot sequences and broken funnels show up as rank-one
    * transition rows). Adjacent pairs come from
    * [[SkewWindows.adjacentPairs]], so a scanner bot's million-event
    * timeline chunks instead of sorting through one task; the matrix
    * itself is |types|² rows — a trivially small aggregate of a
    * corpus-scale pair stream. Probabilities divide exact longs and
    * round to 6 (the q34/q110 float-determinism idiom). */
  def q115MarkovTransitions(s: SparkSession, dir: String): DataFrame = {
    val pairs = SkewWindows.adjacentPairs(
      Tables.events(s, dir).select(col("user_id"), col("ts"),
        col("event_id"), col("event_type")),
      "user_id", "ts", "event_id", "event_type")
    val counts = pairs.groupBy(col("cur"), col("nxt"))
      .agg(count(lit(1)).as("n"))
    val totals = counts.groupBy(col("cur")).agg(sum(col("n")).as("__tot"))
    counts.join(broadcast(totals), Seq("cur"))
      .select(col("cur"), col("nxt"), col("n"),
        round(col("n").cast("double") / col("__tot"), 6).as("p"))
      .orderBy(col("cur"), col("nxt"))
  }

  /** q220: STATIONARY DISTRIBUTION of the q115 transition chain with
    * 0.85 damping (the PageRank regularization — guarantees a unique
    * steady state even on a reducible empirical chain; dangling rows
    * spread uniformly). The long-run occupancy the transition MATRIX
    * only implies: `lift` > 1 flags event types the session dynamics
    * concentrate into beyond their raw frequency — q115 gives the
    * edges, q200 the absorbing endpoints, this the steady state of
    * the live chain.
    *
    * Shape: the corpus-scale work is q115's hot-key-safe adjacent-
    * pairs aggregate; the chain itself is the bounded |types|² grid,
    * iterated 20× driver-side (the IPF/burst bounded-collect rule).
    * Determinism: P entries are round12(c/rowsum) (dangling =
    * round12(1/S)); each update t_j = Σ decimal(round12(π_i·p_ij)),
    * π'_j = round12(0.15/S + 0.85·t_j) — the oracle unrolls all 20
    * iterations as MATERIALIZED CTEs. */
  def q220StationaryDist(s: SparkSession, dir: String,
                         iters: Int = 20): DataFrame =
    stationaryDist(Tables.events(s, dir), iters)

  /** The chain core over any (user_id, ts, event_id, event_type)
    * frame. */
  def stationaryDist(events: DataFrame, iters: Int = 20): DataFrame = {
    val s = events.sparkSession
    val ev = events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    val pairs = SkewWindows.adjacentPairs(
      ev, "user_id", "ts", "event_id", "event_type")
    val counts = pairs.groupBy(col("cur"), col("nxt"))
      .agg(count(lit(1)).as("c"))
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    val emp = ev.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def r12(x: Double): Double =
      BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
    val states = emp.keys.toSeq.sorted
    val sN = states.length
    val rowSum = states.map(i =>
      i -> states.map(j => counts.getOrElse((i, j), 0L)).sum).toMap
    val p = states.map(i => states.map(j =>
      if (rowSum(i) > 0) r12(counts.getOrElse((i, j), 0L).toDouble / rowSum(i))
      else r12(1.0 / sN)).toArray).toArray
    var pi = Array.fill(sN)(r12(1.0 / sN))
    (1 to iters).foreach { _ =>
      pi = Array.tabulate(sN) { j =>
        val t = (0 until sN)
          .map(i => BigDecimal(r12(pi(i) * p(i)(j))).setScale(12))
          .sum.toDouble
        r12(0.15 / sN + 0.85 * t)
      }
    }
    val nTotal = emp.values.sum.toDouble
    import s.implicits._
    states.zipWithIndex.map { case (tpe, i) =>
      val pEmp = r12(emp(tpe) / nTotal)
      (tpe, emp(tpe),
        BigDecimal(pEmp).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        BigDecimal(pi(i)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        BigDecimal(r12(pi(i) / pEmp)).setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toDF("event_type", "n_events", "p_empirical", "p_stationary", "lift")
      .orderBy(col("event_type"))
  }

  /** q130: frequent session journey paths — the ordered event-type
    * sequence of each session (30-min gap rule, the q14 sessionization),
    * capped at the first 12 events, counted across sessions. The
    * "user journey" table behind funnel design: q85 counts ONE fixed
    * funnel, this surfaces which paths actually happen.
    *
    * Scale shape: the path is SESSION-bounded (cap 12) so the
    * per-(user, session) aggregate state is constant-size; the only
    * order-dependent structure is the per-user lag/cumsum window —
    * q14's class, routable via [[SkewWindows]] when a diagnosed bot
    * key funnels (the path cap makes the chunked variant exact the
    * same way sessionCounts' markers do). Path counting itself is a
    * plain map-side-combined aggregate over session rows. */
  def q130SessionPaths(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gapNs = 1800000000000L // 30 min
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sid = ev
      .withColumn("__prev", lag(col("ts"), 1).over(w))
      .withColumn("__start",
        (col("__prev").isNull || col("ts") - col("__prev") > gapNs).cast("long"))
      .withColumn("__sid", sum(col("__start")).over(run))
      // in-session index from the SAME window pass (running max of the
      // session-start row number), so the collect below can cap its
      // BUFFER — collect_list skips the nulls of tail events, and a
      // 100k-event bot session holds 12 structs, not 100k (the q24
      // bounded-buffer rule)
      .withColumn("__rnu", row_number().over(w))
      .withColumn("__srn",
        max(when(col("__start") === 1L, col("__rnu"))).over(run))
      .withColumn("__idx", col("__rnu") - col("__srn") + 1)
    val sessions = sid.groupBy(col("user_id"), col("__sid"))
      .agg(
        array_join(transform(
          array_sort(collect_list(when(col("__idx") <= 12,
            struct(col("ts"), col("event_id"), col("event_type"))))),
          e => e("event_type")), ">").as("path"),
        count(lit(1)).as("__len"))
    sessions.groupBy(col("path"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("__len")).as("n_events"))
      .filter(col("n_sessions") >= 3)
      .orderBy(col("path"))
  }

  /** Per-key OLS trend (slope + intercept of y over x) — the drift
    * DIRECTION detector next to q105's anomaly flags and q128's
    * smoothed level: a source whose quality slides or a user whose
    * spend ramps shows up as a significant slope long before a
    * threshold alarm trips.
    *
    * Exactness (the q127 rule applied to regression moments): Σx and
    * Σx² accumulate as LONGS, Σy and Σxy as fixed-scale DECIMALS of
    * the rounded y — all four exact and order-free under any
    * partitioning — and only the final closed-form
    * `(nΣxy − ΣxΣy)/(nΣx² − (Σx)²)` runs in double, as a FIXED
    * expression tree both engines share. One map-side-combined
    * aggregate; no window, no sort. A key with < 2 distinct x has no
    * slope (NULL, not a divide-by-zero). */
  def trendSlope(rows: DataFrame, key: String, x: String, y: String): DataFrame = {
    val yDec = round(col(y), 6).cast("decimal(18,6)")
    val agg = rows.groupBy(col(key))
      .agg(
        count(lit(1)).as("n"),
        sum(col(x)).as("sx"),
        sum(col(x) * col(x)).as("sxx"),
        sum(yDec).as("sy"),
        sum((yDec * col(x)).cast("decimal(38,6)")).as("sxy"))
    val nd = col("n").cast("double")
    val sxd = col("sx").cast("double"); val sxxd = col("sxx").cast("double")
    val syd = col("sy").cast("double"); val sxyd = col("sxy").cast("double")
    val den = nd * sxxd - sxd * sxd
    val num = nd * sxyd - sxd * syd
    val slope0 = num / den
    agg.select(col(key), col("n").as("n_points"),
      when(den > 0.0, round(slope0, 6)).as("slope"),
      when(den > 0.0, round((syd - slope0 * sxd) / nd, 6)).as("intercept"))
  }

  /** q131: per-user spend trend over the hourly grain. x is re-based
    * to the corpus min hour (broadcast 1-row min, the q41 idiom) —
    * raw epoch-hours (~4.5e5) push nΣx² and (Σx)² past 2^53, where the
    * closed form cancels catastrophically; hours-since-start (~10³)
    * keep every double term exact. Intercept is therefore the fitted
    * level AT CORPUS START. */
  def q131TrendSlope(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).filter(col("value").isNotNull)
      .select(col("user_id"), expr("ts DIV 3600000000000").as("h"),
        col("value").as("y"))
    val h0 = ev.agg(min(col("h")).as("h0"))
    trendSlope(
      ev.crossJoin(broadcast(h0)).select(col("user_id"),
        (col("h") - col("h0")).as("x"), col("y")),
      "user_id", "x", "y")
      .orderBy(col("user_id"))
  }

  /** q128: per-user trailing EWMA (α=0.5, 8-event lookback) over the
    * event stream — the time-decay baseline behind q105-style drift
    * flags, via [[SkewWindows.trailingEwma]] so a scanner-bot key
    * chunks with a halo instead of funnelling its timeline through one
    * task. Event order is (ts, event_id) — epoch-nanos plus the unique
    * id tie, the q115 ordering. */
  def q128Ewma(s: SparkSession, dir: String): DataFrame =
    SkewWindows.trailingEwma(
      Tables.events(s, dir).select(col("user_id"), col("ts"),
        col("event_id"), col("value"))
        // a null value would silently shrink collect_list's window on
        // the engine side but hold its lag position in the oracle —
        // exclude it from the series on BOTH sides
        .filter(col("value").isNotNull),
      "user_id", "ts", "event_id", "value", alpha = 0.5, lookback = 8)
      .select(col("user_id"), col("event_id"), col("ewma"))
      .orderBy(col("user_id"), col("event_id"))

  /** Growth accounting — the daily active-user decomposition into NEW /
    * RETAINED / RESURRECTED plus the CHURNED outflow (the standard
    * growth-accounting identity: active(d) = new + retained +
    * resurrected; churned(d) = active(d−1) − retained(d)). This is the
    * day-grain operational series next to q86's cohort MATRIX — q86
    * answers "how do cohorts decay", this answers "where did today's
    * actives come from and who left".
    *
    * Shape: raw events collapse to DISTINCT (user, day) first
    * (map-side-combined — a 100M-event bot contributes span_days
    * rows); yesterday-presence is a self-join of that frame on
    * (user_id, day−1) — same key domain both sides, co-partitioned
    * under AQE; first-active days are one hash aggregate joined back on
    * user_id. Churn needs no extra pass: a user active on d−1 and not
    * on d is exactly the d−1 row whose (user, d) probe missed, counted
    * INTO day d by the forward self-join. Output is ≤ span_days rows. */
  def growthAccounting(events: DataFrame): DataFrame = {
    val ud = events
      .select(col("user_id"), expr("ts DIV 86400000000000").as("day"))
      .distinct()
    val firsts = ud.groupBy(col("user_id")).agg(min(col("day")).as("first_day"))
    val prev = ud.select(col("user_id"), (col("day") + 1L).as("day"),
      lit(1).as("__p"))
    val states = ud.join(firsts, Seq("user_id"))
      .join(prev, Seq("user_id", "day"), "left")
      .groupBy(col("day"))
      .agg(
        count(lit(1)).as("n_active"),
        sum(when(col("day") === col("first_day"), 1L).otherwise(0L)).as("n_new"),
        sum(when(col("__p").isNotNull, 1L).otherwise(0L)).as("n_retained"),
        sum(when(col("day") =!= col("first_day") && col("__p").isNull, 1L)
          .otherwise(0L)).as("n_resurrected"))
    // churned INTO day d: active on d-1, absent on d — the forward probe
    val churn = ud.select(col("user_id"), col("day"))
      .join(ud.select(col("user_id"), (col("day") - 1L).as("day"),
        lit(1).as("__nx")), Seq("user_id", "day"), "left")
      .filter(col("__nx").isNull)
      .groupBy((col("day") + 1L).as("day"))
      .agg(count(lit(1)).as("n_churned"))
    states.join(churn, Seq("day"), "left")
      .select(col("day"), col("n_active"), col("n_new"), col("n_retained"),
        col("n_resurrected"), coalesce(col("n_churned"), lit(0L)).as("n_churned"))
  }

  /** q139: growth accounting over the events corpus. Rows exist for
    * ACTIVE days (the groupBy's domain) — churn into a zero-active day
    * is intentionally unreported (no "day after the corpus ends" row),
    * and the oracle anchors on the same active-day set. */
  def q139GrowthAccounting(s: SparkSession, dir: String): DataFrame =
    growthAccounting(Tables.events(s, dir)).orderBy(col("day"))

  /** q180: per-user PATH SURPRISAL — each user's behavior scored by the
    * corpus transition model (q115's Markov chain used as a language
    * model over event types): avg −ln p(next | prev) across the user's
    * chronological transitions. The behavioral anomaly score — a bot
    * replaying one loop scores near the chain's floor, a user whose
    * path fights the corpus structure scores high (same math as q155's
    * token perplexity, on the events axis).
    *
    * Shape: transitions come from [[SkewWindows.adjacentPairs]] (the
    * hot-key-safe lag — no global window), pinned because they feed
    * BOTH the model counts and the scoring join; the model is ≤
    * |event_types|² rows (broadcast); scoring is one broadcast join +
    * a per-user hash aggregate.
    *
    * Determinism: each −ln p is rounded 12 then summed as exact
    * DECIMAL(28,12); the final mean divides by the exact transition
    * count and rounds 12 (the q41/q48 float rules). */
  def q180PathSurprisal(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    val pairs = SkewWindows.adjacentPairs(
      ev, "user_id", "ts", "event_id", "event_type").localCheckpoint()
    val counts = pairs.groupBy(col("cur"), col("nxt"))
      .agg(count(lit(1)).as("n"))
    val totals = counts.groupBy(col("cur")).agg(sum(col("n")).as("tot"))
    val model = counts.join(broadcast(totals), Seq("cur"))
      .select(col("cur"), col("nxt"),
        round(-log(col("n").cast("double") / col("tot").cast("double")), 12)
          .cast("decimal(28,12)").as("surprisal"))
    pairs.join(broadcast(model), Seq("cur", "nxt"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_transitions"),
        sum(col("surprisal")).as("ssum"))
      .select(col("user_id"), col("n_transitions"),
        round(col("ssum").cast("double") / col("n_transitions").cast("double"),
          12).as("avg_surprisal"))
      .orderBy(col("user_id"))
  }

  /** q235: SLIDING-WINDOW ACTIVE USERS — exact DAU / trailing-7-day
    * WAU / stickiness per observed day: the windowed-DISTINCT operator
    * (distinct is not decomposable over sliding windows, so naive
    * plans re-scan per window). Completes the activity family: q86's
    * cohort matrix is by FIRST day, q139's growth accounting is
    * day-over-day; this is the rolling-reach read.
    *
    * Exact without per-window rescans: raw events collapse ONCE to
    * distinct (user, day); each row then projects into the ≤ 7 target
    * days it can serve via a broadcast offset join, re-distincts on
    * (user, target) — aggregate-domain throughout, cost ≤ 7× the
    * distinct frame, never 7× raw events. Targets are restricted to
    * OBSERVED days (both engines read the same grid). */
  def q235SlidingActive(s: SparkSession, dir: String): DataFrame =
    slidingActive(Tables.events(s, dir))

  /** The rolling-reach core over any (user_id, ts epoch-nanos) frame. */
  def slidingActive(events: DataFrame, window: Int = 7): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    val ud = events
      .select(col("user_id"), expr("ts DIV 86400000000000").as("day"))
      .distinct()
    val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val offsets = (0 until window).map(_.toLong).toDF("off")
    val days = ud.select(col("day")).distinct()
    val wau = ud.crossJoin(broadcast(offsets))
      .select(col("user_id"), (col("day") + col("off")).as("day"))
      .join(days, Seq("day"), "left_semi")
      .distinct()
      .groupBy(col("day")).agg(count(lit(1)).as("wau"))
    dau.join(wau, Seq("day"))
      .select(col("day"), col("dau"), col("wau"),
        round(col("dau").cast("double") / col("wau").cast("double"), 6)
          .as("stickiness"))
      .orderBy(col("day"))
  }

  /** q237: TIME-WEIGHTED AVERAGE of the event `value` per (type, day)
    * — the irregular-sampling mean every TSDB exposes (a value that
    * held for 20 h must outweigh ten 1-second blips; the plain AVG the
    * engine already has cannot say that). Step-function hold: each
    * event's value holds until the next event of the same (type, day);
    * the day's last event carries no duration.
    *
    * Determinism: inter-arrival nanos are exact longs < 2⁵³ (exact in
    * double), each v·dt product is one IEEE multiply rounded 12 and
    * decimal-summed; one divide by the span at the end (round 6). Ties
    * in ts break on event_id — the window is keyed by (type, day), so
    * partitions are calendar-bounded, never one-type-global (the
    * hot-key window rule). */
  def q237TimeWeightedAvg(s: SparkSession, dir: String): DataFrame =
    timeWeightedAvg(Tables.events(s, dir))

  /** The TWA core over any (event_type, event_id, ts nanos, value). */
  def timeWeightedAvg(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = events.select(col("event_type"),
      expr("ts DIV 86400000000000").as("day"),
      col("ts"), col("event_id"), col("value"))
    val w = Window.partitionBy(col("event_type"), col("day"))
      .orderBy(col("ts"), col("event_id"))
    ev.withColumn("dt", lead(col("ts"), 1).over(w) - col("ts"))
      .withColumn("term",
        when(col("dt").isNotNull,
          round(col("value") * col("dt").cast("double"), 12)
            .cast("decimal(28,12)")))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("term")).as("num"),
        (max(col("ts")) - min(col("ts"))).as("span"))
      .select(col("event_type"), col("day"), col("n_events"),
        when(col("span") > 0L,
          round(col("num").cast("double") / col("span").cast("double"), 6))
          .as("twa"))
      .orderBy(col("event_type"), col("day"))
  }

  /** q246: DAY-OF-WEEK SEASONALITY + χ² uniformity per event type —
    * the weekly-rhythm read the daily monitors normalize away: per
    * (type, epoch-relative weekday = day mod 7) the mean daily rate,
    * plus the type's χ² against the uniform-rate null (expected count
    * ∝ how many grid days fall on that weekday, so a 30-day window's
    * uneven weekday coverage doesn't fake seasonality).
    *
    * Exact: counts and day tallies are integers off the q195
    * zero-filled grid; rate and the χ² terms are fixed-shape double
    * expressions over exact longs (round 6). */
  def q246DowSeasonality(s: SparkSession, dir: String): DataFrame =
    dowSeasonality(Tables.events(s, dir))

  /** The seasonality core over any (ts nanos, event_type) frame. */
  def dowSeasonality(events: DataFrame): DataFrame = {
    val ev = events.select(col("event_type"),
      expr("ts DIV 86400000000000").as("day"))
    val counts = ev.groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("x"))
    val days = counts.select(col("day")).distinct()
    val grid = counts.select(col("event_type")).distinct()
      .crossJoin(days)
      .join(counts, Seq("event_type", "day"), "left")
      .withColumn("x", coalesce(col("x"), lit(0L)))
      .withColumn("dow", pmod(col("day"), lit(7L)))
    val byDow = grid.groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("days_dow"), sum(col("x")).as("n"))
    val byType = byDow.groupBy(col("event_type"))
      .agg(sum(col("n")).as("total"), sum(col("days_dow")).as("total_days"))
    val terms = byDow.join(broadcast(byType), Seq("event_type"))
      .withColumn("exp", col("total").cast("double") *
        col("days_dow").cast("double") / col("total_days").cast("double"))
      .withColumn("chi_term", when(col("exp") > 0.0, round(
        (col("n").cast("double") - col("exp")) *
          (col("n").cast("double") - col("exp")) / col("exp"), 12))
        .otherwise(lit(0.0)).cast("decimal(28,12)"))
    val chi = terms.groupBy(col("event_type").as("et"))
      .agg(round(sum(col("chi_term")).cast("double"), 6).as("chi2"))
    terms.join(broadcast(chi), col("event_type") === col("et"))
      .select(col("event_type"), col("dow"), col("days_dow"), col("n"),
        round(col("n").cast("double") / col("days_dow").cast("double"), 6)
          .as("rate"),
        col("chi2"))
      .orderBy(col("event_type"), col("dow"))
  }

  /** q247: INTRA-DAY INTER-ARRIVAL QUANTILES per event type — exact
    * p50/p90/p99 of the millisecond gaps between consecutive events
    * (within a (type, day) — day-keyed windows keep partitions
    * calendar-bounded, the q237 discipline), the burst-vs-trickle
    * texture read daily counts erase. Value-aggregated exact order
    * statistics (the q88 recipe) over the gap histogram — the distinct
    * frame is bounded by the ms DOMAIN (≤ 86.4M values), never by the
    * corpus. */
  def q247InterArrival(s: SparkSession, dir: String): DataFrame =
    interArrival(Tables.events(s, dir))

  /** The gap-quantile core over any (event_type, event_id, ts nanos). */
  def interArrival(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type"),
        expr("ts DIV 86400000000000"))
      .orderBy(col("ts"), col("event_id"))
    val gaps = events
      .withColumn("dt", col("ts") - lag(col("ts"), 1).over(w))
      .filter(col("dt").isNotNull)
      .select(col("event_type"), expr("dt DIV 1000000").as("v"))
    val hist = gaps.groupBy(col("event_type"), col("v"))
      .agg(count(lit(1)).as("c"))
    val totals = hist.groupBy(col("event_type").as("tt"))
      .agg(sum(col("c")).as("n"))
    val wc = Window.partitionBy(col("event_type")).orderBy(col("v"))
    hist.withColumn("cum", sum(col("c")).over(wc))
      .join(broadcast(totals), col("event_type") === col("tt"))
      .groupBy(col("event_type"), col("n").as("n_gaps"))
      .agg(
        min(when(col("cum") >= expr("(n + 1) DIV 2"), col("v"))).as("p50_ms"),
        min(when(col("cum") >= expr("(9 * n + 9) DIV 10"), col("v"))).as("p90_ms"),
        min(when(col("cum") >= expr("(99 * n + 99) DIV 100"), col("v"))).as("p99_ms"),
        max(col("v")).as("max_ms"))
      .orderBy(col("event_type"))
  }
}
