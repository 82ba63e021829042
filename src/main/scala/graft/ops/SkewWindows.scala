package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hot-key-safe ORDER-DEPENDENT per-key computations — sessionization
  * and as-of carry-forward — via heavy/light routing plus time-chunked
  * sub-windows.
  *
  * The problem: `Window.partitionBy(key).orderBy(t)` routes each key's
  * ENTIRE timeline through one task's sort buffer. That is fine for
  * human users (bounded histories) but a scanner bot with 10⁸ events is
  * a single-task straggler AQE cannot split (it never splits window
  * partitions). The fix wired here is the q42 three-piece-prefix idiom
  * applied per hot key:
  *
  *   1. DIAGNOSE: one map-side-combined aggregate computes per-key
  *      (count, min t, max t); keys with count ≥ `hotAt` are "hot".
  *      The hot set is ≤ N/hotAt keys BY CONSTRUCTION — bounded and
  *      broadcastable at any corpus size. It is collected to the
  *      driver (the AnnTuner boundedness argument), and when EMPTY the
  *      operator keeps the plain one-window plan — a corpus with no
  *      hot keys pays one diagnose pass and zero routing joins (the
  *      window analogue of AQE's runtime skew-join decision; measured
  *      3-4× on q07/q14/q16 at sf0.1, where no key is hot).
  *   2. ROUTE: light keys (the overwhelming majority) take the plain
  *      one-window path, whose partitions are < hotAt rows by
  *      construction; hot keys broadcast-route to the chunked path.
  *      Routing uses broadcast semi/anti joins against the bounded hot
  *      set — rows never repartition by the hot key itself.
  *   3. CHUNK: a hot key's timeline is split into `nChunks =
  *      ceil(count / chunkTarget)` equal-width TIME ranges (chunk ids
  *      are monotone in the window order, the property the prefix
  *      recombination needs — the q42 doc-id-range trick with time as
  *      the range). Per (key, chunk): a LOCAL window (bounded rows)
  *      computes intra-chunk state; a per-chunk aggregate emits one
  *      summary row; a window over the ≤ nChunks summary rows stitches
  *      chunk boundaries. No task ever sorts a whole hot timeline.
  *
  * Results are invariant to routing and chunking (the cut and the
  * width change WHERE rows are computed, never WHAT is computed) —
  * ScaleOpsSpec asserts chunked ≡ plain on a planted bot user, and the
  * q14/q16 oracle hashes are unchanged with routing wired in.
  *
  * Caveat (documented, not hidden): equal-width TIME chunking assumes a
  * hot key's events spread over its time span. A key that emits its
  * whole history in one timestamp tick lands in one chunk — for such
  * data route by a composite (t, tie-hash) range or use the streamed
  * session windows (q147, `StreamingGates`).
  */
object SkewWindows {

  /** Per-key stats for keys with ≥ `hotAt` rows: row count, time span,
    * and the derived chunk count/width. Map-side-combined aggregate (no
    * task ever gathers a whole key); output ≤ N/hotAt rows. */
  def hotKeyStats(rows: DataFrame, key: String, t: Column,
                  hotAt: Long, chunkTarget: Long): DataFrame =
    rows.groupBy(col(key).as("__hk"))
      .agg(count(lit(1)).as("__cnt"), min(t).as("__tmin"), max(t).as("__tmax"))
      .filter(col("__cnt") >= hotAt)
      .withColumn("__nchunks",
        expr(s"(__cnt + ${chunkTarget - 1}) DIV $chunkTarget"))
      // ceil((span+1)/nChunks): guarantees chunk = (t-tmin) DIV width
      // lands in [0, nChunks)
      .withColumn("__width",
        expr("greatest(1L, (__tmax - __tmin + __nchunks) DIV __nchunks)"))

  /** The ADAPTIVE gate: materialize the bounded hot set on the driver
    * (≤ N/hotAt rows by construction — the same boundedness argument as
    * AnnTuner's knob collection). None = no hot keys, so the caller
    * keeps the plain one-window plan and pays ZERO routing joins — the
    * diagnose aggregate is the only extra cost, and it is one map-side-
    * combined pass. Some(stats) = the collected rows re-wrapped as a
    * 1-partition local DataFrame, so the light/heavy broadcasts never
    * recompute the aggregate. This mirrors what AQE does for skew
    * JOINS (runtime stats pick the plan) for the window case AQE cannot
    * handle. */
  private def hotStatsLocal(rows: DataFrame, key: String, t: Column,
                            hotAt: Long, chunkTarget: Long): Option[DataFrame] = {
    val stats = hotKeyStats(rows, key, t, hotAt, chunkTarget)
    val collected = stats.collect()
    if (collected.isEmpty) None
    else {
      val s = rows.sparkSession
      Some(s.createDataFrame(
        s.sparkContext.parallelize(collected.toIndexedSeq, 1), stats.schema))
    }
  }

  /** q14's sessionization aggregate, hot-key-safe: per key, the number
    * of sessions (a new session starts at the first event and after any
    * gap > `gapMs`) and the event count. `tMs` must be epoch millis;
    * `tie` breaks ordering ties (gap math only reads `tMs`, so the tie
    * column never changes results — it pins determinism).
    *
    * n_sessions is counted as SUM of session-start markers, which
    * equals the lag+cumsum formulation's max(session_id) — markers sum
    * chunk-locally, cumsums don't, and the oracle hash is identical. */
  def sessionCounts(events: DataFrame, key: String, tMs: Column, tie: Column,
                    gapMs: Long, hotAt: Long = 1000000L,
                    chunkTarget: Long = 65536L): DataFrame = {
    val base = events.select(col(key), tMs.as("__t"), tie.as("__tie"))

    // plain one-window path: partitions < hotAt rows when routed away
    // from hot keys, and the whole corpus when no key is hot
    val w = Window.partitionBy(col(key)).orderBy(col("__t"), col("__tie"))
    def plainOver(src: DataFrame): DataFrame = src
      .withColumn("__prev", lag(col("__t"), 1).over(w))
      .groupBy(col(key))
      .agg(
        sum(when(col("__prev").isNull || col("__t") - col("__prev") > gapMs, 1L)
          .otherwise(0L)).as("n_sessions"),
        count(lit(1)).as("n_events"))

    hotStatsLocal(base, key, col("__t"), hotAt, chunkTarget) match {
      case None => plainOver(base)
      case Some(stats) =>
        // routing joins are NULL-SAFE (<=>): the diagnose aggregate
        // groups null keys into their own (possibly hot) group, and a
        // plain === would strand a hot null key on the light path —
        // silently voiding the scale guarantee for exactly the garbage
        // key most likely to be hot
        val light = base.join(broadcast(stats.select(col("__hk"))),
          col(key) <=> col("__hk"), "left_anti")
        val lightOut = plainOver(light)

        // heavy: chunked. Interior gaps resolve inside a (key, chunk)
        // local window; the chunk's first event compares against the
        // running max end-time of earlier chunks (time ranges ⇒ that IS
        // the immediately preceding event's time).
        val chunked = base.join(broadcast(stats), col(key) <=> col("__hk"))
          .withColumn("__chunk", expr("(__t - __tmin) DIV __width"))
        val cw = Window.partitionBy(col(key), col("__chunk"))
          .orderBy(col("__t"), col("__tie"))
        val perChunk = chunked
          .withColumn("__prev", lag(col("__t"), 1).over(cw))
          .groupBy(col(key), col("__chunk"))
          .agg(
            sum(when(col("__prev").isNotNull && col("__t") - col("__prev") > gapMs, 1L)
              .otherwise(0L)).as("__interior"),
            min(col("__t")).as("__first"),
            max(col("__t")).as("__last"),
            count(lit(1)).as("__n"))
        val chunkSeq = Window.partitionBy(col(key)).orderBy(col("__chunk"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val heavyOut = perChunk
          .withColumn("__prev_last", max(col("__last")).over(chunkSeq))
          .withColumn("__starts", col("__interior") +
            when(col("__prev_last").isNull ||
              col("__first") - col("__prev_last") > gapMs, 1L).otherwise(0L))
          .groupBy(col(key))
          .agg(sum(col("__starts")).as("n_sessions"), sum(col("__n")).as("n_events"))

        lightOut.unionByName(heavyOut)
    }
  }

  /** q07's per-key running (cumulative) sum, hot-key-safe. `value` is
    * cast to DECIMAL(28,6) before any accumulation, so chunk-local sums
    * plus the chunk-prefix recombination are EXACTLY the single-window
    * cumsum (decimal addition is associative; floats would drift under
    * regrouping). `t` can be any monotone numeric order column (raw
    * epoch-nanos are fine — chunk ids only need monotonicity in the
    * window order). Output: (key, t, tie, running DECIMAL(38,6)). */
  def runningSum(rows: DataFrame, key: String, t: String, tie: String,
                 value: String, hotAt: Long = 1000000L,
                 chunkTarget: Long = 65536L): DataFrame = {
    // order columns ride fixed internal aliases (the sessionCounts
    // pattern): the chunk expr below is built from literal identifiers,
    // never by splicing a caller-supplied column name into SQL text
    val base = rows.select(col(key), col(t).as("__t"), col(tie).as("__tie"),
      col(value).cast("decimal(28,6)").as("__v"))

    val w = Window.partitionBy(col(key)).orderBy(col("__t"), col("__tie"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def plainOver(src: DataFrame): DataFrame = src
      .withColumn("running", sum(col("__v")).over(w).cast("decimal(38,6)"))
      .select(col(key), col("__t").as(t), col("__tie").as(tie), col("running"))

    hotStatsLocal(base, key, col("__t"), hotAt, chunkTarget) match {
      case None => plainOver(base)
      case Some(stats) =>
        // null-safe routing — see sessionCounts; here a plain === would
        // also DROP null-key rows at the heavy-path rejoin below
        val light = base.join(broadcast(stats.select(col("__hk"))),
          col(key) <=> col("__hk"), "left_anti")
        val lightOut = plainOver(light)

        val chunked = base.join(broadcast(stats), col(key) <=> col("__hk"))
          .withColumn("__chunk", expr("(__t - __tmin) DIV __width"))
        val cw = Window.partitionBy(col(key), col("__chunk"))
          .orderBy(col("__t"), col("__tie"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val local = chunked.withColumn("__local", sum(col("__v")).over(cw))
        val perChunk = chunked.groupBy(col(key).as("__ck"), col("__chunk").as("__cc"))
          .agg(sum(col("__v")).as("__csum"))
        val seqW = Window.partitionBy(col("__ck")).orderBy(col("__cc"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val withPrev = perChunk
          .withColumn("__before", sum(col("__csum")).over(seqW))
          .select(col("__ck"), col("__cc"), col("__before"))
        val heavyOut = local
          .join(withPrev, col(key) <=> col("__ck") && col("__chunk") === col("__cc"))
          .withColumn("running",
            (col("__local") + coalesce(col("__before"), lit(0).cast("decimal(28,6)")))
              .cast("decimal(38,6)"))
          .select(col(key), col("__t").as(t), col("__tie").as(tie), col("running"))

        lightOut.unionByName(heavyOut)
    }
  }

  /** Hot-key-safe consecutive-pair extraction — the generalized
    * `lead`/`lag`: for rows (key, t, tie, v) emit one row per ADJACENT
    * pair in (t, tie) order within a key: (key, cur, nxt). The
    * building block for transition matrices (q115), inter-arrival
    * gaps, next-action attribution.
    *
    * Heavy path: interior pairs resolve in a (key, chunk) local
    * window; the ≤ nChunks boundary pairs come from a per-chunk
    * summary (first = min(struct(t, tie, v)), last = max — the struct
    * order IS the window order) led by one window over the summary
    * rows. Chunks exist only where rows exist, so `lead(1)` of the
    * summary is exactly the next NON-EMPTY chunk — no gap handling.
    * Chunk ids partition time ranges, so every cross-chunk adjacency
    * is a (last_i, first_{i+1}) pair, and tie groups never split
    * (equal t ⇒ equal chunk). */
  def adjacentPairs(rows: DataFrame, key: String, t: String, tie: String,
                    v: String, hotAt: Long = 1000000L,
                    chunkTarget: Long = 65536L): DataFrame = {
    val base = rows.select(col(key), col(t).as("__t"), col(tie).as("__tie"),
      col(v).as("__v"))

    val w = Window.partitionBy(col(key)).orderBy(col("__t"), col("__tie"))
    def plainOver(src: DataFrame): DataFrame = src
      .withColumn("__nxt", lead(col("__v"), 1).over(w))
      .where(col("__nxt").isNotNull)
      .select(col(key), col("__v").as("cur"), col("__nxt").as("nxt"))

    hotStatsLocal(base, key, col("__t"), hotAt, chunkTarget) match {
      case None => plainOver(base)
      case Some(stats) =>
        // null-safe routing — see sessionCounts
        val light = base.join(broadcast(stats.select(col("__hk"))),
          col(key) <=> col("__hk"), "left_anti")
        val lightOut = plainOver(light)

        val chunked = base.join(broadcast(stats), col(key) <=> col("__hk"))
          .withColumn("__chunk", expr("(__t - __tmin) DIV __width"))
        val cw = Window.partitionBy(col(key), col("__chunk"))
          .orderBy(col("__t"), col("__tie"))
        val interior = chunked
          .withColumn("__nxt", lead(col("__v"), 1).over(cw))
          .where(col("__nxt").isNotNull)
          .select(col(key), col("__v").as("cur"), col("__nxt").as("nxt"))
        val edges = chunked.groupBy(col(key).as("__ck"), col("__chunk").as("__cc"))
          .agg(min(struct(col("__t"), col("__tie"), col("__v"))).as("__first"),
            max(struct(col("__t"), col("__tie"), col("__v"))).as("__last"))
        val seqW = Window.partitionBy(col("__ck")).orderBy(col("__cc"))
        val boundary = edges
          .withColumn("__nf", lead(col("__first"), 1).over(seqW))
          .where(col("__nf").isNotNull)
          .select(col("__ck").as(key), col("__last.__v").as("cur"),
            col("__nf.__v").as("nxt"))
        lightOut.unionByName(interior).unionByName(boundary)
    }
  }

  /** q16's as-of carry-forward, hot-key-safe, over a MERGED timeline
    * frame with columns (`key`, t_ms, kind, sort_key, ord_key,
    * ord_date, event_id) as built by `Relational.asOfOrders`: kind 0 =
    * order (payload in ord_key/ord_date), kind 1 = event. Returns one
    * row per event: (key, event_id, asof_key, asof_date) where the
    * as-of pick is the latest kind-0 row at or before the event in
    * (t_ms, kind, sort_key) order.
    *
    * Heavy path: the local (key, chunk) window resolves events preceded
    * by an order in their own chunk; a per-chunk aggregate emits each
    * chunk's LAST order as max(struct(t_ms, sort_key, payload)) — the
    * struct order is exactly the timeline tie-break — and a window over
    * the ≤ nChunks summary rows carries it forward (last ignore-nulls
    * over STRICTLY EARLIER chunks, so chunks with no orders inherit).
    * Local rows rejoin the chunk summaries on (key, chunk) — a shuffle
    * join whose per-key fan-in is one chunk, never a whole hot key. */
  def asOfCarry(timeline: DataFrame, key: String,
                hotAt: Long = 1000000L, chunkTarget: Long = 65536L): DataFrame = {
    val order = Seq(col("t_ms"), col("kind"), col("sort_key"))
    val lw = Window.partitionBy(col(key)).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def plainOver(src: DataFrame): DataFrame = src
      .withColumn("asof_key", last(col("ord_key"), ignoreNulls = true).over(lw))
      .withColumn("asof_date", last(col("ord_date"), ignoreNulls = true).over(lw))
      .where(col("kind") === 1)
      .select(col(key), col("event_id"), col("asof_key"), col("asof_date"))

    val statsOpt = hotStatsLocal(timeline, key, col("t_ms"), hotAt, chunkTarget)
    if (statsOpt.isEmpty) return plainOver(timeline)
    val stats = statsOpt.get

    // null-safe routing — see sessionCounts; a plain === would also
    // DROP null-key rows at the heavy-path rejoin below
    val lightOut = plainOver(
      timeline.join(broadcast(stats.select(col("__hk"))),
        col(key) <=> col("__hk"), "left_anti"))

    val chunked = timeline.join(broadcast(stats), col(key) <=> col("__hk"))
      .withColumn("__chunk", expr("(t_ms - __tmin) DIV __width"))
    val cw = Window.partitionBy(col(key), col("__chunk")).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = chunked
      .withColumn("__lkey", last(col("ord_key"), ignoreNulls = true).over(cw))
      .withColumn("__ldate", last(col("ord_date"), ignoreNulls = true).over(cw))
    // one summary row per (key, chunk) — ALL chunks with rows, so the
    // carry window sees orderless chunks too; __c is null there
    val chunkLast = chunked.groupBy(col(key).as("__ck"), col("__chunk").as("__cc"))
      .agg(max(when(col("kind") === 0,
        struct(col("t_ms"), col("sort_key"), col("ord_key"), col("ord_date"))))
        .as("__c"))
    val seqW = Window.partitionBy(col("__ck")).orderBy(col("__cc"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val withPrev = chunkLast
      .withColumn("__prevc", last(col("__c"), ignoreNulls = true).over(seqW))
      .select(col("__ck"), col("__cc"), col("__prevc"))
    val heavyOut = local
      .join(withPrev, col(key) <=> col("__ck") && col("__chunk") === col("__cc"))
      .where(col("kind") === 1)
      .select(col(key), col("event_id"),
        coalesce(col("__lkey"), col("__prevc.ord_key")).as("asof_key"),
        coalesce(col("__ldate"), col("__prevc.ord_date")).as("asof_date"))

    lightOut.unionByName(heavyOut)
  }

  /** Hot-key-safe BOUNDED-LOOKBACK exponentially-weighted moving
    * average: per key in (t, tie) order, `ewma = Σᵢ wⁱ·v₋ᵢ / Σᵢ wⁱ`
    * over the current row and up to `lookback-1` preceding rows,
    * w = 1-alpha. The time-decay smoother behind trend baselines and
    * drift monitors — and the template for ANY fixed-lookback window
    * (trailing mean/max/slope all chunk the same way).
    *
    * Heavy path — bounded lookback is CHUNKABLE WITH A HALO, a
    * recombination unbounded windows don't have: a row only ever needs
    * its `lookback-1` predecessors, and those predecessors live in the
    * last `lookback-1` rows of the (at most) `lookback-1` most recent
    * non-empty preceding chunks — every non-empty chunk contributes ≥1
    * row to the predecessor sequence, so going `lookback-1` chunk
    * summaries back always covers it. So: each (key, chunk) exports
    * its last `lookback-1` rows (chunk-local rank, bounded state), a
    * window over the ≤nChunks SUMMARY rows assembles each chunk's halo
    * (flatten of ≤(K-1)² structs, sliced to the trailing K-1), and the
    * per-row window runs (key, chunk)-local over own rows with the
    * halo attached as an in-row array. No per-key funnel anywhere; the
    * only full-key-ordered structure is the summary window, bounded by
    * nChunks.
    *
    * Exactness: the weighted sum is a FIXED K-term left-to-right
    * expression (term j reads the j-th most recent available value),
    * identical on both paths and in the oracle's lag formulation, so
    * light/heavy/plain produce bit-identical doubles (spec-asserted
    * with a planted hot key). Output: (key, t, tie, ewma round 6). */
  def trailingEwma(rows: DataFrame, key: String, t: String, tie: String,
                   value: String, alpha: Double = 0.5, lookback: Int = 8,
                   hotAt: Long = 1000000L,
                   chunkTarget: Long = 65536L): DataFrame = {
    require(lookback >= 2 && lookback <= 64, s"lookback $lookback")
    val kPrev = lookback - 1
    val base = rows.select(col(key), col(t).as("__t"), col(tie).as("__tie"),
      col(value).cast("double").as("__v"))

    // shared K-term formula over (__v, __prev array oldest→newest):
    // term j weights the j-th most recent prior value (array tail-j+1)
    def ewmaCol: org.apache.spark.sql.Column = {
      val m = size(col("__prev"))
      val num = (1 to kPrev).foldLeft(col("__v")) { (acc, j) =>
        acc + when(m >= j,
          lit(math.pow(1.0 - alpha, j)) * element_at(col("__prev"), m - j + 1))
          .otherwise(lit(0.0))
      }
      val den = (1 to kPrev).foldLeft(lit(1.0)) { (acc, j) =>
        acc + when(m >= j, lit(math.pow(1.0 - alpha, j))).otherwise(lit(0.0))
      }
      round(num / den, 6)
    }
    def out(src: DataFrame): DataFrame = src
      .withColumn("ewma", ewmaCol)
      .select(col(key), col("__t").as(t), col("__tie").as(tie), col("ewma"))

    val w = Window.partitionBy(col(key)).orderBy(col("__t"), col("__tie"))
      .rowsBetween(-kPrev, -1)
    def plainOver(src: DataFrame): DataFrame = out(
      src.withColumn("__prev", collect_list(col("__v")).over(w)))

    hotStatsLocal(base, key, col("__t"), hotAt, chunkTarget) match {
      case None => plainOver(base)
      case Some(stats) =>
        // null-safe routing — see sessionCounts
        val light = base.join(broadcast(stats.select(col("__hk"))),
          col(key) <=> col("__hk"), "left_anti")
        val lightOut = plainOver(light)

        val chunked = base.join(broadcast(stats), col(key) <=> col("__hk"))
          .withColumn("__chunk", expr("(__t - __tmin) DIV __width"))
        // each chunk's exported tail: its last ≤ K-1 rows, found by a
        // CHUNK-local reverse rank (bounded buffer, no key funnel)
        val rw = Window.partitionBy(col(key), col("__chunk"))
          .orderBy(col("__t").desc, col("__tie").desc)
        val tails = chunked
          .withColumn("__rde", row_number().over(rw))
          .filter(col("__rde") <= kPrev)
          .groupBy(col(key).as("__ck"), col("__chunk").as("__cc"))
          .agg(sort_array(collect_list(
            struct(col("__t"), col("__tie"), col("__v")))).as("__tail"))
        // halo per chunk: trailing K-1 rows of the previous ≤ K-1
        // non-empty chunks' tails (chunk order = time order, so the
        // flattened struct array is globally (t, tie)-sorted)
        val sw = Window.partitionBy(col("__ck")).orderBy(col("__cc"))
          .rowsBetween(-kPrev, -1)
        val halos = tails
          .withColumn("__pool",
            transform(flatten(collect_list(col("__tail")).over(sw)),
              e => e("__v")))
          .select(col("__ck"), col("__cc"),
            slice(col("__pool"),
              greatest(size(col("__pool")) - kPrev + 1, lit(1)),
              lit(kPrev)).as("__halo"))
        val cw = Window.partitionBy(col(key), col("__chunk"))
          .orderBy(col("__t"), col("__tie")).rowsBetween(-kPrev, -1)
        val heavyOut = out(chunked
          .join(halos, col(key) <=> col("__ck") && col("__chunk") === col("__cc"))
          .withColumn("__local", collect_list(col("__v")).over(cw))
          // full lookback = trailing K-1 of (halo ++ chunk-local prefix)
          .withColumn("__all", concat(col("__halo"), col("__local")))
          .withColumn("__prev",
            slice(col("__all"),
              greatest(size(col("__all")) - kPrev + 1, lit(1)),
              lit(kPrev))))

        lightOut.unionByName(heavyOut)
    }
  }
}
