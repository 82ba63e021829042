package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Corpus mixing — the sampling-weight step of assembling a training mix
  * from heterogeneous sources: big crawl domains must not drown small
  * high-quality ones, so per-source sampling weights are flattened with a
  * temperature exponent (`w_s ∝ tokens_s^α`, α < 1 — the standard
  * multilingual/multi-domain recipe; α = 1 is proportional sampling,
  * α = 0 is uniform).
  *
  * Shape at 100 TB: one partial-aggregated groupBy on `source` (the
  * per-source table is tiny — thousands of rows at most, regardless of
  * corpus size), then a broadcast one-row total. Nothing corpus-sized
  * leaves the executors.
  *
  * Cross-engine determinism: `pow` is libm — the only engine-dependent
  * step — so each raw weight is rounded to 9 digits (drift is ~1e-13
  * absolute, 4 orders below the grid) and normalized through an EXACT
  * decimal sum (order-independent, unlike summing doubles); the final
  * division then sees bit-identical inputs on both engines.
  */
object Mixing {

  /** q69: per-source unigram KL divergence from the corpus distribution
    * — the domain-shift diagnostic behind mixture decisions: a source
    * whose word distribution sits far from the pooled corpus (high KL)
    * is the one a temperature-flattened mix is protecting, and a
    * near-zero KL source is redundant with the pool. KL(source‖corpus)
    * = Σ_w p_s(w)·ln(p_s(w)/p_c(w)) — finite by construction since
    * every source term is in the corpus pool (p_c > 0).
    *
    * Shape at 100 TB: ONE corpus-scale shuffle — the (source, term)
    * count aggregate off the token explode, map-side combined. The
    * per-term corpus count then comes from re-aggregating that frame:
    * each term has ≤ |sources| aggregated rows, so the second groupBy
    * is NOT hot-key-prone (no withKeyTotal needed — the hot key was
    * already collapsed by the first aggregate); totals ride a
    * broadcast. Determinism: the ln of an exact count cross-ratio is
    * rounded to 12 digits, each term's contribution p_s·ln(·) again to
    * 12 into a DECIMAL(28,12) sum (q48's rules); ln(2) is a literal. */
  def q69SourceDivergence(s: SparkSession, dir: String): DataFrame =
    sourceDivergence(Tables.documents(s, dir))

  /** The reusable core over any (source, text) frame. */
  def sourceDivergence(docs: DataFrame): DataFrame = {
    val st = Par.widen(docs)
      .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("k"))
    klFromCounts(st, "source")
      .select(col("source"), col("n_tokens"), col("n_terms"),
        col("kl_nats"), col("kl_bits"))
      .orderBy(col("source"))
  }

  /** KL(group‖pool) from an aggregated (grp, w, k) count frame — the
    * divergence engine shared by q69 (source vs corpus) and q78 (day vs
    * history). Input must already be aggregated per (grp, w); output has
    * one row per grp: (grp, n_tokens, n_terms, kl_nats, kl_bits). */
  private[ops] def klFromCounts(st: DataFrame, grp: String): DataFrame = {
    val ln2 = 0.6931471805599453
    val corpus = st.groupBy(col("w")).agg(sum(col("k")).as("ck"))
    val grpTotals = st.groupBy(col(grp)).agg(sum(col("k")).as("ns"))
    val corpusTotal = corpus.agg(sum(col("ck")).as("nc"))
    val contrib = st
      .join(corpus, "w")
      .join(broadcast(grpTotals), grp)
      .crossJoin(broadcast(corpusTotal))
      // ln of the cross-ratio (k·nc)/(ns·ck). The products are exact
      // integers only while they stay under 2^53 (true at tested SFs;
      // at 100 TB token counts k·nc can reach ~1e24 and the products
      // round) — determinism still holds because IEEE multiply/divide
      // round identically on both engines bit-for-bit, and the ~1e-16
      // relative error sits far below the 12-digit round; just don't
      // read "exact" as an overflow guarantee
      .withColumn("lnterm",
        round(log((col("k").cast("double") * col("nc").cast("double")) /
          (col("ns").cast("double") * col("ck").cast("double"))), 12))
      .withColumn("t",
        round((col("k").cast("double") / col("ns").cast("double")) * col("lnterm"), 12)
          .cast("decimal(28,12)"))
    contrib.groupBy(col(grp))
      .agg(count(lit(1)).as("n_terms"),
        max(col("ns")).as("n_tokens"),
        sum(col("t")).as("klsum"))
      .withColumn("kl_nats", round(col("klsum").cast("double"), 12))
      .withColumn("kl_bits", round(col("kl_nats") / lit(ln2), 12))
  }

  /** q251: per-source JENSEN–SHANNON divergence (bits) of the unigram
    * distribution vs the REST of the corpus — the symmetric, bounded
    * ([0,1] in bits) companion of q69's KL-vs-pool: KL explodes on a
    * source with private vocabulary and is asymmetric by construction;
    * JSD is the metric-like quantity mixture papers rank sources by.
    *
    * The q-side trap and its closed form: JSD's rest-distribution sum
    * runs over ALL corpus terms, which naively builds the
    * sources × vocabulary grid (2·10⁹ rows at 100 TB). But for every
    * term ABSENT from the source, m = q/2 exactly, so its contribution
    * collapses to q·ln2 — and those sum to ln2·(1 − Q_s) where
    * Q_s = Σ_{t∈source} q_t. Only SOURCE terms are ever evaluated:
    * the frame is exactly q69's (source, term) aggregate, no grid.
    *
    * Determinism (the q69/q48 rules): per-term contributions are fixed
    * left-to-right double expressions rounded 12, decimal(28,12)-
    * summed; ln2 is a literal; final stats round 12. Sources with no
    * rest (single-source corpora) yield NULL. */
  def q251SourceJsd(s: SparkSession, dir: String): DataFrame =
    sourceJsd(Tables.documents(s, dir))

  /** The reusable JSD core over any (source, text) frame. */
  def sourceJsd(docs: DataFrame): DataFrame = {
    val ln2 = 0.6931471805599453
    val st = Par.widen(docs)
      .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("k"))
    val corpus = st.groupBy(col("w")).agg(sum(col("k")).as("ck"))
    val grpTotals = st.groupBy(col("source")).agg(sum(col("k")).as("ns"))
    val corpusTotal = corpus.agg(sum(col("ck")).as("nc"))
    val p = col("k").cast("double") / col("ns").cast("double")
    val q = (col("ck") - col("k")).cast("double") / col("nr").cast("double")
    val m = (p + q) / lit(2.0)
    val contrib = st
      .join(corpus, "w")
      .join(broadcast(grpTotals), "source")
      .crossJoin(broadcast(corpusTotal))
      .withColumn("nr", col("nc") - col("ns"))
      .filter(col("nr") > 0)
      .withColumn("aterm", round(p * log(p / m), 12).cast("decimal(28,12)"))
      .withColumn("bterm",
        when(col("ck") > col("k"), round(q * log(q / m), 12))
          .otherwise(lit(0.0)).cast("decimal(28,12)"))
      .withColumn("qr", round(q, 12).cast("decimal(28,12)"))
    val present = contrib.groupBy(col("source"))
      .agg(count(lit(1)).as("n_terms"), max(col("ns")).as("n_tokens"),
        sum(col("aterm")).as("asum"), sum(col("bterm")).as("bsum"),
        sum(col("qr")).as("qsum"))
      .withColumn("jsd_nats", round(lit(0.5) *
        (col("asum").cast("double") + col("bsum").cast("double") +
          round(lit(ln2) * (lit(1.0) - col("qsum").cast("double")), 12)), 12))
      .withColumn("jsd_bits", round(col("jsd_nats") / lit(ln2), 12))
    // single-source corpora (no rest) fall out of the filter above —
    // re-attach them with NULL jsd so every source reports
    grpTotals.select(col("source"))
      .join(present, Seq("source"), "left")
      .select(col("source"), col("n_terms"), col("n_tokens"),
        col("jsd_bits"))
      .orderBy(col("source"))
  }

  /** q259: REPRESENTATION RESIDUAL audit of the source × language
    * grid — the cellwise read the aggregate chi-squares (q246) cannot
    * give: for every (source, lang) cell, observed count, expected
    * count under independence (row·col/N), and the Pearson
    * standardized residual (obs − exp)/√exp with an over/under/ok
    * verdict at |r| > 2. The curation question it answers: WHICH
    * source is over-collecting WHICH language, not just "the grid is
    * skewed".
    *
    * Scale shape: one (source, lang) count aggregate; marginals are
    * re-aggregates of that tiny grid, attached by broadcast.
    * Determinism: counts exact; expected and residual are fixed
    * rounded double expressions (6). */
  def q259RepresentationAudit(s: SparkSession, dir: String): DataFrame =
    representationAuditOf(Tables.documents(s, dir))

  /** The audit core over any (source, lang) frame. */
  private[graft] def representationAuditOf(docs: DataFrame): DataFrame = {
    val grid = docs
      .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("obs"))
    val rowT = grid.groupBy(col("source")).agg(sum(col("obs")).as("row_n"))
    val colT = grid.groupBy(col("lang")).agg(sum(col("obs")).as("col_n"))
    val tot = grid.agg(sum(col("obs")).as("n"))
    grid.join(broadcast(rowT), Seq("source"))
      .join(broadcast(colT), Seq("lang"))
      .crossJoin(broadcast(tot))
      .withColumn("expected", round(
        col("row_n").cast("double") * col("col_n").cast("double") /
          col("n").cast("double"), 6))
      .withColumn("residual", round(
        (col("obs").cast("double") - col("expected")) / sqrt(col("expected")), 6))
      .withColumn("verdict",
        when(col("residual") > 2.0, "over")
          .when(col("residual") < -2.0, "under").otherwise("ok"))
      .select(col("source"), col("lang"), col("obs"), col("expected"),
        col("residual"), col("verdict"))
      .orderBy(col("source"), col("lang"))
  }

  /** q78: temporal drift — per-UTC-day KL divergence of the event-type
    * distribution from the all-time pool, the monitoring statistic that
    * catches a collection pipeline silently changing its mix (a scraper
    * source dying, a bot flood, a schema migration reshaping event
    * types). Identical mathematics to q69 with (source → day,
    * token → event_type), so it shares `klFromCounts` verbatim.
    *
    * Shape at 100 TB: the (day, event_type) aggregate is tiny no matter
    * the event volume (days × types rows) and map-side combines on the
    * scan; everything downstream operates on that reduced frame. Day
    * arithmetic is integer epoch-ns division (`ts` surfaces as epoch
    * nanos under [[graft.Tables.NanosAsLongKey]]) — no float time math,
    * no timezone dependence. */
  def q78TemporalDrift(s: SparkSession, dir: String): DataFrame =
    temporalDrift(Tables.events(s, dir))

  /** The reusable core over any (ts epoch-nanos, event_type) frame. */
  def temporalDrift(events: DataFrame): DataFrame = {
    val st = Par.widen(events)
      .select(expr("ts DIV 86400000000000").as("day"),
        col("event_type").as("w"))
      .groupBy(col("day"), col("w")).agg(count(lit(1)).as("k"))
    klFromCounts(st, "day")
      .select(col("day"), col("n_tokens").as("n_events"),
        col("n_terms").as("n_types"), col("kl_nats"), col("kl_bits"))
      .orderBy(col("day"))
  }

  /** q45: per-source token counts and temperature-flattened sampling
    * weights (α = 0.3) with an integer per-100k-document quota. */
  def q45DomainMix(s: SparkSession, dir: String): DataFrame =
    domainWeights(Tables.documents(s, dir))
      .select(
        col("source"), col("n_docs"), col("n_tokens"), col("weight"),
        floor(col("weight") * 100000).cast("long").as("quota_100k"))
      .orderBy(col("source"))

  /** The per-source weight table over any (source, text) frame — q45's
    * output rows plus the normalized `weight` column, reused by q62 as
    * the per-document sampling weight. */
  def domainWeights(docs: DataFrame): DataFrame = {
    val per = docs
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(TextAnalysis.tokenCount(col("text"))).as("n_tokens"))
    val w = per.withColumn("w9",
      round(pow(col("n_tokens").cast("double"), lit(0.3)), 9)
        .cast("decimal(20,9)"))
    val total = w.agg(sum(col("w9")).as("w_total"))
    w.crossJoin(broadcast(total))
      .withColumn("weight",
        round(col("w9").cast("double") / col("w_total").cast("double"), 12))
  }

  /** q73: stride-scheduled mixture interleaving — the deterministic
    * ORDER a trainer consumes the mixture in, not just its weights
    * (q45) or a sampled subset (q62): source s's i-th document (in a
    * salted-hash shuffle order) is emitted at virtual time
    * (i − 0.5) / w_s, and the global stream is everything sorted by
    * that key — classic stride scheduling, whose prefix counts track
    * t·w_s within ±1 for EVERY prefix (spec-asserted), so the trainer
    * sees the target mixture from the first batch, not just in
    * expectation.
    *
    * Shape at 100 TB: the within-source rank is the q56 bucket-prefix
    * idiom keyed per source — local row_number inside bounded
    * (source, hash-range-bucket) partitions, per-(source, bucket)
    * totals (≤ |sources| × P scalars) prefix-scanned on the driver and
    * broadcast back. No per-source corpus window: a giant source costs
    * P bounded sorts, not one task. The weight table rides a
    * broadcast; the emitted prefix is TakeOrderedAndProject (bounded
    * heaps), and the only unpartitioned window numbers the LIMITed
    * result. A full-corpus interleave would drop the limit and write
    * shard-sorted files instead (`Sharding.writeShards`'
    * per-task sort) — positions are only needed per shard. */
  def q73MixtureInterleave(s: SparkSession, dir: String): DataFrame =
    mixtureInterleave(Tables.documents(s, dir), 200)

  /** Within-source shuffle rank — the q56 bucket-prefix idiom keyed per
    * source: local row_number inside bounded (source, hash-range-bucket)
    * partitions, per-(source, bucket) totals (≤ |sources| × P scalars —
    * sources are a low-cardinality dimension, so this driver state is
    * bounded by construction) prefix-scanned on the driver and broadcast
    * back. Returns (doc_id, source, src_rank).
    *
    * Precondition: `source` is non-null (the documents schema's
    * contract) — the driver prefix scan sorts source keys and a null
    * would NPE there, same precondition as `SkewJoin.withKeyTotal`'s
    * documented one. */
  private[ops] def sourceRanks(docs: DataFrame, salt: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sess = docs.sparkSession
    val p = sess.sparkContext.defaultParallelism.toLong
    val width = (1L << 52) / p + 1 // ceil: bucket ids stay < p
    val keyed = docs.select(col("doc_id"), col("source"),
        conv(substring(md5(concat(lit(salt), col("doc_id").cast("string"))),
          1, 13), 16, 10).cast("long").as("h"))
      .withColumn("bucket", expr(s"h DIV $width"))
    val totals = keyed.groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).as("t"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val prefix = totals.keys.map(_._1).toSeq.distinct.sorted.flatMap { src =>
      var acc = 0L
      (0L until p).map { b =>
        val o = (src, b, acc); acc += totals.getOrElse((src, b), 0L); o
      }
    }
    import sess.implicits._
    val offsets = prefix.toDF("source_o", "bucket_o", "before")
    val localWin = Window.partitionBy(col("source"), col("bucket"))
      .orderBy(col("h"), col("doc_id"))
    keyed
      .withColumn("local_rn", row_number().over(localWin).cast("long"))
      .join(broadcast(offsets),
        col("source") === col("source_o") && col("bucket") === col("bucket_o"))
      .select(col("doc_id"), col("source"),
        (col("before") + col("local_rn")).as("src_rank"))
  }

  /** The reusable core over any (doc_id, source, text) frame: the
    * first `n` documents of the stride-scheduled mixture stream. */
  def mixtureInterleave(docs: DataFrame, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ranked = sourceRanks(docs, "mix:")
    val weights = domainWeights(docs).select(col("source"), col("weight"))
    // the RAW IEEE quotient, not round(·,12): rank and weight are
    // bit-identical on both engines, so the division is too — while a
    // 12-digit re-round can land on a decimal tie that Spark (exact
    // BigDecimal of the binary value) and DuckDB (scaled-double round)
    // resolve differently (observed: 1e-12 flip at sf0.01 row 112)
    val topn = ranked.join(broadcast(weights), "source")
      .filter(col("weight") > 0.0) // see mixedShardAssignment's guard
      .withColumn("mix_key",
        (col("src_rank").cast("double") - 0.5) / col("weight"))
      .orderBy(col("mix_key"), col("source"), col("doc_id"))
      .limit(n)
    topn
      .withColumn("global_pos", row_number().over(
          Window.orderBy(col("mix_key"), col("source"), col("doc_id")))
        .cast("long"))
      .select(col("global_pos"), col("doc_id"), col("source"),
        col("src_rank"), col("mix_key"))
      .orderBy(col("global_pos"))
  }

  /** Full-corpus mixture shard assignment — q73's stream cut into
    * trainer shards WITHOUT any global rank: the stride stream emits
    * exactly one document per unit of virtual time (the per-source
    * rates w_s sum to 1), so cutting the time axis at multiples of
    * docsPerShard yields shards of ~docsPerShard docs (±ones of jitter)
    * whose CONCATENATION is the mixture stream — shard_id =
    * floor(mix_key / docsPerShard) is a narrow per-row expression, and
    * pos_in_shard needs only a per-shard window bounded by the shard
    * size. Compare q56's epoch shuffle, which needs the bucket-prefix
    * trick for exact global positions; here the virtual-time axis IS
    * the global order, for free. `epoch` salts the per-source shuffle,
    * so epoch streams are decorrelated while every epoch keeps the
    * mixture guarantee. Output is `writeShards`-shaped
    * (doc_id, shard_id, pos_in_shard). */
  def mixedShardAssignment(docs: DataFrame, epoch: Int,
                           docsPerShard: Long,
                           weightsOpt: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ranked = sourceRanks(docs, s"mix:e$epoch:")
    // the weight table is epoch-INVARIANT: a multi-epoch materializer
    // computes it once (one corpus tokenization pass) and passes it in,
    // instead of re-deriving it per epoch
    val weights = weightsOpt.getOrElse(
      domainWeights(docs).select(col("source"), col("weight")))
    ranked.join(broadcast(weights), "source")
      // a zero-weight source (no tokens at all) has no place on the
      // virtual-time axis — (rank-0.5)/0 is Infinity, which would cast
      // to a Long.MaxValue garbage shard; such docs are excluded from
      // the mixture stream (there is nothing to train on)
      .filter(col("weight") > 0.0)
      .withColumn("mix_key",
        (col("src_rank").cast("double") - 0.5) / col("weight"))
      .withColumn("shard_id",
        floor(col("mix_key") / lit(docsPerShard.toDouble)).cast("long"))
      .withColumn("pos_in_shard",
        (row_number().over(Window.partitionBy(col("shard_id"))
          .orderBy(col("mix_key"), col("source"), col("doc_id"))) - 1).cast("long"))
      .select(col("doc_id"), col("source"), col("src_rank"), col("mix_key"),
        col("shard_id"), col("pos_in_shard"))
  }

  /** q62: weighted corpus sampling — DRAW the epoch's documents to match
    * the q45 mixture, not just compute its weights: each document gets
    * the Efraimidis–Spirakis key `-ln(u)/w` (u a salted-hash uniform, w
    * the per-DOCUMENT weight `weight_source / n_docs_source`, so a
    * source's expected share of the sample is its mixture weight
    * whatever its document count) and the k smallest keys win — the
    * standard one-pass weighted sample without replacement. Which
    * documents land is a pure function of (salt, doc_id, weight table):
    * rerun- and engine-stable.
    *
    * Scale shape: the weight table is per-source (tiny) and rides a
    * broadcast join; u and the key are narrow per-row expressions; the
    * k-smallest cut is `ORDER BY ... LIMIT k` — TakeOrderedAndProject
    * (per-partition heaps), never a global sort. No corpus-sized state
    * anywhere.
    *
    * Determinism: u = (h52+1)/2^52 is exact dyadic arithmetic on a
    * 52-bit hash (double-exact); `ln` is libm so ln(u) is rounded to 12
    * digits before the division, and the key once more after it (the
    * q41/q48 float rules); the per-doc weight divides two bit-identical
    * exact values; ties break by doc_id. */
  def q62WeightedSample(s: SparkSession, dir: String, k: Int = 100): DataFrame =
    weightedSample(Tables.documents(s, dir), k)

  /** The reusable core over any (doc_id, source, text) frame. */
  def weightedSample(docs: DataFrame, k: Int): DataFrame = {
    val weights = domainWeights(docs)
      .select(col("source"), col("weight"),
        (col("weight") / col("n_docs").cast("double")).as("doc_w"))
    val h52 = conv(
      substring(md5(concat(lit("wsample:"), col("doc_id").cast("string"))), 1, 13),
      16, 10).cast("long")
    val u = (h52.cast("double") + 1.0) / lit(4503599627370496.0) // 2^52
    docs.select(col("doc_id"), col("source"))
      .join(broadcast(weights), "source")
      // a zero-weight source's doc_w is 0 → key = +Infinity → sorts
      // last and can never enter the sample, which is the right draw
      // semantics. NOTE the outer round of a quotient is the q73-
      // documented decimal-tie hazard; it is kept here because the
      // oracle replays this exact rounded tree and the k-th-key
      // boundary has never landed on a 1e-12 tie in the gate — if it
      // ever does, both sides drop the outer round together.
      .withColumn("sample_key",
        round(-round(log(u), 12) / col("doc_w"), 12))
      .orderBy(col("sample_key"), col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("source"), col("weight"), col("sample_key"))
      .orderBy(col("doc_id"))
  }

  /** q95: mixture allocation under AVAILABILITY CAPS — classic
    * water-filling. q45 says what mixture you WANT; this says what you
    * can actually HAVE: allocating a token budget proportionally to
    * target weights over-asks small groups (a language with 13% of the
    * tokens cannot fill a 20% share), so exhausted groups saturate at
    * their availability and the freed budget re-spreads over the rest —
    * the loop every real data-mix plan runs when temperature flattening
    * meets a finite crawl.
    *
    * Computed in CLOSED FORM, not iteratively: groups saturate in
    * increasing availability/weight ratio, so sort by the ratio, prefix
    * the sums, and m* = the smallest saturation count whose implied
    * water level c_m = (B − satA_m)/W_rem is ≤ the next group's ratio
    * (a synthetic m = 0 row covers "nobody saturates"; B ≥ Σa
    * degenerates to everything saturated). Every comparison is on IEEE
    * divides of exact longs and every emitted allocation is ONE such
    * divide rounded 9 (the q87 rule), so the oracle lands on identical
    * bytes.
    *
    * Scale shape: ONE map-combined corpus aggregate (per-lang token
    * totals); everything after runs on ≤|langs| rows — the windows
    * below are over the aggregate, never the corpus (the q33/q55
    * shape). Budget = 80% of total tokens (derived, so the declared
    * query stays sf-independent); target weights uniform — the
    * parameterized overload takes any integer weight table. */
  def q95MixtureAllocation(s: SparkSession, dir: String): DataFrame =
    mixtureAllocation(
      Tables.documents(s, dir).groupBy(col("lang"))
        .agg(sum(TextAnalysis.tokenCount(col("text"))).as("a"))
        .withColumn("w", lit(1L)))

  /** Core over an aggregated (lang, a = available, w = integer target
    * weight) frame; budget defaults to (8·Σa) div 10. */
  def mixtureAllocation(avail: DataFrame, budgetOverride: Long = -1L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val totals = avail.agg(
      sum(col("a")).as("tot_a"), sum(col("w")).as("tot_w"),
      count(lit(1)).as("n_groups"))
    val budgeted = avail.crossJoin(broadcast(totals))
      .withColumn("budget",
        if (budgetOverride >= 0) lit(budgetOverride)
        else expr("tot_a * 8 div 10"))
      // saturation order: availability per unit of target weight
      .withColumn("ratio", col("a").cast("double") / col("w").cast("double"))
    val byRatio = Window.orderBy(col("ratio"), col("lang"))
    val ranked = budgeted
      .withColumn("rk", row_number().over(byRatio).cast("long"))
      .withColumn("satA", sum(col("a")).over(
        byRatio.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("satW", sum(col("w")).over(
        byRatio.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("next_ratio",
        lead(col("ratio"), 1, Double.PositiveInfinity).over(byRatio))
    // candidate water levels for m = 0..n; m = 0 is the synthetic
    // "nobody saturates" row (satA = 0, all weight remaining)
    val candidates = ranked.select(col("rk").as("m"), col("satA"), col("satW"),
        col("budget"), col("tot_w"), col("n_groups"), col("next_ratio"))
      .unionByName(ranked.filter(col("rk") === 1L)
        .select(lit(0L).as("m"), lit(0L).as("satA"), lit(0L).as("satW"),
          col("budget"), col("tot_w"), col("n_groups"),
          col("ratio").as("next_ratio")))
      .withColumn("c", (col("budget") - col("satA")).cast("double") /
        (col("tot_w") - col("satW")).cast("double"))
      // valid m: the implied level saturates exactly the first m groups —
      // i.e. it does NOT reach the next ratio. m = n (everything
      // saturated, level undefined) is valid only when the budget covers
      // the whole corpus.
      .filter((col("m") === col("n_groups") && col("budget") >= col("satA")) ||
        (col("m") < col("n_groups") && col("c") <= col("next_ratio")))
    val mStar = candidates.agg(min(struct(col("m"), col("satA"), col("satW"))).as("s"))
      .select(col("s.m").as("m_star"), col("s.satA").as("sat_a"),
        col("s.satW").as("sat_w"))
    ranked.crossJoin(broadcast(mStar))
      .withColumn("saturated", col("rk") <= col("m_star"))
      .withColumn("allocated",
        when(col("saturated"), col("a").cast("double"))
          .otherwise(round((col("w") * (col("budget") - col("sat_a"))).cast("double") /
            (col("tot_w") - col("sat_w")).cast("double"), 9)))
      .select(col("lang"), col("a").as("n_avail"), col("budget"),
        col("saturated"), col("allocated"))
      .orderBy(col("lang"))
  }

  /** q183: TEMPERATURE-SCALED mixture weights — the multilingual-
    * sampling classic (exponentiated upsampling, XLM-R §3.1 / mT5):
    * sampling weight q_s(α) ∝ p_s^α where p_s is the source's natural
    * token share. α = 1 reproduces natural sampling; α < 1 flattens the
    * head and upsamples the tail (the `boost` column says by how much).
    * One row per (source, α) for the standard sweep α ∈ {0.5, 0.7, 1.0}
    * — the table a mixing policy reads to pick its temperature.
    *
    * Shape: ONE token-count aggregate over the corpus (map-side
    * combined), then pure in-row math over |sources|×3 rows.
    * Determinism: shares and powers round 12 (libm pow may differ in
    * final ulps across engines), the normalizer sums rounded decimals
    * exactly, final ratios round 12. */
  def q183TemperatureMix(s: SparkSession, dir: String,
                         alphas: Seq[Double] = Seq(0.5, 0.7, 1.0)): DataFrame = {
    val toks = Tables.documents(s, dir)
      .groupBy(col("source"))
      .agg(sum(TextAnalysis.tokenCount(col("text"))).as("n_tokens"))
    val total = toks.agg(sum(col("n_tokens")).as("n_total"))
    val sweep = toks.crossJoin(broadcast(total))
      .withColumn("p_natural",
        round(col("n_tokens").cast("double") / col("n_total").cast("double"), 12))
      .withColumn("alpha", explode(array(alphas.map(lit(_)): _*)))
      .withColumn("w", round(pow(col("p_natural"), col("alpha")), 12)
        .cast("decimal(28,12)"))
    val norms = sweep.groupBy(col("alpha")).agg(sum(col("w")).as("tot"))
    sweep.join(broadcast(norms), Seq("alpha"))
      .withColumn("q_weight",
        round(col("w").cast("double") / col("tot").cast("double"), 12))
      .select(col("source"), col("alpha"), col("n_tokens"), col("p_natural"),
        col("q_weight"),
        round(col("q_weight") / col("p_natural"), 12).as("boost"))
      .orderBy(col("source"), col("alpha"))
  }

  /** q209: RAKING (iterative proportional fitting / Sinkhorn matrix
    * scaling, Deming & Stephan '40) — per-cell sampling weights that
    * make the weighted (source × lang) table match TWO marginal targets
    * simultaneously: uniform over sources AND uniform over languages.
    * The one-axis temperature mixes (q45/q183) can't do this — raking
    * is the survey-statistics standard for multi-marginal calibration,
    * and the training-data use is direct: rebalance a crawl so neither
    * the dominant source nor the dominant language drowns the mix.
    *
    * Dataflow: ONE map-combined (source × lang) count aggregate — the
    * only corpus-scale work — then 10 IPF iterations on the ≤
    * |sources|·|langs| grid, driver-side over bounded cells (the MMR/
    * PAV precedent; ~100 cells here, never corpus rows). Structural
    * zeros (absent cells) stay absent — observed-cell IPF.
    *
    * Determinism (the oracle unrolls all 10 iterations as MATERIALIZED
    * CTEs): marginal sums add per-cell terms rounded to 12 digits as
    * exact decimals (order-free — the q48 rule, applied driver-side
    * with BigDecimal); each scale factor is round12((n/T) / m); each
    * weight update round12(w·r). Every double op appears in the same
    * order on both engines. */
  def q209RakingMix(s: SparkSession, dir: String, iters: Int = 10): DataFrame = {
    val grid = Tables.documents(s, dir)
      .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    def r12(x: Double): Double =
      BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
    val n = grid.map(_._3).sum.toDouble
    val sources = grid.map(_._1).distinct
    val langs = grid.map(_._2).distinct
    val tgtRow = n / sources.length
    val tgtCol = n / langs.length
    var w = grid.map { case (src, lg, c) => ((src, lg), 1.0) }.toMap
    val cOf = grid.map { case (src, lg, c) => ((src, lg), c) }.toMap
    def rescale(keyOf: ((String, String)) => String, tgt: Double): Unit = {
      // order-free marginal: exact decimal sum of round-12 terms
      val m = w.toSeq
        .groupBy { case (k, _) => keyOf(k) }
        .map { case (g, cells) =>
          g -> cells.map { case (k, wv) =>
            BigDecimal(r12(wv * cOf(k))).setScale(12) }.sum }
      w = w.map { case (k, wv) =>
        val r = r12(tgt / m(keyOf(k)).toDouble)
        k -> r12(wv * r) }
    }
    (1 to iters).foreach { _ =>
      rescale(_._1, tgtRow)
      rescale(_._2, tgtCol)
    }
    import s.implicits._
    grid.map { case (src, lg, c) =>
      val wv = w((src, lg))
      (src, lg, c,
        BigDecimal(wv).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        BigDecimal(wv * c / n).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.sortBy(t => (t._1, t._2)).toSeq
      .toDF("source", "lang", "n_docs", "weight", "eff_share")
  }
}
