package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Deduplication operators for a training-data pipeline, each designed as
  * a distributed dataflow (no driver-side state):
  *
  *  - exact:   hash-groupBy on a normalized content key — one shuffle on
  *             the hash, scales linearly;
  *  - n-gram Jaccard: inverted-index self-join on word shingles — the
  *             shuffle key is the shingle, so frequent shingles are the
  *             skew risk; at 100 TB add a stop-shingle filter (drop grams
  *             with document frequency above a cap) before the join;
  *  - MinHash+LSH: fixed-size signatures (k md5-min hashes) → banded
  *             bucket join → exact verification of candidates only. This
  *             is the 100 TB path: candidate generation touches each doc
  *             k times regardless of corpus size, and the band join only
  *             collides near-duplicates;
  *  - SimHash: 16-bit fingerprint from token-hash bit voting; Hamming
  *             buckets give another near-dup candidate generator.
  *
  * Hashing is md5-based so the DuckDB oracle can mirror every stage
  * bit-for-bit (Spark and DuckDB md5 agree); a production variant would
  * swap in xxhash64 (cheaper) without changing the dataflow.
  */
object Dedup {

  import TextAnalysis.{normalize, prefixTokens}

  /** Distinct word n-gram shingles per document, fully narrow: the
    * per-doc shingle list is built and deduplicated IN-ROW
    * (`array_distinct`, a hash-set pass) before the explode — no
    * `(doc_id, g)` distinct shuffle at all. Same output set as an
    * explode+distinct formulation; the oracle's `SELECT DISTINCT` mirrors
    * the semantics without caring which side dedups.
    * Guard: Spark's `sequence(1, 0)` counts DOWN to [1, 0]; docs shorter
    * than n tokens must produce zero shingles, not bogus indices. */
  def shingles(docs: DataFrame, n: Int): DataFrame = {
    // the pipeline below is fully narrow — which means a small-file corpus
    // (one input split) would tokenize on ONE core. Widen cheap raw docs
    // first (Par.widen: decided from the logical plan, no per-query
    // physical-planning tax); at 100 TB the scan arrives in thousands of
    // splits and this is a no-op.
    // Gram build + in-row dedup run as ONE codegen'd kernel call per doc
    // (functions.WordNGrams) — the transform/slice/array_join HOF chain
    // it replaces is CodegenFallback (an interpreted tree walk and two
    // array copies per gram); same set, same first-occurrence order, so
    // no downstream hash moves (asserted in Wave20Spec's parity test).
    val wide = Par.widen(docs)
    wide.select(col("doc_id"),
      explode(graft.functions.exprs.word_ngrams(
        TextAnalysis.tokens(col("text")), n, distinct = true)).as("g"))
  }

  /** q24: exact dedup on the normalized 8-token prefix (boilerplate key).
    * Emits one row per duplicate group: canonical (min) id, size, and the
    * 20 smallest member ids.
    *
    * No agg buffer grows with group size: members come from a two-level
    * min-k selection — each of 1024 sub-buckets keeps its own sorted
    * min-20 (buffer ≤ group/1024 before the slice), and the merge level
    * sees ≤ 20×1024 survivors per group. A flat
    * `collect_list(all members)` would buffer a billion-duplicate group
    * in one aggregation state; capping only the OUTPUT wouldn't fix
    * that. Sub-bucket count is the memory/width knob at larger scale. */
  def q24ExactDedup(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir)
      .select(md5(prefixTokens(col("text"), 8)).as("group_key"), col("doc_id"))
    val sub = base
      .groupBy(col("group_key"), pmod(col("doc_id"), lit(1024L)).as("sb"))
      .agg(slice(array_sort(collect_list(col("doc_id"))), 1, 20).as("m"),
        count(lit(1)).as("c"))
    // group size folds into the same merge agg: each sub-bucket's count is
    // taken once (at explode position 0) — no separate sizes join
    sub.select(col("group_key"), col("c"), posexplode(col("m")).as(Seq("pos", "k")))
      .groupBy(col("group_key"))
      .agg(
        min(col("k")).as("canonical_id"),
        sum(when(col("pos") === 0, col("c")).otherwise(0L)).as("group_size"),
        array_join(transform(slice(array_sort(collect_list(col("k"))), 1, 20),
          x => x.cast("string")), ",").as("members"))
      .filter(col("group_size") >= 2)
      .select(col("group_key"), col("canonical_id"), col("group_size"), col("members"))
      .orderBy(col("group_key"))
  }

  /** All-pairs word-n-gram Jaccard ≥ threshold via inverted-index join.
    * Jaccard is computed from exact integer set sizes, so the double is
    * engine-deterministic.
    *
    * `maxDocFreq > 0` enables the stop-shingle cap — the 100 TB skew
    * control: a shingle appearing in d documents contributes O(d²) join
    * pairs, so boilerplate shingles ("terms of service …") dominate the
    * shuffle while carrying no dedup signal. Dropping shingles with
    * document frequency above the cap bounds per-key fan-out; genuinely
    * near-duplicate pairs still share plenty of rare shingles (recall
    * asserted in OpsSpec). Note the cap also shrinks the per-doc set
    * size used in the Jaccard denominator — scores are then Jaccard over
    * the *informative* shingle sets. */
  def jaccardPairs(docs: DataFrame, n: Int, threshold: Double,
                   maxDocFreq: Long = 0L, pin: Pin = Pin.Cache): DataFrame = {
    val sh = cappedShingles(docs, n, maxDocFreq, pin)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val common =
      if (maxDocFreq > 0L) coGroupedPairCounts(sh)
      else {
        // uncapped: per-shingle doc lists are unbounded, so an in-row pair
        // build could buffer a boilerplate shingle's whole posting list in
        // one aggregation state — fall back to the self-join, which spills
        val a = sh.as("a"); val b = sh.as("b")
        a.join(b, col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
          .agg(count(lit(1)).as("c"))
      }
    common
      .join(sizes.as("s1"), col("d1") === col("s1.doc_id"))
      .join(sizes.as("s2"), col("d2") === col("s2.doc_id"))
      .withColumn("jaccard",
        col("c").cast("double") / (col("s1.n") + col("s2.n") - col("c")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("d1"), col("d2"), col("c").as("n_common"), col("jaccard"))
      .orderBy(col("d1"), col("d2"))
  }

  /** q25: word-3-gram Jaccard ≥ 0.5 with the stop-shingle cap ON
    * (maxDocFreq=50) — the declared query IS the scale path: per-shingle
    * join fan-out is bounded at 50² pairs, so a boilerplate shingle in
    * 10⁶ docs contributes nothing instead of 10¹² pairs. The oracle
    * mirrors the cap stage-for-stage; recall of planted near-duplicates
    * under the cap is asserted in OpsSpec against the uncapped form. */
  def q25NgramJaccard(s: SparkSession, dir: String): DataFrame =
    jaccardPairs(Tables.documents(s, dir), 3, 0.5, maxDocFreq = 50L)

  /** Per-pair common-shingle counts from CAPPED shingles, join-free: one
    * groupBy(g) collects each shingle's (bounded, ≤ cap after the stop
    * filter) posting list, the ordered pairs are built IN-ROW from the
    * sorted list, and one more aggregation counts each pair's shared
    * shingles. Versus the self-join on `g` this drops a whole
    * shuffle+sort of the shingle set: the join reads the (cached)
    * shingles twice and sort-merges both sides, while here the posting
    * list is one map-side-combined aggregation. Per-shingle fan-out is
    * ≤ cap²/2 pairs — the same bound the join had, but materialized as
    * array rows instead of a merge of two sorted streams.
    * PRECONDITION: every shingle's document frequency is ≤ the stop cap
    * (collect_list state is bounded only then). */
  private[ops] def coGroupedPairCounts(cappedSh: DataFrame): DataFrame =
    cappedSh.groupBy(col("g"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .select(explode(flatten(transform(col("ids"), x =>
        transform(filter(col("ids"), y => y > x),
          y => struct(x.as("d1"), y.as("d2")))))).as("p"))
      .groupBy(col("p.d1").as("d1"), col("p.d2").as("d2"))
      .agg(count(lit(1)).as("c"))

  /** Shingle set with the stop-shingle cap applied (document frequency
    * ≤ maxDocFreq; 0 = uncapped), pinned by `pin` — the shared front
    * end of every shingle-based dedup operator. One materialization of the raw shingle
    * set serves the doc-freq aggregation AND the stop-shingle filter. The
    * broadcast side is the STOP set (df > cap) via anti-join, never the
    * rare set: rare shingles are O(distinct shingles) ≈ O(corpus) —
    * broadcasting them dies at scale — while the stop set is tiny by
    * construction (only shingles heavier than the cap). */
  private def cappedShingles(docs: DataFrame, n: Int, maxDocFreq: Long,
                             pin: Pin = Pin.Cache): DataFrame = {
    if (maxDocFreq > 0L) {
      val all = pin(shingles(docs, n))
      val stop = all.groupBy(col("g")).agg(count(lit(1)).as("df"))
        .filter(col("df") > maxDocFreq).select(col("g"))
      val capped = all.join(broadcast(stop), Seq("g"), "left_anti")
      // second pin only in cache mode (measured A/B at sf0.1): a lazy
      // cache of the capped set beats its consumers re-filtering the raw
      // cache (~-0.6 s each on q25/q26), but an EAGER localCheckpoint of
      // it costs more than the broadcast-anti re-reads it saves
      // (~+0.45 s on q43) — checkpoint callers skip it
      if (pin == Pin.Cache) Pin.Cache(capped) else capped
    } else pin(shingles(docs, n))
  }

  /** Public capped shingle set over an arbitrary document population
    * (checkpoint pinning — safe inside long-lived sessions), for
    * pipeline composition (q57's decontamination stage). */
  def cappedShingleSet(docs: DataFrame, n: Int, maxDocFreq: Long): DataFrame =
    cappedShingles(docs, n, maxDocFreq, pin = Pin.Checkpoint)

  /** MinHash signature component j: lexicographic min over the doc's
    * shingles of an 8-hex-char (32-bit) slice of a shingle digest.
    * All 8 components derive from TWO md5 evaluations per shingle
    * (md5(g) and md5('#'+g)), not eight — md5 bits are independent, so
    * the four disjoint slices of one digest are four independent 32-bit
    * hashes, and digest evaluation dominates the map side (measured ~2x
    * on the whole query). */
  private[ops] def minhashAgg(j: Int): Column = {
    val digest = if (j < 4) col("m1") else col("m2")
    min(substring(digest, 1 + 8 * (j % 4), 8)).as(s"h$j")
  }

  /** The two per-shingle digests feeding `minhashAgg`. */
  private[ops] def withDigests(sh: DataFrame): DataFrame =
    sh.withColumn("m1", md5(col("g")))
      .withColumn("m2", md5(concat(lit("#"), col("g"))))

  /** q26: MinHash + LSH banded dedup, fully verified.
    * k=8 signature components, 4 bands × 2 rows; candidates from band
    * collisions, then exact Jaccard ≥ 0.5 verification on candidates only. */
  def q26MinhashLsh(s: SparkSession, dir: String): DataFrame =
    minhashLshPairs(Tables.documents(s, dir))

  /** MinHash+LSH near-dup pairs over any documents frame (doc_id, text).
    *
    * The stop-shingle cap applies BEFORE signatures — without it a
    * boilerplate shingle that happens to hash near the minimum becomes
    * the min-hash of every document containing it, their band hashes
    * collide, and candidate generation goes quadratic in that shingle's
    * document frequency (a 20× soak with salted boilerplate ran the
    * uncapped form past 10 minutes; capped finishes with the corpus).
    * Contract: run exact dedup (q24) first — a group of thousands of
    * IDENTICAL documents legitimately shares every signature and no
    * banding scheme can keep its candidate count sub-quadratic. */
  def minhashLshPairs(docs: DataFrame, maxDocFreq: Long = 50L,
                      pin: Pin = Pin.Cache): DataFrame = {
    val sh = cappedShingles(docs, 3, maxDocFreq, pin)
    val k = 8
    val sig = withDigests(sh).groupBy(col("doc_id")).agg(
      minhashAgg(0), (1 until k).map(minhashAgg): _*)
    // 4 bands of 2 components each → band hash. Explode one evaluation of
    // `sig` into 4 rows — a UNION of per-band selects would re-run the
    // whole signature aggregation once per band (measured 4x slower).
    val bandStructs = (0 until 4).map { b =>
      struct(lit(b).as("band"),
        md5(concat(col(s"h${2 * b}"), col(s"h${2 * b + 1}"))).as("bh"))
    }
    val bands = sig
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("b"))
      .select(col("doc_id"), col("b.band").as("band"), col("b.bh").as("bh"))
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      .distinct()
    // exact verification of candidates only — against each candidate
    // doc's FULL (capped) shingle array, one row per doc: the previous
    // formulation joined the exploded shingle rows twice (two shuffles of
    // the whole shingle set) and counted pairs in a third aggregation;
    // collecting each doc's sorted shingle array once and intersecting
    // IN-ROW moves the same work to two candidate-sized joins plus an
    // array intersection. The array is O(doc tokens) — the row already
    // carried the document text, so per-row state doesn't grow in kind.
    val docsets = sh.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("g"))).as("gs"))
    cand
      .join(docsets.as("s1"), col("d1") === col("s1.doc_id"))
      .join(docsets.as("s2"), col("d2") === col("s2.doc_id"))
      .select(col("d1"), col("d2"),
        size(array_intersect(col("s1.gs"), col("s2.gs"))).as("c"),
        size(col("s1.gs")).as("n1"), size(col("s2.gs")).as("n2"))
      .withColumn("jaccard",
        col("c").cast("double") / (col("n1") + col("n2") - col("c")).cast("double"))
      .filter(col("jaccard") >= 0.5)
      .select(col("d1"), col("d2"), col("jaccard"))
      .orderBy(col("d1"), col("d2"))
  }

  /** q134: near-dup pairs within a TIME HORIZON — the production dedup
    * contract ("dedup this ingest against the last H days, not against
    * all history"): q26's banded MinHash chain, but every band posting
    * carries a time bucket `tb = day DIV H` and posts to (tb, tb+1),
    * so a pair within H days always shares a bucketed band key (tb
    * diff ≤ 1 ⇒ the later doc's tb is among the earlier doc's two
    * postings) while pairs months apart NEVER join — at 100 TB the
    * band join's fan-out is bounded per (band, bucket), not by a
    * shingle's all-time document frequency. The bucket is necessary
    * but not sufficient, so the exact |Δday| ≤ H filter rides the
    * verification join; duplicate candidates from double-posting fold
    * into the existing DISTINCT. The RESULT equals "q26 pairs with
    * |Δday| ≤ H" (what the oracle replays); the bucketing only bounds
    * the join. `day` is synthesized `doc_id % 120` (the q122 fixture
    * idiom — a real corpus has an ingest date). */
  def horizonNearDupPairs(docs: DataFrame, horizonDays: Long,
                          maxDocFreq: Long = 50L,
                          pin: Pin = Pin.Cache): DataFrame = {
    val withDay = docs.withColumn("__day", pmod(col("doc_id"), lit(120L)))
    val sh = cappedShingles(withDay.select(col("doc_id"), col("text")),
      3, maxDocFreq, pin)
    val k = 8
    val days = withDay.select(col("doc_id"), col("__day"))
    val sig = withDigests(sh).groupBy(col("doc_id")).agg(
      minhashAgg(0), (1 until k).map(minhashAgg): _*)
      .join(days, Seq("doc_id"))
    val bandStructs = (0 until 4).map { b =>
      struct(lit(b).as("band"),
        md5(concat(col(s"h${2 * b}"), col(s"h${2 * b + 1}"))).as("bh"))
    }
    val tb = expr(s"__day DIV $horizonDays")
    val bands = sig
      .select(col("doc_id"), col("__day"), explode(array(bandStructs: _*)).as("b"))
      .select(col("doc_id"), col("__day"), col("b.band").as("band"),
        col("b.bh").as("bh"), explode(array(tb, tb + 1)).as("tbk"))
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.tbk") === col("y.tbk") && col("x.doc_id") < col("y.doc_id") &&
          abs(col("x.__day") - col("y.__day")) <= horizonDays)
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      .distinct()
    val docsets = sh.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("g"))).as("gs"))
    cand
      .join(docsets.as("s1"), col("d1") === col("s1.doc_id"))
      .join(docsets.as("s2"), col("d2") === col("s2.doc_id"))
      .select(col("d1"), col("d2"),
        size(array_intersect(col("s1.gs"), col("s2.gs"))).as("c"),
        size(col("s1.gs")).as("n1"), size(col("s2.gs")).as("n2"))
      .withColumn("jaccard",
        col("c").cast("double") / (col("n1") + col("n2") - col("c")).cast("double"))
      .filter(col("jaccard") >= 0.5)
      .select(col("d1"), col("d2"), col("jaccard"))
  }

  /** q134 entry: 7-day horizon over the documents corpus. */
  def q134HorizonDedup(s: SparkSession, dir: String): DataFrame =
    horizonNearDupPairs(Tables.documents(s, dir), horizonDays = 7L)
      .orderBy(col("d1"), col("d2"))

  /** q138: CONTAINMENT pairs — the asymmetric companion to Jaccard that
    * symmetric dedup cannot see: c(A→B) = |sh(A) ∩ sh(B)| / |sh(A)|,
    * the quote/boilerplate/excerpt detector (a short doc fully quoted
    * inside a long one has high containment but low Jaccard, because
    * the union is dominated by the long side). Candidate generation and
    * the common counts are EXACTLY q25's capped inverted index (shared
    * front end, same per-shingle ≤ cap² fan-out bound); only the final
    * score differs — each unordered candidate is scored in BOTH
    * directions in-row, keeping pairs where the contained side has
    * ≥ `minShingles` (containment over a 2-shingle set is noise) and
    * c ≥ `threshold`. Scores are ratios of exact ints → deterministic
    * doubles. */
  def containmentPairs(docs: DataFrame, threshold: Double,
                       minShingles: Int = 5, maxDocFreq: Long = 50L,
                       pin: Pin = Pin.Cache): DataFrame = {
    // coGroupedPairCounts' precondition is a CAPPED shingle set (its
    // per-shingle aggregation state is cap-bounded); uncapped input
    // (maxDocFreq = 0, the jaccardPairs self-join fallback) would grow
    // unbounded collect_list state per hot shingle — refuse it here.
    require(maxDocFreq > 0,
      "containmentPairs requires a shingle doc-frequency cap (maxDocFreq > 0)")
    val sh = cappedShingles(docs.select(col("doc_id"), col("text")),
      3, maxDocFreq, pin)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    coGroupedPairCounts(sh)
      .join(sizes.as("s1"), col("d1") === col("s1.doc_id"))
      .join(sizes.as("s2"), col("d2") === col("s2.doc_id"))
      .select(col("d1"), col("d2"), col("c"),
        col("s1.n").as("n1"), col("s2.n").as("n2"))
      .select(explode(array(
        struct(col("d1").as("contained_id"), col("d2").as("container_id"),
          col("c"), col("n1").as("n_contained")),
        struct(col("d2").as("contained_id"), col("d1").as("container_id"),
          col("c"), col("n2").as("n_contained")))).as("p"))
      .select(col("p.contained_id").as("contained_id"),
        col("p.container_id").as("container_id"),
        col("p.c").as("n_common"), col("p.n_contained").as("n_contained"))
      .withColumn("containment",
        col("n_common").cast("double") / col("n_contained").cast("double"))
      .filter(col("n_contained") >= minShingles &&
        col("containment") >= threshold)
  }

  /** q138 entry: 3-gram containment ≥ 0.6 over ≥ 5-shingle sets. */
  def q138Containment(s: SparkSession, dir: String): DataFrame =
    containmentPairs(Tables.documents(s, dir), threshold = 0.6)
      .orderBy(col("contained_id"), col("container_id"))

  /** q27: 16-bit SimHash per document. Bit i of the fingerprint is the
    * sign of a vote: each token contributes +1 if hex digit i of its md5
    * is ≥ 8 (top bit set), else -1. Output is the 16-char bitstring —
    * Hamming-adjacent fingerprints are near-dup candidates. Total over
    * the corpus (the q51 rule): a tokenless document's votes are all
    * absent, so every bit falls to the `otherwise` and it fingerprints
    * as all-zeros instead of vanishing from the output. */
  def q27Simhash(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val toks = docs.select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .withColumn("h", md5(col("tok")))
    val votes = (1 to 16).map { i =>
      sum(when(substring(col("h"), i, 1).isin("8", "9", "a", "b", "c", "d", "e", "f"), 1)
        .otherwise(-1)).as(s"v$i")
    }
    docs.select(col("doc_id"))
      .join(toks.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        concat((1 to 16).map(i => when(col(s"v$i") >= 0, "1").otherwise("0")): _*).as("simhash16"))
      .orderBy(col("doc_id"))
  }

  /** Connected components over an undirected pair graph — the step that
    * turns near-dup PAIRS into dedup CLUSTERS (pick one canonical doc
    * per component, drop the rest): `nodes` is (id), `pairs` is (d1, d2);
    * returns (id, component) where component = min id reachable.
    *
    * Iterative min-label propagation with POINTER JUMPING: each round a
    * node takes the min of (its label, its neighbors' labels, its
    * label's label). The neighbor step alone needs diameter rounds (a
    * 10⁶-long chain of near-dups = 10⁶ shuffles); the label's-label hop
    * halves label-chain depth each round, so convergence is
    * O(log diameter) — the classic large-star/small-star bound — at two
    * extra narrow joins per round.
    *
    * Each round's labels are EAGERLY localCheckpoint'ed: an iterative
    * dataflow must truncate lineage per round — a mere persist leaves
    * every round's plan referencing the previous round's cache, and
    * unpersisting that cache recompiles the dependent entry, silently
    * recomputing the whole history each round (measured: exponential,
    * 4× per round). Checkpointed partitions are reclaimed by the
    * ContextCleaner as rounds drop their references; on a real cluster
    * with executor churn, swap localCheckpoint for a reliable
    * `checkpoint` dir — same dataflow. Convergence is one aggregate per
    * round: labels only ever DECREASE (every update is a min), so the
    * label sum strictly decreases iff anything changed (decimal sum —
    * 2^63 overflows at ~1e9 nodes × 1e10 ids). */
  def connectedComponents(nodes: DataFrame, pairs: DataFrame,
                          maxIters: Int = 50): DataFrame = {
    val edges = pairs.select(col("d1").as("a"), col("d2").as("b"))
      .unionByName(pairs.select(col("d2").as("a"), col("d1").as("b")))
      .persist()
    edges.count() // materialize once; both per-round joins reuse it
    // Iterate ONLY over edge-touched nodes: a node with no edges keeps
    // label = id forever, so singletons — the overwhelming majority of a
    // dedup graph (most documents are not near-duplicates of anything) —
    // would only inflate every round's joins, checkpoints and
    // convergence aggregates. They rejoin (left, coalesce to self) once,
    // at the end. The iteration frames are then O(nodes touching an
    // edge), not O(corpus).
    var labels = edges.select(col("a").as("id")).distinct()
      .select(col("id"), col("id").as("component"))
      .localCheckpoint()
    def labelSum(df: DataFrame): java.math.BigDecimal =
      Option(df.agg(sum(col("component").cast("decimal(38,0)"))).collect()(0)
        .getDecimal(0)).getOrElse(java.math.BigDecimal.ZERO) // empty edge set
    var prevSum = labelSum(labels)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIters) {
      val nbrMin = edges.join(labels, col("b") === col("id"))
        .groupBy(col("a")).agg(min(col("component")).as("nbr"))
        .select(col("a").as("nid"), col("nbr"))
      val hop = labels
        .join(nbrMin, col("id") === col("nid"), "left")
        .select(col("id"),
          least(col("component"), coalesce(col("nbr"), col("component"))).as("component"))
      // pointer jumping: follow the (possibly stale) label one more hop
      val labelOfLabel = labels.select(col("id").as("l_id"), col("component").as("l_comp"))
      // LAZY checkpoint: the convergence aggregate right below is the
      // materializing action, so each round runs ONE job (materialize +
      // sum) instead of two (r14; lineage truncation is identical once
      // materialized — the property the eager form bought)
      val next = hop.join(labelOfLabel, col("component") === col("l_id"), "left")
        .select(col("id"),
          least(col("component"), coalesce(col("l_comp"), col("component"))).as("component"))
        .localCheckpoint(false)
      val nextSum = labelSum(next)
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      labels = next
      iter += 1
    }
    edges.unpersist()
    // exhausting maxIters without the label sum stabilizing would mean the
    // returned components are PARTIAL — wrong clusters with no signal.
    // Pointer jumping converges in O(log diameter), so 50 rounds covers any
    // graph a dedup pipeline can produce; if we ever get here, fail loudly
    // rather than emit silently corrupt dedup decisions.
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge after $maxIters rounds — " +
          "partial components would be silently wrong; raise maxIters")
    // singletons re-enter as their own component
    nodes.select(col("id"))
      .join(labels.withColumnRenamed("id", "t_id"),
        col("id") === col("t_id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
  }

  /** q43: benchmark decontamination — for every TEST-split document, how
    * much of it leaks from the TRAIN split: distinct train docs sharing
    * ≥ minShared capped 3-gram shingles, the largest single-doc overlap,
    * and a contaminated verdict. The canonical pre-release check that
    * evaluation data didn't bleed into training data.
    *
    * Splits are q32's pure-function-of-id md5 assignment (engine- and
    * rerun-stable, no rand()). The shingle overlap is the same capped
    * inverted-index join as q25 — per-shingle fan-out bounded by the
    * stop-shingle cap, with the test side a ~10% slice of the corpus. */
  def q43Decontamination(s: SparkSession, dir: String,
                         minShared: Long = 5L): DataFrame = {
    val docs = Tables.documents(s, dir)
    // The shared split expression (Splits.of, also q32), applied as a
    // narrow column — membership is md5(doc_id), so no split table join
    val sh = cappedShingles(docs, 3, 50L, pin = Pin.Checkpoint)
      .withColumn("split", Splits.of(col("doc_id")))
    // join-free overlap: ONE groupBy(g) collects each shingle's test-side
    // and train-side posting lists (each ≤ the stop cap, so the agg state
    // is bounded; val-split rows turn into nulls, which collect_list
    // drops), then the test×train pairs are built in-row — the same
    // shuffle-saving rewrite as coGroupedPairCounts, with the split
    // filter fused into the collection instead of two filtered scans
    // feeding a sort-merge join on `g`.
    val overlap = sh.groupBy(col("g")).agg(
        collect_list(when(col("split") === "test", col("doc_id"))).as("t_ids"),
        collect_list(when(col("split") === "train", col("doc_id"))).as("tr_ids"))
      .select(explode(flatten(transform(col("t_ids"), t =>
        transform(col("tr_ids"),
          tr => struct(t.as("t_doc"), tr.as("tr_doc")))))).as("p"))
      .groupBy(col("p.t_doc").as("t_doc"), col("p.tr_doc").as("tr_doc"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .groupBy(col("t_doc")).agg(
        count(lit(1)).as("n_train_matches"),
        max(col("shared")).as("max_shared"))
    docs.select(col("doc_id")).filter(Splits.of(col("doc_id")) === "test")
      .join(overlap, col("doc_id") === col("t_doc"), "left")
      .select(col("doc_id"),
        coalesce(col("n_train_matches"), lit(0L)).as("n_train_matches"),
        coalesce(col("max_shared"), lit(0L)).as("max_shared"),
        (coalesce(col("max_shared"), lit(0L)) >= minShared).as("contaminated"))
      .orderBy(col("doc_id"))
  }

  /** q40: near-duplicate CLUSTERS — connected components over the exact
    * q36 pair graph, the final step of the dedup pipeline: keep the
    * canonical (min-id) member of each component, drop the rest. Every
    * embedding appears (singletons are their own component), so the
    * output is a total keep/drop decision. */
  def q40NearDupClusters(s: SparkSession, dir: String): DataFrame = {
    val pairs = Similarity.q36EmbeddingNearDup(s, dir).select(col("d1"), col("d2"))
    val nodes = Tables.embeddings(s, dir).select(col("vec_id").as("id"))
    connectedComponents(nodes, pairs)
      .select(col("id").as("vec_id"), col("component"),
        (col("id") === col("component")).as("is_canonical"))
      .orderBy(col("vec_id"))
  }

  /** q80: canonical-document selection — the step that turns near-dup
    * CLUSTERS into a concrete replacement map: within each MinHash-LSH
    * cluster (q26's audited pair stage + q40's connected components),
    * keep the LARGEST member (max n_chars, ties to the smallest
    * doc_id — "longest version wins" is the standard crawl-dedup
    * policy, since truncated mirrors are the common duplicate) and map
    * every other member onto it. The output is total over the corpus:
    * one row per document with its cluster, its canonical replacement,
    * and the keep verdict — exactly the frame a downstream pipeline
    * joins against to drop duplicates without losing provenance.
    *
    * Contrast with q40's `is_canonical`: there the representative is
    * the min-id member (a label artifact of the CC algorithm); here it
    * is a POLICY choice computed from document properties, which is
    * what a real pipeline wants (min-id keeps an arbitrary copy;
    * max-size keeps the most complete one).
    *
    * Shape at 100 TB: pair generation is banded LSH (bounded per-doc);
    * CC runs on edge-touched nodes only; per-cluster selection is a
    * map-side-combinable `min(struct(-n_chars, id))` aggregate — an
    * argmax without any window, so a monster cluster is a combiner
    * tree, not a single-task sort. The join back to members shuffles
    * on component; a pathological component is AQE-skew-split (it is a
    * plain equi-join, the splittable kind). */
  def q80CanonicalDocs(s: SparkSession, dir: String): DataFrame =
    canonicalDocs(Tables.documents(s, dir))

  /** Star edges over EXACT duplicate groups: (min id of the group, id)
    * for every other member — linear in group size, so a 10⁶-copy
    * boilerplate group is 10⁶−1 edges, never a quadratic pair list.
    * These close the MinHash cap's one blind spot: a duplicate group
    * larger than maxDocFreq has every shared shingle stopped, so the
    * banded path emits NO pairs for exactly the most-duplicated content
    * — the star edges recover those groups from the md5 key (the q24
    * mechanism) regardless of the cap. */
  private def exactDupStarEdges(docs: DataFrame): DataFrame = {
    val keyed = docs.select(col("doc_id"), md5(col("text")).as("k"))
    val reps = keyed.groupBy(col("k")).agg(min(col("doc_id")).as("m"))
    keyed.join(reps, Seq("k"))
      .filter(col("doc_id") =!= col("m"))
      .select(col("m").as("d1"), col("doc_id").as("d2"))
  }

  /** The reusable core over any (doc_id, text, n_chars) frame. */
  def canonicalDocs(docs: DataFrame): DataFrame = {
    val pairs = minhashLshPairs(docs).select(col("d1"), col("d2"))
      .unionByName(exactDupStarEdges(docs))
    val nodes = docs.select(col("doc_id").as("id"))
    val members = connectedComponents(nodes, pairs)
      .join(docs.select(col("doc_id").as("id"), col("n_chars")), "id")
    val winners = members.groupBy(col("component"))
      .agg(count(lit(1)).as("n_members"),
        min(struct((-col("n_chars")).as("neg"), col("id").as("cid"))).as("m"))
      .select(col("component"), col("n_members"), col("m.cid").as("canonical_id"))
    members
      .join(winners, Seq("component"))
      .select(col("id").as("doc_id"), col("component"), col("canonical_id"),
        col("n_members"), (col("id") === col("canonical_id")).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** q72: leakage-safe train/eval splits — the cross-split complement
    * of q43's decontamination: q43 screens against an EXTERNAL eval
    * suite, this screens the corpus's own held-out splits. A train doc
    * that is a MinHash-LSH near-dup partner (q26's audited pair stage)
    * of any val/test doc is a leak — its eval twin would be memorized,
    * so it is quarantined from train; eval membership itself never
    * moves (dropping from eval would bias the benchmark, and
    * `Splits.of` must stay a pure function of the id).
    *
    * Shape at 100 TB: pair generation is the banded-LSH path (bounded
    * per-doc work, no all-pairs); everything after is sparse-edge
    * scale — symmetrize the pair list, semi-restrict to eval partners,
    * one map-combined count per doc, LEFT JOIN back to the (narrow)
    * split projection. No windows, no corpus-scale driver state. */
  def q72LeakageSafeSplit(s: SparkSession, dir: String): DataFrame =
    leakageSafeSplit(Tables.documents(s, dir))

  /** The reusable core over any (doc_id, text) frame. */
  def leakageSafeSplit(docs: DataFrame, pin: Pin = Pin.Cache): DataFrame = {
    // symmetrize by IN-ROW explode, not a self-union: a union would
    // reference the pair plan twice and exchange reuse does not cross
    // union branches, so the whole banded minhash dataflow would
    // execute twice (measured 4.3 s vs 2.5 s at sf0.1); the explode
    // emits both directed edges from ONE pass, cache-free — the split
    // of the partner rides along so no second edge join is needed
    val pairs = minhashLshPairs(docs, pin = pin).select(col("d1"), col("d2"))
    val withSplit = docs.select(col("doc_id"),
      graft.ops.Splits.of(col("doc_id")).as("split"))
    val sym = pairs
      .select(explode(array(
        struct(col("d1").as("a"), graft.ops.Splits.of(col("d2")).as("bsplit")),
        struct(col("d2").as("a"), graft.ops.Splits.of(col("d1")).as("bsplit"))))
        .as("e"))
      .select(col("e.a").as("a"), col("e.bsplit").as("bsplit"))
    val leaks = sym.filter(col("bsplit") =!= "train")
      .groupBy(col("a")).agg(count(lit(1)).as("n"))
      .select(col("a").as("doc_id"), col("n"))
    // exact-twin eval count — a GROUP-LEVEL scalar (linear at any group
    // size), closing the MinHash cap's blind spot: a duplicate group
    // above maxDocFreq emits no banded pairs at all, yet an exact eval
    // twin is the starkest memorization leak there is. A twin also
    // reachable through a band counts on both legs (documented
    // double-count in the diagnostic; the quarantine decision — any
    // partner at all — is unaffected).
    val keyed = docs.select(col("doc_id"), md5(col("text")).as("k"),
      graft.ops.Splits.of(col("doc_id")).as("msplit"))
    val grp = keyed.groupBy(col("k"))
      .agg(sum(when(col("msplit") =!= "train", 1L).otherwise(0L)).as("ge"))
    val exactN = keyed.join(grp, Seq("k"))
      .select(col("doc_id"),
        (col("ge") - when(col("msplit") =!= "train", 1L).otherwise(0L)).as("ne"))
    withSplit.join(leaks, Seq("doc_id"), "left")
      .join(exactN, Seq("doc_id"))
      .withColumn("n_all", coalesce(col("n"), lit(0L)) + col("ne"))
      .select(col("doc_id"), col("split"),
        col("n_all").as("n_eval_partners"),
        (!(col("split") === "train" && col("n_all") > 0L)).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** q74: the cross-source duplication matrix — for each unordered
    * source pair, how many near-dup pairs straddle it (plus the
    * within-source diagonal): the provenance diagnostic that tells you
    * WHICH feeds are re-crawling each other before you pick quotas or
    * drop a redundant source. Pure composition over the audited
    * MinHash pair stage: two broadcast-sized source lookups (the
    * (doc_id, source) projection is corpus-scale, so those joins
    * shuffle pair-scale rows — pairs are sparse — against it), one
    * tiny aggregate. */
  def q74SourceOverlap(s: SparkSession, dir: String): DataFrame =
    sourceOverlap(Tables.documents(s, dir))

  /** The reusable core over any (doc_id, source, text) frame. */
  def sourceOverlap(docs: DataFrame, pin: Pin = Pin.Cache): DataFrame = {
    val pairs = minhashLshPairs(docs, pin = pin).select(col("d1"), col("d2"))
    val src = docs.select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("d1"), col("source").as("s1")), "d1")
      .join(src.select(col("doc_id").as("d2"), col("source").as("s2")), "d2")
      .select(least(col("s1"), col("s2")).as("source_a"),
        greatest(col("s1"), col("s2")).as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** q75: per-source shingle diversity — distinct 3-grams over total
    * (doc-distinct) 3-gram occurrences: the type/token ratio that drops
    * toward 0 when a feed mode-collapses (synthetic data repeating
    * itself, a crawler stuck in a template farm), while healthy text
    * stays high. Complements q74: that says who duplicates WHOM, this
    * says who duplicates THEMSELVES even below the near-dup threshold.
    *
    * Shape: one (source, gram) distinct shuffle — gram-keyed like every
    * shingle op; the per-source counts are map-side-combined count
    * aggregates (a hot source collapses per task, no list state), and
    * sources with zero shingles (all docs under 3 tokens) survive via
    * LEFT JOIN + COALESCE (the q51 rule). */
  def q75SourceDiversity(s: SparkSession, dir: String): DataFrame =
    sourceDiversity(Tables.documents(s, dir))

  /** The reusable core over any (doc_id, source, text) frame. */
  def sourceDiversity(docs: DataFrame): DataFrame = {
    val withSrc = shingles(docs, 3)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
    val tot = withSrc.groupBy(col("source")).agg(count(lit(1)).as("n_grams"))
    val dis = withSrc.select(col("source"), col("g")).distinct()
      .groupBy(col("source")).agg(count(lit(1)).as("n_distinct"))
    docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .join(tot, Seq("source"), "left")
      .join(dis, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        (coalesce(col("n_distinct"), lit(0L)).cast("double") /
          greatest(coalesce(col("n_grams"), lit(0L)), lit(1L)).cast("double"))
          .as("distinct_ratio"))
      .orderBy(col("source"))
  }

  /** q70: exact substring-level duplication — the character-granular
    * complement of q53's token-shingle repetition. A position is
    * "duplicated" when its k-char gram occurs >= 2 times anywhere in the
    * corpus (other docs OR elsewhere in the same doc — the classic
    * repeated-substring dedup criterion), alignment-free because every
    * position is a window start, which strided shingling can never give
    * you. Overlapping duplicated windows are merged into maximal spans
    * per doc, and the report is the duplicated-char fraction — the
    * number a span-removal pass would delete.
    *
    * Shape at 100 TB: the gram frame is the honest cost — one row per
    * character position. It stays cheap per row because the k-char
    * strings are hashed IN-ROW before the explode (52-bit md5 here so
    * DuckDB mirrors it; xxhash64 in production): the corpus-scale
    * shuffles carry (h, doc_id, pos) at ~24 bytes/char, never the
    * overlapping strings (k x corpus bytes). Two corpus-scale exchanges:
    * the gram-count aggregate (map-side combined, so a boilerplate gram
    * collapses per task before the wire) and the grams-to-dup-hash join
    * (1:N — the dup side is one row per hash, so a hot gram skews a
    * reducer but cannot blow up pairs; AQE skew split handles the
    * residue). The span-merge window partitions by doc_id: per-key work
    * is bounded by document length — the same bound as holding the
    * doc's text in one row, so any doc the scan can read, the window
    * can sort. */
  def q70SubstringDup(s: SparkSession, dir: String): DataFrame =
    substringDupStats(Tables.documents(s, dir), 20)

  /** Merged maximal duplicated spans per document: (doc_id, mn, mx, np)
    * where mn/mx are the first/last duplicated WINDOW-START positions of
    * the span (1-indexed; the span's character extent is [mn, mx+k-1])
    * and np the number of duplicated positions inside it. The shared
    * core of q70 (measurement) and q82 (removal) — see q70's scaladoc
    * for the 100 TB shape of each stage. */
  def dupSpans(docs: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Par.widen(docs).select(col("doc_id"), col("text"))
    // (pos, h52) built in-row; sequence guarded because Spark's
    // sequence(1, 0) counts DOWN instead of yielding empty
    val grams = d.select(col("doc_id"),
        explode(when(length(col("text")) >= k,
          transform(sequence(lit(1), length(col("text")) - (k - 1)),
            i => struct(i.cast("long").as("pos"),
              conv(substring(md5(col("text").substr(i, lit(k))), 1, 13), 16, 10)
                .cast("long").as("h"))))
          .otherwise(array().cast("array<struct<pos:bigint,h:bigint>>"))).as("g"))
      .select(col("doc_id"), col("g.pos").as("pos"), col("g.h").as("h"))
    val dupH = grams.groupBy(col("h")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2).select(col("h"))
    val dupPos = grams.join(dupH, "h").select(col("doc_id"), col("pos"))
    // merge overlapping/adjacent [pos, pos+k-1] windows: a new span
    // starts when the gap to the previous start exceeds k
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val lagPos = lag(col("pos"), 1).over(w)
    dupPos
      .withColumn("brk",
        when(lagPos.isNull || col("pos") - lagPos > k, 1L).otherwise(0L))
      .withColumn("island", sum(col("brk")).over(w))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("mn"), max(col("pos")).as("mx"),
        count(lit(1)).as("np"))
      .drop("island")
  }

  /** The reusable core over any (doc_id, text) frame; k = window width
    * (a duplicated run shorter than k is invisible — k is the minimum
    * match length, 50 in the Lee et al. setup, 20 here for the small
    * fixture corpus). */
  def substringDupStats(docs: DataFrame, k: Int): DataFrame = {
    val spans = dupSpans(docs, k)
    val per = spans.groupBy(col("doc_id"))
      .agg(sum(col("np")).as("dp"), sum(col("mx") - col("mn") + k).as("dc"))
    // zero-dup docs survive: LEFT JOIN + COALESCE on BOTH engine and
    // oracle (the q51 lesson)
    docs.select(col("doc_id"), length(col("text")).cast("long").as("n_chars"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chars"),
        coalesce(col("dp"), lit(0L)).as("dup_positions"),
        coalesce(col("dc"), lit(0L)).as("dup_chars"),
        round(coalesce(col("dc"), lit(0L)).cast("double") /
          greatest(col("n_chars"), lit(1L)).cast("double"), 12).as("dup_frac"))
      .orderBy(col("doc_id"))
  }

  /** q82: duplicate-span REMOVAL — the rewrite q70 only measures. Every
    * merged duplicated span (char range [mn, mx+k-1]) is cut out of the
    * document and the surviving segments are re-concatenated — the Lee et
    * al. "Deduplicating Training Data Makes Language Models Better" edit,
    * applied to ALL occurrences (both copies of a duplicated run sit in
    * duplicated windows, so both are cut; the policy that keeps the
    * pipeline's provenance simple and the one their public tooling ships).
    * Emits per-doc sizes plus the md5 of the cleaned text so the oracle
    * hash pins the exact rewritten bytes, not just the arithmetic.
    *
    * Shape at 100 TB: rides [[dupSpans]] (q70's audited stages) and adds
    * one per-doc `collect_list` of spans — bounded by document length,
    * the same bound as the text column itself — then a single codegen'd
    * `aggregate` fold that slices the original text between consecutive
    * spans. No new corpus-scale shuffle beyond q70's two: the span frame
    * is already partitioned by doc_id when it is collected. */
  def q82SpanRemoval(s: SparkSession, dir: String): DataFrame =
    spanRemoved(Tables.documents(s, dir), 20)

  /** The reusable rewrite over any (doc_id, text) frame. */
  def spanRemoved(docs: DataFrame, k: Int): DataFrame = {
    val sp = dupSpans(docs, k)
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("mn"), col("mx")))).as("sp"))
    docs.select(col("doc_id"), col("text"))
      .join(sp, Seq("doc_id"), "left")
      .withColumn("sp",
        coalesce(col("sp"), array().cast("array<struct<mn:bigint,mx:bigint>>")))
      .withColumn("clean", expr(
        s"""aggregate(sp,
           |  struct(CAST(1 AS BIGINT) AS cur, '' AS acc),
           |  (st, x) -> struct(x.mx + $k AS cur,
           |    concat(st.acc, substring(text, CAST(st.cur AS INT),
           |                             CAST(x.mn - st.cur AS INT))) AS acc),
           |  st -> concat(st.acc, substring(text, CAST(st.cur AS INT),
           |    CAST(length(text) - st.cur + 1 AS INT))))""".stripMargin))
      .select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        size(col("sp")).cast("long").as("n_spans"),
        length(col("clean")).cast("long").as("clean_chars"),
        (length(col("text")) - length(col("clean"))).cast("long").as("removed_chars"),
        md5(col("clean")).as("clean_md5"))
      .orderBy(col("doc_id"))
  }

  /** q171: tiered dedup ATTRIBUTION — the report a pipeline owner reads
    * before choosing which dedup tiers to pay for: apply the tiers in
    * strictness order (exact full-text md5 → q24's 8-token-prefix key →
    * q26's verified MinHash pairs) and count, per tier, the documents it
    * catches OUTRIGHT, its MARGINAL catch (docs no stricter tier
    * already caught), and the corpus remaining after it. Victim policy
    * per tier: keep the smallest doc_id (group canonical for the key
    * tiers; for near-dup pairs the larger id of each verified pair is
    * the victim — the deterministic pairwise rule).
    *
    * Shape at 100 TB: two key-group aggregates (map-side combined; the
    * min-per-key join is aggregated-build) + the audited q26 banded
    * chain; the report tail is a 3-row frame (its window is bounded by
    * construction). Counts are exact longs end to end. */
  def q171DedupAttribution(s: SparkSession, dir: String): DataFrame =
    dedupAttribution(Tables.documents(s, dir).select(col("doc_id"), col("text")))

  /** The reusable core over any (doc_id, text) frame. */
  def dedupAttribution(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    def victimsBy(key: Column): DataFrame = {
      val d = docs.select(col("doc_id"), key.as("k"))
      val mins = d.groupBy(col("k")).agg(min(col("doc_id")).as("mn"))
      d.join(mins, Seq("k")).filter(col("doc_id") =!= col("mn"))
        .select(col("doc_id"))
    }
    val v1 = victimsBy(md5(col("text")))
    val v2 = victimsBy(md5(TextAnalysis.prefixTokens(col("text"), 8)))
    val v3 = minhashLshPairs(docs).select(col("d2").as("doc_id")).distinct()
    val tagged = v1.withColumn("tier", lit(1L))
      .unionByName(v2.withColumn("tier", lit(2L)))
      .unionByName(v3.withColumn("tier", lit(3L)))
      .localCheckpoint() // two aggregates below read it
    val caught = tagged.groupBy(col("tier"))
      .agg(countDistinct(col("doc_id")).cast("long").as("n_caught"))
    val marginal = tagged.groupBy(col("doc_id")).agg(min(col("tier")).as("tier"))
      .groupBy(col("tier")).agg(count(lit(1)).as("n_marginal"))
    val total = docs.agg(count(lit(1)).as("n_total"))
    val tiers = Seq((1L, "exact_text"), (2L, "prefix8"), (3L, "neardup"))
      .toDF("tier", "tier_name")
    import org.apache.spark.sql.expressions.Window
    tiers.join(caught, Seq("tier"), "left")
      .join(marginal, Seq("tier"), "left")
      .crossJoin(broadcast(total))
      .withColumn("n_caught", coalesce(col("n_caught"), lit(0L)))
      .withColumn("n_marginal", coalesce(col("n_marginal"), lit(0L)))
      // 3-row frame: the global window is bounded by construction
      .withColumn("n_remaining", col("n_total") -
        sum(col("n_marginal")).over(Window.orderBy(col("tier"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("tier"), col("tier_name"), col("n_caught"),
        col("n_marginal"), col("n_remaining"))
      .orderBy(col("tier"))
  }

  /** q211: DEDUP GROWTH CURVE — the seen-before rate by ingestion
    * batch: as a crawl ingests (doc_id order, batches of `batch`),
    * what fraction of each batch exactly duplicates an EARLIER doc?
    * The curve a pipeline reads to decide when incremental dedup
    * stops paying (a flat high tail means the source is recycling
    * content) and to size the standing fingerprint index. A doc is
    * seen-before iff its exact text md5 first occurred at a smaller
    * doc_id — self-first occurrences don't count, later copies all do.
    *
    * Shape at 100 TB: one (md5 → min doc_id) aggregate (map-side
    * combined; the fingerprint is 32 bytes/doc on the wire), one
    * equi-join back, one ≤|batches| aggregate; the cumulative window
    * runs over the bounded batch frame (`Diag plan`'s SinglePartition
    * flag here is that ≤|batches|-row frame — the tier-funnel idiom,
    * bounded by construction). Determinism: everything is exact
    * integers until the two round-6 rates. */
  def q211DedupGrowth(s: SparkSession, dir: String,
                      batch: Long = 50L): DataFrame =
    dedupGrowth(Tables.documents(s, dir), batch)

  /** The curve core over any (doc_id, text) frame. */
  def dedupGrowth(docs: DataFrame, batch: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Par.widen(docs)
      .select(col("doc_id"), expr(s"doc_id DIV $batch").as("batch"),
        md5(col("text")).as("m"))
    val firstOf = d.groupBy(col("m")).agg(min(col("doc_id")).as("first_id"))
    val flagged = d.join(firstOf, Seq("m"))
      .withColumn("dup", (col("doc_id") > col("first_id")).cast("long"))
    val per = flagged.groupBy(col("batch"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dup")).as("n_dup"))
    // bounded frame: |batches| rows — the global window is safe here
    val w = Window.orderBy(col("batch"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    per
      .withColumn("cum_docs", sum(col("n_docs")).over(w))
      .withColumn("cum_dup", sum(col("n_dup")).over(w))
      .select(col("batch"), col("n_docs"), col("n_dup"),
        round(col("n_dup").cast("double") / col("n_docs").cast("double"), 6)
          .as("dup_rate"),
        round(col("cum_dup").cast("double") / col("cum_docs").cast("double"), 6)
          .as("cum_dup_rate"))
      .orderBy(col("batch"))
  }
}
