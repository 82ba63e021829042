package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Data-selection operators: which documents make it into the training
  * set. Two complementary policies:
  *
  *  - q49 token-budget selection: rank the corpus by a quality priority
  *    and keep documents greedily until a global token budget is full —
  *    the "best N billion tokens" cut every capped training run makes.
  *  - q52 stratified sampling: a deterministic, rerun-stable k-per-stratum
  *    sample (eval sets, human-review batches, per-language probes).
  *
  * Both are exact global decisions computed without any corpus-sized
  * single-task stage (the scale traps for each are an unpartitioned
  * ORDER BY window and a per-stratum row_number respectively).
  */
object Selection {

  /** Integer quality priority 0..10 — q21's three quality rules with
    * integer weights (4/3/3). Integer so every downstream ordering,
    * grouping and join keys on exact arithmetic. Shared by q49 (budget
    * order) and q61 (per-source quota order). */
  private[ops] def priority(): org.apache.spark.sql.Column = {
    val nTok = TextAnalysis.tokenCount(col("text"))
    val nChr = TextAnalysis.charCountNoWs(col("text"))
    val avgTokLen = nChr.cast("double") / greatest(nTok.cast("double"), lit(1.0))
    (when(nTok.between(20, 200), lit(4)).otherwise(lit(0)) +
      when(avgTokLen.between(3.0, 10.0), lit(3)).otherwise(lit(0)) +
      when(TextAnalysis.punctRatio(col("text")) <= 0.1, lit(3)).otherwise(lit(0)))
      .cast("long")
  }

  /** q49: greedy token-budget selection — documents in (priority desc,
    * doc_id asc) order, each selected iff it fits entirely inside the
    * remaining budget-prefix. Output: every document with its exact
    * token prefix (`tokens_before` = total tokens of all
    * strictly-earlier documents in the priority order) and the verdict.
    *
    * The prefix is the q42/q46 three-piece decomposition, specialised to
    * a SUM and a composite (priority, doc_id) order — no unpartitioned
    * window touches raw rows:
    *
    *   tokens_before = tokensOfHigherPriorities   — from the per-priority
    *                   distribution (≤ 11 rows, whatever the corpus)
    *                 + tokensSamePriorityEarlierIdBuckets — per-(priority,
    *                   bucket) sums, prefix-summed within the priority
    *                   (bucket = equal-width doc_id range, monotone in
    *                   doc_id, so bucket order = id order)
    *                 + running sum within (priority, bucket) — a window
    *                   whose partitions are bounded by the bucket width
    *
    * Everything is integer arithmetic, so the DuckDB oracle's plain
    * windowed SUM over (priority DESC, doc_id) hash-matches exactly. */
  def q49TokenBudget(s: SparkSession, dir: String,
                     budget: Long = 20000L): DataFrame =
    tokenBudget(Tables.documents(s, dir), budget)

  /** Equal-DEPTH doc_id buckets from approximate quantiles: bucket ids
    * stay MONOTONE in doc_id (the property every three-piece prefix
    * recombination needs) while populations track ~N/p whatever the id
    * DISTRIBUTION. Equal-width bucketing over (max−min)/p — the naive
    * alternative — collapses for sparse or clustered ids (timestamp
    * ids plus one far sentinel put the whole corpus in one bucket,
    * recreating the single-task window). Results never depend on the
    * cut (spec-asserted invariance), so the sketch's ±0.1% boundary
    * error and any run-to-run boundary drift are harmless — only
    * partition sizing moves. One narrow doc_id-only pass. */
  private[ops] def idDepthBuckets(d: DataFrame, p: Int): Column = {
    val probs = (1 until p).map(_.toDouble / p).toArray
    val bounds = d.select(col("doc_id")).stat
      .approxQuantile("doc_id", probs, 0.001)
      .map(_.toLong).distinct.sorted
    size(filter(typedlit(bounds.toSeq), b => b <= col("doc_id")))
  }

  /** The reusable core over any (doc_id, text) frame — also the 100×
    * soak entry point. `counter` is the per-document token metric the
    * budget counts — whitespace tokens by default (the q49 oracle
    * convention), or `Bpe.bpeCount(col("text"), merges)` to budget
    * trainer-true subword tokens (BpeSpec shows the cut moves: BPE
    * counts punctuation/code-heavy docs 2-4× higher, so they exhaust
    * the budget sooner). The prefix machinery is counter-agnostic —
    * any deterministic integer column works. */
  def tokenBudget(docs: DataFrame, budget: Long,
                  counter: Column = TextAnalysis.tokenCount(col("text"))): DataFrame = {
    val s = docs.sparkSession
    val d = Par.widen(docs)
      .select(col("doc_id"),
        counter.as("n_tokens"),
        priority().as("priority"))
    val bucketed = d.withColumn("bucket",
      idDepthBuckets(d, s.sparkContext.defaultParallelism))

    // piece 1: token mass of strictly-higher priorities (tiny aggregate)
    val dist = bucketed.groupBy(col("priority")).agg(sum(col("n_tokens")).as("ptok"))
    val prioWin = Window.orderBy(col("priority").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val prioPrefix = dist.select(col("priority").as("c_prio"),
      coalesce(sum(col("ptok")).over(prioWin), lit(0L)).as("prio_before"))

    // piece 2: same priority, earlier id buckets (aggregated input)
    val perBucket = bucketed.groupBy(col("priority"), col("bucket"))
      .agg(sum(col("n_tokens")).as("btok"))
    val bucketWin = Window.partitionBy(col("priority")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bucketPrefix = perBucket.select(
      col("priority").as("b_prio"), col("bucket").as("b_bucket"),
      coalesce(sum(col("btok")).over(bucketWin), lit(0L)).as("bucket_before"))

    // piece 3: running sum inside one (priority, bucket) cell — bounded
    val localWin = Window.partitionBy(col("priority"), col("bucket"))
      .orderBy(col("doc_id")).rowsBetween(Window.unboundedPreceding, -1)
    bucketed
      .withColumn("local_before", coalesce(sum(col("n_tokens")).over(localWin), lit(0L)))
      .join(bucketPrefix,
        col("priority") === col("b_prio") && col("bucket") === col("b_bucket"))
      .join(broadcast(prioPrefix), col("priority") === col("c_prio"))
      .withColumn("tokens_before",
        col("prio_before") + col("bucket_before") + col("local_before"))
      .select(col("doc_id"), col("priority"), col("n_tokens"), col("tokens_before"),
        (col("tokens_before") + col("n_tokens") <= budget).as("selected"))
      .orderBy(col("doc_id"))
  }

  /** q56: deterministic epoch shuffle + shard assignment — the global
    * permutation a trainer consumes: every document gets a position in a
    * pseudo-random order that is a pure function of (epoch, doc_id) —
    * rerun-stable, engine-stable, different every epoch — plus the shard
    * the position lands in (fixed docs per shard).
    *
    * The permutation key is the 52-bit prefix of md5("epoch<e>:" ++ id);
    * position = global rank of (key, doc_id). The rank is distributed by
    * HASH-RANGE bucketing — a third decomposition next to q42's id-range
    * prefix and q46's distribution+bucket rank: md5 keys are uniform BY
    * CONSTRUCTION, so P equal-width slices of the hash space are
    * balanced whatever the doc_id distribution (no histogram pass, no
    * sampling — the planner's range partitioner needs a sample scan;
    * this needs none). Per bucket: local row_number (bounded partition),
    * bucket totals — P scalars — prefix-scanned on the driver, broadcast
    * back. The oracle's single-task row_number must equal it exactly.
    *
    * Shards then are contiguous position ranges: shard = (pos-1) DIV
    * docsPerShard — the layout a shard-sequential trainer streams. */
  def q56EpochShuffle(s: SparkSession, dir: String, epoch: Int = 1,
                      docsPerShard: Long = 64L): DataFrame =
    epochShuffle(Tables.documents(s, dir), epoch, docsPerShard)

  /** The reusable core over any frame with a doc_id column — also the
    * shard assignment `Sharding.writeShards` lays out (q98).
    *
    * Precondition: `docs` must be DETERMINISTIC across evaluations (a
    * table scan, or a pinned frame — `localCheckpoint` as
    * `Sharding.materializeContrastiveSet` does). The bucket totals are
    * collected in one job and the ranking runs in a later one; a
    * nondeterministic input (an unpinned `.sample`, a recomputed
    * nondeterministic lineage) would let the two passes see different
    * rows, yielding colliding or gapped positions with no error. */
  def epochShuffle(docs: DataFrame, epoch: Int,
                   docsPerShard: Long): DataFrame = {
    val s = docs.sparkSession
    val p = s.sparkContext.defaultParallelism.toLong
    val width = (1L << 52) / p + 1 // ceil: bucket ids stay < p
    val keyed = docs.select(col("doc_id"),
        conv(substring(md5(concat(lit(s"epoch$epoch:"),
          col("doc_id").cast("string"))), 1, 13), 16, 10)
          .cast("long").as("h"))
      .withColumn("bucket", expr(s"h DIV $width"))
    val totals = keyed.groupBy(col("bucket")).agg(count(lit(1)).as("t"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val prefix = {
      var acc = 0L
      (0L until p).map { b => val o = (b, acc); acc += totals.getOrElse(b, 0L); o }
    }
    import s.implicits._
    val offsets = prefix.toDF("bucket_o", "before")
    val localWin = Window.partitionBy(col("bucket")).orderBy(col("h"), col("doc_id"))
    keyed
      .withColumn("local_rn", row_number().over(localWin).cast("long"))
      .join(broadcast(offsets), col("bucket") === col("bucket_o"))
      .select(col("doc_id"),
        (col("before") + col("local_rn")).as("position"))
      .withColumn("shard_id", expr(s"(position - 1) DIV $docsPerShard"))
      .withColumn("pos_in_shard", pmod(col("position") - 1, lit(docsPerShard)))
      .orderBy(col("doc_id"))
  }

  /** q52: deterministic stratified sample — the k documents per stratum
    * (language) with the smallest salted content-id hash. A pure
    * function of (salt, doc_id): rerun-stable, engine-stable, and
    * adding/removing OTHER documents never evicts a sampled one unless a
    * smaller hash genuinely arrives (the classic min-hash reservoir
    * property, same family as q32's split assignment).
    *
    * Scale shape: the per-stratum selection is the native bounded top_k
    * aggregate (≤ 4+16k bytes per stratum on the wire), not a
    * `row_number() OVER (PARTITION BY lang)` — a whole-corpus sort where
    * every stratum funnels through one task. The hash's first 13 hex
    * digits (52 bits) cast exactly to double, so the aggregate's
    * (score desc, id asc) order mirrors the oracle's
    * (hash asc, doc_id asc) exactly. */
  def q52StratifiedSample(s: SparkSession, dir: String, k: Int = 20): DataFrame =
    stratifiedSample(Tables.documents(s, dir), k)

  /** q61: per-source quota — cap every source (domain/crawl feed) at Q
    * documents, keeping its BEST by the q49 quality priority (ties by
    * doc_id): the domain-balancing step that stops one giant source from
    * swamping the mixture while still taking each source's best slice.
    * Complements q45 (which computes fractional mixing WEIGHTS;
    * this enforces a hard per-source COUNT).
    *
    * Scale shape: the per-source selection is the native bounded top_k
    * aggregate — per-group state is ≤ 4+16·Q bytes on the wire whatever
    * the source's size, with map-side combine — never a
    * `row_number() OVER (PARTITION BY source)`, which funnels a hot
    * source's every row through one task's window buffer. The priority
    * is an 0..10 integer, exact as a double score; the aggregate's
    * (score desc, id asc) order IS the oracle's
    * (priority DESC, doc_id) — engine-stable. */
  def q61SourceQuota(s: SparkSession, dir: String, quota: Int = 50): DataFrame =
    sourceQuota(Tables.documents(s, dir), quota)

  /** The reusable core over any (source, doc_id, text) frame. */
  def sourceQuota(docs: DataFrame, quota: Int): DataFrame =
    Par.widen(docs) // priority() = three regex passes/row — same widen rationale as tokenBudget
      .select(col("source"), col("doc_id"), priority().as("priority"))
      .groupBy(col("source"))
      .agg(TopKPerGroup.topKColumn(col("priority"), col("doc_id"), quota).as("top"))
      .select(col("source"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("source"), (col("pos") + 1).cast("long").as("quota_rank"),
        col("e.id").as("doc_id"), col("e.score").cast("long").as("priority"))
      .orderBy(col("source"), col("quota_rank"))

  /** The reusable core: k-per-stratum min-hash sample of any frame with
    * (lang, doc_id). Spec-tested property: removing non-sampled rows
    * never changes the sample (hash order is a pure row function). */
  def stratifiedSample(docs: DataFrame, k: Int): DataFrame = {
    val hash52 = conv(
      substring(md5(concat(lit("sample:"), col("doc_id").cast("string"))), 1, 13),
      16, 10).cast("long")
    docs
      .groupBy(col("lang"))
      .agg(TopKPerGroup.topKColumn(-hash52.cast("double"), col("doc_id"), k).as("top"))
      .select(col("lang"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("lang"), (col("pos") + 1).cast("long").as("sample_rank"),
        col("e.id").as("doc_id"))
      .orderBy(col("lang"), col("sample_rank"))
  }

  /** Exact global ECDF / percent_rank WITHOUT a global window — the
    * score-normalization every "keep the top X% by quality" policy
    * needs, where `percent_rank() OVER (ORDER BY score)` would funnel
    * the whole corpus through one task.
    *
    * percent_rank depends only on the count of STRICTLY smaller scores
    * (ties share a value), so no per-row ordering is ever needed:
    *  1. one min/max aggregate fixes `nBuckets` score ranges;
    *  2. per-(bucket, score) counts — aggregated rows, one per
    *     distinct score;
    *  3. bucket totals prefix-sum over ≤ nBuckets rows (tiny window),
    *     within-bucket prefix over the DISTINCT-score rows partitioned
    *     by bucket;
    *  4. `less_than = bucket_before + in_bucket_before`; rows join the
    *     mapping back on (bucket, score); pct = less_than/(n−1).
    *
    * A corpus of all-identical scores collapses to ONE aggregated row —
    * the tie case costs nothing. The structural limit is extreme VALUE
    * skew (most distinct scores inside one range bucket): the
    * within-bucket window then sees that bucket's distinct-score rows
    * in one task — aggregated rows, not raw rows, and a second
    * bucketing pass over the offending range would subdivide it (not
    * needed at any tested scale). Output: (id, score, pct round 6). */
  def ecdf(rows: DataFrame, idCol: String, scoreCol: String,
           nBuckets: Int = 1024): DataFrame = {
    val d = rows.select(col(idCol).as("id"), col(scoreCol).cast("double").as("s"))
    val ext = d.agg(min(col("s")).as("lo"), max(col("s")).as("hi"),
      count(lit(1)).as("n"))
    val bucketed = d.crossJoin(broadcast(ext))
      .withColumn("b",
        when(col("hi") === col("lo"), lit(0L))
          .otherwise(least(floor((col("s") - col("lo")) /
            (col("hi") - col("lo")) * nBuckets), lit(nBuckets - 1L)).cast("long")))
    val perScore = bucketed.groupBy(col("b"), col("s")).agg(count(lit(1)).as("cnt"))
    val inBucketWin = Window.partitionBy(col("b")).orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val perBucket = perScore.groupBy(col("b")).agg(sum(col("cnt")).as("btot"))
    val bucketWin = Window.orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bucketPrefix = perBucket.select(col("b"),
      coalesce(sum(col("btot")).over(bucketWin), lit(0L)).as("bucket_before"))
    val mapping = perScore
      .withColumn("in_bucket_before",
        coalesce(sum(col("cnt")).over(inBucketWin), lit(0L)))
      .join(broadcast(bucketPrefix), Seq("b"))
      .select(col("b"), col("s"),
        (col("bucket_before") + col("in_bucket_before")).as("less_than"))
    bucketed.join(mapping, Seq("b", "s"))
      .select(col("id"), col("s").as("score"),
        round(col("less_than").cast("double") /
          greatest(col("n") - 1L, lit(1L)).cast("double"), 6).as("pct"))
  }

  /** q121: exact percent_rank of each document's chars-per-token ratio
    * (the length-quality proxy) — replayed by the oracle's plain
    * `percent_rank()` window. */
  def q121Ecdf(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(s, dir)
    val scored = docs.select(col("doc_id"),
      (col("n_chars").cast("double") /
        greatest(TextAnalysis.tokenCount(col("text")), lit(1L)).cast("double"))
        .as("ratio"))
    ecdf(scored, "doc_id", "ratio")
      .select(col("id").as("doc_id"), round(col("score"), 6).as("ratio"),
        col("pct"))
      .orderBy(col("doc_id"))
  }

  /** q236: PARETO FRONTIER (skyline) — the docs no other doc dominates
    * on (token count, distinct-token count), the classic multi-criteria
    * selection operator ("longest AND most lexically diverse" without
    * collapsing to one weighted score). Dominance: b dominates a iff
    * b.x ≥ a.x ∧ b.y ≥ a.y with at least one strict; EQUAL (x, y)
    * points never dominate each other (both survive).
    *
    * The naive skyline is the O(n²) NOT-EXISTS anti-join — that IS the
    * oracle. The engine computes it in aggregate domain: collapse to
    * distinct (x, y) cells, per-x keep only the max-y cell (same-x
    * dominance), then one window over the ≤|distinct x| frame — a cell
    * survives iff its y strictly exceeds the running max-y over all
    * strictly-greater x. Cost: one (x, y) count aggregate + a window
    * over aggregated cells, never a pair join. */
  def q236ParetoFrontier(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(s, dir)
    paretoFrontier(docs.select(col("doc_id"),
      TextAnalysis.tokenCount(col("text")).as("x"),
      size(array_distinct(TextAnalysis.tokens(col("text")))).cast("long").as("y")))
  }

  /** The skyline core over any (doc_id, x, y) frame (maximize both). */
  def paretoFrontier(m: DataFrame): DataFrame = {
    val cells = m.groupBy(col("x"), col("y")).agg(count(lit(1)).as("c"))
    val xmax = cells.groupBy(col("x")).agg(max(col("y")).as("ymax"))
    val wd = Window.orderBy(col("x").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val frontier = xmax
      .withColumn("gm", max(col("ymax")).over(wd))
      .filter(col("gm").isNull || col("ymax") > col("gm"))
      .select(col("x"), col("ymax").as("y"))
    m.join(broadcast(frontier), Seq("x", "y"), "left_semi")
      .select(col("doc_id"), col("x"), col("y"))
      .orderBy(col("doc_id"))
  }

  /** q243: GREEDY MAX-COVERAGE selection (the (1 − 1/e) submodular
    * classic) — pick k docs maximizing distinct-token coverage, the
    * data-selection primitive behind "smallest eval set that exercises
    * the vocabulary" and coverage-first curation. Each step scores
    * every remaining doc by its UNCOVERED-token count (one anti-join +
    * aggregate over the cached distinct (doc, token) frame — the q212
    * k-passes family), takes the argmax (doc_id tiebreak), folds the
    * winner's tokens into the covered set. Stops early when the best
    * marginal gain is 0 (everything coverable is covered).
    *
    * The oracle unrolls the k steps as MATERIALIZED CTEs with the
    * identical argmax/tiebreak/early-stop rules — a greedy-order bug
    * changes the pick sequence and breaks the hash. */
  def q243CoverageSelect(s: SparkSession, dir: String, k: Int = 10): DataFrame = {
    // coverage universe = distinct word-3-gram shingles (the q25 frame):
    // this corpus's unigram vocabulary is so small one doc covers it in
    // a single step — shingles give the greedy a real sequence to walk.
    //
    // Shape (r15): ONE ROW PER DOC — the per-doc distinct shingle array
    // (Dedup.shingles' own in-row kernel, pre-explode), checkpointed
    // once. Each greedy step is then a single narrow map + TakeOrdered
    // job: gain(d) = size(ws(d) \ covered) via array_except against the
    // driver-held covered set (bounded: the union of ≤ k picked docs'
    // shingle sets), and the winner's UNCOVERED array rides the argmax
    // row, so folding it into covered costs no extra job. The old plan
    // paid, per step, a corpus-scale (doc_id, w) scan + broadcast
    // anti-join + groupBy shuffle + a covered distinct/checkpoint job
    // (measured 44 jobs / 713 tasks / 164 s summed task time at sf0.1;
    // exploded rows are ~500× the doc count). Pick sequence is
    // bit-identical: ws(d) is distinct in-row, so |ws(d) \ covered|
    // equals the exploded anti-join count, the (gain desc, doc_id)
    // argmax and the 0-gain early-stop are unchanged, and covered ∪
    // uncov(win) = covered ∪ ws(win). A doc whose shingles are all
    // covered had NO rows in the old gains frame and has gain 0 here —
    // it can win neither argmax while any positive gain remains, and a
    // 0-gain best stops the loop before picking in both forms.
    // TextAnalysis.tokens maps a null text to an empty array, so ws is
    // never null: a doc without shingles has gain 0, never a null gain
    // for getLong below (Wave36Spec pins an all-null-text corpus).
    val docsArr = Par.widen(graft.Tables.documents(s, dir))
      .select(col("doc_id"),
        graft.functions.exprs.word_ngrams(
          TextAnalysis.tokens(col("text")), 3, distinct = true).as("ws"))
      .localCheckpoint(false) // materialized by step 1's argmax
    val sess = docsArr.sparkSession
    import sess.implicits._
    var covered = Set.empty[String]
    val picked = scala.collection.mutable.ArrayBuffer.empty[Long]
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    var covTotal = 0L
    var step = 1
    var done = false
    while (step <= k && !done) {
      val top = docsArr
        .filter(!col("doc_id").isInCollection(
          if (picked.isEmpty) Seq(-1L) else picked.toSeq))
        .select(col("doc_id"),
          array_except(col("ws"), typedlit(covered.toSeq)).as("uncov"))
        .select(col("doc_id"), size(col("uncov")).cast("long").as("gain"),
          col("uncov"))
        .orderBy(col("gain").desc, col("doc_id")).limit(1)
        .collect()
      if (top.isEmpty || top(0).getLong(1) == 0L) done = true
      else {
        val win = top(0).getLong(0); val g = top(0).getLong(1)
        covTotal += g
        rows += ((step.toLong, win, g, covTotal))
        picked += win
        covered ++= top(0).getSeq[String](2)
        step += 1
      }
    }
    rows.toSeq.toDF("step", "doc_id", "gain", "covered_total")
      .orderBy(col("step"))
  }
}
