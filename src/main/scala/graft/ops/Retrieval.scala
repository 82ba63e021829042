package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Layout
import graft.Tables
import BucketStore.{docBucket, termBucket, termBucketCol}

/** Full-text retrieval over the corpus — the data-curation tool behind
  * "find the documents most similar to this benchmark prompt" and
  * targeted-quality audits: BM25, the standard lexical ranking function
  * (Robertson et al., TREC-3; the Lucene/Elasticsearch default).
  *
  * Scale shape (the inverted-index dataflow, pre-pruned in-row):
  *  - each doc's token array is filtered to the query's terms IN-ROW
  *    (one codegen'd array scan) BEFORE the explode, so the Generate
  *    emits only matching postings — O(query hits), not O(corpus
  *    tokens). Measured at the 100× soak (500k docs, 74M tokens):
  *    explode-then-filter cost 40 s; a fully in-row variant (4
  *    `size(filter(...))` per doc per pass, no explode) cost 69 s —
  *    repeated array scans beat the explode only when the hit rate is
  *    far lower; filter-then-explode wins at 11–12 s (isolated / under
  *    soak load) by paying ONE array scan and generating 36× fewer rows;
  *  - document frequencies and the corpus totals are |query|-row and
  *    1-row aggregates, attached as broadcasts (no second corpus pass
  *    for dl: the doc-length rides WITH each posting row). dfreq's
  *    lineage textually repeats the tf aggregation, but ReuseExchange
  *    dedupes the identical exchange at runtime — folding dfreq and the
  *    totals into one up-front stats pass was measured at 29–35 s
  *    (2.5× WORSE: the combined pass defeats column pruning and runs
  *    the interpreted HOF filter over every row twice);
  *  - the final top-k is `ORDER BY ... LIMIT k` — Spark plans
  *    TakeOrderedAndProject (per-partition heaps + k-row driver merge),
  *    never a global sort.
  *  - for a STANDING retrieval workload, [[writePostingsBucketed]]
  *    materializes the inverted index ONCE — postings partitioned by a
  *    term-hash bucket, document frequencies and corpus totals persisted
  *    beside the data — and [[bucketedBm25TopK]] answers each query from
  *    the query terms' buckets only (static partition pruning + a
  *    term-IN row-group filter), so probe cost tracks the query's
  *    posting lists, not corpus size. Measured at the 100× soak: the
  *    index write costs 72 s once, then each probe answers in 2.2 s
  *    reading 7% of the layout dirs, vs 12.3 s for every scan-time
  *    query. Scan-time BM25 remains the right shape for one-off ad-hoc
  *    curation queries (no index to maintain).
  *
  * Determinism (the q41/q48 float rules): idf and each per-term partial
  * score are `round(..., 12)` — both engines' `ln` may differ in final
  * ulps — and the per-doc sum runs over DECIMAL(28,12), exact and
  * order-free; everything else is IEEE-754 arithmetic on exact integer
  * inputs in an identical operation order, so the oracle hash-matches.
  */
object Retrieval {

  /** BM25 free parameters (the standard defaults). K1+1 and 1-B are
    * spelled as DECIMAL LITERALS, not computed: `1.2 + 1.0` in binary
    * can round to a different double than parsing "2.2", and the oracle
    * parses literals — computing them here would drift the last ulp. */
  val K1 = 1.2
  val B  = 0.75
  val K1Plus1   = 2.2
  val OneMinusB = 0.25

  /** q58: BM25 top-k — rank documents against a fixed query-term set.
    * Emits one row per retrieved document (the k best by score, ties by
    * doc_id), with its score, matched-term count and token length. */
  def q58Bm25(s: SparkSession, dir: String,
              query: Seq[String] = Seq("spark", "vector", "merge", "window"),
              k: Int = 20): DataFrame =
    bm25TopK(Tables.documents(s, dir), query, k)

  /** The reusable core over any (doc_id, text) frame. */
  def bm25TopK(docs: DataFrame, query0: Seq[String], k: Int): DataFrame = {
    require(query0.nonEmpty, "empty query")
    // the corpus tokenizer lowercases; an unnormalized query term would
    // silently match nothing — normalize here so "Spark" finds "spark"
    val query = query0.map(_.toLowerCase)
    val d = Par.widen(docs)
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("l"))
      .select(col("doc_id"), size(col("l")).cast("long").as("dl"), col("l"))

    // Corpus totals: one 1-row aggregate, broadcast into the scorer.
    val totals = d.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("n_total"))

    // Postings of the QUERY terms only, pre-pruned in-row: the token
    // array is filtered BEFORE the explode, so only hits become rows.
    // dl rides along (it is functionally dependent on doc_id).
    val qArr = array(query.map(lit(_)): _*)
    val tf = d
      .select(col("doc_id"), col("dl"),
        explode(filter(col("l"), x => array_contains(qArr, x))).as("term"))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))

    // Document frequency per query term: ≤ |query| rows.
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))

    scoreTopK(tf, dfreq, totals, k)
  }

  /** The shared BM25 scorer: `tf` rows (doc_id, dl, term, tf) restricted
    * to the query terms, `dfreq` (term, df) ≤ |query| rows, `totals` one
    * row (n_docs, n_total). Both the scan-time and the bucketed path end
    * here, so index-vs-scan parity is BY CONSTRUCTION — same float
    * rounding, same decimal sum, same tie-break. */
  /** One term's BM25 contribution over cols (tf, dl, df, n_docs,
    * n_total) — THE scorer definition: the scan-time, bucketed-index and
    * hard-negative paths all close over this single expression, so their
    * scores agree to the last bit (same libm rounding, same decimal
    * width) by construction. */
  private def bm25Part: Column = {
    val tfD = col("tf").cast("double")
    val dlD = col("dl").cast("double")
    val avgdl = col("n_total").cast("double") / col("n_docs").cast("double")
    val idf = round(log(
      (col("n_docs").cast("double") - col("df").cast("double") + 0.5) /
        (col("df").cast("double") + 0.5) + 1.0), 12)
    round(idf * (tfD * K1Plus1) /
        (tfD + lit(K1) * (lit(OneMinusB) + lit(B) * dlD / avgdl)), 12)
      .cast("decimal(28,12)")
  }

  private def scoreTopK(tf: DataFrame, dfreq: DataFrame,
                        totals: DataFrame, k: Int): DataFrame = {
    tf.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(totals))
      .withColumn("part", bm25Part)
      .groupBy(col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("n_hit_terms"), sum(col("part")).as("sc"))
      .select(col("doc_id"), col("dl").as("n_tokens"), col("n_hit_terms"),
        col("sc").cast("double").as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
      .orderBy(col("doc_id"))
  }

  /** q172: Rocchio-style PSEUDO-RELEVANCE FEEDBACK — the classic query
    * expansion loop (Rocchio 1971; standard PRF as in Manning et al.
    * IR ch. 9): retrieve top-k₁ with the seed query, score the
    * feedback docs' terms by tf·idf (BM25's idf, the corpus-wide df),
    * append the top-E new terms to the query, retrieve again. Recall
    * rises because the expansion terms co-occur with the seed concept
    * in the corpus's own top documents — no external model.
    *
    * Determinism: term scores are round(idf,12)·tfSum rounded to 12
    * (same doubles both engines); expansion ties break lexicographic;
    * both retrieval stages are [[bm25TopK]]'s audited scorer.
    *
    * Shape at 100 TB: stage-1 is the standing-index probe; the
    * feedback vocabulary is O(k₁ · doc length) — INDEPENDENT of corpus
    * size — so collecting it as the stage-2 in-row filter literal is
    * the same bounded-driver-state move as the seed query itself; the
    * df pass for those terms is one filtered explode + map-side
    * combine (at index scale it reads the standing `_df` sidecar
    * instead, the q89 layout). */
  def q172QueryExpansion(s: SparkSession, dir: String): DataFrame =
    queryExpansion(Tables.documents(s, dir),
      Seq("spark", "vector", "merge", "window"), 10, 4, 15)

  /** The reusable core over any (doc_id, text) frame. */
  def queryExpansion(docs: DataFrame, seed: Seq[String], k1: Int,
                     expandBy: Int, k: Int): DataFrame = {
    val seedLc = seed.map(_.toLowerCase)
    val fbIds: Seq[Long] = bm25TopK(docs, seedLc, k1)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
    val d = Par.widen(docs)
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("l"))
    // feedback term mass over the k1 docs (bounded frame)
    val fb = d.filter(col("doc_id").isin(fbIds.map(Long.box): _*))
      .select(explode(col("l")).as("term"))
      .filter(!col("term").isin(seedLc: _*))
      .groupBy(col("term")).agg(count(lit(1)).as("tf_sum"))
    // bounded by construction: the vocabulary of k1 documents
    val vocab: Seq[String] = fb.select(col("term"))
      .collect().map(_.getString(0)).toSeq.sorted
    val vocabArr = array(vocab.map(lit(_)): _*)
    val totals = d.agg(count(lit(1)).as("n_docs"))
    val dfreq = d
      .select(col("doc_id"),
        explode(array_distinct(filter(col("l"),
          x => array_contains(vocabArr, x)))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val expansion: Seq[String] = fb.join(dfreq, Seq("term"))
      .crossJoin(broadcast(totals))
      .withColumn("idf", round(log(
        (col("n_docs").cast("double") - col("df").cast("double") + 0.5) /
          (col("df").cast("double") + 0.5) + 1.0), 12))
      .withColumn("w", round(col("idf") * col("tf_sum").cast("double"), 12))
      .orderBy(col("w").desc, col("term"))
      .limit(expandBy)
      .select(col("term")).collect().map(_.getString(0)).toSeq
    bm25TopK(docs, seedLc ++ expansion, k)
  }

  /** q71: hard-negative mining for retrieval/embedding training — for
    * each query document, the top-k BM25-scored documents that are
    * lexically close but NOT near-duplicates: self and MinHash-LSH
    * near-dup partners (q26's audited pair stage) are excluded, so what
    * remains is exactly the "looks relevant, isn't the same document"
    * set a contrastive trainer wants as negatives. */
  def q71HardNegatives(s: SparkSession, dir: String): DataFrame =
    hardNegatives(Tables.documents(s, dir), col("doc_id") % 100 === 0)

  /** Champion-list width for [[hardNegatives]]: per query term, only
    * its `ChampionCap` highest-tf postings (ties to the smaller
    * doc_id) generate candidates. Bounds the probe fan-out at
    * C · |query vocab| · |queries| rows whatever the corpus size —
    * the r9-measured 100× hotspot was the uncapped corpus × query
    * fan-out. 100 × k(=10): wide enough that a true negative outside
    * every champion list is a pathological corpus, bounded enough
    * that the fan-out never tracks corpus size. */
  val ChampionCap = 1000

  /** The reusable core: `isQuery` marks the query documents (a BOUNDED
    * sample — everything driver-free below is bounded by |queries|).
    * Query terms are each query doc's distinct tokens; `dfCap > 0`
    * additionally drops terms above that corpus document frequency —
    * idf already ranks common terms near zero, so the cap costs little
    * signal, but a df CUTOFF is useless on this fixture's uniform
    * vocabulary (31 terms, median df = 78% of docs — any threshold
    * keeps all or none; the knob stays spec-pinned on a planted
    * corpus). The DECLARED fan-out control is instead the champion
    * list (round-10, retiring the r9 "uncapped default" perf-weak
    * item): candidate GENERATION per term is its top-[[ChampionCap]]
    * postings by (tf desc, doc_id) — the classic impact-ordered
    * pruning (Manning, Raghavan & Schütze, IIR §7.1.3) — and only the
    * union of the query's champions is scored; SCORING of a surviving
    * candidate stays exact over all its shared terms, so ranking
    * quality degrades only when a true top-k doc sits outside every
    * champion list (C = 100× k here). The oracle replays the identical
    * cut (row_number ≤ C over (tf desc, doc_id)).
    *
    * Shape at 100 TB: one corpus tokenize feeding a per-token
    * broadcast-hash probe against the query-term union (a hash lookup
    * per token beats an O(|terms|) in-row array scan once the union is
    * thousands wide — the q58 literal-array trick stops paying there),
    * then: tf aggregate (hits-scale — rows whose term some query
    * uses), df re-aggregate (<= |terms| rows, broadcast back), the
    * BOUNDED champion aggregate (<= C·|terms| rows out — the corpus ×
    * query fan-out of the old plan, measured 247.8 s at the 100× soak,
    * never materializes), per-part decimal scoring restricted to
    * champion docs, the near-dup anti-join, and the bounded top_k
    * final cut — no per-query window over the corpus anywhere. */
  def hardNegatives(docs: DataFrame, isQuery: Column, k: Int = 10,
                    dfCap: Long = 0L): DataFrame = {
    val (out, caches) = hardNegativesLazy(docs, isQuery, k, dfCap)
    // the result is bounded at k × |queries| rows: materialize it and
    // RELEASE the caches — otherwise every invocation in a long-lived
    // session leaks cached plans into the CacheManager (q28's emit
    // lesson); the release rides a finally so a failed job can't
    // strand them
    val rows =
      try out.collect()
      finally caches.foreach(_.unpersist())
    val sess = docs.sparkSession
    sess.createDataFrame(sess.sparkContext.parallelize(rows.toIndexedSeq, 1),
        out.schema)
      .orderBy(col("query_id"), col("rank"))
  }

  /** The lazy dataflow behind [[hardNegatives]] plus the frames it
    * caches (twice-referenced subplans) — package-visible so PlanSpec
    * can audit the REAL plan, which the public wrapper's bounded
    * collect-and-release otherwise hides behind a local relation. */
  private[graft] def hardNegativesLazy(
      docs: DataFrame, isQuery: Column, k: Int,
      dfCap: Long): (DataFrame, Seq[DataFrame]) =
    hardNegativesLazyFrom(docs, _.filter(isQuery), k, dfCap)

  /** [[hardNegatives]] with the query set given as a doc_id FRAME (the
    * anchor list a contrastive materialization computes) instead of a
    * column predicate — membership rides a semi-join, so a dynamic
    * anchor set never becomes a driver-side id list.
    *
    * `nearDupPairs`: optionally the ALREADY-COMPUTED (d1, d2) MinHash
    * pair frame to exclude — a caller that mined its anchors FROM the
    * pair stage (q98) would otherwise pay the whole banded-LSH dataflow
    * a second time just to rebuild the identical exclusion list
    * (measured ~3 s of q98's 16 s at sf0.1). None = compute it here
    * (the standalone q71 path). */
  def hardNegativesFor(docs: DataFrame, queryIds: DataFrame, k: Int = 10,
                       dfCap: Long = 0L,
                       nearDupPairs: Option[DataFrame] = None): DataFrame = {
    val (out, caches) = hardNegativesLazyFrom(docs,
      _.join(queryIds.select(col("doc_id")), Seq("doc_id"), "left_semi"),
      k, dfCap, nearDupPairs)
    val rows =
      try out.collect()
      finally caches.foreach(_.unpersist())
    val sess = docs.sparkSession
    sess.createDataFrame(sess.sparkContext.parallelize(rows.toIndexedSeq, 1),
        out.schema)
      .orderBy(col("query_id"), col("rank"))
  }

  private[graft] def hardNegativesLazyFrom(
      docs: DataFrame, selectQueries: DataFrame => DataFrame, k: Int,
      dfCap: Long,
      nearDupPairs: Option[DataFrame] = None): (DataFrame, Seq[DataFrame]) = {
    val d = Par.widen(docs)
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("l"))
      .select(col("doc_id"), size(col("l")).cast("long").as("dl"), col("l"))
    val totals = d.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("n_total"))
    // (query_id, term): each query doc's distinct tokens, in-row dedup.
    // cache(): consumed twice (qset below, inform's probe side) — tiny
    // rows, but each uncached reference re-scans the corpus
    val qterms = selectQueries(Par.widen(docs))
      .select(col("doc_id").as("query_id"),
        explode(array_distinct(TextAnalysis.tokens(col("text")))).as("term"))
      .cache()
    val qset = qterms.select(col("term")).distinct()
    // tf restricted to the query-term union; df over it IS corpus df
    // (count of docs containing the term). cache(): the hits-scale
    // aggregate feeds BOTH the inform broadcast (via dfreq) and the
    // scoring probe — uncached, the corpus tokenize+explode lineage
    // executes twice (measured 8.1 s → 4.9 s at sf0.1; lazy cache keeps
    // view registration job-free, and hits-scale is what we shuffle
    // anyway, so MEMORY_AND_DISK at 100 TB is the normal trade)
    val tf = d.select(col("doc_id"), col("dl"), explode(col("l")).as("term"))
      .join(broadcast(qset), "term")
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .cache()
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val inform0 = qterms.join(broadcast(dfreq), "term")
    val inform = (if (dfCap > 0L) inform0.filter(col("df") <= dfCap)
                  else inform0).select(col("term"), col("query_id"))
    // champion lists: per term, its top-C postings by (tf desc,
    // doc_id) via the BOUNDED top_k aggregate (O(C) state per term —
    // never a window over the posting list). Candidates for a query =
    // the union of its terms' champions; every later stage is
    // candidate-scale, so the corpus × query fan-out of the pre-r10
    // plan never materializes.
    val champs = tf.groupBy(col("term"))
      .agg(TopKPerGroup.topKColumn(col("tf"), col("doc_id"), ChampionCap).as("top"))
      .select(col("term"), explode(col("top")).as("e"))
      .select(col("term"), col("e.id").as("doc_id"))
    // cache(): consumed twice (candDocs semi-filter, scored join) —
    // bounded at |queries| x C x |vocab| rows pre-distinct, far less after
    val cand = champs.join(broadcast(inform), Seq("term"))
      .filter(col("doc_id") =!= col("query_id"))
      .select(col("query_id"), col("doc_id")).distinct()
      .cache()
    // score each (doc, term) ONCE, before the query fan-out: the part
    // depends only on (tf, dl, df, totals), so computing it after the
    // inform join would re-run the log/round/decimal chain per QUERY
    // sharing the term (measured ~2 s of the 7 s at sf0.1 — the
    // fan-out then sums precomputed decimals instead). Restricted to
    // champion docs: the decimal chain runs only for rows that can
    // still reach a top-k.
    // candDocs/cand are BOUNDED (≤ |queries|·C candidates, two longs per
    // row) — broadcast both joins so the hits-scale tf/parts side is
    // never shuffled by doc_id (guide §3.1: the unhinted planner picked
    // sort-merge here, exchanging the corpus-weight side twice; the
    // exchanges removed are visible in plans/r15/q71_*)
    val candDocs = cand.select(col("doc_id")).distinct()
    val parts = tf
      .join(broadcast(candDocs), Seq("doc_id"), "left_semi")
      .join(broadcast(dfreq), "term")
      .crossJoin(broadcast(totals))
      .withColumn("part", bm25Part)
      .select(col("term"), col("doc_id"), col("part"))
    // exact scoring over the candidate set: all shared (query, doc)
    // terms contribute — the champion cut prunes candidate GENERATION,
    // never a surviving candidate's score
    val scored = parts
      .join(broadcast(cand), Seq("doc_id"))
      .join(broadcast(inform), Seq("query_id", "term"), "left_semi")
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("part")).as("sc"))
      .select(col("query_id"), col("doc_id"),
        col("sc").cast("double").as("score"))
    // near-dup partners of a query are "same document in a trenchcoat",
    // not negatives — exclude both orientations of the pair list,
    // symmetrized by IN-ROW explode: a self-union would reference the
    // pair plan twice and exchange reuse does not cross union branches,
    // so the banded minhash dataflow would execute twice (measured
    // 4.3 s vs 2.5 s at sf0.1)
    val excl = nearDupPairs
      .getOrElse(Dedup.minhashLshPairs(docs, pin = Pin.Checkpoint))
      .select(explode(array(
        struct(col("d1").as("query_id"), col("d2").as("doc_id")),
        struct(col("d2").as("query_id"), col("d1").as("doc_id")))).as("e"))
      .select(col("e.query_id").as("query_id"), col("e.doc_id").as("doc_id"))
    val kept = scored.join(excl, Seq("query_id", "doc_id"), "left_anti")
    val out = TopKPerGroup.topKPerKey(kept, "query_id", "score", "doc_id", k)
      .select(col("key").as("query_id"), col("rank"),
        col("id").as("doc_id"), col("score"))
      .orderBy(col("query_id"), col("rank"))
    (out, Seq(tf, qterms, cand))
  }

  /** Write-time inverted-index layout — the standing-retrieval answer
    * the scan-time path's scaladoc promises. One corpus pass tokenizes
    * and explodes EVERY term into postings (doc_id, dl, term, tf),
    * partitioned on disk by [[BucketStore.termBucket]] and sorted by
    * term within files (parquet min/max row-group stats make the query-time
    * `term IN (...)` filter skip non-matching row groups). Document
    * frequencies land beside the data (`<dst>_df`, same bucketing), the
    * two corpus totals in `<dst>_totals`, and the bucket count in
    * `<dst>_meta` so any later reader derives the same buckets.
    *
    * 100 TB shape: the postings write is ONE shuffle (repartition by
    * bucket) + a per-task sort; `nBuckets` scales with the cluster (a
    * write puts one file in each bucket dir, so more buckets keep the
    * files small). Queries never touch this job again — they
    * read nBuckets⁻¹-ish of the layout per term. */
  def writePostingsBucketed(docs: DataFrame, dst: String,
                            nBuckets: Int = 64): Unit = {
    // lens feeds _totals and _dl and keeps EMPTY docs: scan-time
    // bm25TopK counts every document in n_docs/avgdl, and the index
    // must agree or every idf shifts on a corpus with one blank doc
    // (row-for-row parity is the layout's contract); only the postings
    // themselves drop tokenless docs (they have nothing to post).
    // ONE tokenize pass feeds every length-derived artifact (totals +
    // the _dl sidecar): at 100 TB the corpus tokenize IS the dominant
    // cost of an index build, and this used to run three times (r13
    // profile: the postings pass is inherent, the other two are not).
    // The lens frame is 2 longs/doc — checkpointing it is free next to
    // one saved corpus scan.
    val d = Par.widen(docs)
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("l"))
      .select(col("doc_id"), size(col("l")).cast("long").as("dl"), col("l"))
      .filter(size(col("l")) > 0)
    // The lens and posting frames are PINNED and every artifact below
    // derives from a pin — the store write, the _df sidecar and the
    // _docbuckets reverse map all see identical immutable rows (the
    // same self-consistency the previous read-back-the-written-store
    // scheme bought, without its cost: the read-back scanned the full
    // store TWICE more). The two pins are the build's two corpus
    // tokenize passes — checkpointed CONCURRENTLY so their scans
    // overlap (r14 profile: the sequential build spent ~60% of its
    // wall on serialized small jobs).
    var lens: DataFrame = null
    var postings: DataFrame = null
    Par.inParallel(
      () => lens = Par.widen(docs)
        .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("dl"))
        .localCheckpoint(),
      () => postings = d
        .select(col("doc_id"), col("dl"), explode(col("l")).as("term"))
        .groupBy(col("doc_id"), col("dl"), col("term"))
        .agg(count(lit(1)).as("tf"))
        .withColumn("bucket", termBucketCol(col("term"), nBuckets))
        .localCheckpoint())
    val s = docs.sparkSession
    import s.implicits._
    // the six layout artifacts all derive from the two pins above —
    // mutually independent writes, issued concurrently (Par.inParallel
    // contract): the store itself, the per-term df and the two per-doc
    // DELETE-path sidecars (document lengths — ALL docs, the totals
    // convention — and each doc's distinct posting buckets, the reverse
    // map that lets a purge find its touched dirs without scanning the
    // store), plus the 1-row totals/meta frames
    Par.inParallel(
      () => Layout.write(postings, dst, SaveMode.Overwrite, Seq("bucket"), Seq("term", "doc_id")),
      // df per term, bucketed the same way — the probe reads ≤ |query|
      // rows from the query's buckets
      () => Layout.write(postings.groupBy(col("term"), col("bucket")).agg(count(lit(1)).as("df")),
        dst + "_df", SaveMode.Overwrite, Seq("bucket"), Seq("term")),
      () => lens.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("n_total"))
        .coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(dst + "_totals"),
      () => Seq(nBuckets).toDF("n_buckets").coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(dst + "_meta"),
      () => Layout.write(lens
          .withColumn("dbucket", docBucket(col("doc_id"), nBuckets)),
        dst + "_dl", SaveMode.Overwrite, Seq("dbucket"), Nil),
      () => Layout.write(postings.select(col("doc_id"), col("bucket")).distinct()
          .withColumn("dbucket", docBucket(col("doc_id"), nBuckets)),
        dst + "_docbuckets", SaveMode.Overwrite, Seq("dbucket"), Nil))
  }

  /** BM25 top-k against a [[writePostingsBucketed]] layout: reads ONLY
    * the query terms' partition dirs (literal bucket set → static
    * partition pruning) and, inside them, only the row groups whose
    * term range overlaps the query (pushed `term IN` filter over the
    * sorted files). Identical results to [[bm25TopK]] on the same
    * corpus — RetrievalSpec asserts row-for-row equality. */
  def bucketedBm25TopK(s: SparkSession, dst: String, query: Seq[String],
                       k: Int = 20): DataFrame = {
    require(query.nonEmpty, "empty query")
    val (tf, dfreq, totals) = probedPostings(s, dst, query)
    scoreTopK(tf, dfreq, totals, k)
  }

  /** The pruned frames behind [[bucketedBm25TopK]], exposed so PlanSpec
    * can assert pruning on exactly what the query consumes.
    *
    * The df and totals sidecars are APPEND-ONLY SEGMENT stores: the
    * probe sums the segments it reads (≤ |query| × segments rows for
    * df, segments rows for totals), so [[appendToPostings]] never has
    * to rewrite a corpus-global aggregate — on a freshly-written layout
    * there is one segment and the sums are identities. */
  private[graft] def probedPostings(s: SparkSession, dst: String,
                                    query0: Seq[String]): (DataFrame, DataFrame, DataFrame) = {
    val query = query0.map(_.toLowerCase) // the bm25TopK normalization rule
    val nBuckets = BucketStore.nBuckets(s, dst)
    val buckets = query.map(termBucket(_, nBuckets)).distinct
    val tf0 = s.read.parquet(dst)
      .filter(col("bucket").isin(buckets.map(Int.box): _*))
      .filter(col("term").isin(query: _*))
      .select(col("doc_id"), col("dl"), col("term"), col("tf"))
    val dfreq0 = s.read.parquet(dst + "_df")
      .filter(col("bucket").isin(buckets.map(Int.box): _*))
      .filter(col("term").isin(query: _*))
      .groupBy(col("term")).agg(sum(col("df")).as("df"))
    val totals0 = s.read.parquet(dst + "_totals")
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("n_total")).as("n_total"))
    maskedProbeFrames(s, dst, tf0, dfreq0, totals0)
  }

  /** Tombstone masking shared by every probe flavor: dead docs vanish
    * from the ranking AND from every statistic (df, n_docs, avgdl) — a
    * masked index must score exactly like one freshly built from the
    * surviving corpus (RetrievalSpec asserts that equality).
    * Corrections cost: the df fix reuses the rows the probe already
    * read; the totals fix reads the dead doc-length rows pruned to the
    * tombstones' dbuckets (O(deleted) until the purge collapses it to
    * zero). No-op (the frames pass through) when no sidecar exists. */
  private def maskedProbeFrames(s: SparkSession, dst: String,
                                tf0: DataFrame, dfreq0: DataFrame,
                                totals0: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    BucketStore.tombstoneRows(s, dst) match {
      case None => (tf0, dfreq0, totals0)
      case Some(tombRaw) =>
        val tomb = tombRaw.select(col("doc_id")).distinct()
        val dBuckets = tombRaw.select(col("dbucket")).distinct()
          .collect().map(_.getInt(0))
        val tf = tf0.join(tomb, Seq("doc_id"), "left_anti")
        val deadDf = tf0.join(tomb, Seq("doc_id"), "left_semi")
          .groupBy(col("term")).agg(count(lit(1)).as("ddf"))
        val dfreq = dfreq0.join(deadDf, Seq("term"), "left")
          .select(col("term"),
            (col("df") - coalesce(col("ddf"), lit(0L))).as("df"))
        val deadTotals = s.read.parquet(dst + "_dl")
          .filter(col("dbucket").isin(dBuckets.map(Int.box): _*))
          .join(tomb, Seq("doc_id"), "left_semi")
          .agg(count(lit(1)).as("dn"), coalesce(sum(col("dl")), lit(0L)).as("ddl"))
        val totals = totals0.crossJoin(deadTotals)
          .select((col("n_docs") - col("dn")).as("n_docs"),
            (col("n_total") - col("ddl")).as("n_total"))
        (tf, dfreq, totals)
    }
  }

  /** q96: the postings DELETE path as a DECLARED query — the
    * write→tombstone→masked-probe chain hash-proven in the driver gate
    * (the q89 rule: the layout rebuilds from scratch each run so the
    * gate can never read an index stale against regenerated testdata):
    * index ALL documents, tombstone the %5=0 slice, rank the q58 query
    * against the masked index. The oracle is q58's own SQL restricted
    * to the surviving documents — totals, df and rankings must all
    * behave as if the dead docs never existed.
    *
    * Cost note: like q89, the declared query pays the full index write
    * every run; a standing deployment pays it once and each probe is
    * the ~2 s masked read (the wave-5 soak's split). */
  def q96IndexDeleteProbe(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val root = new org.apache.hadoop.fs.Path(graft.Sidecars.path("graft_postings_delete"))
    root.getFileSystem(s.sparkContext.hadoopConfiguration).delete(root, true)
    val dst = graft.Sidecars.path("graft_postings_delete/idx")
    // 16 buckets at fixture scale: bucket count is a LAYOUT knob stored
    // in _meta (probe pruning and ranking are bucket-count-invariant —
    // the oracle proves the ranking, the soak's 64-bucket run proves
    // the pruning); 64 dirs of KB files paid pure task/commit overhead
    writePostingsBucketed(docs, dst, nBuckets = 16)
    BucketStore.tombstone(docs.filter(col("doc_id") % 5 === 0).select(col("doc_id")), dst)
    bucketedBm25TopK(s, dst, Seq("spark", "vector", "merge", "window"), 20)
  }

  /** q100: the one-call INDEX SYNC as a DECLARED query — the full
    * maintenance surface (removed → mask, changed → purge+re-append,
    * added → append) hash-proven in the driver gate. Corpus v2 derives
    * deterministically from the data (the q63 rule — never constants):
    * %7=0 docs removed, %7=1 docs changed (query terms appended, so
    * rankings must move), %7=2 docs re-added as fresh ids shifted by
    * max(doc_id)+1 (mutated likewise). The oracle replays the v2
    * derivation in SQL and runs q58's chain over it — the synced index
    * must answer exactly like a fresh build of the new corpus. */
  def q100IndexSyncProbe(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val root = new org.apache.hadoop.fs.Path(graft.Sidecars.path("graft_postings_sync_gate"))
    root.getFileSystem(s.sparkContext.hadoopConfiguration).delete(root, true)
    val dst = graft.Sidecars.path("graft_postings_sync_gate/idx")
    writePostingsBucketed(docs, dst, nBuckets = 16) // the q96 sizing note
    val shift = docs.agg(max(col("doc_id"))).head().getLong(0) + 1L
    val v2 = docs.filter(col("doc_id") % 7 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 7 === 1,
          concat(col("text"), lit(" spark spark window"))).otherwise(col("text")))
      .unionByName(docs.filter(col("doc_id") % 7 === 2)
        .select((col("doc_id") + shift).as("doc_id"),
          concat(col("text"), lit(" merge vector")).as("text")))
    syncPostings(docs, v2, dst)
    bucketedBm25TopK(s, dst, Seq("spark", "vector", "merge", "window"), 20)
  }

  /** [[BucketStore.sync]] over this index: purge is
    * [[purgePostingTombstones]], append is [[appendToPostings]].
    * Returns (docs purged, removals masked, docs appended). */
  def syncPostings(oldDocs: DataFrame, newDocs: DataFrame,
                   dst: String): (Long, Long, Long) =
    BucketStore.sync(oldDocs, newDocs, dst)(
      purgePostingTombstones(newDocs.sparkSession, dst)._1)(appendToPostings(_, dst)._1)

  /** Recover the stores a bucket swap rewrites. */
  private[graft] def recoverSwaps(s: SparkSession, dst: String): Unit =
    BucketStore.recover(s, Seq(dst, dst + "_docbuckets", dst + "_dl"))

  /** Physically drop tombstoned docs from the posting layout. Touched
    * posting buckets come from the `_docbuckets` reverse map (pruned to
    * the dead ids' dbuckets — never a store scan); each touched dir is
    * swap-rewritten by [[BucketStore.rewriteBuckets]], then negative
    * df/totals segments (computed from the dead rows PINNED before the
    * rewrite) keep the probe-time sums equal to a fresh rebuild. The
    * sidecar is cleared LAST, under [[BucketStore]]'s crash contract;
    * a re-run re-reads stores that hold no dead rows, so corrections
    * can never apply twice (the one crash window,
    * rewrites-done-segments-unwritten, leaves df/totals conservatively
    * HIGH — idf shades down, rankings never include a deleted doc; the
    * near-dup purge's same trade).
    * Returns (docs purged, posting buckets rewritten). */
  def purgePostingTombstones(s: SparkSession, dst: String): (Long, Array[Int]) = {
    recoverSwaps(s, dst)
    if (!BucketStore.hasTombstones(s, dst)) return (0L, Array.empty)
    val dead = BucketStore.tombstones(s, dst)
      .localCheckpoint(false) // lazy: the count below materializes it
    val nDead = dead.count()
    if (nDead == 0) return (0L, Array.empty)
    val nBuckets = BucketStore.nBuckets(s, dst)
    val dBuckets = dead.select(docBucket(col("doc_id"), nBuckets).as("db"))
      .distinct().collect().map(_.getInt(0)).sorted
    val touched = s.read.parquet(dst + "_docbuckets")
      .filter(col("dbucket").isin(dBuckets.map(Int.box): _*))
      .join(dead, Seq("doc_id"), "left_semi")
      .select(col("bucket")).distinct().collect().map(_.getInt(0)).sorted
    // pin the dead rows BEFORE the rewrites drop them — they become the
    // correction segments below
    var deadPost: DataFrame = null
    var deadDl: DataFrame = null
    Par.inParallel(
      () => deadPost = s.read.parquet(dst)
        .filter(col("bucket").isin(touched.map(Int.box): _*))
        .join(dead, Seq("doc_id"), "left_semi")
        .select(col("term")).localCheckpoint(),
      () => deadDl = s.read.parquet(dst + "_dl")
        .filter(col("dbucket").isin(dBuckets.map(Int.box): _*))
        .join(dead, Seq("doc_id"), "left_semi")
        .select(col("dl")).localCheckpoint())
    // the three store rewrites are independent (different stores, all
    // anti-joining the pinned dead set) — concurrent; the correction
    // segments stay strictly AFTER them, preserving the crash window's
    // direction (rewrites-done-segments-unwritten leaves df/totals
    // conservatively HIGH; the reverse order could double-subtract a
    // dead doc that is both mask-corrected and segment-corrected)
    Par.inParallel(
      () => BucketStore.rewriteBuckets(s, dst, "bucket", touched,
        _.join(dead, Seq("doc_id"), "left_anti"), Seq("term", "doc_id")),
      () => BucketStore.rewriteBuckets(s, dst + "_docbuckets", "dbucket", dBuckets,
        _.join(dead, Seq("doc_id"), "left_anti"), Nil),
      () => BucketStore.rewriteBuckets(s, dst + "_dl", "dbucket", dBuckets,
        _.join(dead, Seq("doc_id"), "left_anti"), Nil))
    Par.inParallel(
      () => Layout.write(deadPost.groupBy(col("term")).agg((-count(lit(1))).as("df"))
          .withColumn("bucket", termBucketCol(col("term"), nBuckets)),
        dst + "_df", SaveMode.Append, Seq("bucket"), Seq("term")),
      () => deadDl.agg((-count(lit(1))).as("n_docs"),
          (-coalesce(sum(col("dl")), lit(0L))).as("n_total"))
        .coalesce(1)
        .write.mode(SaveMode.Append).parquet(dst + "_totals"))
    // clear the sidecar LAST — any crash above leaves tombstones standing
    BucketStore.clearTombstones(s, dst)
    (nDead, touched)
  }

  /** Incremental append to a [[writePostingsBucketed]] layout — the
    * daily-ingest path for a standing index: the NEW documents'
    * postings are tokenized, bucketed and appended as extra part files
    * under their buckets' dirs (untouched buckets keep their exact file
    * sets), and the df/totals deltas land as NEW SEGMENTS that probes
    * sum at read time — nothing corpus-global is ever rewritten, so
    * append cost is O(new documents) and concurrent probes never see a
    * half-rewritten sidecar. `newDocs` must be NEW doc_ids (the index
    * stores one posting row per (doc, term); re-appending an existing
    * document would double-count it, same as any append-only store).
    * Recovers the store's bucket swaps first ([[BucketStore]]'s crash
    * contract).
    * Returns (appended posting rows, touched buckets). */
  def appendToPostings(newDocs: DataFrame, dst: String): (Long, Array[Int]) = {
    val s = newDocs.sparkSession
    import s.implicits._
    recoverSwaps(s, dst)
    val nBuckets = BucketStore.nBuckets(s, dst)
    // ALL new docs (empty ones included — the write-time totals
    // convention): feeds the totals delta and the _dl sidecar
    val dAll = Par.widen(newDocs)
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("l"))
      .select(col("doc_id"), size(col("l")).cast("long").as("dl"), col("l"))
      .localCheckpoint()
    val d = dAll.filter(size(col("l")) > 0)
    val postings = d
      .select(col("doc_id"), col("dl"), explode(col("l")).as("term"))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("bucket", termBucketCol(col("term"), nBuckets))
      .localCheckpoint() // consumed by the write, the df delta, the report
    // the five append artifacts all derive from the two pins — issued
    // concurrently (Par.inParallel contract; the same serialized-small-
    // jobs cut as the build path)
    Par.inParallel(
      () => Layout.write(postings, dst, SaveMode.Append, Seq("bucket"), Seq("term", "doc_id")),
      () => Layout.write(postings.groupBy(col("term"), col("bucket")).agg(count(lit(1)).as("df")),
        dst + "_df", SaveMode.Append, Seq("bucket"), Seq("term")),
      () => dAll.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("n_total"))
        .coalesce(1)
        .write.mode(SaveMode.Append).parquet(dst + "_totals"),
      // delete-path sidecars ride the append too
      () => Layout.write(dAll.select(col("doc_id"), col("dl"))
          .withColumn("dbucket", docBucket(col("doc_id"), nBuckets)),
        dst + "_dl", SaveMode.Append, Seq("dbucket"), Nil),
      () => Layout.write(postings.select(col("doc_id"), col("bucket")).distinct()
          .withColumn("dbucket", docBucket(col("doc_id"), nBuckets)),
        dst + "_docbuckets", SaveMode.Append, Seq("dbucket"), Nil))
    val touched = postings.select(col("bucket")).distinct()
      .as[Int].collect().sorted
    (postings.count(), touched)
  }

  /** Collapse the df and totals sidecars' append segments back to one
    * row per key (sum-preserving, crash-safe via `Compaction.recover`)
    * — run when segment count grows; probes sum segments either way,
    * this restores the fresh-write read amplification and term-sorted
    * row-group skipping. The posting store itself needs no row-level
    * compaction (one row per (doc, term) fact); small-file hygiene for
    * it is `etl.Compaction`. */
  def compactIndex(s: SparkSession, dst: String): (Long, Long) = {
    val dfStats = SegmentCompaction.compactSegments(s, dst + "_df",
      keys = Seq("term"), sums = Seq("df"), clusterCols = Seq("term"))
    SegmentCompaction.compactSegments(s, dst + "_totals",
      keys = Nil, sums = Seq("n_docs", "n_total"), bucketCol = None)
    dfStats
  }
}
