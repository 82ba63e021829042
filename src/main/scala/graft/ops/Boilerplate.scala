package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Corpus-frequency boilerplate removal — the RefinedWeb/CCNet-style
  * pass that strips text occurring verbatim across many documents
  * (navigation chrome, license banners, cookie notices) BEFORE
  * training: any word n-gram present in at least `pctDocs`% of all
  * documents is boilerplate, and every token covered by at least one
  * boilerplate gram is cut; the survivors are re-joined in order.
  * Complements q82 (`Dedup.spanRemoved`): q82 cuts spans shared within
  * a NEAR-DUP PAIR, this cuts what the whole CORPUS repeats — the two
  * fire on disjoint evidence (a 2-doc duplicated span never clears a
  * percent-of-corpus bar; a nav bar on every page never needs a
  * near-dup partner).
  *
  * Scale shape (100 TB):
  *  - gram df is one map-side-combinable groupBy over (distinct
  *    per-doc) grams — the same shuffle class as q53's df stage;
  *  - the frequent-gram table is BOUNDED BY CONSTRUCTION, independent
  *    of corpus size: Σ df = n_docs · avg_grams_per_doc and every kept
  *    gram has df ≥ (pctDocs/100) · n_docs, so |frequent| ≤
  *    avg_grams_per_doc · 100 / pctDocs (~10⁴ at 1%) — it broadcasts;
  *  - coverage positions ride a broadcast join + one doc_id-keyed
  *    aggregate of START OFFSETS only (≤ grams-per-doc ints per doc,
  *    never tokens), and the rewrite itself is an in-row higher-order
  *    filter over the doc's own token array — per-doc cost
  *    O(tokens · covered), bounded by document length like q82's fold;
  *  - the only corpus-weight shuffle is the final doc_id hash join of
  *    the token frame against the small offsets table (q82's exact
  *    join shape).
  *
  * The threshold is evaluated as the integer rule `100·df ≥ pctDocs·N`
  * (⇔ df ≥ ceil(pctDocs·N/100)) so engine and oracle agree without a
  * single float in the decision.
  */
object Boilerplate {

  /** q149: 3-gram boilerplate removal at the 1%-of-docs bar. */
  def q149BoilerplateRemoval(s: SparkSession, dir: String): DataFrame =
    removeFrequentGrams(Tables.documents(s, dir), n = 3, pctDocs = 1)

  /** The reusable rewrite over any (doc_id, text) frame: per doc, the
    * token counts before/after cutting tokens covered by any n-gram
    * whose document frequency reaches `pctDocs`% of the corpus, plus
    * the md5 of the cleaned text (kept tokens re-joined with single
    * spaces — the tokenizer's canonical form, like q82 pins bytes). */
  def removeFrequentGrams(docs: DataFrame, n: Int, pctDocs: Int): DataFrame = {
    require(pctDocs >= 1 && pctDocs <= 100, s"pctDocs out of (0,100]: $pctDocs")
    val toks = tokenized(docs)
    // document frequency — per-doc distinct IN-ROW (array_distinct
    // before the explode, the q25 rule), then one combinable count
    val nDocs = toks.agg(count(lit(1)).as("n_docs"))
    val freq = toks
      .select(explode(array_distinct(gramArrCol(col("l"), n))).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") * 100 >= lit(pctDocs.toLong) * col("n_docs"))
      .select(col("g"))
    rewriteWithFrequent(toks, freq, n)
  }

  private def tokenized(docs: DataFrame): DataFrame =
    Par.widen(docs)
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("l"))

  /** The rewrite tail over a tokenized frame and ANY frequent-gram
    * table (from-scratch for q149, served from the standing df store
    * for q158 — byte-identical output is the store's correctness
    * proof). */
  private[ops] def rewriteWithFrequent(toks: DataFrame, freq: DataFrame,
                                       n: Int): DataFrame = {
    require(n >= 2, s"gram order must be >= 2, got $n")
    // grams with their 1-based start offset: the gram ARRAY is generated
    // in-row (Dedup.shingles' pattern) and positions come from
    // posexplode. A struct(i, g) built inside the transform carried the
    // same information in one pass but fell out of codegen — measured
    // 222 s vs 2.9 s for this shape at the 10× soak (recorded dead end)
    val grams = toks
      .select(col("doc_id"), posexplode(gramArrCol(col("l"), n)))
      .select(col("doc_id"), (col("pos") + 1).as("i"), col("col").as("g"))

    // per-doc start offsets of boilerplate grams (ints only, bounded by
    // the doc's own gram count); |freq| is the bounded table — broadcast
    val starts = grams.join(broadcast(freq), "g")
      .groupBy(col("doc_id"))
      .agg(sort_array(array_distinct(collect_list(col("i")))).as("starts"))

    val covered = array_sort(array_distinct(flatten(
      transform(col("starts"), st => sequence(st, st + (n - 1))))))

    toks.join(starts, Seq("doc_id"), "left")
      .withColumn("starts",
        coalesce(col("starts"), array().cast("array<int>")))
      .withColumn("cov", covered)
      // kept = tokens at the uncovered (1-based) positions.
      // array_except(all-positions, cov) is hash-based O(tokens+cov) and
      // keeps the left order; a filter((x, j) -> !array_contains(cov,
      // j+1)) lambda re-scanned cov per token — O(tokens·cov), measured
      // 29 s of the 10× soak on boilerplate-dense replicas (dead end)
      .withColumn("kept",
        transform(
          array_except(
            // guard the empty doc: sequence(1, 0) would count DOWN
            when(size(col("l")) === 0, array().cast("array<int>"))
              .otherwise(sequence(lit(1), size(col("l")))),
            col("cov")),
          p => element_at(col("l"), p)))
      .select(col("doc_id"),
        size(col("l")).cast("long").as("n_tokens"),
        (size(col("l")) - size(col("kept"))).cast("long").as("n_removed"),
        when(size(col("l")) === 0, lit(0.0))
          .otherwise((size(col("l")) - size(col("kept"))).cast("double") /
            size(col("l")).cast("double")).as("removed_frac"),
        md5(array_join(col("kept"), " ")).as("clean_md5"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------- standing store

  /** Where q158 materializes the gram-df store. */
  val GramDfStorePath = graft.Sidecars.path("graft_gramdf_store")

  /** One ingest batch's df partials appended to the store: per-batch
    * distinct-gram document frequencies (`df/`) and the batch doc count
    * (`docs/`) — O(batch) work, append-only, mergeable by SUM (df over
    * disjoint doc sets adds exactly), the q141/q107 partials pattern
    * for the boilerplate bar. df partials are counts: a replayed batch
    * double-counts (checkpoint the stream). */
  def appendGramDf(batch: DataFrame, store: String, n: Int): Unit = {
    val toks = tokenized(batch)
    toks.select(explode(array_distinct(gramArrCol(col("l"), n))).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("df"))
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .option("compression", "snappy").parquet(s"$store/df")
    toks.agg(count(lit(1)).as("n_docs"))
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .option("compression", "snappy").parquet(s"$store/docs")
  }

  /** Serve the frequent-gram table FROM the store: sum the partials,
    * apply the integer bar against the summed doc count. Because df
    * partials over disjoint batches sum exactly, the served set equals
    * a from-scratch scan's — which q158's oracle proves by hash. */
  def frequentFromStore(s: SparkSession, store: String,
                        pctDocs: Int): DataFrame = {
    val nDocs = s.read.parquet(s"$store/docs")
      .agg(sum(col("n_docs")).as("n_docs"))
    s.read.parquet(s"$store/df")
      .groupBy(col("g")).agg(sum(col("df")).as("df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") * 100 >= lit(pctDocs.toLong) * col("n_docs"))
      .select(col("g"))
  }

  /** q158: q149's rewrite served from a STANDING df store built in
    * three doc-sliced appends (every gram's df split across partials,
    * so the serve must merge) — the oracle is q149's from-scratch
    * replay verbatim: hash equality proves store ≡ scan. */
  def q158StoreBoilerplate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val p = new org.apache.hadoop.fs.Path(GramDfStorePath)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    (0 until 3).foreach { i =>
      appendGramDf(docs.filter(pmod(col("doc_id"), lit(3)) === i),
        GramDfStorePath, 3)
    }
    rewriteWithFrequent(tokenized(docs),
      frequentFromStore(s, GramDfStorePath, 1), 3)
  }

  /** Where q159 stages its source files and materializes its store. */
  val StreamedGramDfPath = graft.Sidecars.path("graft_streamed_gramdf")

  /** q159: q158's store built through the STRUCTURED STREAMING
    * maintenance path (`Streaming.appendEachBatch`) — documents staged as
    * three doc-sliced files ingested at one file per trigger, each
    * micro-batch appending its df partials; the serve + rewrite are
    * q158's unchanged, and the oracle stays q149's from-scratch
    * replay: hash equality proves stream maintenance ≡ scan. */
  def q159StreamedBoilerplate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val root = new org.apache.hadoop.fs.Path(StreamedGramDfPath)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(root, true)
    val stream = StreamingGates.stagedFileStream(StreamedGramDfPath,
      (0 until 3).map(i => docs.filter(pmod(col("doc_id"), lit(3)) === i)))
    val store = s"$StreamedGramDfPath/store"
    graft.streaming.Streaming.appendEachBatch(stream)((b, _) =>
      appendGramDf(b, store, 3)).awaitTermination()
    rewriteWithFrequent(tokenized(docs), frequentFromStore(s, store, 1), 3)
  }

  /** Every n-gram of `l` in position order (index i in the result =
    * start offset i+1) — Dedup.shingles' in-row generation without the
    * distinct, so posexplode recovers exact offsets. */
  private[ops] def gramArrCol(l: Column, n: Int): Column =
    // codegen'd kernel (functions.WordNGrams, non-distinct mode emits
    // position order) — replaces the interpreted transform/slice chain
    graft.functions.exprs.word_ngrams(l, n)
}
