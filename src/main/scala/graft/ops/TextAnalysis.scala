package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Text-analysis operators for a training-data pipeline: token counting,
  * quality scoring, language ID, document fingerprinting. All pure
  * column expressions (codegen'd, no UDFs) — at 100 TB these run as a
  * single narrow map stage over the corpus, no shuffle.
  */
object TextAnalysis {

  /** Whitespace-run split of the trimmed input, `[]` for blank input —
    * the same token list `regexp_extract_all(x, "\S+")` produces (tokens
    * contain no whitespace, so the runs between separators are
    * identical), but ONE regex pass instead of a full-string rewrite
    * plus a second scan: measured ~6x cheaper cold / ~1.4x warm on the
    * sf0.1 corpus, and this expression sits under every shingle/token
    * operator. The guard matters: `split` on an empty string yields
    * `[""]`, one bogus empty token, where the extract form yields `[]`. */
  /** ASCII whitespace — EXACTLY Java regex `\s` = [ \t\n\x0B\f\r], the
    * class [[splitWs]] splits on and the class the DuckDB oracle's RE2
    * `\S+` complements. The apply-side tokenizer expressions (Bpe,
    * Unigram) split with this instead of `Character.isWhitespace` so a
    * row's subword counts and its `n_ws_tokens` can never disagree on
    * exotic separators (U+001C–001F, U+2028/9, U+3000): all three
    * splitters see the same word boundaries by construction. */
  @inline private[ops] def isAsciiWs(c: Char): Boolean =
    c == ' ' || (c >= '\t' && c <= '\r')

  private def splitWs(x: Column): Column = {
    val t = trim(x)
    when(length(t) > 0, split(t, "\\s+")).otherwise(array().cast("array<string>"))
  }

  /** Canonical token list for hashing/shingling: lowercased, split on
    * whitespace runs — equals `regexp_extract_all(normalize(text), \S+)`. */
  def tokens(text: Column): Column = splitWs(lower(text))

  /** Whitespace-delimited token count (same count as counting `\S+`
    * matches — robust to repeated / leading / trailing whitespace). */
  def tokenCount(text: Column): Column =
    size(splitWs(text)).cast("long")

  /** BPE-ish subword token count: GPT-2-style pretokenizer classes
    * (contraction suffixes, letter runs, digit runs, symbol runs) without
    * the lookahead (RE2, which the oracle uses, has none). Approximates
    * LLM token budgets far better than whitespace counting on
    * code/punctuation-heavy text. */
  val BpePattern = "'(s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+"
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpePattern), lit(0))).cast("long")

  /** Characters excluding whitespace. */
  def charCountNoWs(text: Column): Column =
    length(regexp_replace(text, "\\s", "")).cast("long")

  /** Ratio helpers return double; all derived from exact integer counts so
    * they are engine-deterministic. */
  def punctRatio(text: Column): Column =
    length(regexp_replace(text, "[^.,;:!?'\"]", "")).cast("double") /
      greatest(length(text).cast("double"), lit(1.0))

  /** Per-language stopword hit counts — the n-gram-heuristic language
    * detector: count hits from small high-frequency stopword sets and take
    * the argmax (ties resolved in fixed en>de>es>fr order). */
  val langPatterns: Map[String, String] = Map(
    "en" -> "\\b(the|a|an|of|to|and|in|is|it|for)\\b",
    "de" -> "\\b(der|die|das|und|ist|von|mit|ein|zu)\\b",
    "es" -> "\\b(el|la|los|las|que|y|en|un|una|por)\\b",
    "fr" -> "\\b(le|les|et|un|une|pour|dans|sur|avec)\\b")

  def langHits(text: Column, lang: String): Column =
    size(regexp_extract_all(lower(text), lit(langPatterns(lang)), lit(0))).cast("long")

  /** q21: per-document stats + a deterministic quality score in [0,1]:
    * rewards 20-200 tokens, mean token length 3-10, low punctuation. */
  def q21TextStats(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val nTok = tokenCount(col("text"))
    val nChr = charCountNoWs(col("text"))
    val avgTokLen = nChr.cast("double") / greatest(nTok.cast("double"), lit(1.0))
    val stopHits = langHits(col("text"), "en")
    d.select(
        col("doc_id"), col("lang"),
        nTok.as("n_tokens"),
        bpeTokenCount(col("text")).as("n_bpe_tokens"),
        length(col("text")).cast("long").as("n_chars_raw"),
        nChr.as("n_chars"),
        avgTokLen.as("avg_token_len"),
        punctRatio(col("text")).as("punct_ratio"),
        (stopHits.cast("double") / greatest(nTok.cast("double"), lit(1.0))).as("stopword_ratio"))
      .withColumn("quality_score",
        (when(col("n_tokens").between(20, 200), lit(0.4)).otherwise(lit(0.0)) +
         when(col("avg_token_len").between(3.0, 10.0), lit(0.3)).otherwise(lit(0.0)) +
         when(col("punct_ratio") <= 0.1, lit(0.3)).otherwise(lit(0.0))))
      .orderBy(col("doc_id"))
  }

  /** q22: language ID via stopword-set scoring (argmax, fixed tie order). */
  def q22LangId(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val scored = d.select(
      col("doc_id"), col("lang").as("lang_label"),
      langHits(col("text"), "en").as("n_en"),
      langHits(col("text"), "de").as("n_de"),
      langHits(col("text"), "es").as("n_es"),
      langHits(col("text"), "fr").as("n_fr"))
    scored.withColumn("lang_pred",
        when(col("n_en") >= greatest(col("n_de"), col("n_es"), col("n_fr")), "en")
          .when(col("n_de") >= greatest(col("n_es"), col("n_fr")), "de")
          .when(col("n_es") >= col("n_fr"), "es")
          .otherwise("fr"))
      .orderBy(col("doc_id"))
  }

  /** q23: document fingerprints — full-content hash (md5) and a prefix
    * fingerprint over the first 8 tokens (boilerplate/near-head dedup key).
    * A rolling-hash variant lives in Dedup.simhash16 for similarity use. */
  def q23Fingerprint(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val norm = normalize(col("text"))
    // winnowing-style fingerprint: minimum window hash over all 8-token
    // windows — robust to local edits (an edit disturbs only the windows
    // it touches; the global min usually survives). The per-character
    // rolling variant is functions.RollingHash64 (spec-tested).
    val toks = tokens(col("text"))
    val windows = transform(
      sequence(lit(1), greatest(size(toks) - 7, lit(1))),
      i => md5(array_join(slice(toks, i, lit(8)), " ")))
    d.select(
        col("doc_id"),
        md5(norm).as("content_md5"),
        substring(md5(norm), 1, 16).as("fp64_hex"),
        md5(prefixTokens(col("text"), 8)).as("prefix8_md5"),
        array_min(windows).as("winnow8_min"))
      .orderBy(col("doc_id"))
  }

  /** q37: repetition scoring — the Gopher-style duplicate-n-gram quality
    * rule (Rae et al. 2021 §A1.1): the fraction of a document's word
    * 3-grams that are repeats (1 − distinct/total). Boilerplate, spam
    * and templated pages score high; `flagged` applies the common 0.2
    * cut. Fully IN-ROW — token list, gram construction, distinct count
    * all via array HOFs on one projection: no explode, no shuffle; at
    * 100 TB this is a pure narrow map over the corpus, like every other
    * TextAnalysis operator.
    *
    * Determinism note: dup_frac is one int→double cast per side of a
    * single IEEE division and subtraction — identical expression trees
    * on Spark and DuckDB produce identical bits, so the oracle
    * hash-matches without rounding. */
  def q37Repetition(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .withColumn("l", tokens(col("text")))
      .withColumn("g", graft.functions.exprs.word_ngrams(col("l"), 3))
      .select(
        col("doc_id"),
        size(col("g")).cast("long").as("n_trigrams"),
        size(array_distinct(col("g"))).cast("long").as("n_distinct"),
        when(size(col("g")) > 0,
          lit(1.0) - size(array_distinct(col("g"))).cast("double") /
            size(col("g")).cast("double"))
          .otherwise(lit(0.0)).as("dup_frac"))
      .withColumn("flagged", col("dup_frac") > 0.2)
      .orderBy(col("doc_id"))
  }

  /** q39: the composed keep/drop decision a training-data pipeline
    * actually runs (C4/Gopher-style): length window, token-shape window,
    * punctuation cap, repetition cap — evaluated in ONE narrow
    * projection (no join between the signal operators: every signal is
    * an in-row expression over the same scan), with the FIRST failing
    * rule as the machine-readable reject reason. At 100 TB this is one
    * map over the corpus producing the filter verdict column the
    * downstream sampler partitions on. */
  def q39FilterPipeline(s: SparkSession, dir: String): DataFrame =
    filterVerdicts(Tables.documents(s, dir)).orderBy(col("doc_id"))

  /** The verdict projection alone (no sort): stateless narrow
    * expressions, so the SAME operator runs over a document STREAM —
    * parity spec-checked.
    * `passThrough` carries extra input columns (e.g. source/lang) into
    * the output so consumers like q67's data card never re-join the
    * corpus just to recover attributes the scan already had. */
  def filterVerdicts(docs: DataFrame, passThrough: Seq[String] = Nil): DataFrame = {
    val nTok = tokenCount(col("text"))
    val nChr = charCountNoWs(col("text"))
    docs
      .withColumn("l", tokens(col("text")))
      .withColumn("g", graft.functions.exprs.word_ngrams(col("l"), 3))
      .select((col("doc_id") +: passThrough.map(col)) ++ Seq(
        nTok.as("n_tokens"),
        (nChr.cast("double") / greatest(nTok.cast("double"), lit(1.0))).as("avg_token_len"),
        punctRatio(col("text")).as("punct_ratio"),
        when(size(col("g")) > 0,
          lit(1.0) - size(array_distinct(col("g"))).cast("double") /
            size(col("g")).cast("double"))
          .otherwise(lit(0.0)).as("dup_frac")): _*)
      .withColumn("reason",
        when(col("n_tokens") < 20, "too_short")
          .when(col("n_tokens") > 100000, "too_long")
          .when(col("avg_token_len") < 3.0 || col("avg_token_len") > 10.0, "token_shape")
          .when(col("punct_ratio") > 0.1, "punct")
          .when(col("dup_frac") > 0.2, "repetitive")
          .otherwise(lit("keep")))
      .withColumn("keep", col("reason") === "keep")
  }

  /** q41: top-5 TF-IDF terms per document — the classic corpus-statistic
    * scorer (distinctive-term extraction, keyword-based quality/topic
    * signals). tfidf = tf · ln(N/df), rounded to 12 digits before
    * ranking (ln differs by ulps across engines' libm; ties broken by
    * term, so rank is engine-stable — q34/q36 precedent).
    *
    * Scale shape: one shuffle to (doc, term) counts with map-side
    * partials; document frequency via `SkewJoin.withKeyTotal` — a
    * map-side-combined aggregate joined back with the heavy/light
    * split, because a count window over the term partition funnels a
    * hot term's every row through ONE task's window buffer (the
    * stopword cliff at 100 TB; AQE cannot split a window partition). N
    * arrives as a broadcast 1-row cross join, in-plan. The rank window
    * runs over the (doc-keyed, bounded) aggregated frame, never raw
    * tokens. */
  def q41Tfidf(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
    val terms = graft.ops.Par.widen(docs).select(col("doc_id"),
        explode(tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    SkewJoin.withKeyTotal(terms, "term", "df")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf", round(
        col("tf").cast("double") *
          log(col("n_docs").cast("double") / col("df").cast("double")), 12))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("tfidf").desc, col("term"))).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"), col("tfidf"))
      .orderBy(col("doc_id"), col("rank"))
  }

  /** q48: unigram language-model scoring — the perplexity-proxy quality
    * filter (the CCNet/Gopher recipe uses a KenLM n-gram model; the
    * unigram LM is its self-contained in-engine stand-in): per document,
    * the mean token log-probability under the corpus's own unigram
    * distribution, and bits-per-token. Gibberish and rare-token salad
    * score low; documents made of common tokens score high — the
    * standard "does this look like the corpus" signal.
    *
    * Dataflow: one tokenize into (doc, token, k) partials, corpus term
    * frequencies via `SkewJoin.withKeyTotal` (weighted by k — q41's
    * hot-key-safe shape; a count window over the token partition would
    * single-task the stopword at scale), total-token count as a
    * broadcast one-row aggregate.
    *
    * Determinism: `ln` is libm, so each per-token logprob is rounded to
    * 12 digits and summed as DECIMAL(28,12) — exact and order-free —
    * then the per-doc mean is one division of bit-identical doubles
    * (the float-sum rule from q01/q34). bits_per_token divides by a
    * LITERAL ln(2): computing ln(2) at runtime could differ by an ulp
    * between engines' libm. */
  def q48UnigramLogprob(s: SparkSession, dir: String): DataFrame = {
    val ln2 = 0.6931471805599453
    val docs = graft.ops.Par.widen(Tables.documents(s, dir))
    // (doc, token, k) partials: one tokenize+explode, one keyed shuffle;
    // k collapses a doc's repeats so the per-row work downstream is per
    // DISTINCT doc-token pair
    val toks = docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("k"))
    // total tokens WITHOUT a second tokenize+explode pass: a narrow
    // sum-of-sizes over the raw docs
    val total = docs.agg(sum(size(tokens(col("text")))).as("n_total"))
    SkewJoin.withKeyTotal(toks, "tok", "cnt", weight = Some("k"))
      .crossJoin(broadcast(total))
      .withColumn("lp",
        round(log(col("cnt").cast("double") / col("n_total").cast("double")), 12)
          .cast("decimal(28,12)"))
      .groupBy(col("doc_id"))
      // sum(k·lp) ≡ the per-occurrence decimal sum, so the oracle's
      // per-token formulation hash-matches. k is cast to DECIMAL(9,0):
      // decimal(28,12) × long would need precision 49, and Spark's
      // precision-loss rule would silently shrink the scale to 6 —
      // (28,12)×(9,0) fits 38 exactly, no loss (k ≤ 1e9 tokens/doc)
      .agg(sum(col("k")).as("n_tokens"),
        sum(col("lp") * col("k").cast("decimal(9,0)")).as("slp"))
      .withColumn("avg_logprob",
        round(col("slp").cast("double") / col("n_tokens").cast("double"), 12))
      .withColumn("bits_per_token",
        round(-col("avg_logprob") / lit(ln2), 12))
      .select(col("doc_id"), col("n_tokens"), col("avg_logprob"),
        col("bits_per_token"))
      // every document appears (the q51 lesson, q66's convention):
      // tokenless docs carry zeros via LEFT JOIN + COALESCE
      .join(docs.select(col("doc_id")), Seq("doc_id"), "right")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("avg_logprob"), lit(0.0)).as("avg_logprob"),
        coalesce(col("bits_per_token"), lit(0.0)).as("bits_per_token"))
      .orderBy(col("doc_id"))
  }

  /** q66: bigram language-model scoring — q48's unigram perplexity
    * proxy upgraded one order: per document, the mean conditional
    * log-probability ln(c(w1,w2)/c1(w1)) of its bigrams under the
    * corpus's own bigram distribution, where c1(w1) counts bigram
    * STARTS (so the conditional sums to 1 over w2 and no smoothing is
    * needed when scoring the training corpus itself). Word salad with
    * plausible unigrams but improbable transitions — the case q48
    * cannot see — scores low here.
    *
    * Dataflow: bigrams are built IN-ROW (one sliding transform over the
    * token array, no positional self-join), collapsed to (doc, w1, w2,
    * k) partials, then TWO chained `SkewJoin.withKeyTotal` passes
    * attach the pair total (keyed "w1 w2") and the start total (keyed
    * w1) — both hot-key-safe: "of the" is a corpus-scale key and must
    * never funnel through one window task. Determinism follows q48's
    * rules exactly (per-pair ln rounded to 12 digits, DECIMAL(28,12)
    * occurrence sums via k-weighting, literal ln(2)). */
  def q66BigramLogprob(s: SparkSession, dir: String): DataFrame =
    bigramLogprob(Tables.documents(s, dir))

  /** The reusable core over any (doc_id, text) frame. */
  def bigramLogprob(docs: DataFrame): DataFrame = {
    val ln2 = 0.6931471805599453
    val d = graft.ops.Par.widen(docs)
    val bi = d
      .select(col("doc_id"), tokens(col("text")).as("l"))
      .filter(size(col("l")) >= 2)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("l")) - 1),
        i => struct(element_at(col("l"), i).as("w1"),
          element_at(col("l"), i + 1).as("w2")))).as("b"))
      .select(col("doc_id"), col("b.w1"), col("b.w2"))
      .groupBy(col("doc_id"), col("w1"), col("w2")).agg(count(lit(1)).as("k"))
      .withColumn("bkey", concat(col("w1"), lit(" "), col("w2")))
    val scored = SkewJoin.withKeyTotal(
        SkewJoin.withKeyTotal(bi, "bkey", "cb", weight = Some("k")),
        "w1", "c1", weight = Some("k"))
      .withColumn("lp",
        round(log(col("cb").cast("double") / col("c1").cast("double")), 12)
          .cast("decimal(28,12)"))
      .groupBy(col("doc_id"))
      .agg(sum(col("k")).as("n_bigrams"),
        sum(col("lp") * col("k").cast("decimal(9,0)")).as("slp"))
      .withColumn("avg_logprob",
        round(col("slp").cast("double") / col("n_bigrams").cast("double"), 12))
      .withColumn("bits_per_bigram",
        round(-col("avg_logprob") / lit(ln2), 12))
    // every document appears (the q51 lesson): zero-bigram docs carry
    // zeros, mirrored by the oracle's LEFT JOIN + COALESCE
    docs.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("avg_logprob"), lit(0.0)).as("avg_logprob"),
        coalesce(col("bits_per_bigram"), lit(0.0)).as("bits_per_bigram"))
      .orderBy(col("doc_id"))
  }

  /** q42: sequence packing — the training-data step that concatenates
    * documents (in doc_id order) into fixed-capacity token chunks and
    * records where each document lands: chunk id, offset within the
    * chunk, and whether it spans a chunk boundary. Pure integer
    * arithmetic over a GLOBAL prefix sum of token counts.
    *
    * The prefix sum is distributed, not a single-task global window
    * (`Window.orderBy` without partitions funnels the corpus through one
    * task): doc_ids are cut into P ordered buckets by equal-width id
    * ranges (bucket is monotonic in doc_id, so bucket-local order +
    * bucket prefix = global order); each bucket computes its local
    * running sum in parallel, per-bucket totals — P scalars — prefix-scan
    * on the driver and join back as a broadcast. Two shuffles (bucket
    * window + final sort), O(P) driver state. */
  def q42SequencePacking(s: SparkSession, dir: String, capacity: Long = 2048L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = graft.ops.Par.widen(Tables.documents(s, dir)).select(col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_tokens"))
    val Array(minId, maxId) = toks.agg(min(col("doc_id")), max(col("doc_id")))
      .collect()(0).toSeq.map(_.asInstanceOf[Long]).toArray
    val p = s.sparkContext.defaultParallelism.toLong
    val width = math.max(1L, (maxId - minId + p) / p) // ceil(range/P)
    // integer DIV: Column./ is floating-point division
    val bucketed = toks.withColumn("bucket",
      expr(s"(doc_id - $minId) DIV $width"))
    // per-bucket totals: P scalars to the driver, prefix-scanned
    val totals = bucketed.groupBy(col("bucket")).agg(sum(col("n_tokens")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // offset(b) = sum of totals of buckets < b
    val prefix = {
      var acc = 0L
      (0L to (maxId - minId) / width).map { b =>
        val o = (b, acc); acc += totals.getOrElse(b, 0L); o
      }
    }
    import s.implicits._
    val offsetDf = prefix.toDF("bucket_o", "bucket_offset")
    val localWin = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    bucketed
      .withColumn("local_before", coalesce(sum(col("n_tokens")).over(localWin), lit(0L)))
      .join(broadcast(offsetDf), col("bucket") === col("bucket_o"))
      .withColumn("tokens_before", col("local_before") + col("bucket_offset"))
      .select(col("doc_id"), col("n_tokens"),
        expr(s"tokens_before DIV $capacity").as("chunk_id"),
        pmod(col("tokens_before"), lit(capacity)).as("chunk_offset"),
        (pmod(col("tokens_before"), lit(capacity)) + col("n_tokens") > capacity)
          .as("spans_chunk"))
      .orderBy(col("doc_id"))
  }

  /** q79: padding efficiency under length-bucketed batching — the
    * planning statistic behind dynamic batching: group documents into
    * fixed-width token-length buckets (width 64), pad every sequence in
    * a bucket to the bucket cap, batch B=8 sequences (ragged last batch
    * padded to a full one, the accelerator-shape convention), and report
    * how many padded tokens each bucket spends per real token. The
    * complement of q42: packing eliminates padding by splitting
    * documents; bucketed batching keeps documents intact and pays
    * padding — this query prices that trade per bucket.
    *
    * Shape at 100 TB: one map-side-combined groupBy onto bucket ids
    * (≤ max_len/64 distinct keys regardless of corpus size); every
    * derived column is integer arithmetic on the aggregated rows. The
    * single float op is one IEEE division of bit-identical integers, so
    * no rounding is needed for the oracle hash (q37's rule).
    * `greatest(n−1, 0)` keeps the empty-doc bucket non-negative —
    * Spark's `DIV` truncates toward zero while DuckDB's `//` floors, so
    * a negative dividend would diverge between engines. */
  def q79LengthBuckets(s: SparkSession, dir: String): DataFrame =
    lengthBuckets(Tables.documents(s, dir))

  /** The reusable core over any (doc_id, text) frame. */
  def lengthBuckets(docs: DataFrame, width: Long = 64L,
                    batch: Long = 8L): DataFrame = {
    Par.widen(docs)
      .select(tokenCount(col("text")).as("n"))
      .select(expr(s"greatest(n - 1, 0) DIV $width").as("bucket"), col("n"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_tokens"))
      .withColumn("bucket_cap", (col("bucket") + 1) * width)
      .withColumn("padded_tokens",
        expr(s"((n_docs + ${batch - 1}) DIV $batch) * $batch") * col("bucket_cap"))
      .withColumn("efficiency",
        col("n_tokens").cast("double") / col("padded_tokens").cast("double"))
      .select(col("bucket"), col("bucket_cap"), col("n_docs"),
        col("n_tokens"), col("padded_tokens"), col("efficiency"))
      .orderBy(col("bucket"))
  }

  /** q88: per-source length quantile bands — exact p50/p90/p99 token
    * counts per source, the distribution summary a curation dashboard
    * shows next to the q67 data card's single median. Exactness without
    * a per-row sort: token counts live on a SMALL integer domain, so
    * ONE map-side-combined histogram to (source, count) rows suffices;
    * the cumulative window runs over those aggregated rows (the q67
    * median shape), and each quantile is `min(v WHERE cum ≥ k)` with
    * k = ceil(q·n) computed in exact integer arithmetic
    * ((q·n + d − 1) DIV d) — one aggregate, no per-quantile re-scan,
    * nothing floats until nothing is left to decide. */
  def q88LengthQuantiles(s: SparkSession, dir: String): DataFrame =
    lengthQuantiles(Tables.documents(s, dir))

  /** The reusable core over any (source, text) frame. */
  def lengthQuantiles(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = Par.widen(docs)
      .select(col("source"), tokenCount(col("text")).as("v"))
      .groupBy(col("source"), col("v"))
      .agg(count(lit(1)).as("c"))
    val totals = hist.groupBy(col("source").as("ts")).agg(sum(col("c")).as("n"))
    val w = Window.partitionBy(col("source")).orderBy(col("v"))
    hist.withColumn("cum", sum(col("c")).over(w))
      .join(broadcast(totals), col("source") === col("ts"))
      .groupBy(col("source"), col("n").as("n_docs"))
      .agg(
        min(when(col("cum") >= expr("(n + 1) DIV 2"), col("v"))).as("p50"),
        min(when(col("cum") >= expr("(9 * n + 9) DIV 10"), col("v"))).as("p90"),
        min(when(col("cum") >= expr("(99 * n + 99) DIV 100"), col("v"))).as("p99"))
      .orderBy(col("source"))
  }

  /** q50: vocabulary coverage — the tokenizer-prep corpus statistic: the
    * top-V tokens by corpus frequency with each prefix's cumulative
    * coverage of all token occurrences ("a 50-token vocabulary covers
    * 83% of the corpus"). The input to every vocab-size decision.
    *
    * Scale shape: ONE shuffle to (token → count) with map-side partials;
    * the top-V cut is a TakeOrdered (per-partition heaps, V rows to the
    * driver stage — never a global sort of the vocabulary); the running
    * sum then windows over exactly V aggregated rows, which is the
    * bounded-output exception where a single-task window is the right
    * plan (V is a constant; the vocabulary itself may be billions of
    * hapax strings, and it stays distributed until the cut). Coverage
    * doubles are single divisions of exact longs — engine-deterministic. */
  def q50VocabCoverage(s: SparkSession, dir: String, vocabSize: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Par.widen(Tables.documents(s, dir))
    val freqs = docs.select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
    val total = docs.agg(sum(size(tokens(col("text")))).as("n_total"))
    val top = freqs
      .orderBy(col("freq").desc, col("token"))
      .limit(vocabSize)
    val cumWin = Window.orderBy(col("freq").desc, col("token"))
      .rowsBetween(Window.unboundedPreceding, 0)
    top
      .withColumn("rank", row_number().over(
        Window.orderBy(col("freq").desc, col("token"))).cast("long"))
      .withColumn("cum_freq", sum(col("freq")).over(cumWin))
      .crossJoin(broadcast(total))
      .select(col("rank"), col("token"), col("freq"), col("cum_freq"),
        (col("cum_freq").cast("double") / col("n_total").cast("double")).as("coverage"))
      .orderBy(col("rank"))
  }

  /** q51: character-level Shannon entropy per document — the classic
    * gibberish/degenerate-text signal (mashed keys and single-char runs
    * score low; natural text sits around 4 bits/char). Fully IN-ROW:
    * char list, distinct chars, per-char counts and the entropy sum are
    * array HOFs over one projection — no explode, no shuffle, a pure
    * narrow map at 100 TB.
    *
    * Determinism: each per-char term rounds the libm log2 product to 12
    * digits and the sum runs over DECIMAL(28,12) — exact and order-free,
    * so Spark's first-occurrence array order and the oracle's group
    * order cannot diverge (the q48 float-sum rule). Chars come from
    * `regexp_extract_all(text, '.')` on BOTH engines ('.' excludes
    * newlines identically in Java regex and RE2; the corpus has none). */
  /** Shannon entropy (bits) of a char-list column — the reusable core of
    * q51 (spec-tested on fixed distributions: 0 bits for a constant
    * string, 1 bit for a two-char coin flip). */
  def entropyBits(cs: Column): Column =
    when(size(cs) > 0,
      aggregate(
        transform(array_distinct(cs), c => {
          val p = size(filter(cs, x => x === c)).cast("double") /
            size(cs).cast("double")
          round(-p * log2(p), 12).cast("decimal(28,12)")
        }),
        lit(0).cast("decimal(28,12)"),
        // decimal + widens precision; fold it back to the
        // accumulator type or aggregate() rejects the lambda
        (acc, x) => (acc + x).cast("decimal(28,12)")).cast("double"))
      .otherwise(lit(0.0))

  def q51CharEntropy(s: SparkSession, dir: String, minBits: Double = 3.5): DataFrame =
    charEntropy(Tables.documents(s, dir), minBits).orderBy(col("doc_id"))

  /** The reusable q51 core over any (doc_id, text) frame. Fully in-row,
    * so EVERY input document emits a row — a zero-extractable-char doc
    * (empty or newline-only text) comes out as (0 chars, 0 bits,
    * flagged), matching the oracle's LEFT JOIN + COALESCE; row
    * conservation on exactly that input is spec-pinned. */
  def charEntropy(docs: DataFrame, minBits: Double = 3.5): DataFrame = {
    val chars = regexp_extract_all(col("text"), lit("."), lit(0))
    docs
      .select(col("doc_id"), chars.as("cs"))
      .select(col("doc_id"),
        size(col("cs")).cast("long").as("n_chars"),
        size(array_distinct(col("cs"))).cast("long").as("n_unique_chars"),
        entropyBits(col("cs")).as("entropy_bits"))
      .withColumn("flagged", col("entropy_bits") < minBits)
  }

  /** q53: cross-document repetition — the complement of q37's
    * within-document metric: the fraction of a document's DISTINCT word
    * 3-grams that appear in at least one OTHER document. High = the
    * document is made of corpus boilerplate (license headers, templated
    * pages); the signal Gopher/C4-style pipelines use to drop
    * boilerplate that per-doc dedup misses.
    *
    * Scale shape: q41's — one shuffle to the distinct (doc, gram) set
    * (built in-row by `shingles`), gram document frequency via
    * `SkewJoin.withKeyTotal` (map-side-combined aggregate + heavy/light
    * join-back; a count window over the gram partition would single-task
    * the boilerplate gram at scale), then a per-doc aggregation. */
  def q53CrossDocRepetition(s: SparkSession, dir: String,
                            flagAt: Double = 0.5): DataFrame =
    crossDocRepetition(Tables.documents(s, dir), flagAt)

  /** The reusable core over any (doc_id, text) frame — also the 100×
    * soak entry point. `heavyAt`/`pin` pass through to
    * [[SkewJoin.withKeyTotal]]: results are invariant to both (routing
    * and materialization knobs only), so view registration passes an
    * explicit cut and `Pin.Off` to stay job-free at construction. */
  def crossDocRepetition(docs: DataFrame, flagAt: Double = 0.5,
                         heavyAt: Long = 0L, pin: Pin = Pin.Checkpoint): DataFrame = {
    val sh = Dedup.shingles(docs, 3)
    SkewJoin.withKeyTotal(sh, "g", "df", heavyAt = heavyAt, pin = pin)
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("shared_frac",
        col("n_shared").cast("double") / col("n_grams").cast("double"))
      .withColumn("flagged", col("shared_frac") >= flagAt)
      .orderBy(col("doc_id"))
  }

  /** Canonical text normalization for hashing: lowercase, collapse
    * whitespace runs, trim. */
  def normalize(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** First n whitespace tokens re-joined with single spaces. */
  def prefixTokens(text: Column, n: Int): Column =
    array_join(slice(tokens(text), 1, n), " ")
}
