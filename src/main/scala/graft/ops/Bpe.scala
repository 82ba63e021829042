package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable

/** Trainer-true subword tokenization: classic byte-pair encoding
  * (Sennrich et al., "Neural Machine Translation of Rare Words with
  * Subword Units", ACL 2016 — the public algorithm every BPE tokenizer
  * descends from). Whitespace tokens approximate LLM token budgets
  * poorly (code and punctuation-heavy text under-counts 2-4×); a BPE
  * vocabulary trained on the corpus counts what a trainer would see.
  *
  * Scale shape:
  *  - TRAINING is bounded: one map-side-combined word-count aggregate
  *    (the q41 df pattern — no hot-key window), a TakeOrdered top-`vocabCap`
  *    cut, then the classic merge loop driver-side over ≤ vocabCap
  *    (word, count) pairs — cost independent of corpus size;
  *  - APPLICATION is one broadcast (the merge list) + a codegen'd
  *    unary expression: per row, lowercase-split words, each word
  *    greedily merged against a rank map with per-partition
  *    memoization (natural-language corpora repeat words constantly —
  *    the memo turns the per-row cost into a hash probe);
  *  - the merge table is PERSISTED (rank, l, r) so budgets are
  *    reproducible and the DuckDB oracle can REPLAY the exact greedy
  *    application (q65's recursive-CTE oracle — merges are data, not
  *    code).
  *
  * Determinism: word counts are exact; the merge pick is max count with
  * ties broken by the lexicographically smallest (l, r); application
  * always merges the lowest-rank applicable pair, left-to-right
  * non-overlapping — the same total order the oracle's
  * `ORDER BY rank LIMIT 1` + left-to-right `replace` walks.
  */
object Bpe {

  /** Where q65 persists its merge table for the oracle replay (a fixed
    * location because the oracle SQL is a static string; each q65 run
    * overwrites it, so query and oracle always see the same rules). */
  val MergesPath = graft.Sidecars.path("graft_bpe_merges.parquet")

  // ---------------------------------------------------------------- train

  /** Train `nMerges` merge rules from the corpus: bounded word-count
    * aggregate, top-`vocabCap` words, driver-side merge loop. */
  def train(docs: DataFrame, nMerges: Int = 200,
            vocabCap: Int = 5000): Array[(String, String)] =
    trainFromCounts(topWordCounts(docs, vocabCap), nMerges)

  /** One-call train: merge rules plus the id table they induce. */
  def trainWithVocab(docs: DataFrame, nMerges: Int = 200,
                     vocabCap: Int = 5000): (Array[(String, String)], Array[String]) = {
    val words = topWordCounts(docs, vocabCap)
    val merges = trainFromCounts(words, nMerges)
    (merges, vocabOf(words, merges))
  }

  /** The bounded training sample: top-`vocabCap` (word, count) pairs —
    * one map-side-combined aggregate + a TakeOrdered cut, cost
    * independent of corpus size past the cap. */
  private[ops] def topWordCounts(docs: DataFrame,
                                 vocabCap: Int): Array[(String, Long)] = {
    val s = docs.sparkSession
    import s.implicits._
    Par.widen(docs)
      .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w"))
      .limit(vocabCap)
      .as[(String, Long)].collect()
  }

  /** The id space: base symbols (every codepoint the training words
    * contain, sorted) get ids 0..B-1, then each merge's product in rank
    * order (first occurrence wins when two merges collide on the same
    * product string — e.g. (a,bc) and (ab,c) both yield "abc"). The
    * table is persisted DATA, so consumers (and the oracle) never
    * re-derive this construction. */
  def vocabOf(wordCounts: Array[(String, Long)],
              merges: Array[(String, String)]): Array[String] = {
    val seen = mutable.LinkedHashSet.empty[String]
    wordCounts.flatMap(wc => codepoints(wc._1)).distinct.sorted.foreach(seen += _)
    merges.foreach { case (l, r) => seen += (l + r) }
    seen.toArray
  }

  /** The classic BPE loop over (word, count) pairs: repeatedly count
    * adjacent symbol pairs (weighted, every adjacent position), merge
    * the most frequent everywhere, record the rule. */
  def trainFromCounts(wordCounts: Array[(String, Long)],
                      nMerges: Int): Array[(String, String)] = {
    var words = wordCounts.map { case (w, c) => (codepoints(w), c) }
    val merges = mutable.ArrayBuffer.empty[(String, String)]
    var done = false
    while (merges.length < nMerges && !done) {
      val counts = mutable.HashMap.empty[(String, String), Long]
      for ((syms, c) <- words; i <- 0 until syms.length - 1)
        counts.updateWith((syms(i), syms(i + 1)))(v => Some(v.getOrElse(0L) + c))
      if (counts.isEmpty) done = true
      else {
        // max count, ties to the lexicographically smallest pair —
        // a total order, so training is reproducible bit-for-bit
        val best = counts.toSeq.minBy { case ((l, r), c) => (-c, l, r) }._1
        merges += best
        words = words.map { case (syms, c) => (mergePair(syms, best), c) }
      }
    }
    merges.toArray
  }

  /** Unicode-codepoint symbols (a surrogate pair is ONE symbol — the
    * oracle's `regexp_extract_all(word, '.')` splits codepoints too). */
  private def codepoints(w: String): Array[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      out += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    out.toArray
  }

  /** One left-to-right non-overlapping merge pass of `p` — the shared
    * application step (training, executor-side counting, and the
    * oracle's string `replace` all walk this exact order: after a
    * merge, scanning continues AFTER the merged symbol). */
  private[ops] def mergePair(syms: Array[String],
                             p: (String, String)): Array[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i < syms.length - 1 && syms(i) == p._1 && syms(i + 1) == p._2) {
        out += p._1 + p._2; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toArray
  }

  // ---------------------------------------------------------------- apply

  /** Executor-side applier: rank map + per-instance memo. Greedy BPE —
    * per word, repeatedly apply the LOWEST-rank applicable merge until
    * none applies; the token count is the surviving symbol count. */
  final class Applier(val merges: Array[(String, String)]) extends Serializable {
    @transient private lazy val rank: java.util.HashMap[String, Int] = {
      val m = new java.util.HashMap[String, Int](merges.length * 2)
      merges.zipWithIndex.foreach { case ((l, r), i) => m.put(l + "\u0000" + r, i) }
      m
    }
    @transient private lazy val memo = new java.util.HashMap[String, Integer]

    def countWord(w: String): Int = {
      val hit = memo.get(w)
      if (hit != null) return hit.intValue
      var syms = codepoints(w)
      var merging = true
      while (merging && syms.length > 1) {
        var bestRank = Int.MaxValue
        var best: (String, String) = null
        var i = 0
        while (i < syms.length - 1) {
          val r = rank.getOrDefault(syms(i) + "\u0000" + syms(i + 1), Int.MaxValue)
          if (r < bestRank) { bestRank = r; best = (syms(i), syms(i + 1)) }
          i += 1
        }
        if (best == null) merging = false
        else syms = mergePair(syms, best)
      }
      if (memo.size > 65536) memo.clear() // bound executor memory
      memo.put(w, syms.length)
      syms.length
    }

    /** Total BPE tokens of a text: lowercase, whitespace-split, sum of
      * per-word counts (the [[TextAnalysis.tokens]] convention). */
    def countText(text: UTF8String): Long = {
      if (text == null) return 0L
      val s = text.toString.toLowerCase(java.util.Locale.ROOT)
      var total = 0L
      var i = 0
      val n = s.length
      while (i < n) {
        while (i < n && TextAnalysis.isAsciiWs(s.charAt(i))) i += 1
        val start = i
        while (i < n && !TextAnalysis.isAsciiWs(s.charAt(i))) i += 1
        if (i > start) total += countWord(s.substring(start, i))
      }
      total
    }

    /** The SURVIVING SYMBOLS of a word (not just their count) — the id
      * encoder's kernel. Separate memo from [[countWord]] so the pure
      * counting path keeps its int-sized entries. */
    @transient private lazy val symsMemo = new java.util.HashMap[String, Array[String]]
    def symsWord(w: String): Array[String] = {
      val hit = symsMemo.get(w)
      if (hit != null) return hit
      var syms = codepoints(w)
      var merging = true
      while (merging && syms.length > 1) {
        var bestRank = Int.MaxValue
        var best: (String, String) = null
        var i = 0
        while (i < syms.length - 1) {
          val r = rank.getOrDefault(syms(i) + "\u0000" + syms(i + 1), Int.MaxValue)
          if (r < bestRank) { bestRank = r; best = (syms(i), syms(i + 1)) }
          i += 1
        }
        if (best == null) merging = false
        else syms = mergePair(syms, best)
      }
      if (symsMemo.size > 65536) symsMemo.clear() // bound executor memory
      symsMemo.put(w, syms)
      syms
    }
  }

  /** Executor-side id encoder: the [[Applier]] merge kernel plus a
    * vocab lookup — emits the token-ID SEQUENCE a trainer consumes.
    * A symbol outside the vocabulary (a codepoint the bounded training
    * sample never saw) encodes as -1, the conventional unk sentinel the
    * oracle mirrors with COALESCE(id, -1). */
  final class IdEncoder(merges: Array[(String, String)],
                        vocab: Array[String]) extends Serializable {
    private val applier = new Applier(merges)
    @transient private lazy val idOf: java.util.HashMap[String, Integer] = {
      val m = new java.util.HashMap[String, Integer](vocab.length * 2)
      vocab.zipWithIndex.foreach { case (t, i) =>
        if (!m.containsKey(t)) m.put(t, i)
      }
      m
    }

    def idsText(text: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
      val out = mutable.ArrayBuffer.empty[Any]
      if (text != null) {
        val s = text.toString.toLowerCase(java.util.Locale.ROOT)
        var i = 0
        val n = s.length
        while (i < n) {
          while (i < n && TextAnalysis.isAsciiWs(s.charAt(i))) i += 1
          val start = i
          while (i < n && !TextAnalysis.isAsciiWs(s.charAt(i))) i += 1
          if (i > start) {
            val syms = applier.symsWord(s.substring(start, i))
            var j = 0
            while (j < syms.length) {
              val id = idOf.get(syms(j))
              out += (if (id == null) -1 else id.intValue)
              j += 1
            }
          }
        }
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
    }
  }

  /** Codegen'd BPE token count: stays inside whole-stage codegen (the
    * applier rides the generated class as a reference object; per row
    * it is one virtual call into the memoized merge kernel). */
  case class BpeCount(child: Expression, merges: Array[(String, String)])
      extends UnaryExpression with ExpectsInputTypes {
    override def dataType: DataType = LongType
    override def inputTypes: Seq[DataType] = Seq(StringType)
    @transient private lazy val applier = new Applier(merges)
    override def nullSafeEval(input: Any): Any =
      applier.countText(input.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("bpeApplier", applier, classOf[Applier].getName)
      defineCodeGen(ctx, ev, c => s"$ref.countText($c)")
    }
    override protected def withNewChildInternal(newChild: Expression): BpeCount =
      copy(child = newChild)
    override def prettyName: String = "bpe_count"
  }

  /** Column entry point. */
  def bpeCount(text: Column, merges: Array[(String, String)]): Column = {
    import org.apache.spark.sql.graftbridge.Bridge.{column, expression}
    column(BpeCount(expression(text), merges))
  }

  /** Codegen'd token-ID encoding: text → the int sequence a trainer
    * consumes. Same codegen shape as [[BpeCount]] — the encoder rides
    * the generated class as a reference object. */
  case class BpeIds(child: Expression, merges: Array[(String, String)],
                    vocab: Array[String]) extends UnaryExpression with ExpectsInputTypes {
    override def dataType: DataType =
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.IntegerType, containsNull = false)
    override def inputTypes: Seq[DataType] = Seq(StringType)
    @transient private lazy val encoder = new IdEncoder(merges, vocab)
    override def nullSafeEval(input: Any): Any =
      encoder.idsText(input.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("bpeEncoder", encoder, classOf[IdEncoder].getName)
      defineCodeGen(ctx, ev, c => s"$ref.idsText($c)")
    }
    override protected def withNewChildInternal(newChild: Expression): BpeIds =
      copy(child = newChild)
    override def prettyName: String = "bpe_ids"
  }

  /** Column entry point for id encoding. */
  def bpeIds(text: Column, merges: Array[(String, String)],
             vocab: Array[String]): Column = {
    import org.apache.spark.sql.graftbridge.Bridge.{column, expression}
    column(BpeIds(expression(text), merges, vocab))
  }

  // -------------------------------------------------------------- persist

  /** Persist the ranked merge table — budgets become reproducible and
    * the oracle replays from data. */
  def persistMerges(s: SparkSession, merges: Array[(String, String)],
                    path: String): Unit = {
    import s.implicits._
    merges.zipWithIndex.map { case ((l, r), i) => (i, l, r) }.toSeq
      .toDF("rank", "l", "r")
      .coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(path)
  }

  /** Where q91 persists the id table (the q65 fixed-location rule). */
  val VocabPath = graft.Sidecars.path("graft_bpe_vocab.parquet")

  def persistVocab(s: SparkSession, vocab: Array[String], path: String): Unit = {
    import s.implicits._
    vocab.zipWithIndex.map { case (t, i) => (i, t) }.toSeq
      .toDF("id", "tok")
      .coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(path)
  }

  // ----------------------------------------------------------------- q65

  /** q65: per-document whitespace vs trainer-true token counts. Trains
    * the merge rules from the corpus itself, persists them to
    * [[MergesPath]], and emits both counts — the oracle re-applies the
    * persisted rules with a recursive CTE and must land on the same
    * n_bpe_tokens for every document. */
  def q65BpeTokens(s: SparkSession, dir: String, nMerges: Int = 200,
                   vocabCap: Int = 5000): DataFrame = {
    val docs = graft.Tables.documents(s, dir)
    val merges = train(docs, nMerges, vocabCap)
    persistMerges(s, merges, MergesPath)
    docs.select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_ws_tokens"),
        bpeCount(col("text"), merges).as("n_bpe_tokens"))
      .orderBy(col("doc_id"))
  }

  /** q87: per-language tokenizer fertility — the table a tokenizer
    * owner reads before shipping a vocab: per language, whitespace vs
    * trainer-true token totals and fertility = subwords per word. High
    * fertility on a language flags an under-trained vocabulary for it
    * (its words shatter into characters), which is exactly what this
    * corpus's non-en languages show vs the en-dominated merge table.
    * Same trained rules as q65 (persisted — the oracle replays them);
    * one extra keyed aggregate over the narrow per-doc counts; the
    * ratio is one IEEE divide of two exact longs, rounded 9. */
  /** q91: the trainer handoff itself — per document, the token-ID
    * SEQUENCE (not just the count) under the trained subword
    * vocabulary. Persists both the merge table and the id table; the
    * oracle replays the merges (q65's recursive chain), splits each
    * word's surviving symbol string back into symbols, joins ids from
    * the PERSISTED vocab, and must land on the identical int sequence
    * per document — order included. OOV symbols (possible only for
    * codepoints outside the bounded training sample) encode as -1 on
    * both sides.
    *
    * Scale: training/persistence is the bounded q65 path; encoding is
    * ONE narrow codegen'd pass (the merges+vocab ride a reference
    * object, per-word results memoized per partition) — at 100 TB this
    * fuses into whatever scan precedes it, and the ids column feeds
    * [[Sharding.writeShards]] unchanged (shards carry whatever columns
    * the keeper frame holds). */
  def q91TokenIds(s: SparkSession, dir: String, nMerges: Int = 200,
                  vocabCap: Int = 5000): DataFrame = {
    val docs = graft.Tables.documents(s, dir)
    val words = topWordCounts(docs, vocabCap)
    val merges = trainFromCounts(words, nMerges)
    val vocab = vocabOf(words, merges)
    persistMerges(s, merges, MergesPath)
    persistVocab(s, vocab, VocabPath)
    // The id SEQUENCE surfaces as a joined string (the q35 rule: the
    // driver gate's pandas sort can't order raw arrays — engine and
    // oracle both stringify in the final select; consumers that want
    // the array take bpeIds directly, e.g. Sharding's tokenized path).
    docs.select(col("doc_id"),
        bpeIds(col("text"), merges, vocab).as("ids"))
      .select(col("doc_id"),
        array_join(transform(col("ids"), x => x.cast("string")), ",")
          .as("token_ids"),
        size(col("ids")).cast("long").as("n_tokens"))
      .orderBy(col("doc_id"))
  }

  def q87TokenizerFertility(s: SparkSession, dir: String, nMerges: Int = 200,
                            vocabCap: Int = 5000): DataFrame = {
    val docs = graft.Tables.documents(s, dir)
    val merges = train(docs, nMerges, vocabCap)
    persistMerges(s, merges, MergesPath)
    docs.select(col("lang"),
        TextAnalysis.tokenCount(col("text")).as("ws"),
        bpeCount(col("text"), merges).as("bpe"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws")).as("n_ws_tokens"),
        sum(col("bpe")).as("n_bpe_tokens"))
      .withColumn("fertility",
        round(col("n_bpe_tokens").cast("double") /
          col("n_ws_tokens").cast("double"), 9))
      .orderBy(col("lang"))
  }
}
