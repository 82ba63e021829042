package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable

/** Trainer-true UNIGRAM-LM subword tokenization — the other public
  * tokenizer family (Kudo, "Subword Regularization", ACL 2018; the
  * SentencePiece `unigram` model): pieces carry log-probabilities and
  * each word segments to its maximum-likelihood piece sequence by
  * Viterbi, instead of BPE's greedy merge order. Trained here by
  * hard (Viterbi) EM with a fixed iteration count — the deterministic
  * variant of the reference algorithm's E step, documented divergence:
  * full EM uses forward-backward expectations; hard EM converges to
  * the same segmentations on corpora this size and makes every count
  * an exact integer.
  *
  * Determinism is INTEGER end to end: each piece's log-probability is
  * frozen at training time as a round-12 FIXED-POINT long
  * (`logp12 = round(ln(cnt/total), 12) · 10¹²`), so a Viterbi score is
  * a sum of longs — no float ever enters a comparison, in the engine
  * OR in the oracle, and ties are impossible to mis-order across
  * engines. The persisted piece table (id, piece, len, logp12) is
  * DATA: the DuckDB oracle replays the exact DP over BIGINT sums
  * (recursive CTE, one step per character) and must reproduce every
  * token id the engine emits.
  *
  * Scale shape (the Bpe contract):
  *  - TRAINING is bounded: the top-`vocabCap` word-count aggregate
  *    (map-side combined + TakeOrdered) collects ≤ vocabCap pairs;
  *    seeding, EM and the final probability freeze run driver-side
  *    over that bounded table — cost independent of corpus size;
  *  - APPLICATION is one broadcast (piece table) + a codegen'd unary
  *    expression with per-partition word memoization — per row a hash
  *    probe for repeated words, an O(len·maxPieceLen) integer DP for
  *    new ones;
  *  - unseen characters at apply time take the UNK piece (id −1,
  *    logp12 = −100·10¹²) so the DP never dead-ends and the rule is
  *    one COALESCE in the oracle.
  */
object Unigram {

  val ProbsPath = graft.Sidecars.path("graft_unigram_probs.parquet")
  val MaxPieceLen = 6
  val UnkLogp12: Long = -100L * 1000000000000L

  // ------------------------------------------------------------ training

  /** Train on the bounded word table: (piece, logp12), piece-sorted. */
  def train(docs: DataFrame, pieceCap: Int = 512, iters: Int = 2,
            vocabCap: Int = 5000): Array[(String, Long)] =
    trainFromCounts(Bpe.topWordCounts(docs, vocabCap), pieceCap, iters)

  /** The driver loop over ≤ vocabCap (word, count) pairs. */
  private[ops] def trainFromCounts(words: Array[(String, Long)],
                                   pieceCap: Int,
                                   iters: Int): Array[(String, Long)] = {
    require(words.nonEmpty, "empty training word table")
    val chars: Set[String] =
      words.iterator.flatMap(_._1.iterator).map(_.toString).toSet

    // seed: every substring up to MaxPieceLen, occurrence-weighted
    val seed = mutable.HashMap.empty[String, Long]
    words.foreach { case (w, c) =>
      var i = 0
      while (i < w.length) {
        var t = 1
        while (t <= MaxPieceLen && i + t <= w.length) {
          val p = w.substring(i, i + t)
          seed(p) = seed.getOrElse(p, 0L) + c
          t += 1
        }
        i += 1
      }
    }
    val seedKept = seed.toSeq.sortBy { case (p, c) => (-c, p) }.take(pieceCap)
      .toMap
    var counts: Map[String, Long] =
      seedKept ++ chars.filterNot(seedKept.contains).map(_ -> 1L)

    var probs = freeze(counts)
    (1 to iters).foreach { _ =>
      val seg = new Segmenter(probs.map(_._1), probs.map(_._2))
      val usage = mutable.HashMap.empty[String, Long]
      words.foreach { case (w, c) =>
        seg.piecesWord(w).foreach { p =>
          usage(p) = usage.getOrElse(p, 0L) + c
        }
      }
      // coverage: single characters never leave the table (count ≥ 1)
      counts = usage.toMap ++
        chars.filterNot(usage.contains).map(_ -> 1L)
      probs = freeze(counts)
    }
    probs
  }

  /** Counts → (piece, logp12) sorted by piece: the round-12 fixed-point
    * freeze. ln runs ONCE here; neither engine recomputes it. */
  private def freeze(counts: Map[String, Long]): Array[(String, Long)] = {
    val total = counts.valuesIterator.sum.toDouble
    counts.toArray.sortBy(_._1).map { case (p, c) =>
      val lp = BigDecimal(math.log(c.toDouble / total))
        .setScale(12, BigDecimal.RoundingMode.HALF_UP)
      p -> (lp * BigDecimal(1000000000000L)).toLongExact
    }
  }

  // ------------------------------------------------------------ segmenter

  /** Shared Viterbi kernel: integer scores, (score, pieceLen) argmax —
    * a tie on both determines the SAME piece (one substring per
    * (end, len)), so the pick is total. Memoized per partition. */
  class Segmenter(pieces: Array[String], logp12s: Array[Long])
      extends Serializable {
    @transient private lazy val table: java.util.HashMap[String, (Int, Long)] = {
      val m = new java.util.HashMap[String, (Int, Long)](pieces.length * 2)
      var i = 0
      while (i < pieces.length) {
        m.put(pieces(i), (i, logp12s(i)))
        i += 1
      }
      m
    }
    @transient private lazy val memoIds =
      new java.util.HashMap[String, Array[Int]]()
    @transient private lazy val memoScore =
      new java.util.HashMap[String, java.lang.Long]()

    private def viterbi(w: String): Array[Int] = {
      val n = w.length
      val best = new Array[Long](n + 1)
      val back = new Array[Int](n + 1) // chosen piece length ending at j
      val bid = new Array[Int](n + 1)
      var j = 1
      while (j <= n) {
        var bestScore = Long.MinValue
        var bestLen = 0
        var bestId = -1
        var t = 1
        val tMax = math.min(MaxPieceLen, j)
        while (t <= tMax) {
          val e = table.get(w.substring(j - t, j))
          if (e != null) {
            val sc = best(j - t) + e._2
            // strictly-better OR equal-and-longer: the oracle's
            // ORDER BY score DESC, len DESC LIMIT 1
            if (sc > bestScore || (sc == bestScore && t > bestLen)) {
              bestScore = sc; bestLen = t; bestId = e._1
            }
          }
          t += 1
        }
        if (bestLen == 0) { // unseen character: UNK single char
          bestScore = best(j - 1) + UnkLogp12
          bestLen = 1
          bestId = -1
        }
        best(j) = bestScore; back(j) = bestLen; bid(j) = bestId
        j += 1
      }
      memoScore.put(w, best(n))
      val rev = mutable.ArrayBuffer.empty[Int]
      var pos = n
      while (pos > 0) { rev += bid(pos); pos -= back(pos) }
      rev.reverseIterator.toArray
    }

    /** The best segmentation's total log-prob (fixed-point ×10¹²). */
    def score12Word(w: String): Long = {
      val hit = memoScore.get(w)
      if (hit != null) hit.longValue
      else { idsWord(w); memoScore.get(w).longValue }
    }

    def idsWord(w: String): Array[Int] = {
      val hit = memoIds.get(w)
      if (hit != null) hit
      else {
        val ids = viterbi(w)
        memoIds.put(w, ids)
        ids
      }
    }

    /** Training-side: piece STRINGS of the best segmentation (unk
      * characters come back as themselves — the M step counts them so
      * a genuinely frequent char re-earns a real probability). */
    def piecesWord(w: String): Array[String] = segments(w)

    /** The best segmentation as substrings (unk chars included). */
    def segments(w: String): Array[String] = {
      val n = w.length
      val best = new Array[Long](n + 1)
      val back = new Array[Int](n + 1)
      var j = 1
      while (j <= n) {
        var bestScore = Long.MinValue
        var bestLen = 0
        var t = 1
        val tMax = math.min(MaxPieceLen, j)
        while (t <= tMax) {
          val e = table.get(w.substring(j - t, j))
          if (e != null) {
            val sc = best(j - t) + e._2
            if (sc > bestScore || (sc == bestScore && t > bestLen)) {
              bestScore = sc; bestLen = t
            }
          }
          t += 1
        }
        if (bestLen == 0) { bestScore = best(j - 1) + UnkLogp12; bestLen = 1 }
        best(j) = bestScore; back(j) = bestLen
        j += 1
      }
      val rev = mutable.ArrayBuffer.empty[String]
      var pos = n
      while (pos > 0) { rev += w.substring(pos - back(pos), pos); pos -= back(pos) }
      rev.reverseIterator.toArray
    }

    /** Apply-side: ids of every word of `text` (lowercased, \s+ split),
      * space-joined — the q91 stringify rule applied AT THE EXPRESSION
      * so no array reaches the gate. */
    def idsText(text: UTF8String): UTF8String = {
      if (text == null) return UTF8String.fromString("")
      val s = text.toString.toLowerCase(java.util.Locale.ROOT)
      val sb = new java.lang.StringBuilder()
      var i = 0
      val n = s.length
      while (i < n) {
        while (i < n && TextAnalysis.isAsciiWs(s.charAt(i))) i += 1
        val start = i
        while (i < n && !TextAnalysis.isAsciiWs(s.charAt(i))) i += 1
        if (i > start) {
          val ids = idsWord(s.substring(start, i))
          var k = 0
          while (k < ids.length) {
            if (sb.length > 0) sb.append(' ')
            sb.append(ids(k))
            k += 1
          }
        }
      }
      UTF8String.fromString(sb.toString)
    }

    def countText(text: UTF8String): Long = {
      if (text == null) return 0L
      val s = text.toString.toLowerCase(java.util.Locale.ROOT)
      var out = 0L
      var i = 0
      val n = s.length
      while (i < n) {
        while (i < n && TextAnalysis.isAsciiWs(s.charAt(i))) i += 1
        val start = i
        while (i < n && !TextAnalysis.isAsciiWs(s.charAt(i))) i += 1
        if (i > start) out += idsWord(s.substring(start, i)).length
      }
      out
    }

    /** Total NEGATIVE log-likelihood of the text's ML segmentation,
      * fixed-point ×10¹² — an exact long, summable and comparable with
      * no float anywhere. */
    def nll12Text(text: UTF8String): Long = {
      if (text == null) return 0L
      val s = text.toString.toLowerCase(java.util.Locale.ROOT)
      var out = 0L
      var i = 0
      val n = s.length
      while (i < n) {
        while (i < n && TextAnalysis.isAsciiWs(s.charAt(i))) i += 1
        val start = i
        while (i < n && !TextAnalysis.isAsciiWs(s.charAt(i))) i += 1
        if (i > start) out -= score12Word(s.substring(start, i))
      }
      out
    }
  }

  // ------------------------------------------------------------ expression

  /** Codegen'd unigram token-ID encoding (stringified ids). */
  case class UnigramIdsStr(child: Expression, pieces: Array[String],
                           logp12s: Array[Long]) extends UnaryExpression with ExpectsInputTypes {
    override def dataType: DataType = StringType
    override def inputTypes: Seq[DataType] = Seq(StringType)
    @transient private lazy val seg = new Segmenter(pieces, logp12s)
    override def nullSafeEval(input: Any): Any =
      seg.idsText(input.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("unigramSeg", seg, classOf[Segmenter].getName)
      defineCodeGen(ctx, ev, c => s"$ref.idsText($c)")
    }
    override protected def withNewChildInternal(newChild: Expression): UnigramIdsStr =
      copy(child = newChild)
    override def prettyName: String = "unigram_ids"
  }

  def unigramIdsStr(text: Column, probs: Array[(String, Long)]): Column = {
    import org.apache.spark.sql.graftbridge.Bridge.{column, expression}
    column(UnigramIdsStr(expression(text), probs.map(_._1), probs.map(_._2)))
  }

  /** Codegen'd piece count (LongType). */
  case class UnigramCount(child: Expression, pieces: Array[String],
                          logp12s: Array[Long]) extends UnaryExpression with ExpectsInputTypes {
    override def dataType: DataType = org.apache.spark.sql.types.LongType
    override def inputTypes: Seq[DataType] = Seq(StringType)
    @transient private lazy val seg = new Segmenter(pieces, logp12s)
    override def nullSafeEval(input: Any): Any =
      seg.countText(input.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("unigramSegC", seg, classOf[Segmenter].getName)
      defineCodeGen(ctx, ev, c => s"$ref.countText($c)")
    }
    override protected def withNewChildInternal(newChild: Expression): UnigramCount =
      copy(child = newChild)
    override def prettyName: String = "unigram_count"
  }

  /** Codegen'd total fixed-point negative log-likelihood (LongType). */
  case class UnigramNll12(child: Expression, pieces: Array[String],
                          logp12s: Array[Long]) extends UnaryExpression with ExpectsInputTypes {
    override def dataType: DataType = org.apache.spark.sql.types.LongType
    override def inputTypes: Seq[DataType] = Seq(StringType)
    @transient private lazy val seg = new Segmenter(pieces, logp12s)
    override def nullSafeEval(input: Any): Any =
      seg.nll12Text(input.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("unigramSegN", seg, classOf[Segmenter].getName)
      defineCodeGen(ctx, ev, c => s"$ref.nll12Text($c)")
    }
    override protected def withNewChildInternal(newChild: Expression): UnigramNll12 =
      copy(child = newChild)
    override def prettyName: String = "unigram_nll12"
  }

  def unigramCount(text: Column, probs: Array[(String, Long)]): Column = {
    import org.apache.spark.sql.graftbridge.Bridge.{column, expression}
    column(UnigramCount(expression(text), probs.map(_._1), probs.map(_._2)))
  }

  def unigramNll12(text: Column, probs: Array[(String, Long)]): Column = {
    import org.apache.spark.sql.graftbridge.Bridge.{column, expression}
    column(UnigramNll12(expression(text), probs.map(_._1), probs.map(_._2)))
  }

  // ------------------------------------------------------------ persist

  /** Persist (id, piece, len, logp12) — id = piece-sorted index, the
    * table the oracle replays the DP from. */
  def persistProbs(s: SparkSession, probs: Array[(String, Long)],
                   path: String): Unit = {
    import s.implicits._
    probs.zipWithIndex.map { case ((p, lp), i) => (i, p, p.length, lp) }
      .toSeq.toDF("id", "piece", "len", "logp12")
      .coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(path)
  }

  // ------------------------------------------------------------ gate

  /** q155's keep bar: mean negative log-likelihood per piece, in the
    * same ×10¹² fixed point as the scores — docs above it are "the LM
    * finds this text surprising" (gibberish, boilerplate soup, wrong
    * language), the CCNet/ccnet-style perplexity filter. The verdict
    * is the INTEGER cross-multiply `nll12 ≤ bar · n_pieces` — no
    * division ever decides. */
  val NllPerPieceBar12: Long = 3_500_000_000_000L // 3.5 nats/piece

  /** q155: perplexity filtering under the q154 unigram LM — per doc
    * the ML segmentation's piece count, total fixed-point NLL, the
    * mean NLL per piece (reported, never deciding) and the integer
    * keep verdict. Trains identically to q154 (deterministic) and
    * persists the same piece table, so the oracle replays the same DP
    * and reads the total from the DP's own best-score list. */
  def q155UnigramPerplexity(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(s, dir)
    val probs = train(docs)
    persistProbs(s, probs, ProbsPath)
    docs.select(col("doc_id"),
        unigramCount(col("text"), probs).as("n_pieces"),
        unigramNll12(col("text"), probs).as("nll12"))
      .withColumn("avg_nll",
        when(col("n_pieces") === 0, lit(0.0))
          .otherwise(round(col("nll12").cast("double") / 1e12 /
            col("n_pieces").cast("double"), 9)))
      .withColumn("keep",
        col("nll12") <= lit(NllPerPieceBar12) * col("n_pieces"))
      .orderBy(col("doc_id"))
  }

  /** q154: train on the corpus, persist the piece table, emit per-doc
    * whitespace-token and piece counts plus the stringified id
    * sequence. The oracle re-runs the integer Viterbi from the
    * persisted table — every id must match. */
  /** q174: TOKENIZER SELECTION table — the comparison a vocab owner
    * reads before committing a tokenizer family: per source, whitespace
    * vs BPE vs unigram-LM token totals and fertilities (subwords per
    * word), plus the head-to-head BPE/unigram ratio. Both models train
    * on the full corpus with their gate-standard settings and PERSIST
    * to their standard paths (merges + vocab DP table are DATA), so
    * the oracle replays BOTH tokenizations — the q65 recursive merge
    * chain and the q154 integer-DP chain nested as derived-table WITHs
    * — and every count must land exactly.
    *
    * Shape at 100 TB: two bounded trains (driver-side over top-vocabCap
    * word tables) + ONE narrow pass computing all three counts per doc
    * (each tokenizer is a codegen'd unary expression with per-partition
    * word memoization), then a per-source map-combined aggregate. */
  def q174TokenizerCompare(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(s, dir)
    val merges = Bpe.train(docs)
    Bpe.persistMerges(s, merges, Bpe.MergesPath)
    val probs = train(docs)
    persistProbs(s, probs, ProbsPath)
    docs.select(col("source"),
        TextAnalysis.tokenCount(col("text")).as("ws"),
        Bpe.bpeCount(col("text"), merges).as("bpe"),
        unigramCount(col("text"), probs).as("uni"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws")).as("n_ws_tokens"),
        sum(col("bpe")).as("n_bpe_tokens"),
        sum(col("uni")).as("n_uni_pieces"))
      .withColumn("bpe_fertility",
        round(col("n_bpe_tokens").cast("double") /
          col("n_ws_tokens").cast("double"), 9))
      .withColumn("uni_fertility",
        round(col("n_uni_pieces").cast("double") /
          col("n_ws_tokens").cast("double"), 9))
      .withColumn("bpe_vs_uni",
        round(col("n_bpe_tokens").cast("double") /
          col("n_uni_pieces").cast("double"), 9))
      .orderBy(col("source"))
  }

  def q154UnigramIds(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(s, dir)
    val probs = train(docs)
    persistProbs(s, probs, ProbsPath)
    docs.select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_ws_tokens"),
        unigramIdsStr(col("text"), probs).as("ids_str"))
      .withColumn("n_pieces",
        when(col("ids_str") === "", lit(0L))
          .otherwise(size(split(col("ids_str"), " ")).cast("long")))
      .select(col("doc_id"), col("n_ws_tokens"), col("n_pieces"), col("ids_str"))
      .orderBy(col("doc_id"))
  }
}
