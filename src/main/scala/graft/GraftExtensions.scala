package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{BloomAgg, BloomMightContain, CmsEstimate, CmsJoinSize, CosineSimilarity, CountMinSketchAgg, HllAgg, HllEstimate, HllUnionAgg, IntDot, Ipv4ToLong, RollingHash64, TokenizeS3Log, WinnowFingerprints}

/** SparkSessionExtensions entry point: registers the engine's custom
  * Catalyst expressions as SQL functions, so `spark.sql` users (the
  * Athena-replacement surface, SURVEY.md §0) can call them directly:
  *
  * {{{
  * SparkSession.builder().withExtensions(new GraftExtensions)...
  * // or: spark.sql.extensions=graft.GraftExtensions
  * spark.sql("SELECT ipv4_to_long(remoteip), tokenize_s3_log(value) FROM logs")
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(e.injectFunction)
}

object GraftExtensions {
  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  val tokenizeS3Log: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("tokenize_s3_log"),
      info("tokenize_s3_log", "tokenize_s3_log(line) - Splits an S3 access-log line into fields."),
      (children: Seq[Expression]) => TokenizeS3Log(children.head))

  val ipv4ToLong: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("ipv4_to_long"),
      info("ipv4_to_long", "ipv4_to_long(ip) - Dotted-quad IPv4 to its unsigned 32-bit value (NULL if invalid)."),
      (children: Seq[Expression]) => Ipv4ToLong(children.head))

  val cosineSimilarity: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("cosine_similarity"),
      info("cosine_similarity", "cosine_similarity(a, b) - Cosine similarity of two float arrays."),
      (children: Seq[Expression]) => CosineSimilarity(children(0), children(1)))

  val intDot: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("int_dot"),
      info("int_dot", "int_dot(a, b) - Exact integer dot product of two bigint arrays."),
      (children: Seq[Expression]) => IntDot(children(0), children(1)))

  val rollingHash64: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("rolling_hash64"),
      info("rolling_hash64", "rolling_hash64(s) - 64-bit polynomial rolling hash of a string."),
      (children: Seq[Expression]) => RollingHash64(children.head))

  /** `winnow_fingerprints(tokens, k, w)` — k/w must be integer
    * literals (they are baked into the generated kernel call). */
  val winnowFingerprints: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("winnow_fingerprints"),
      info("winnow_fingerprints",
        "winnow_fingerprints(tokens, k, w) - Distinct winnowing (SIGMOD'03) fingerprints of the k-grams of a token array under window w."),
      (children: Seq[Expression]) => children match {
        case Seq(c, kE, wE) =>
          def intLit(e: Expression, name: String): Int = e match {
            case lit: org.apache.spark.sql.catalyst.expressions.Literal
              if lit.dataType == org.apache.spark.sql.types.IntegerType =>
              lit.value.asInstanceOf[Int]
            case _ => throw new IllegalArgumentException(
              s"winnow_fingerprints: $name must be an INT literal, got $e")
          }
          WinnowFingerprints(c, intLit(kE, "k"), intLit(wE, "w"))
        case other => throw new IllegalArgumentException(
          s"winnow_fingerprints takes 3 arguments, got ${other.size}")
      })

  /** `substr_window_hashes(s, L)` — L must be an integer literal (it is
    * baked into the generated kernel call). */
  val substrWindowHashes: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("substr_window_hashes"),
      info("substr_window_hashes",
        "substr_window_hashes(s, L) - Rolling hash of every length-L character window of s, in position order."),
      (children: Seq[Expression]) => children match {
        case Seq(c, lE) =>
          val l = lE match {
            case lit: org.apache.spark.sql.catalyst.expressions.Literal
              if lit.dataType == org.apache.spark.sql.types.IntegerType =>
              lit.value.asInstanceOf[Int]
            case _ => throw new IllegalArgumentException(
              s"substr_window_hashes: L must be an INT literal, got $lE")
          }
          graft.functions.SubstrWindowHashes(c, l)
        case other => throw new IllegalArgumentException(
          s"substr_window_hashes takes 2 arguments, got ${other.size}")
      })

  /** `ac_counts(s, 'p1', 'p2', …)` — patterns must be string literals
    * (the Aho–Corasick automaton is built at plan time). */
  val acCounts: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("ac_counts"),
      info("ac_counts",
        "ac_counts(s, p1, p2, ...) - Per-pattern overlapping occurrence counts via one Aho-Corasick pass."),
      (children: Seq[Expression]) => children match {
        case c +: pats if pats.nonEmpty =>
          val patterns = pats.map {
            case lit: org.apache.spark.sql.catalyst.expressions.Literal
              if lit.dataType == org.apache.spark.sql.types.StringType &&
                lit.value != null =>
              lit.value.toString
            case other => throw new IllegalArgumentException(
              s"ac_counts: patterns must be STRING literals, got $other")
          }
          graft.functions.AcCounts(c, patterns)
        case other => throw new IllegalArgumentException(
          s"ac_counts takes a string column plus >= 1 pattern literals, got ${other.size} args")
      })

  /** `cms_sketch(col)` or `cms_sketch(col, depth, width)` — depth/width
    * must be integer literals (they shape the aggregation buffer). */
  val cmsSketch: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("cms_sketch"),
      info("cms_sketch", "cms_sketch(col[, depth, width]) - Count-Min Sketch of a string column as binary."),
      (children: Seq[Expression]) => children match {
        case Seq(c) => CountMinSketchAgg(c)
        case Seq(c, d, w) =>
          def intLit(e: Expression, name: String): Int = e match {
            case lit: org.apache.spark.sql.catalyst.expressions.Literal
              if lit.dataType == org.apache.spark.sql.types.IntegerType =>
              lit.value.asInstanceOf[Int]
            case _ => throw new IllegalArgumentException(
              s"cms_sketch: $name must be an INT literal, got $e")
          }
          CountMinSketchAgg(c, intLit(d, "depth"), intLit(w, "width"))
        case other => throw new IllegalArgumentException(
          s"cms_sketch takes 1 or 3 arguments, got ${other.size}")
      })

  val cmsEstimate: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("cms_estimate"),
      info("cms_estimate", "cms_estimate(sketch, item) - Point-frequency estimate from a cms_sketch binary."),
      (children: Seq[Expression]) => CmsEstimate(children(0), children(1)))

  /** `top_k(score, id, k)` — k must be an integer literal (it shapes the
    * aggregation buffer). Bounded-heap alternative to a rank window:
    * map-side partials cap the shuffle at k rows per group per task. */
  val topK: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("top_k"),
      info("top_k",
        "top_k(score, id, k) - Array of the k (score desc, id asc)-best (score, id) structs per group."),
      (children: Seq[Expression]) => children match {
        case Seq(s, i, k) =>
          val kv = k match {
            case lit: org.apache.spark.sql.catalyst.expressions.Literal
              if lit.dataType == org.apache.spark.sql.types.IntegerType =>
              lit.value.asInstanceOf[Int]
            case _ => throw new IllegalArgumentException(
              s"top_k: k must be an INT literal, got $k")
          }
          // analysis-time bound check: the buffer allocates Array(2*k), so
          // k <= 0 would otherwise surface as an executor-side
          // ArrayIndexOutOfBounds/NegativeArraySize crash at runtime
          if (kv < 1) throw new IllegalArgumentException(
            s"top_k: k must be >= 1, got $kv")
          graft.ops.TopKPerGroup.TopKAgg(s, i, kv)
        case other => throw new IllegalArgumentException(
          s"top_k takes 3 arguments, got ${other.size}")
      })

  /** `bloom_agg(col)` or `bloom_agg(col, numBits, k)` — numBits/k must be
    * integer literals (they shape the aggregation buffer). */
  val bloomAgg: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("bloom_agg"),
      info("bloom_agg", "bloom_agg(col[, numBits, k]) - Bloom filter of a bigint key column as binary."),
      (children: Seq[Expression]) => children match {
        case Seq(c) => BloomAgg(c)
        case Seq(c, b, k) =>
          def intLit(e: Expression, name: String): Int = e match {
            case lit: org.apache.spark.sql.catalyst.expressions.Literal
              if lit.dataType == org.apache.spark.sql.types.IntegerType =>
              lit.value.asInstanceOf[Int]
            case _ => throw new IllegalArgumentException(
              s"bloom_agg: $name must be an INT literal, got $e")
          }
          val bits = intLit(b, "numBits"); val kk = intLit(k, "k")
          if (bits < 64 || kk < 1) throw new IllegalArgumentException(
            s"bloom_agg: need numBits >= 64 and k >= 1, got ($bits, $kk)")
          BloomAgg(c, bits, kk)
        case other => throw new IllegalArgumentException(
          s"bloom_agg takes 1 or 3 arguments, got ${other.size}")
      })

  val bloomMightContain: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("bloom_might_contain"),
      info("bloom_might_contain",
        "bloom_might_contain(bloom, key) - false = definitely absent; true = present or false positive."),
      (children: Seq[Expression]) => BloomMightContain(children(0), children(1)))

  val cmsJoinSize: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("cms_join_size"),
      info("cms_join_size",
        "cms_join_size(sketchA, sketchB) - Equi-join cardinality estimate from two same-shape cms_sketch binaries (never underestimates)."),
      (children: Seq[Expression]) => CmsJoinSize(children(0), children(1)))

  /** `hll_sketch(col)` or `hll_sketch(col, p)` — p must be an integer
    * literal (it shapes the aggregation buffer). */
  val hllSketch: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("hll_sketch"),
      info("hll_sketch", "hll_sketch(col[, p]) - HyperLogLog registers of a string column as binary (2^p bytes)."),
      (children: Seq[Expression]) => children match {
        case Seq(c) => HllAgg(c)
        case Seq(c, pe) => pe match {
          case lit: org.apache.spark.sql.catalyst.expressions.Literal
            if lit.dataType == org.apache.spark.sql.types.IntegerType =>
            HllAgg(c, lit.value.asInstanceOf[Int])
          case _ => throw new IllegalArgumentException(
            s"hll_sketch: p must be an INT literal, got $pe")
        }
        case other => throw new IllegalArgumentException(
          s"hll_sketch takes 1 or 2 arguments, got ${other.size}")
      })

  val hllUnion: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("hll_union"),
      info("hll_union", "hll_union(sketch) - Register-max union of stored hll_sketch binaries."),
      (children: Seq[Expression]) => HllUnionAgg(children.head))

  val hllEstimate: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("hll_estimate"),
      info("hll_estimate", "hll_estimate(sketch) - Cardinality estimate from an hll_sketch/hll_union binary."),
      (children: Seq[Expression]) => HllEstimate(children.head))

  /** Every SQL function the engine adds, for `apply` and `register`. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq(tokenizeS3Log, ipv4ToLong, cosineSimilarity, intDot, rollingHash64,
      winnowFingerprints, substrWindowHashes, acCounts, cmsSketch, cmsEstimate,
      topK, bloomAgg, bloomMightContain, cmsJoinSize, hllSketch, hllUnion,
      hllEstimate)

  /** Register on an existing session (for sessions not built with
    * `withExtensions`). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg: FunctionRegistry = spark.sessionState.functionRegistry
    functions.foreach { case (id, inf, builder) => reg.registerFunction(id, inf, builder) }
  }
}
