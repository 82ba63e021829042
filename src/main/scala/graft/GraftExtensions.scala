package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.{AcCounts, BloomAgg, BloomMightContain, CmsEstimate, CmsJoinSize, CosineSimilarity, CountMinSketchAgg, HllAgg, HllEstimate, HllUnionAgg, IntDot, Ipv4ToLong, RollingHash64, SubstrWindowHashes, TokenizeS3Log, WinnowFingerprints}
import graft.ops.TopKPerGroup.TopKAgg

/** SparkSessionExtensions entry point: registers the engine's custom
  * Catalyst expressions as SQL functions, so `spark.sql` users (the
  * Athena-replacement surface, SURVEY.md §0) can call them directly:
  *
  * {{{
  * SparkSession.builder().withExtensions(new GraftExtensions)...
  * // or: spark.sql.extensions=graft.GraftExtensions
  * spark.sql("SELECT ipv4_to_long(remoteip), tokenize_s3_log(value) FROM logs")
  * }}}
  *
  * Each function's contract lives in one place: argument types are the
  * expression's `inputTypes` (checked by Spark's analyzer), constant
  * arguments are checked in the expression's constructor, and this table
  * only maps argument lists to expressions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(e.injectFunction)
}

object GraftExtensions {
  type Entry = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  /** One SQL function: `build` maps each accepted argument list to its
    * expression; any other argument count is refused with the usage. */
  private def fn(name: String, usage: String)(
      build: PartialFunction[Seq[Expression], Expression]): Entry =
    (FunctionIdentifier(name),
      new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, ""),
      args => build.applyOrElse(args, (_: Seq[Expression]) =>
        throw new IllegalArgumentException(
          s"$name: wrong number of arguments (${args.size}); usage: $usage")))

  /** A constant argument of `name`: an INT literal, because it is baked
    * into the generated kernel call or sizes the aggregation buffer. */
  private def intLit(name: String, arg: String, e: Expression): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case _ => throw new IllegalArgumentException(
      s"$name: $arg must be an INT literal, got ${e.sql}")
  }

  /** Every SQL function the engine adds, for `apply` and `register`. */
  val functions: Seq[Entry] = Seq(
    fn("tokenize_s3_log", "tokenize_s3_log(line) - Splits an S3 access-log line into fields.") {
      case Seq(c) => TokenizeS3Log(c)
    },
    fn("ipv4_to_long", "ipv4_to_long(ip) - Dotted-quad IPv4 to its unsigned 32-bit value (NULL if invalid).") {
      case Seq(c) => Ipv4ToLong(c)
    },
    fn("cosine_similarity", "cosine_similarity(a, b) - Cosine similarity of two float arrays.") {
      case Seq(a, b) => CosineSimilarity(a, b)
    },
    fn("int_dot", "int_dot(a, b) - Exact integer dot product of two bigint arrays.") {
      case Seq(a, b) => IntDot(a, b)
    },
    fn("rolling_hash64", "rolling_hash64(s) - 64-bit polynomial rolling hash of a string.") {
      case Seq(c) => RollingHash64(c)
    },
    fn("winnow_fingerprints",
      "winnow_fingerprints(tokens, k, w) - Distinct winnowing (SIGMOD'03) fingerprints of the k-grams of a token array under window w.") {
      case Seq(c, k, w) =>
        WinnowFingerprints(c, intLit("winnow_fingerprints", "k", k), intLit("winnow_fingerprints", "w", w))
    },
    fn("substr_window_hashes",
      "substr_window_hashes(s, L) - Rolling hash of every length-L character window of s, in position order.") {
      case Seq(c, l) => SubstrWindowHashes(c, intLit("substr_window_hashes", "L", l))
    },
    // the Aho–Corasick automaton is built at plan time from literal patterns
    fn("ac_counts",
      "ac_counts(s, p1, p2, ...) - Per-pattern overlapping occurrence counts via one Aho-Corasick pass.") {
      case c +: pats if pats.nonEmpty => AcCounts(c, pats.map {
        case Literal(v: UTF8String, StringType) => v.toString
        case p => throw new IllegalArgumentException(
          s"ac_counts: patterns must be STRING literals, got ${p.sql}")
      })
    },
    fn("cms_sketch", "cms_sketch(col[, depth, width]) - Count-Min Sketch of a string column as binary.") {
      case Seq(c) => CountMinSketchAgg(c)
      case Seq(c, d, w) =>
        CountMinSketchAgg(c, intLit("cms_sketch", "depth", d), intLit("cms_sketch", "width", w))
    },
    fn("cms_estimate", "cms_estimate(sketch, item) - Point-frequency estimate from a cms_sketch binary.") {
      case Seq(s, i) => CmsEstimate(s, i)
    },
    // bounded-heap alternative to a rank window: map-side partials cap
    // the shuffle at k rows per group per task
    fn("top_k",
      "top_k(score, id, k) - Array of the k (score desc, id asc)-best (score, id) structs per group.") {
      case Seq(s, i, k) => TopKAgg(s, i, intLit("top_k", "k", k))
    },
    fn("bloom_agg", "bloom_agg(col[, numBits, k]) - Bloom filter of a bigint key column as binary.") {
      case Seq(c) => BloomAgg(c)
      case Seq(c, b, k) => BloomAgg(c, intLit("bloom_agg", "numBits", b), intLit("bloom_agg", "k", k))
    },
    fn("bloom_might_contain",
      "bloom_might_contain(bloom, key) - false = definitely absent; true = present or false positive.") {
      case Seq(b, k) => BloomMightContain(b, k)
    },
    fn("cms_join_size",
      "cms_join_size(sketchA, sketchB) - Equi-join cardinality estimate from two same-shape cms_sketch binaries (never underestimates).") {
      case Seq(a, b) => CmsJoinSize(a, b)
    },
    fn("hll_sketch", "hll_sketch(col[, p]) - HyperLogLog registers of a string column as binary (2^p bytes).") {
      case Seq(c) => HllAgg(c)
      case Seq(c, p) => HllAgg(c, intLit("hll_sketch", "p", p))
    },
    fn("hll_union", "hll_union(sketch) - Register-max union of stored hll_sketch binaries.") {
      case Seq(c) => HllUnionAgg(c)
    },
    fn("hll_estimate", "hll_estimate(sketch) - Cardinality estimate from an hll_sketch/hll_union binary.") {
      case Seq(c) => HllEstimate(c)
    })

  /** Register on an existing session (for sessions not built with
    * `withExtensions`). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg: FunctionRegistry = spark.sessionState.functionRegistry
    functions.foreach { case (id, inf, builder) => reg.registerFunction(id, inf, builder) }
  }
}
