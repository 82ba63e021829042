package graft.functions

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions.col
import graft.{GraftExtensions, SparkSpec}
import graft.ops.TopKPerGroup

/** The SQL functions' argument contract: argument counts and constant
  * arguments are refused with `IllegalArgumentException` when the plan is
  * built, input types by the analyzer, and the Column API runs the same
  * constant checks as SQL. */
class FunctionContractSpec extends SparkSpec {

  /** Each SQL function's usage text and its largest accepted argument
    * count (`ac_counts` is variadic: its wrong count is no pattern). */
  private val contract: Seq[(String, String, Int)] = Seq(
    ("tokenize_s3_log", "tokenize_s3_log(line) - Splits an S3 access-log line into fields.", 1),
    ("ipv4_to_long", "ipv4_to_long(ip) - Dotted-quad IPv4 to its unsigned 32-bit value (NULL if invalid).", 1),
    ("cosine_similarity", "cosine_similarity(a, b) - Cosine similarity of two float arrays.", 2),
    ("int_dot", "int_dot(a, b) - Exact integer dot product of two bigint arrays.", 2),
    ("rolling_hash64", "rolling_hash64(s) - 64-bit polynomial rolling hash of a string.", 1),
    ("winnow_fingerprints", "winnow_fingerprints(tokens, k, w) - Distinct winnowing (SIGMOD'03) fingerprints of the k-grams of a token array under window w.", 3),
    ("substr_window_hashes", "substr_window_hashes(s, L) - Rolling hash of every length-L character window of s, in position order.", 2),
    ("ac_counts", "ac_counts(s, p1, p2, ...) - Per-pattern overlapping occurrence counts via one Aho-Corasick pass.", 0),
    ("cms_sketch", "cms_sketch(col[, depth, width]) - Count-Min Sketch of a string column as binary.", 3),
    ("cms_estimate", "cms_estimate(sketch, item) - Point-frequency estimate from a cms_sketch binary.", 2),
    ("top_k", "top_k(score, id, k) - Array of the k (score desc, id asc)-best (score, id) structs per group.", 3),
    ("bloom_agg", "bloom_agg(col[, numBits, k]) - Bloom filter of a bigint key column as binary.", 3),
    ("bloom_might_contain", "bloom_might_contain(bloom, key) - false = definitely absent; true = present or false positive.", 2),
    ("cms_join_size", "cms_join_size(sketchA, sketchB) - Equi-join cardinality estimate from two same-shape cms_sketch binaries (never underestimates).", 2),
    ("hll_sketch", "hll_sketch(col[, p]) - HyperLogLog registers of a string column as binary (2^p bytes).", 2),
    ("hll_union", "hll_union(sketch) - Register-max union of stored hll_sketch binaries.", 1),
    ("hll_estimate", "hll_estimate(sketch) - Cardinality estimate from an hll_sketch/hll_union binary.", 1))

  private def refused(sql: String): IllegalArgumentException = {
    GraftExtensions.register(spark)
    intercept[IllegalArgumentException](spark.sql(sql))
  }

  test("every SQL function refuses a wrong argument count, naming itself") {
    assert(contract.map(_._1).toSet == GraftExtensions.functions.map(_._1.funcName).toSet)
    contract.foreach { case (name, _, maxArgs) =>
      val args = if (maxArgs == 0) "'x'" else Seq.fill(maxArgs + 1)("1").mkString(", ")
      val e = refused(s"SELECT $name($args)")
      assert(e.getMessage.contains(name) && e.getMessage.contains("arguments"), e.getMessage)
    }
    // dropping the extra argument would answer 3221225985 without a word
    assert(refused("SELECT ipv4_to_long('192.0.2.1', 'x')").getMessage.contains("ipv4_to_long"))
  }

  test("a constant argument given as a column is refused, naming the argument") {
    Seq(
      "SELECT winnow_fingerprints(array('a', 'b'), CAST(id AS INT), 8) FROM range(1)" -> "k",
      "SELECT winnow_fingerprints(array('a', 'b'), 3, CAST(id AS INT)) FROM range(1)" -> "w",
      "SELECT substr_window_hashes('abc', CAST(id AS INT)) FROM range(1)" -> "L",
      "SELECT cms_sketch('a', CAST(id AS INT), 64) FROM range(1)" -> "depth",
      "SELECT hll_sketch('a', CAST(id AS INT)) FROM range(1)" -> "p",
      "SELECT top_k(1.0D, 1L, CAST(id AS INT)) FROM range(1)" -> "k",
      "SELECT ac_counts('abc', CAST(id AS STRING)) FROM range(1)" -> "patterns"
    ).foreach { case (sql, arg) =>
      val msg = refused(sql).getMessage
      assert(msg.contains(s"$arg must be") && msg.contains("literal"), s"$sql: $msg")
    }
  }

  test("a wrong input type is an analysis error") {
    GraftExtensions.register(spark)
    Seq(
      "SELECT tokenize_s3_log(1)",
      "SELECT cosine_similarity(array(1.0D), array(2.0D))",
      "SELECT bloom_agg('x')"
    ).foreach { sql =>
      val e = intercept[AnalysisException](spark.sql(sql))
      assert(e.getMessage.contains("DATATYPE_MISMATCH"), s"$sql: ${e.getMessage}")
    }
  }

  test("out-of-range constants are refused when the Column is built, on both paths") {
    intercept[IllegalArgumentException](TopKPerGroup.topKColumn(col("s"), col("i"), 0))
    intercept[IllegalArgumentException](exprs.cms_sketch(col("c"), 5, 0))
    intercept[IllegalArgumentException](BloomAgg(Literal(1L), 0, 1))
    intercept[IllegalArgumentException](exprs.winnow_fingerprints(col("c"), 0, 8))
    intercept[IllegalArgumentException](exprs.dec_dot(col("a"), col("b"), 19))
    intercept[IllegalArgumentException](exprs.ac_counts(col("c"), Seq.empty))
    // SQL reaches the same checks through the expressions' constructors
    assert(refused("SELECT top_k(1.0D, 1L, 0)").getMessage.contains("top_k"))
    assert(refused("SELECT bloom_agg(1L, 32, 1)").getMessage.contains("bloom_agg"))
    assert(refused("SELECT cms_sketch('a', 5, 0)").getMessage.contains("cms_sketch"))
  }

  test("every SQL function keeps its catalog description") {
    GraftExtensions.register(spark)
    contract.foreach { case (name, usage, _) =>
      assert(spark.catalog.getFunction(name).description == usage, name)
    }
  }
}
