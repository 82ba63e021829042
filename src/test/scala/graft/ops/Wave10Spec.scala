package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Behavioral specs for the wave-10 operators: PMI arithmetic on a
  * planted corpus, the horizon-dedup equivalence to the unbucketed
  * chain, and KMV accuracy / mergeability / intersection. */
class Wave10Spec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("pmiPairs: planted co-occurrence scores ln 2 exactly; independent pair excluded") {
    import spark.implicits._
    // 20 docs: "xx yy" together in the first 10 only → df(xx)=df(yy)=10,
    // n_pair=10, N=20 → pmi = ln(10·20/(10·10)) = ln 2. "aa" is in ALL
    // docs, so pmi(aa, xx) = ln(10·20/(20·10)) = 0 — killed by the
    // positive filter (statistical independence carries no signal).
    val docs = (0 until 20).map { i =>
      (i.toLong, if (i < 10) "aa xx yy" else "aa zz")
    }.toDF("doc_id", "text")
    val out = Collocations.pmiPairs(docs, "text", "doc_id",
      maxTokens = 48, minPairDocs = 5L).collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out.get(("xx", "yy")).map(_._1) === Some(10L))
    assert(out(("xx", "yy"))._2 === math.rint(math.log(2.0) * 1e6) / 1e6)
    assert(!out.contains(("aa", "xx")) && !out.contains(("aa", "yy")),
      out.toString) // independence → pmi 0 → excluded
    // aa-zz: n=10, df(aa)=20, df(zz)=10 → ln(10·20/200)=0 → excluded too
    assert(!out.contains(("aa", "zz")))
  }

  test("horizon dedup equals the unbucketed chain restricted to the horizon") {
    val full = Dedup.minhashLshPairs(graft.Tables.documents(spark, dir))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => math.abs(a % 120 - b % 120) <= 7 }.toSet
    val horizon = Dedup.q134HorizonDedup(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(horizon === full)
    // and nothing beyond the horizon leaks through
    assert(horizon.forall { case (a, b) => math.abs(a % 120 - b % 120) <= 7 })
  }

  test("KMV: accuracy ~1/sqrt(k), merge = sketch of union, intersection estimate sane") {
    import spark.implicits._
    val k = 128
    // two overlapping id sets as string values: A = 0..9999, B = 5000..17999
    val a = (0 until 10000).map(i => ("a", s"v$i"))
    val b = (5000 until 18000).map(i => ("b", s"v$i"))
    val rows = (a ++ b).toDF("key", "v")
    val sk = KmvSketch.sketch(rows, "key", "v", k)
    val est = sk.select(col("key"), KmvSketch.estimate(col("minK"), k).as("e"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(est("a") - 10000) / 10000.0 < 0.3, est.toString)
    assert(math.abs(est("b") - 13000) / 13000.0 < 0.3, est.toString)
    // mergeability: min-k of (minK_a ++ minK_b) == sketch of the union
    val unionSketch = KmvSketch.sketch(
      (a ++ b).map { case (_, v) => ("u", v) }.toDF("key", "v"), "key", "v", k)
      .select(col("minK")).head().getSeq[Double](0)
    val mergedViaArrays = sk.agg(
      slice(array_sort(array_distinct(flatten(collect_list(col("minK"))))), 1, k)
        .as("m")).head().getSeq[Double](0)
    assert(unionSketch === mergedViaArrays)
    // intersection: true overlap 5000 of union 18000
    val inter = KmvSketch.overlapMatrix(sk, k)
      .filter(col("s1") === "a" && col("s2") === "b")
      .select(col("inter_est")).head().getDouble(0)
    assert(math.abs(inter - 5000) / 5000.0 < 0.5, inter.toString)
  }
}
