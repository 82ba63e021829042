package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Behavioral specs for the wave-11 operators: KMV overlap profiling,
  * Cohen's kappa edge values, containment asymmetry, retention cohort
  * arithmetic, and the trailing-distinct merge-exactness property. */
class Wave11Spec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("overlapMatrix: estimates track true overlap; identical sets score jaccard 1") {
    import spark.implicits._
    val k = 128
    // a = 0..9999, b = 5000..17999 (true jaccard 5000/18000 ≈ 0.278),
    // c = a verbatim (true jaccard 1 with a)
    val rows = ((0 until 10000).map(i => ("a", s"v$i")) ++
      (5000 until 18000).map(i => ("b", s"v$i")) ++
      (0 until 10000).map(i => ("c", s"v$i"))).toDF("key", "v")
    val m = KmvSketch.overlapMatrix(KmvSketch.sketch(rows, "key", "v", k), k)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    val (uAB, iAB, jAB) = m(("a", "b"))
    assert(math.abs(uAB - 18000) / 18000.0 < 0.3, m.toString)
    assert(math.abs(jAB - 5000.0 / 18000) < 0.15, m.toString)
    assert(iAB > 0 && iAB < uAB)
    val (uAC, iAC, jAC) = m(("a", "c"))
    assert(jAC === 1.0) // identical kept min-k ⇒ every merged frac shared
    assert(iAC === uAC)
  }

  test("kappa: perfect agreement scores 1, perfect anti-agreement -1, the fixture pairs near 0") {
    import spark.implicits._
    // perfect: same label both sides; anti: disjoint halves swap labels
    val perfect = (0 until 100).map(i =>
      (1, 2, if (i % 2 == 0) "good" else "bad", if (i % 2 == 0) "good" else "bad"))
    val anti = (0 until 100).map(i =>
      (1, 3, if (i < 50) "good" else "bad", if (i < 50) "bad" else "good"))
    val out = Labeling.kappaByPair(
      (perfect ++ anti).toDF("j1", "j2", "la", "lb"), Seq("good", "ok", "bad"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(5)).toMap
    assert(out((1, 2)) === 1.0)
    assert(out((1, 3)) === -1.0)
    // the synthetic annotators are independent md5 streams: |κ| small
    val fixture = Labeling.q137AnnotatorKappa(spark, dir).collect()
    assert(fixture.length === 3)
    fixture.foreach(r => assert(math.abs(r.getDouble(5)) < 0.15, r.toString))
  }

  test("containment is asymmetric: a planted excerpt is contained, its container is not") {
    import spark.implicits._
    val host = (0 until 40).map(i => s"tok$i").mkString(" ") // 38 shingles
    val quote = (10 until 22).map(i => s"tok$i").mkString(" ") // 10 shingles, all in host
    val filler = (0 until 60).map(i => s"pad${i % 37} x$i").mkString(" ")
    val docs = Seq((1L, host), (2L, quote), (3L, filler)).toDF("doc_id", "text")
    val out = Dedup.containmentPairs(docs, threshold = 0.6, pin = Pin.Off)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(4)).toMap
    assert(out.get((2L, 1L)).contains(1.0), out.toString) // quote ⊂ host
    assert(!out.contains((1L, 2L)), out.toString) // host NOT ⊂ quote
    assert(!out.keys.exists { case (a, b) => a == 3L || b == 3L }) // filler alone
  }

  test("growth accounting: planted timeline decomposes actives exactly and balances churn") {
    import spark.implicits._
    val day = 86400000000000L
    // d0: u1,u2,u3 all new. d1: u1 retained, u4 new (u2,u3 churn into d1).
    // d2: u2 resurrected, u4 retained (u1 churns into d2).
    val ev = Seq(
      (1L, 0L), (2L, 0L), (3L, 0L),
      (1L, 1L), (4L, 1L),
      (2L, 2L), (4L, 2L),
      (1L, 1L) // same user-day twice: distinct folds it
    ).map { case (u, d) => (u, d * day + 12345L) }.toDF("user_id", "ts")
    val out = TimeSeries.growthAccounting(ev).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(out(0L) === ((3L, 3L, 0L, 0L, 0L)))
    assert(out(1L) === ((2L, 1L, 1L, 0L, 2L))) // u2,u3 churned into d1
    assert(out(2L) === ((2L, 0L, 1L, 1L, 1L))) // u1 churned into d2
    assert(out.size === 3)
    // the growth-accounting identity holds row-for-row
    out.values.foreach { case (act, nw, ret, res, _) =>
      assert(act === nw + ret + res)
    }
    // and churn balances: active(d-1) - retained(d) = churned(d)
    assert(out(0L)._1 - out(1L)._3 === out(1L)._5)
    assert(out(1L)._1 - out(2L)._3 === out(2L)._5)
  }

  test("trailingDistinct: merged hourly partials ≡ from-scratch window sketch; estimate tracks exact") {
    val ev = graft.Tables.events(spark, dir)
    val merged = KmvSketch.trailingDistinct(ev, windowHours = 24, k = 128)
    // direct: sketch the window's raw union per active hour
    val eh = ev.select(expr("ts DIV 3600000000000").as("h"),
      col("user_id").cast("string").as("v")).distinct()
    val hrs = eh.select(col("h").as("hh")).distinct()
    val win = hrs.join(eh, col("h").between(col("hh") - 23, col("hh")))
      .select(col("hh"), col("v"))
    val direct = KmvSketch.sketch(win, "hh", "v", 128)
      .select(col("key").as("hour_idx"), size(col("minK")).cast("long").as("n_kept"),
        round(KmvSketch.estimate(col("minK"), 128), 6).as("kmv_est"))
    val a = merged.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val b = direct.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(a === b) // the mergeability property, end to end
    // accuracy vs exact trailing distincts
    val exact = win.groupBy(col("hh")).agg(countDistinct(col("v")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    exact.foreach { case (h, n) =>
      val est = a(h)._2
      if (n < 128) assert(est === n.toDouble, s"hour $h")
      else assert(math.abs(est - n) / n.toDouble < 0.35, s"hour $h: est $est exact $n")
    }
  }
}
