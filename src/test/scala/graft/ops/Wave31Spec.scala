package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Wave 31: perceptual image near-dup (q224), frame sampling (q225),
  * tuned SemDeDup knob gating (q226), q210's executor-side DP. */
class Wave31Spec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("q224: PNG and BMP of the same pixels collide at Hamming 0; corpus decodes") {
    val cells = Multimodal.encodeCells _
    val px = Array.tabulate(64)(i => (i * 37) % 256)
    val hPng = Multimodal.aHash(cells(px, "png"))
    val hBmp = Multimodal.aHash(cells(px, "bmp"))
    assert(hPng.isDefined && hPng == hBmp, s"$hPng vs $hBmp")
    // every synthesized payload decodes through the REAL path
    val corpus = Multimodal.imageCorpus(spark, dir)
    val n = corpus.count()
    val hashed = Multimodal.imageHashes(
      corpus.select(col("img_id").as("doc_id"), col("payload"))).count()
    assert(n == hashed && n > 0, s"$hashed of $n decoded")
  }

  /** The plain banded pairing the collapsed plan replaced, kept here as
    * an oracle: band every row (not each distinct hash), join on
    * (band, bits), verify with `bit_count(xor)`. */
  private def plainBandedPairs(hashes: org.apache.spark.sql.DataFrame,
                               maxDist: Int = 3, nBands: Int = 4) = {
    val width = 64 / nBands
    val banded = hashes.select(col("doc_id"), col("ahash"),
        explode(array((0 until nBands).map { b =>
          struct(lit(b).as("band"),
            shiftrightunsigned(col("ahash"), b * width)
              .bitwiseAND(lit((1L << width) - 1)).as("bits"))
        }: _*)).as("bk"))
      .select(col("doc_id"), col("ahash"),
        col("bk.band").as("band"), col("bk.bits").as("bits"))
    banded.select(col("band"), col("bits"), col("doc_id").as("d1"), col("ahash").as("h1"))
      .join(banded.select(col("band"), col("bits"),
        col("doc_id").as("d2"), col("ahash").as("h2")), Seq("band", "bits"))
      .filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2"),
        bit_count(col("h1").bitwiseXOR(col("h2"))).cast("long").as("dist"))
      .filter(col("dist") <= maxDist)
      .distinct()
  }

  test("q224: collapsed banded pairing == plain banded pairing == definitional all-pairs") {
    import spark.implicits._
    // hand hash table with an identical-hash group (3 members), a
    // near pair at dist 2, a pair at dist 4 (excluded), singletons
    val h0 = 0x0123456789abcdefL
    val rows = Seq(
      (1L, h0), (2L, h0), (3L, h0),          // identical group
      (4L, h0 ^ 3L),                          // dist 2 from the group
      (5L, h0 ^ 0xf0L),                       // dist 4 — out
      (6L, 0x7777777777777777L))
      .toDF("doc_id", "ahash")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2))
    val plain = plainBandedPairs(rows).collect().map(key).toSet
    val coll = Multimodal.imageNearDupPairsCollapsed(rows).collect().map(key).toSet
    val defn = (for {
      a <- rows.collect(); b <- rows.collect()
      if a.getLong(0) < b.getLong(0)
      d = java.lang.Long.bitCount(a.getLong(1) ^ b.getLong(1))
      if d <= 3
    } yield (a.getLong(0), b.getLong(0), d.toLong)).toSet
    assert(plain == defn, s"plain $plain vs defn $defn")
    assert(coll == defn, s"collapsed $coll vs defn $defn")
    assert(defn.count(_._3 == 0L) == 3 && defn.count(_._3 == 2L) == 3)
  }

  test("q225: sampled frames are every 2nd 256-byte window of the payload") {
    import spark.implicits._
    val text = ("ab" * 400).take(700) // 3 windows: 256, 256, 188 — sample 0 and 2
    val df = Seq((9L, text.getBytes("UTF-8"))).toDF("doc_id", "payload")
    val out = Multimodal.sampleFrames(df).collect().sortBy(_.frame_idx)
    assert(out.length == 2)
    assert(out(0).frame_idx == 0 && out(0).n_bytes == 256L)
    assert(out(1).frame_idx == 1 && out(1).n_bytes == 188L)
    val md = java.security.MessageDigest.getInstance("MD5")
    val want = md.digest(text.substring(512).getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(out(1).frame_md5 == want)
  }

  test("q226: pick rule — cheapest clearing the bar, else best recall, first-extremum ties") {
    import graft.ops.AnnTuner.SemDedupKnobs
    val g1 = Seq(SemDedupKnobs(2, 0.9, 0.5), SemDedupKnobs(4, 0.8, 0.2),
      SemDedupKnobs(8, 0.6, 0.1))
    assert(AnnTuner.pickSemDedup(g1, 0.7).nlist == 4) // cheapest ok frac
    val g2 = Seq(SemDedupKnobs(2, 0.5, 0.5), SemDedupKnobs(4, 0.6, 0.2))
    assert(AnnTuner.pickSemDedup(g2, 0.7).nlist == 4) // nothing ok → max recall
    val g3 = Seq(SemDedupKnobs(2, 0.8, 0.2), SemDedupKnobs(4, 0.8, 0.2))
    assert(AnnTuner.pickSemDedup(g3, 0.7).nlist == 2) // full tie → first
  }

  test("q226: chosen row is unique and carries the realized removal count") {
    val out = Quantize.q226SemanticDedupTuned(spark, dir).collect()
    assert(out.nonEmpty)
    val chosen = out.filter(_.getBoolean(3))
    assert(chosen.length == 1, out.mkString(";"))
    assert(out.filterNot(_.getBoolean(3)).forall(_.getLong(4) == 0L))
  }

  test("q210: executor-side DP matches the recurrence on a hand series") {
    import spark.implicits._
    // one type, 4 days, burst on day 2-3 (counts 1,1,20,20 — strong
    // enough that the gamma entry cost is paid the first burst day)
    val day = 86400000000000L
    val ev = (Seq.fill(1)(0L) ++ Seq.fill(1)(1L) ++ Seq.fill(20)(2L) ++
      Seq.fill(20)(3L)).map(d => ("t", d * day + 5L)).toDF("event_type", "ts")
    val out = ChangePoint.burstDaily(ev).collect()
    assert(out.length == 4)
    // lam0 = 10.5, lam1 = 21; burst state wins exactly on the 20-count days
    assert(out.map(r => r.getBoolean(5)).toSeq == Seq(false, false, true, true),
      out.mkString(";"))
  }

  test("DecDot: accumulator overflow past precision 28 nulls like the HOF cast chain") {
    import spark.implicits._
    val big = Array.fill(4)(1e12f)
    val ok = Array.fill(4)(1.0f)
    val df = Seq((big, big), (ok, ok)).toDF("a", "b")
    val r = df.select(graft.functions.exprs.dec_dot(col("a"), col("b"), 12)
      .as("d")).collect()
    assert(r(0).isNullAt(0), s"overflow should null: ${r(0)}")
    assert(!r(1).isNullAt(0) && r(1).getDecimal(0).doubleValue() == 4.0)
  }
}
