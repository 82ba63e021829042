package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Behavioral specs for the wave-6 operators (q101–q104): URL
  * canonicalization edge cases the synthesized fixture can't reach,
  * gap-fill fill semantics and its skew bound, small-cell suppression,
  * grouping-sets ≡ union-of-group-bys. */
class Wave6Spec extends SparkSpec {

  private def canon(url: String): String = {
    import spark.implicits._
    Seq(url).toDF("u").select(Web.canonicalizeUrl(col("u"))).head().getString(0)
  }

  test("URL canonicalization: case, www, default ports, slash, fragment, tracking params") {
    assert(canon("HTTPS://WWW.Example.COM:443/a/b/?utm_source=x&z=1&a=2#frag")
      === "https://example.com/a/b?a=2&z=1")
    // non-default port survives; default port for the OTHER scheme survives
    assert(canon("http://example.com:8080/x") === "http://example.com:8080/x")
    assert(canon("http://example.com:443/x") === "http://example.com:443/x")
    assert(canon("https://example.com:80/x") === "https://example.com:80/x")
    // tracking-only query drops the '?' entirely; empty path becomes root
    assert(canon("https://example.com?fbclid=abc") === "https://example.com/")
    assert(canon("http://a.example.com/") === "http://a.example.com/")
    // already-canonical URLs are fixed points (idempotence)
    for (u <- Seq("https://example.com/", "http://e.co:8080/x?a=1&b=2",
                  "https://sub.example.com/docs/7"))
      assert(canon(u) === u, s"not a fixed point: $u")
    // non-URL-shaped input canonicalizes to NULL, not a '://' token
    // that would merge every malformed row into one dedup group
    import spark.implicits._
    val bad = Seq("not a url", "", "ftp-ish:/one-slash", "//proto-relative.example.com/x")
      .toDF("u").select(Web.canonicalizeUrl(col("u"))).collect()
    assert(bad.forall(_.isNullAt(0)))
  }

  test("URL canonicalization: two referrer-decorated spellings collide, distinct pages don't") {
    import spark.implicits._
    val urls = Seq(
      (1L, "https://WWW.Shop.example.com/item/9?utm_campaign=mail&gclid=Z"),
      (2L, "https://shop.example.com/item/9/"),
      (3L, "https://shop.example.com/item/10"))
      .toDF("id", "u")
      .select(col("id"), Web.canonicalizeUrl(col("u")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(urls(1L) === urls(2L))
    assert(urls(1L) !== urls(3L))
  }

  test("gap fill: gaps carry the last observed value; spine is span-bounded, not event-bounded") {
    import spark.implicits._
    val h = 3600000000000L
    // user 1: hours 10 and 13 active (gap at 11, 12); user 2: single hour
    // — and user 2's hour has 1000 events (the 'bot'): its spine stays 1 row
    val ev = Seq((1L, 10 * h + 5L, 2.0), (1L, 10 * h + 9L, 3.0), (1L, 13 * h, 7.0)) ++
      (1 to 1000).map(i => (2L, 20 * h + i.toLong, 1.0))
    val out = TimeSeries.hourlyGapFill(ev.toDF("user_id", "ts", "value"))
      .orderBy("user_id", "hour_idx").collect()
    val u1 = out.filter(_.getLong(0) == 1L)
    assert(u1.map(_.getLong(1)).toList === List(10L, 11L, 12L, 13L))
    assert(u1.map(_.getLong(2)).toList === List(2L, 0L, 0L, 1L))
    assert(u1.map(_.getDouble(3)).toList === List(5.0, 5.0, 5.0, 7.0))
    assert(u1.map(_.getBoolean(4)).toList === List(false, true, true, false))
    val u2 = out.filter(_.getLong(0) == 2L)
    assert(u2.length === 1 && u2.head.getLong(2) === 1000L)
    // distributed formulation: invariant to input partitioning
    val re = TimeSeries.hourlyGapFill(ev.toDF("user_id", "ts", "value").repartition(7))
      .orderBy("user_id", "hour_idx").collect()
    assert(re.map(_.toSeq).toList === out.map(_.toSeq).toList)
  }

  test("k-anonymity: cells below k release NULL measures, cells at/above k release exact values") {
    import spark.implicits._
    val d = 86400000000000L
    val ev = // day 1 'click': 3 users; day 1 'view': 2 users (k = 3)
      Seq((1L, "click", 10.0), (2L, "click", 20.0), (3L, "click", 30.0),
          (1L, "view", 1.0), (2L, "view", 2.0), (1L, "view", 4.0))
        .map { case (u, t, v) => (d + u * 1000L, u, t, v) }
    val out = Privacy.kAnonymousRelease(ev.toDF("ts", "user_id", "event_type", "value"), 3)
      .orderBy("event_type").collect()
    val click = out(0); val view = out(1)
    assert(!click.getBoolean(5) && click.getLong(2) === 3L &&
      click.getLong(3) === 3L && click.getDouble(4) === 60.0)
    assert(view.getBoolean(5) && view.isNullAt(2) && view.isNullAt(3) && view.isNullAt(4))
  }

  test("anomaly: a spike against a steady baseline flags; thin or flat baselines release NULL z") {
    import spark.implicits._
    val h = 3600000000000L
    // user 1: 24 steady-ish hours (alternating 10/12), then a 100.0 spike
    val u1 = (0 until 24).map(i => (1L, i * h + 1L, if (i % 2 == 0) 10.0 else 12.0)) :+
      ((1L, 24 * h + 1L, 100.0))
    // user 2: only 3 observed hours — never enough baseline
    val u2 = (0 until 3).map(i => (2L, i * h + 1L, 5.0))
    // user 3: 24 perfectly flat hours then a spike — zero variance, z undefined
    val u3 = (0 until 24).map(i => (3L, i * h + 1L, 7.0)) :+ ((3L, 24 * h + 1L, 99.0))
    val out = TimeSeries.hourlyAnomalies((u1 ++ u2 ++ u3).toDF("user_id", "ts", "value"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    val spike = out((1L, 24L))
    assert(spike.getBoolean(5) && spike.getDouble(4) > 3.0)
    // the steady hours are not anomalous
    assert((8 until 24).forall(i => !out((1L, i.toLong)).getBoolean(5)))
    assert(out((2L, 2L)).isNullAt(4) && !out((2L, 2L)).getBoolean(5))
    val flat = out((3L, 24L))
    assert(flat.isNullAt(4) && !flat.getBoolean(5))
  }

  test("URL dedup: decorated spellings collapse to one canonical page, keeper is min doc_id") {
    val out = Web.q106UrlDedup(spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    // every synthesized pair collapses: 2 raw urls, 2 distinct spellings,
    // the even (smaller) doc id keeps, and the tracking decoration is seen
    assert(out.forall(r => r.getLong(1) === 2L && r.getLong(2) === 2L))
    assert(out.forall(r => r.getLong(3) % 2 === 0L))
    assert(out.forall(_.getBoolean(4)))
    // and no two pages share a canonical URL
    assert(out.map(_.getString(0)).distinct.length === out.length)
  }

  test("CDC: changelog carries only the delta; applying it reconstructs the target snapshot") {
    import spark.implicits._
    val a = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"), (4L, "delta"))
      .toDF("doc_id", "text")
    val b = Seq((1L, "alpha"), (2L, "BETA"), (4L, "delta"), (9L, "new"))
      .toDF("doc_id", "text") // 2 changed, 3 removed, 9 added
    val log = SnapshotDiff.changelog(a, b).collect()
      .map(r => r.getLong(0) -> (r.getString(1), if (r.isNullAt(2)) null else r.getString(2))).toMap
    assert(log.keySet === Set(2L, 3L, 9L))
    assert(log(2L) === (("upsert", "BETA")))
    assert(log(3L) === (("delete", null)))
    assert(log(9L) === (("upsert", "new")))
    val v2 = SnapshotDiff.applyChangelog(a, SnapshotDiff.changelog(a, b))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(v2 === b.collect().map(r => r.getLong(0) -> r.getString(1)).toMap)
  }

  test("fuzzy dedup: distance bound and block cap both gate pairs") {
    import spark.implicits._
    // titles share the stable block slice (chars 9..16 = 'BLOCKSLC')
    val mk = (s: String) => "12345678BLOCKSLC" + s
    val titled = Seq(
      (1L, mk("same")), (2L, mk("samq")),      // dist 1 -> pair
      (3L, mk("saqq")),                        // dist 2 from #1 -> pair
      (4L, mk("zzzz")),                        // dist 4 from #1 -> dropped
      (5L, "XXXXXXXXOTHERBLK" + "same"))       // different block -> no pair with #1
      .toDF("doc_id", "title")
    val pairs = Fuzzy.fuzzyPairs(titled, maxDist = 2, maxBlock = 64L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairs === Set((1L, 2L, 1L), (1L, 3L, 2L), (2L, 3L, 1L)))
    // a hot block (cap 3 < 4 members) drops entirely — the q25 rule
    val capped = Fuzzy.fuzzyPairs(titled, maxDist = 2, maxBlock = 3L).collect()
    assert(capped.isEmpty)
  }

  test("pagerank: cycle symmetry, dangling redistribution, mass conservation, partition invariance") {
    import spark.implicits._
    // 3-cycle: perfectly symmetric, every round leaves ranks at 1/3
    val cyc = Graph.pageRank(Seq(1L, 2L, 3L).toDF("id"),
      Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst"), iters = 4)
      .collect().map(_.getDouble(1))
    assert(cyc.forall(_ === 0.333333333333))
    // dangling node: 1 -> 2, node 2 has no out-links; hand-computed round 1
    val d = Graph.pageRank(Seq(1L, 2L).toDF("id"),
      Seq((1L, 2L)).toDF("src", "dst"), iters = 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(d(1L) === 0.2875 && d(2L) === 0.7125)
    // the declared graph: mass conserved after 3 rounds, and the result
    // is invariant to input partitioning
    val out = Graph.q110PageRank(spark, "/root/testdata/sf0.001")
    val mass = out.agg(sum(col("rank").cast("decimal(28,12)"))).head().getDecimal(0)
    assert((mass.doubleValue - 1.0).abs < 1e-6, s"mass leaked: $mass")
    val nodes = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id").as("id")).repartition(7)
    val mx = nodes.agg(max(col("id"))).head().getLong(0)
    val re = Graph.pageRank(nodes, Graph.syntheticLinks(nodes, mx), iters = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out.collect().forall(r => re(r.getLong(0)) === r.getDouble(1)))
  }

  test("image perceptual dedup: re-encodes collide exactly, small edits land nearby, distinct images stay apart") {
    import spark.implicits._
    // deterministic 32x32 gradient image, bright left / dark right
    def base(): java.awt.image.BufferedImage = {
      val im = new java.awt.image.BufferedImage(32, 32,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 32; x <- 0 until 32) {
        val v = 255 - x * 8 max 0
        im.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      im
    }
    def enc(im: java.awt.image.BufferedImage, fmt: String): Array[Byte] = {
      val b = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(im, fmt, b)
      b.toByteArray
    }
    val a = base()                       // png
    val b = base()                       // SAME pixels, bmp encoding
    val c = base()                       // one 4x4 block flipped bright
    for (y <- 0 until 4; x <- 28 until 32) c.setRGB(x, y, 0xFFFFFF)
    val d = base()                       // mirrored gradient: far
    for (y <- 0 until 32; x <- 0 until 32) {
      val v = 255 - (31 - x) * 8 max 0
      d.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val media = Seq(
      (1L, enc(a, "png")), (2L, enc(b, "bmp")), (3L, enc(c, "png")),
      (4L, enc(d, "png")), (5L, Array[Byte](9, 9, 9)) /* corrupt: absent */ )
      .toDF("doc_id", "payload")
    val hashes = Multimodal.imageHashes(media)
    val hm = hashes.collect().map(ih => ih.doc_id -> ih.ahash).toMap
    // exact dedup (payload md5) CANNOT see 1≡2 — the hash must
    assert(hm(1L) === hm(2L))
    assert(java.lang.Long.bitCount(hm(1L) ^ hm(3L)) <= 3)
    assert(java.lang.Long.bitCount(hm(1L) ^ hm(4L)) > 3)
    assert(!hm.contains(5L))
    val pairs = Multimodal.imageNearDupPairsCollapsed(hashes.toDF())
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 3L)) &&
      pairs.contains((2L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("property: canonical URL is idempotent and invariant under random decoration (500 seeded cases)") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    def mixCase(s: String) = s.map(c => if (rnd.nextBoolean()) c.toUpper else c)
    // one page spec -> one DECORATED spelling (decoration must not
    // change the canonical form)
    def decorate(scheme: String, host: String, path: String,
                 params: Seq[String]): String = {
      val www = if (rnd.nextBoolean()) "www." else ""
      val port = if (rnd.nextBoolean()) (if (scheme == "https") ":443" else ":80") else ""
      val slash = if (path.nonEmpty && rnd.nextBoolean()) "/" else ""
      val tracking = Seq("utm_source=x", "utm_b=2", "gclid=g", "fbclid=f")
        .filter(_ => rnd.nextBoolean())
      val q = rnd.shuffle(params ++ tracking).mkString("&")
      val qs = if (q.nonEmpty) "?" + q else ""
      val frag = if (rnd.nextBoolean()) "#frag" else ""
      s"${mixCase(scheme)}://${mixCase(www + host)}$port$path$slash$qs$frag"
    }
    val cases = (0 until 500).map { i =>
      val scheme = if (rnd.nextBoolean()) "https" else "http"
      val host = s"h$i.example.com"
      val path = rnd.nextInt(3) match {
        case 0 => ""
        case n => (1 to n).map(k => s"/p$k").mkString
      }
      val params = Seq("a=1", "b=2", "c=3").take(rnd.nextInt(4))
      (i.toLong, decorate(scheme, host, path, params),
        decorate(scheme, host, path, params))
    }
    val out = cases.toDF("id", "u1", "u2").select(
        Web.canonicalizeUrl(col("u1")).as("c1"),
        Web.canonicalizeUrl(Web.canonicalizeUrl(col("u1"))).as("cc1"),
        Web.canonicalizeUrl(col("u2")).as("c2"))
      .collect()
    assert(out.forall(r => !r.isNullAt(0)))
    assert(out.forall(r => r.getString(0) === r.getString(1)), "not idempotent")
    assert(out.forall(r => r.getString(0) === r.getString(2)),
      "decoration leaked into the canonical form")
  }

  test("property: pagerank conserves mass on random graphs (3 seeds)") {
    import spark.implicits._
    for (seed <- Seq(1, 7, 13)) {
      val rnd = new scala.util.Random(seed)
      val nodes = (0L until 50L).toDF("id")
      val edges = (0L until 50L).flatMap { s =>
        (0 until rnd.nextInt(4)).map(_ => (s, rnd.nextInt(50).toLong))
      }.distinct
      val ranks = Graph.pageRank(nodes, edges.toDF("src", "dst"), iters = 3)
      val mass = ranks.agg(sum(col("rank").cast("decimal(28,12)"))).head()
        .getDecimal(0).doubleValue
      assert((mass - 1.0).abs < 1e-6, s"seed $seed leaked mass: $mass")
    }
  }

  test("grouping sets ≡ union of the four separate GROUP BYs") {
    val dir = "/root/testdata/sf0.001"
    val gs = graft.queries.Relational.q103GroupingSets(spark, dir)
    val docs = graft.Tables.documents(spark, dir)
    val bySrc = docs.groupBy("source").agg(count(lit(1)), sum("n_chars")).count()
    val byLang = docs.groupBy("lang").agg(count(lit(1))).count()
    val byBoth = docs.groupBy("source", "lang").agg(count(lit(1))).count()
    assert(gs.count() === bySrc + byLang + byBoth + 1)
    // the grand-total row carries the corpus totals
    val total = gs.filter(col("gid") === 3L).collect()
    assert(total.length === 1 && total.head.getLong(3) === docs.count())
  }
}
