package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Specs for the round-7 surface additions: BM25 retrieval (q58),
  * token-window chunking (q59), PII scan/redaction (q60) and per-source
  * quota selection (q61) — the properties the DuckDB oracle can't see:
  * planted-fixture behavior, window-formulation equivalence, and the
  * redaction algebra. */
class RetrievalSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  import Retrieval.{bm25TopK}

  test("bm25: top-k is exactly the k best of the full ranking") {
    val docs = graft.Tables.documents(spark, dir)
    val q = Seq("spark", "vector", "merge", "window")
    val full = bm25TopK(docs, q, k = Int.MaxValue).collect()
      .map(r => (r.getLong(0), r.getDouble(3)))
    val expected = full.sortBy { case (id, sc) => (-sc, id) }.take(20)
      .map(_._1).toSet
    val got = bm25TopK(docs, q, k = 20).collect().map(_.getLong(0)).toSet
    assert(got == expected, "top-20 is not the 20 best-scored documents")
  }

  test("bm25 posting-list layout: bucketed top-k equals the scan-time ranking row-for-row") {
    val docs = graft.Tables.documents(spark, dir)
    val dst = java.nio.file.Files.createTempDirectory("graft-postings")
      .toFile.getAbsolutePath + "/idx"
    Retrieval.writePostingsBucketed(docs, dst, nBuckets = 16)
    // two query shapes: the q58 terms, and a query with a term absent
    // from the corpus bucket-mates (exercises empty-posting handling)
    for (q <- Seq(Seq("spark", "vector", "merge", "window"),
                  Seq("spark", "zzz_not_a_term"))) {
      val scan = bm25TopK(docs, q, k = 20).collect().toSeq
      val idx = Retrieval.bucketedBm25TopK(spark, dst, q, k = 20).collect().toSeq
      assert(idx == scan,
        s"index != scan for $q:\nidx=${idx.take(5)}\nscan=${scan.take(5)}")
    }
    // driver- and executor-side bucket functions agree term-by-term
    import spark.implicits._
    val terms = Seq("spark", "vector", "merge", "window", "the", "Ünïcode")
    val sparkSide = terms.toDF("term")
      .select(pmod(conv(substring(md5(col("term")), 1, 13), 16, 10).cast("long"),
        lit(16L)).cast("int"))
      .as[Int].collect().toSeq
    assert(sparkSide == terms.map(BucketStore.termBucket(_, 16)))
  }

  test("bm25 index deletes: masked probe ≡ survivor rebuild; purge physical; re-run no-op") {
    import org.apache.spark.sql.functions.col
    val docs = graft.Tables.documents(spark, dir)
    val dst = java.nio.file.Files.createTempDirectory("graft-postings-del")
      .toFile.getAbsolutePath + "/idx"
    Retrieval.writePostingsBucketed(docs, dst, nBuckets = 16)
    val q = Seq("spark", "vector", "merge", "window")

    // delete a slice that includes docs HOLDING query terms (so df and
    // rankings must actually move, not just the totals)
    val deadIds = docs.filter(col("doc_id") % 5 === 0).select(col("doc_id"))
    val nTomb = BucketStore.tombstone(deadIds, dst)
    assert(nTomb > 0)
    val survivors = docs.filter(col("doc_id") % 5 =!= 0)
    val expect = bm25TopK(survivors, q, k = 20).collect().toSeq
    assert(expect != bm25TopK(docs, q, k = 20).collect().toSeq,
      "fixture too weak: the deleted slice does not change the ranking")

    // masked probe ≡ an index freshly built from the survivors
    val masked = Retrieval.bucketedBm25TopK(spark, dst, q, k = 20).collect().toSeq
    assert(masked == expect, "masked probe diverged from a survivor rebuild")

    // physical purge: same answers, no tombstone sidecar, no dead rows
    val (purged, touched) = Retrieval.purgePostingTombstones(spark, dst)
    assert(purged == nTomb && touched.nonEmpty)
    assert(!new java.io.File(dst + "_tombstones").exists)
    val afterPurge = Retrieval.bucketedBm25TopK(spark, dst, q, k = 20).collect().toSeq
    assert(afterPurge == expect, "post-purge probe diverged")
    val deadLeft = spark.read.parquet(dst)
      .join(deadIds, Seq("doc_id"), "left_semi").count()
    assert(deadLeft == 0, s"$deadLeft dead posting rows survived the purge")

    // purge re-run is a no-op; answers stable
    val (rerunN, rerunBuckets) = Retrieval.purgePostingTombstones(spark, dst)
    assert(rerunN == 0L && rerunBuckets.isEmpty)
    assert(Retrieval.bucketedBm25TopK(spark, dst, q, k = 20).collect().toSeq == expect)

    // delete-then-append composes: append fresh docs after the purge,
    // the index answers like a scan of (survivors ∪ appended)
    val appended = survivors.orderBy(col("doc_id")).limit(20)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    Retrieval.appendToPostings(appended, dst)
    val unioned = survivors.select(col("doc_id"), col("text"))
      .unionByName(appended)
    val scanU = bm25TopK(unioned, q, k = 20).collect().toSeq
    val idxU = Retrieval.bucketedBm25TopK(spark, dst, q, k = 20).collect().toSeq
    assert(idxU == scanU, "post-purge append diverged from the unioned scan")
  }

  test("bm25 index sync: add/remove/change/re-add all land; index ≡ scan of the new corpus") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    val docs = graft.Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val dst = java.nio.file.Files.createTempDirectory("graft-postings-sync")
      .toFile.getAbsolutePath + "/idx"
    Retrieval.writePostingsBucketed(docs, dst, nBuckets = 16)
    val q = Seq("spark", "vector", "merge", "window")

    // corpus v2: %7==0 docs removed, %7==1 docs changed (text mutated so
    // the ranking must move), 20 fresh docs added
    val removedIds = docs.filter(col("doc_id") % 7 === 0)
    val v2 = docs.filter(col("doc_id") % 7 =!= 0)
      .withColumn("text",
        org.apache.spark.sql.functions.when(col("doc_id") % 7 === 1,
          concat(col("text"), lit(" spark spark window"))).otherwise(col("text")))
      .unionByName(docs.filter(col("doc_id") % 7 === 2)
        .orderBy(col("doc_id")).limit(20)
        .select((col("doc_id") + 5000000L).as("doc_id"), col("text")))
    val (purged, masked, appended) = Retrieval.syncPostings(docs, v2, dst)
    assert(purged > 0 && masked > 0 && appended > 0,
      s"sync must exercise all three verdicts: $purged/$masked/$appended")
    assert(Retrieval.bucketedBm25TopK(spark, dst, q, 20).collect().toSeq ==
      bm25TopK(v2, q, 20).collect().toSeq,
      "synced index diverged from a scan of the new corpus")

    // re-add a lazily-removed doc in a LATER sync: the standing
    // tombstone must not mask the returning twin
    val readd = removedIds.orderBy(col("doc_id")).limit(5)
    val v3 = v2.unionByName(readd)
    Retrieval.syncPostings(v2, v3, dst)
    assert(Retrieval.bucketedBm25TopK(spark, dst, q, 20).collect().toSeq ==
      bm25TopK(v3, q, 20).collect().toSeq,
      "re-added docs stayed masked after a lazy removal sync")
  }

  test("bm25 index append after a crashed bucket swap keeps the bucket's old rows through the next purge") {
    val docs = graft.Tables.documents(spark, dir)
    val dst = java.nio.file.Files.createTempDirectory("graft-postings-bak")
      .toFile.getAbsolutePath + "/idx"
    Retrieval.writePostingsBucketed(docs.filter(col("doc_id") % 2 === 0), dst, nBuckets = 2)
    def rows(p: String) = spark.read.parquet(p).count()
    val (postBefore, dlBefore) = (rows(dst), rows(dst + "_dl"))
    // a purge crashed between live → .bak and fresh → live, in two stores
    for ((root, part) <- Seq(dst -> "bucket=0", dst + "_dl" -> "dbucket=0"))
      assert(new java.io.File(root, part).renameTo(new java.io.File(root, part + ".bak")))
    val batch = docs.filter(col("doc_id") % 2 =!= 0)
    val (appended, touched) = Retrieval.appendToPostings(batch, dst)
    assert(touched.contains(0), "degenerate fixture: the batch missed bucket 0")
    Retrieval.purgePostingTombstones(spark, dst)
    assert(rows(dst) == postBefore + appended)
    assert(rows(dst + "_dl") == dlBefore + batch.count())
  }

  test("bm25 index append: equals a scan of the unioned corpus; untouched buckets stable") {
    val docs = graft.Tables.documents(spark, dir)
    val first = docs.filter(col("doc_id") % 2 === 0)
    val rest = docs.filter(col("doc_id") % 2 =!= 0)
    val dst = java.nio.file.Files.createTempDirectory("graft-postapp")
      .toFile.getAbsolutePath + "/idx"
    Retrieval.writePostingsBucketed(first, dst, nBuckets = 16)

    def filesPerBucket: Map[String, Set[String]] =
      new java.io.File(dst).listFiles().filter(_.getName.startsWith("bucket="))
        .map(d => d.getName -> d.listFiles().map(_.getName)
          .filter(_.endsWith(".parquet")).toSet).toMap
    val before = filesPerBucket
    val (appended, touched) = Retrieval.appendToPostings(rest, dst)
    assert(appended > 0 && touched.nonEmpty)
    val after = filesPerBucket
    val touchedDirs = touched.map(b => s"bucket=$b").toSet
    for ((d, fs) <- before if !touchedDirs.contains(d))
      assert(after(d) == fs, s"untouched bucket dir $d changed")

    // the appended index answers EXACTLY like a scan of the full corpus
    // — df and totals reconcile across the segment sums
    for (q <- Seq(Seq("spark", "vector", "merge", "window"), Seq("the"))) {
      val scan = bm25TopK(docs, q, k = 20).collect().toSeq
      val idx = Retrieval.bucketedBm25TopK(spark, dst, q, k = 20).collect().toSeq
      assert(idx == scan, s"appended index != full scan for $q")
    }

    // compaction collapses the df/totals segments to one row per key
    // without changing a single score
    val (dfBefore, dfAfter) = Retrieval.compactIndex(spark, dst)
    assert(dfAfter < dfBefore, s"no segment collapse: $dfBefore -> $dfAfter")
    assert(dfAfter == spark.read.parquet(dst + "_df")
      .select("term").distinct().count())
    assert(spark.read.parquet(dst + "_totals").count() == 1)
    for (q <- Seq(Seq("spark", "vector", "merge", "window"), Seq("the"))) {
      val scan = bm25TopK(docs, q, k = 20).collect().toSeq
      val idx = Retrieval.bucketedBm25TopK(spark, dst, q, k = 20).collect().toSeq
      assert(idx == scan, s"compacted index != full scan for $q")
    }
  }

  test("bm25: more query-term mass at equal length ranks higher; idf favors rare terms") {
    import spark.implicits._
    // equal-length docs: d0 has the query term 4x, d1 once, d2 none
    val docs = Seq(
      (0L, "spark spark spark spark pad pad pad pad"),
      (1L, "spark pad pad pad pad pad pad pad"),
      (2L, "pad pad pad pad pad pad pad pad"),
      // d3/d4: one hit each of a COMMON vs a RARE query term
      (3L, "common pad pad pad pad pad pad pad"),
      (4L, "rare pad pad pad pad pad pad pad"),
      (5L, "common pad2 pad pad pad pad pad pad"),
      (6L, "common pad3 pad pad pad pad pad pad")
    ).toDF("doc_id", "text")
    val out = bm25TopK(docs, Seq("spark", "common", "rare"), k = 10).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(out(0L) > out(1L), "4 hits must outscore 1 hit at equal length")
    assert(!out.contains(2L), "a doc with zero query terms must not be retrieved")
    assert(out(4L) > out(3L), "a rarer term (df=1) must outscore a common one (df=3)")
  }

  test("hard negatives: near-dups excluded, no-overlap docs absent, df cap drops boilerplate") {
    import spark.implicits._
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon boiler one two three"), // the query
      (1L, "alpha beta gamma delta epsilon boiler one two three"), // exact dup -> excluded
      (2L, "alpha beta gamma delta epsilon boiler c1 c2 c3"),      // close but jaccard 0.4 -> rank 1
      (3L, "epsilon boiler d1x d2x d3x d4x d5x d6x d7x"),          // two shared terms
      (4L, "f1 f2 f3 f4 f5 f6 f7 f8 f9"),                          // nothing shared -> absent
      (5L, "boiler e1x e2x e3x e4x e5x e6x e7x e8x"))              // boilerplate-only overlap
      .toDF("doc_id", "text")
    val isQ = col("doc_id") === 0L
    val un = Retrieval.hardNegatives(docs, isQ).collect()
    val unIds = un.map(_.getLong(2))
    assert(unIds.sorted.sameElements(Array(2L, 3L, 5L)),
      s"uncapped negatives: got ${unIds.toSeq} — self (0) and its near-dup (1) " +
        "must be excluded, the no-overlap doc (4) absent")
    assert(un.minBy(_.getLong(1)).getLong(2) == 2L,
      "the 6-shared-term doc must rank first")
    // dfCap = 4 drops 'boiler' (df 5): the boilerplate-only candidate
    // disappears; candidates carried by informative terms survive
    val capped = Retrieval.hardNegatives(docs, isQ, dfCap = 4L)
      .collect().map(_.getLong(2))
    assert(capped.sorted.sameElements(Array(2L, 3L)),
      s"capped negatives: got ${capped.toSeq}")
  }

  test("chunking: windows tile every token with the declared overlap; hashes are the slice hashes") {
    import spark.implicits._
    // 100 tokens -> chunks [1..64], [49..100]; 64 tokens -> one chunk;
    // 65 tokens -> [1..64], [49..65]; blank doc -> no chunks
    val t100 = (1 to 100).map(i => s"w$i").mkString(" ")
    val t64 = (1 to 64).map(i => s"w$i").mkString(" ")
    val t65 = (1 to 65).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, t100), (2L, t64), (3L, t65), (4L, "  ")).toDF("doc_id", "text")
    val out = Chunking.chunk(docs, maxLen = 64, stride = 48).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    val byDoc = out.groupBy(_._1)
    assert(!byDoc.contains(4L), "blank doc must produce no chunks")
    assert(byDoc(2L).length == 1 && byDoc(2L)(0)._4 == 64L)
    assert(byDoc(1L).map(c => (c._3, c._4)).toSeq.sorted == Seq((1L, 64L), (49L, 52L)))
    assert(byDoc(3L).map(c => (c._3, c._4)).toSeq.sorted == Seq((1L, 64L), (49L, 17L)))
    // hash of the second chunk of t100 == md5 of tokens 49..100
    val exp = java.security.MessageDigest.getInstance("MD5")
      .digest((49 to 100).map(i => s"w$i").mkString(" ").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(byDoc(1L).find(_._2 == 1L).get._5 == exp)
    // every token is covered: last chunk reaches n, consecutive starts differ by stride
    byDoc.values.foreach { cs =>
      val sorted = cs.sortBy(_._2)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(b._3 - a._3 == 48L)
        case _ =>
      }
      val n = Seq(100L, 64L, 65L)(sorted.head._1.toInt - 1)
      assert(sorted.last._3 + sorted.last._4 - 1 == n, "last chunk must end at the last token")
    }
  }

  test("pii: planted identifiers are counted and redacted in the fixed order") {
    import spark.implicits._
    val df = Seq(
      (1L, "contact bob.smith+x@ex-ample.org from 10.0.0.1 acct 123456789"),
      (2L, "digits-in-email a1234567@b.co stay whole"),
      (3L, "no identifiers here"),
      (4L, "two ips 10.0.0.1 192.168.254.254 and run 0007")
    ).toDF("id", "text")
    val out = Privacy.piiScan(df, col("text")).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3), r.getLong(4),
        r.getString(5))).toMap
    assert(out(1L) == ((1L, 1L, 1L,
      "contact <EMAIL> from <IP> acct <NUM>")))
    // the email's digit run is consumed by the email pass, never split —
    // and NOT counted as a digit run (counts reconcile with placeholders)
    assert(out(2L) == ((1L, 0L, 0L, "digits-in-email <EMAIL> stay whole")))
    assert(out(3L) == ((0L, 0L, 0L, "no identifiers here")))
    assert(out(4L) == ((0L, 2L, 1L, "two ips <IP> <IP> and run <NUM>")))
    // count ⇔ placeholder reconciliation holds for every row
    out.values.foreach { case (ne, ni, nd, red) =>
      assert(ne == "<EMAIL>".r.findAllIn(red).length &&
        ni == "<IP>".r.findAllIn(red).length &&
        nd == "<NUM>".r.findAllIn(red).length)
    }
    // redaction is idempotent: placeholders carry no identifier shapes
    val redacted = Privacy.piiScan(
      df.select(col("id"), Privacy.redactDigitRuns(Privacy.redactIps(
        Privacy.redactEmails(col("text")))).as("text")), col("text"))
      .collect().map(r => (r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(redacted.forall(_ == ((0L, 0L, 0L))))
  }

  test("pii over the log lines: counts equal a driver-side regex recompute") {
    val out = Privacy.q60PiiRedact(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out.nonEmpty)
    assert(out.values.forall(_._2 == 1L), "each synthesized line has one remoteip")
    // exact recompute: stage the raw lines driver-side and apply the
    // same patterns with Java regex — any drift in the line synthesis,
    // the patterns, or the staged counting fails here
    val lines = graft.Tables.events(spark, dir)
      .select(col("event_id"),
        graft.queries.LogParsing.syntheticLogLine.as("line")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val email = Privacy.EmailPattern.r
    val ip = Privacy.Ipv4Pattern.r
    val run = Privacy.DigitRunPattern.r
    lines.foreach { case (id, l) =>
      val afterEmails = email.replaceAllIn(l, "<EMAIL>")
      val afterIps = ip.replaceAllIn(afterEmails, "<IP>")
      val expected = (email.findAllIn(l).length.toLong,
        ip.findAllIn(afterEmails).length.toLong,
        run.findAllIn(afterIps).length.toLong)
      assert(out(id) == expected, s"scan counts drifted on event $id: $l")
    }
    // the 12-digit ARN account id is present exactly on purchase/click
    // lines — and the exact recompute above already proves it lands in
    // the digit-run counts
    val types = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("event_type")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    lines.foreach { case (id, l) =>
      assert(l.contains("123456789012") ==
        Set("purchase", "click").contains(types(id)))
    }
  }

  test("weighted sample: keys match the driver-side ES formula; mixture weight drives the draw") {
    import spark.implicits._
    // two equal-count sources; B has ~100x the token mass, so after the
    // α=0.3 flattening w_B ≈ 4x w_A and B must dominate the sample
    val docs = (0L until 50L).map(i => (i, "a", "tok"))
      .++((50L until 100L).map(i => (i, "b", Seq.fill(100)("tok").mkString(" "))))
      .toDF("doc_id", "source", "text")
    val out = Mixing.weightedSample(docs, k = 30).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getDouble(3)))
    assert(out.length == 30)
    // driver-side recompute of the full ranking from the collected weights
    val wBySource = Mixing.domainWeights(docs).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Double]("weight"), r.getAs[Long]("n_docs"))).toMap
    def key(id: Long, src: String): Double = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"wsample:$id".getBytes("UTF-8")).map("%02x".format(_)).mkString
      val h = java.lang.Long.parseLong(hex.take(13), 16)
      val u = (h.toDouble + 1.0) / 4503599627370496.0
      val (w, n) = wBySource(src)
      val lnU = BigDecimal(math.log(u)).setScale(12, BigDecimal.RoundingMode.HALF_UP)
      BigDecimal(-lnU.toDouble / (w / n.toDouble))
        .setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val expected = (0L until 100L)
      .map(i => (i, if (i < 50) "a" else "b"))
      .sortBy { case (id, src) => (key(id, src), id) }.take(30).map(_._1).toSet
    assert(out.map(_._1).toSet == expected,
      "engine sample diverged from the driver-side ES ranking")
    val (wa, wb) = (wBySource("a")._1, wBySource("b")._1)
    assert(wb > 2 * wa, s"flattened weights not separated: a=$wa b=$wb")
    val nB = out.count(_._2 == "b")
    assert(nB > 15, s"higher-weight source drew only $nB/30")
  }

  test("snapshot diff: planted add/remove/change/unchange all classify exactly") {
    import spark.implicits._
    val a = Seq((1L, "same"), (2L, "old"), (3L, "gone")).toDF("doc_id", "text")
    val b = Seq((1L, "same"), (2L, "new"), (4L, "fresh")).toDF("doc_id", "text")
    val out = SnapshotDiff.diff(a, b).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "added"))
    // the declared query's derivation rules hold on the fixture corpus
    val q = SnapshotDiff.q63SnapshotDiff(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val by = q.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    assert(by("removed").forall(_ % 11 == 0))
    val shift = graft.Tables.documents(spark, dir)
      .agg(max(col("doc_id"))).collect()(0).getLong(0) + 1
    assert(by("added").forall(id => id >= shift && (id - shift) % 13 == 0))
    // changed = rewritten (%7) minus docs whose text upper-cases to
    // itself (would classify unchanged) — the fixture corpus is
    // lowercase word salad, so every %7 survivor actually changes
    assert(by("changed").forall(id => id % 7 == 0 && id % 11 != 0))
    assert(by.keySet == Set("added", "removed", "changed", "unchanged"))
  }

  test("shard writer: files hold exactly the keepers, in exact permutation order") {
    val dst = java.nio.file.Files.createTempDirectory("graft-shards").toString + "/epoch=1"
    // the keepers: q57's verdict cascade at a 5000-token budget
    val keptIds = Pipeline.q57PipelineDecision(spark, dir, 5000L)
      .filter(col("selected")).collect().map(_.getLong(0)).toSet
    assert(keptIds.nonEmpty)
    val kept = graft.Tables.documents(spark, dir)
      .filter(col("doc_id").isin(keptIds.toSeq.map(Long.box): _*))
    // expected order: the q56 permutation restricted to the keepers
    val assignment = Selection.epochShuffle(
      kept.select(col("doc_id")), epoch = 1, docsPerShard = 16L).localCheckpoint()
    Sharding.writeShards(kept, assignment, dst)
    val expected = assignment
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    val byShard = expected.groupBy(_._2)
    // read each shard dir back: same doc set, and file row order == the
    // permutation's pos_in_shard order (the trainer never sorts)
    val shardDirs = new java.io.File(dst).listFiles()
      .filter(_.getName.startsWith("shard_id=")).sortBy(_.getName)
    assert(shardDirs.length == byShard.size)
    shardDirs.foreach { d =>
      val sid = d.getName.stripPrefix("shard_id=").toLong
      val rows = spark.read.parquet(d.toString)
        .select("doc_id").collect().map(_.getLong(0)).toSeq
      val exp = byShard(sid).sortBy(_._3).map(_._1).toSeq
      assert(rows == exp, s"shard $sid order/content diverged")
      assert(rows.length <= 16)
    }
    // every shard but the last is full
    val sizes = shardDirs.map(d => d.getName.stripPrefix("shard_id=").toLong ->
      byShard(d.getName.stripPrefix("shard_id=").toLong).length).sortBy(_._1)
    assert(sizes.init.forall(_._2 == 16))
  }

  test("contrastive shards: positives are true partners, negatives dup-free, draw deterministic") {
    val base = java.nio.file.Files.createTempDirectory("graft-contrastive").toString
    val rows = Sharding.materializeContrastiveSet(spark, dir, base,
        kNeg = 4, maxAnchors = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](3)))
    assert(rows.nonEmpty && rows.length <= 16)

    val docs = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
    val pairs = Dedup.minhashLshPairs(docs).collect()
      .flatMap(r => Seq((r.getLong(0), r.getLong(1)), (r.getLong(1), r.getLong(0))))
    val partnerOf = pairs.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    rows.foreach { case (a, p, negs) =>
      assert(partnerOf(a).contains(p), s"anchor $a: positive $p is not a partner")
      assert(p == partnerOf(a).min, s"anchor $a: positive must be the min partner")
      assert(negs.length <= 4 && !negs.contains(a))
      negs.foreach(n => assert(!partnerOf(a).contains(n),
        s"anchor $a: negative $n is a near-dup partner"))
    }

    // the anchor draw is the q52 salted-hash rule — recompute driver-side
    def skey(id: Long): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"contrastive:$id".getBytes("UTF-8"))
      d.map("%02x".format(_)).mkString
    }
    val expectAnchors = partnerOf.keySet.toSeq.sortBy(id => (skey(id), id))
      .take(16).toSet
    assert(rows.map(_._1).toSet == expectAnchors, "anchor draw not deterministic")

    // shard read-back: exactly the anchors, and the manifest certifies it
    val shardIds = spark.read.parquet(s"$base/epoch=1")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(shardIds == expectAnchors)
    assert(ShardManifestCheck.validateManifest(spark, base).count() == 0)
  }

  test("mixed shards: concatenation is the stride stream; every shard holds the mixture") {
    val base = java.nio.file.Files.createTempDirectory("graft-mixshards").toString
    val keptIds = Pipeline.q57PipelineDecision(spark, dir, 5000L)
      .filter(col("selected")).collect().map(_.getLong(0)).toSet
    assert(keptIds.nonEmpty)
    val keptDocs = graft.Tables.documents(spark, dir)
      .filter(col("doc_id").isin(keptIds.toSeq.map(Long.box): _*))
    // the deterministic mixed assignment over the keepers, laid out by
    // the shard writer
    val assignment = Mixing.mixedShardAssignment(
        keptDocs.select(col("doc_id"), col("source"), col("text")),
        epoch = 1, docsPerShard = 16L).localCheckpoint()
    Sharding.writeShards(keptDocs, assignment, s"$base/epoch=1")
    val expected = assignment
      .collect().map(r => (r.getLong(0), r.getDouble(3), r.getLong(4), r.getLong(5)))
    val byShard = expected.groupBy(_._3)
    val shardDirs = new java.io.File(s"$base/epoch=1").listFiles()
      .filter(_.getName.startsWith("shard_id="))
      .sortBy(_.getName.stripPrefix("shard_id=").toLong)
    assert(shardDirs.length == byShard.size)
    // file order within each shard == mix_key order; shard time-cuts
    // mean concatenating shards in id order IS the global stride stream
    var prevMax = Double.NegativeInfinity
    shardDirs.foreach { d =>
      val sid = d.getName.stripPrefix("shard_id=").toLong
      val rows = spark.read.parquet(d.toString)
        .select("doc_id").collect().map(_.getLong(0)).toSeq
      val exp = byShard(sid).sortBy(_._4)
      assert(rows == exp.map(_._1).toSeq, s"shard $sid order/content diverged")
      assert(exp.head._2 >= prevMax,
        s"shard $sid overlaps the previous shard's virtual time")
      prevMax = exp.last._2
    }
    // mixture guarantee per shard: each shard is a 16-unit virtual-time
    // window, so it receives ~w_s·16 docs of each source (±1 phase
    // error) — shard SIZES jitter (the errors sum across m sources),
    // the per-source rates do not. The bound holds until the first
    // source exhausts its documents (after (n_s−0.5)/w_s the stream
    // legitimately stops receiving s) — check the windows before that.
    val weights = Mixing.domainWeights(
        keptDocs.select(col("doc_id"), col("source"), col("text")))
      .select(col("source"), col("weight"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val srcOf = Mixing.sourceRanks(keptDocs, "mix:e1:")
      .select(col("doc_id"), col("source"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val nPerSource = srcOf.values.groupBy(identity).view.mapValues(_.size).toMap
    val tEnd = weights.map { case (s, w) => (nPerSource(s) - 0.5) / w }.min
    val eligible = expected.groupBy(_._3)
      .filter { case (sid, _) => (sid + 1) * 16.0 <= tEnd }
    assert(eligible.nonEmpty, s"no complete window before first exhaustion ($tEnd)")
    eligible.foreach { case (sid, rows) =>
      val counts = rows.groupBy(r => srcOf(r._1)).view.mapValues(_.length).toMap
      weights.foreach { case (s, w) =>
        val dev = math.abs(counts.getOrElse(s, 0) - 16 * w)
        assert(dev <= 1.0 + 1e-9,
          s"shard $sid: source $s count ${counts.getOrElse(s, 0)} vs ${16 * w}")
      }
    }
  }

  test("multi-epoch shards: decorrelated permutations, manifest certifies the files") {
    val base = java.nio.file.Files.createTempDirectory("graft-epochs").toString
    // q98's contrastive materialization, two epochs of every anchor
    val keptIds = Sharding.materializeContrastiveSet(spark, dir, base,
        maxAnchors = 10000, docsPerShard = 16L, nEpochs = 2)
      .collect().map(_.getLong(0)).toSet
    assert(keptIds.size > 16, s"too few anchors to shard: ${keptIds.size}")

    // both epochs hold exactly the keeper set, in their own q56 orders
    def epochOrder(e: Int): Seq[Long] = {
      val dirs = new java.io.File(s"$base/epoch=$e").listFiles()
        .filter(_.getName.startsWith("shard_id="))
        .sortBy(_.getName.stripPrefix("shard_id=").toLong)
      dirs.flatMap(d => spark.read.parquet(d.toString)
        .select("doc_id").collect().map(_.getLong(0))).toSeq
    }
    val (o1, o2) = (epochOrder(1), epochOrder(2))
    assert(o1.toSet == keptIds && o2.toSet == keptIds)
    assert(o1 != o2, "epoch permutations identical")
    // decorrelated, not merely unequal: few docs keep their position
    // (the q56 epoch-key property, read back from the FILES)
    val samePos = o1.zip(o2).count { case (a, b) => a == b }
    assert(samePos.toDouble / o1.size < 0.2,
      s"$samePos of ${o1.size} docs kept their position across epochs")
    // each epoch's in-file order IS its q56 permutation
    val expected1 = Selection.epochShuffle(
        graft.Tables.documents(spark, dir)
          .filter(col("doc_id").isin(keptIds.toSeq.map(Long.box): _*))
          .select(col("doc_id")), epoch = 1, docsPerShard = 16L)
      .orderBy(col("position")).collect().map(_.getLong(0)).toSeq
    assert(o1 == expected1)

    // the manifest matches the files exactly...
    assert(ShardManifestCheck.validateManifest(spark, base).isEmpty)
    val manifest = spark.read.parquet(s"$base/_manifest")
    assert(manifest.select(sum(col("n_rows"))).collect()(0).getLong(0)
      == 2L * keptIds.size)
    // ...and flags a lost shard with its (epoch, shard) coordinates
    val victim = new java.io.File(s"$base/epoch=2").listFiles()
      .filter(_.getName.startsWith("shard_id=")).maxBy(_.getName)
    victim.listFiles().foreach(_.delete()); victim.delete()
    val bad = ShardManifestCheck.validateManifest(spark, base).collect()
    assert(bad.length == 1 && bad(0).getInt(0) == 2 &&
      bad(0).get(1).toString == victim.getName.stripPrefix("shard_id="),
      s"validator missed the lost shard: ${bad.toSeq}")
    // a WHOLLY missing epoch dir is reported per shard (null file side),
    // never an exception; a stray epoch dir unknown to the manifest is
    // flagged too (null manifest side)
    val e2 = new java.io.File(s"$base/epoch=2")
    val e9 = new java.io.File(s"$base/epoch=9")
    assert(e2.renameTo(e9))
    val worse = ShardManifestCheck.validateManifest(spark, base).collect()
    val missing2 = worse.filter(r => r.getInt(0) == 2)
    val stray9 = worse.filter(r => r.getInt(0) == 9)
    assert(missing2.nonEmpty && missing2.forall(_.isNullAt(3)),
      s"missing epoch not reported with null file side: ${missing2.toSeq}")
    assert(stray9.nonEmpty && stray9.forall(_.isNullAt(2)),
      s"stray epoch dir not flagged with null manifest side: ${stray9.toSeq}")
  }

  test("pq ann: deterministic codes, bounded size, useful recall of the exact top-10") {
    val emb = graft.Tables.embeddings(spark, dir)
    val cb = ProductQuantization.train(emb)
    // deterministic: re-training yields the identical codebook, and
    // re-encoding the identical codes (pure function of seed + data)
    val cb2 = ProductQuantization.train(emb)
    assert(cb.centroids.flatten.flatten.toSeq == cb2.centroids.flatten.flatten.toSeq)
    val root = java.nio.file.Files.createTempDirectory("graft-pqcodes").toString
    def codesOf(dst: String) = {
      ProductQuantization.writeCellBucketedPq(emb, dst, nlist = 16)
      spark.read.parquet(dst).collect()
        .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Int](r.fieldIndex("codes"))).toMap
    }
    val codes = codesOf(s"$root/a")
    val codes2 = codesOf(s"$root/b")
    assert(codes.nonEmpty && codes == codes2)
    // every vector gets M codes in [0, K): 8 byte-sized codes vs 64
    // floats — the 32x compression claim
    assert(codes.values.forall(cs => cs.length == 8 && cs.forall(c => c >= 0 && c < 16)))
    // recall vs the exact brute force (q28): the ADC top-50 + re-rank
    // must recover most of the true top-10
    val exact = graft.SparkEntry.queries("q28_ann_bruteforce")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val pq = ProductQuantization.q64PqAnn(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    assert(pq.keySet == exact.keySet)
    val recall = exact.keys.toSeq.map { q =>
      (pq(q) & exact(q)).size.toDouble / exact(q).size
    }.sum / exact.size
    assert(recall >= 0.6, f"PQ recall@10 = $recall%.2f below the 0.6 bar")
  }

  test("pq ann: excludeSelf=false keeps a corpus row whose id merely collides with an external query id") {
    val emb = graft.Tables.embeddings(spark, dir)
    val dst = java.nio.file.Files.createTempDirectory("graft-pqself").toString + "/layout"
    ProductQuantization.writeCellBucketedPq(emb, dst, nlist = 16)
    // planted collision: an EXTERNAL query that happens to reuse corpus
    // id 7 but asks with row 7's own vector — its true top-1 IS corpus
    // row 7 (cosine 1). Under the q28/q64 self-query convention
    // (excludeSelf=true) that row is dropped; an external-id-space
    // caller must be able to opt out and keep the legitimate neighbor.
    val collidingId = 7L
    val qv = emb.filter(col("vec_id") === collidingId)
      .select(col("embedding")).head().getSeq[Float](0).toArray.map(_.toDouble)
    val queries = Array(collidingId -> qv)
    def topIds(excludeSelf: Boolean): Seq[Long] =
      ProductQuantization.bucketedPqTopK(spark, dst, emb, queries,
          nprobe = 16, k = 5, rerank = 50, excludeSelf = excludeSelf)
        .collect().map(_.getAs[Long]("neighbor_id")).toSeq
    val kept = topIds(excludeSelf = false)
    assert(kept.contains(collidingId),
      s"external-id-space probe lost the colliding neighbor $collidingId: $kept")
    val dropped = topIds(excludeSelf = true)
    assert(!dropped.contains(collidingId),
      s"self-query convention failed to drop the query's own row: $dropped")
    // both conventions agree on every OTHER neighbor (the flag only
    // gates the identity row, never reshapes the ranking around it)
    assert(kept.filterNot(_ == collidingId) == dropped.take(4),
      s"flag changed non-self ranking: $kept vs $dropped")
  }

  test("ivf,pq layout: probe reads a strict subset of cell dirs, codes only; recall holds") {
    val emb = graft.Tables.embeddings(spark, dir)
    val dst = java.nio.file.Files.createTempDirectory("graft-ivfpq").toString + "/layout"
    ProductQuantization.writeCellBucketedPq(emb, dst, nlist = 16)
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray.map(_.toDouble))
    // the probed scan must read fewer cell dirs than the layout has,
    // and only the codes (no float column exists in the layout at all)
    val layoutCols = spark.read.parquet(dst).columns.toSet
    assert(!layoutCols.contains("embedding") && layoutCols.contains("codes"))
    val nDirs = new java.io.File(dst).listFiles()
      .count(_.getName.startsWith("cell="))
    assert(nDirs > 8, s"degenerate layout: $nDirs cells")
    val out = ProductQuantization.bucketedPqTopK(spark, dst, emb, queries,
      nprobe = 8, k = 10, rerank = 100)
      .collect().map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val exact = graft.SparkEntry.queries("q28_ann_bruteforce")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val recall = exact.keys.toSeq.map { q =>
      (out.getOrElse(q, Set.empty[Long]) & exact(q)).size.toDouble / exact(q).size
    }.sum / exact.size
    // residual encoding (round 8) lifted this config from 0.74 raw to
    // 0.94 measured — the bar sits at 0.85 to leave seed-stability slack
    assert(recall >= 0.85, f"IVF,PQ recall@10 = $recall%.2f below the 0.85 bar")
    // the persisted codebook round-trips (any later reader probes
    // without refitting)
    val cb = ProductQuantization.readCodebook(spark, dst)
    assert(cb.m == 8 && cb.k == 16)
  }

  test("ivf,pq append: frozen codebook/centers, only touched dirs gain files, recall holds") {
    val emb = graft.Tables.embeddings(spark, dir)
    val first = emb.filter(col("vec_id") % 2 === 0)
    val rest = emb.filter(col("vec_id") % 2 =!= 0)
    val dst = java.nio.file.Files.createTempDirectory("graft-ivfpq-append")
      .toString + "/layout"
    ProductQuantization.writeCellBucketedPq(first, dst, nlist = 16)
    val sidecarBefore = spark.read.parquet(dst + "_codebook").collect().toSet

    def filesPerCell: Map[String, Set[String]] =
      new java.io.File(dst).listFiles().filter(_.getName.startsWith("cell="))
        .map(d => d.getName -> d.listFiles().map(_.getName)
          .filter(_.endsWith(".parquet")).toSet).toMap
    val before = filesPerCell
    val report = ProductQuantization.appendToCellLayoutPq(rest, dst)
    val after = filesPerCell
    val touched = report.touchedCells.map(c => s"cell=$c").toSet
    for ((d, fs) <- before if !touched.contains(d))
      assert(after(d) == fs, s"untouched dir $d changed")
    assert(spark.read.parquet(dst).count() == emb.count())
    // sidecars untouched: readers mid-append keep a consistent model
    assert(spark.read.parquet(dst + "_codebook").collect().toSet == sidecarBefore)

    // probes over the appended layout hold the recall bar on the FULL
    // corpus (centers/codebook trained on half — the append trade)
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray.map(_.toDouble))
    val out = ProductQuantization.bucketedPqTopK(spark, dst, emb, queries,
        nprobe = 8, k = 10, rerank = 100)
      .collect().map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val exact = graft.SparkEntry.queries("q28_ann_bruteforce")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val recall = exact.keys.toSeq.map { q =>
      (out.getOrElse(q, Set.empty[Long]) & exact(q)).size.toDouble / exact(q).size
    }.sum / exact.size
    assert(recall >= 0.75, f"appended IVF,PQ recall@10 = $recall%.2f below 0.75")
  }

  test("source quota: equals the window formulation; quota binds per source") {
    import org.apache.spark.sql.expressions.Window
    val docs = graft.Tables.documents(spark, dir)
    val got = Selection.sourceQuota(docs, quota = 10).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val win = docs
      .select(col("source"), col("doc_id"), Selection.priority().as("priority"))
      .withColumn("quota_rank", row_number().over(
        Window.partitionBy(col("source"))
          .orderBy(col("priority").desc, col("doc_id"))).cast("long"))
      .filter(col("quota_rank") <= 10)
      .select(col("source"), col("quota_rank"), col("doc_id"), col("priority"))
      .orderBy(col("source"), col("quota_rank"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == win.toSeq,
      "bounded top_k quota diverged from the window formulation")
    got.groupBy(_._1).foreach { case (src, rows) =>
      assert(rows.length <= 10, s"source $src exceeds quota")
      assert(rows.map(_._2).sorted.toSeq == (1L to rows.length).toSeq)
    }
  }
}
