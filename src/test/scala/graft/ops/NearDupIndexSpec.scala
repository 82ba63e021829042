package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Standing MinHash-LSH index: probe ≡ the q26 batch recompute on the
  * union (restricted to batch-touching pairs), stop-shingle behavior,
  * incremental append, and bucket pruning of the layout shape. */
class NearDupIndexSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-$name").toString + "/idx"

  test("probe equals the union recompute restricted to batch-touching pairs") {
    val docs = graft.Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    // cap high enough that no shingle crosses it between write and probe
    // (the documented exact-parity precondition)
    val dst = tmp("mh-parity")
    NearDupIndex.writeMinhashLayout(corpus, dst, maxDocFreq = 10000L)
    val got = NearDupIndex.probeNearDup(spark, dst, batch)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val batchIds = batch.select("doc_id").collect().map(_.getLong(0)).toSet
    val expected = Dedup.minhashLshPairs(docs, maxDocFreq = 10000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter(p => batchIds.contains(p._1) || batchIds.contains(p._2))
    assert(got.toSet == expected.toSet,
      s"probe drifted from the union recompute: got ${got.length}, expected ${expected.length}")
    assert(got.nonEmpty, "degenerate fixture: no near-dup pairs touch the batch")
  }

  test("stop shingles: corpus-wide boilerplate never generates candidates") {
    import spark.implicits._
    val boiler = "the quick brown fox jumps over the lazy dog again and again"
    // 6 corpus docs share the boilerplate (df > cap=3); each has unique filler
    val corpus = (1L to 6L).map { i =>
      (i, boiler + " " + (1 to 12).map(j => s"u$i-$j").mkString(" "))
    }.toDF("doc_id", "text")
    val dst = tmp("mh-stop")
    NearDupIndex.writeMinhashLayout(corpus, dst, maxDocFreq = 3L)
    // a batch doc that is PURE boilerplate: every shingle it has is
    // stopped, so it must produce no pairs at all
    val batch = Seq((100L, boiler)).toDF("doc_id", "text")
    assert(NearDupIndex.probeNearDup(spark, dst, batch).count() == 0,
      "boilerplate-only batch doc matched through a stopped shingle")
    // sanity: a true near-dup of a corpus doc IS found despite sharing
    // the stopped boilerplate (its unique shingles carry the signature)
    val nearDup = corpus.filter(col("doc_id") === 1L)
      .select(lit(101L).as("doc_id"), col("text"))
    val hits = NearDupIndex.probeNearDup(spark, dst, nearDup).collect()
    assert(hits.exists(r => r.getLong(0) == 1L && r.getLong(1) == 101L),
      s"identical-but-for-id batch doc not matched: ${hits.mkString(",")}")
  }

  test("append extends the index: later probes match both original and appended docs") {
    val docs = graft.Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val a = docs.filter(col("doc_id") % 3 === 0)
    val b = docs.filter(col("doc_id") % 3 === 1)
    val dst = tmp("mh-append")
    NearDupIndex.writeMinhashLayout(a, dst, maxDocFreq = 10000L)
    val report = NearDupIndex.appendToMinhashLayout(b, dst)
    assert(report.appended > 0 && report.touchedBuckets.nonEmpty)
    // cap 10000 is uncrossed at spec scale — the append must say so
    assert(report.capCrossed == 0L && !report.rewriteRecommended,
      s"uncrossable cap reported crossings: $report")
    val c = docs.filter(col("doc_id") % 3 === 2)
    val got = NearDupIndex.probeNearDup(spark, dst, c)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val cIds = c.select("doc_id").collect().map(_.getLong(0)).toSet
    val expected = Dedup.minhashLshPairs(docs, maxDocFreq = 10000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter(p => cIds.contains(p._1) || cIds.contains(p._2))
    assert(got.toSet == expected.toSet,
      s"post-append probe drifted: got ${got.length}, expected ${expected.length}")
    val aIds = a.select("doc_id").collect().map(_.getLong(0)).toSet
    val bIds = b.select("doc_id").collect().map(_.getLong(0)).toSet
    def other(p: (Long, Long, Double)) = if (cIds.contains(p._1)) p._2 else p._1
    assert(got.exists(p => aIds.contains(other(p))), "no match against the original index")
    assert(got.exists(p => bIds.contains(other(p))), "no match against appended docs")
  }

  test("df-segment compaction: probes unchanged, one row per shingle, crash recovery") {
    val docs = graft.Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val dst = tmp("mh-compact")
    NearDupIndex.writeMinhashLayout(docs.filter(col("doc_id") % 4 === 0), dst,
      maxDocFreq = 10000L)
    NearDupIndex.appendToMinhashLayout(docs.filter(col("doc_id") % 4 === 1), dst)
    NearDupIndex.appendToMinhashLayout(docs.filter(col("doc_id") % 4 === 2), dst)
    val batch = docs.filter(col("doc_id") % 4 === 3)
    val beforePairs = NearDupIndex.probeNearDup(spark, dst, batch)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val (rowsBefore, rowsAfter) = NearDupIndex.compactIndex(spark, dst)
    val distinctG = spark.read.parquet(dst + "_sh_df")
      .select("g").distinct().count()
    assert(rowsAfter < rowsBefore && rowsAfter == distinctG,
      s"compaction left $rowsAfter rows for $distinctG shingles (was $rowsBefore)")
    val afterPairs = NearDupIndex.probeNearDup(spark, dst, batch)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(afterPairs == beforePairs, "compaction changed probe results")
    // a stray tmp from a crashed compaction is cleaned, root survives
    val fs = new org.apache.hadoop.fs.Path(dst + "_sh_df")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dst + "_sh_df.compact-tmp"))
    assert(graft.etl.Compaction.recover(spark, dst + "_sh_df"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dst + "_sh_df.compact-tmp")))
  }

  test("band-bucket filter prunes the scan to the touched dirs") {
    val docs = graft.Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val dst = tmp("mh-prune")
    NearDupIndex.writeMinhashLayout(docs, dst, nBuckets = 16, maxDocFreq = 10000L)
    val nDirs = new java.io.File(dst).listFiles()
      .count(_.getName.startsWith("bucket="))
    assert(nDirs > 4, s"degenerate layout: $nDirs band buckets")
    val someBuckets = Seq(0, 1, 2).map(Int.box)
    val pruned = spark.read.parquet(dst).filter(col("bucket").isin(someBuckets: _*))
    // planning-time evidence: the literal bucket set is a PARTITION
    // filter (pruned before file listing), not a post-scan data filter
    val p = pruned.queryExecution.executedPlan.toString
    assert(p.linesIterator.exists(l =>
        l.contains("PartitionFilters") && l.contains("bucket")),
      s"bucket set did not become a partition filter:\n$p")
    // behavioral evidence: only the filtered bucket dirs are touched
    val partsRead = pruned
      .select(regexp_extract(input_file_name(), "bucket=\\d+", 0))
      .distinct().collect().map(_.getString(0)).toSet
    assert(partsRead.nonEmpty && partsRead.subsetOf(
        someBuckets.map(b => s"bucket=$b").toSet),
      s"probe filter read outside its bucket set: $partsRead")
  }

  test("tombstones mask deleted docs immediately; purge drops them physically") {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    val dst = tmp("mh-tomb")
    NearDupIndex.writeMinhashLayout(corpus, dst, maxDocFreq = 10000L)

    // delete every corpus doc ≡ 1 (mod 10): ids that near-dup the batch
    // in the parity fixture, so masking is actually exercised
    val dead = corpus.filter(col("doc_id") % 10 === 1).select("doc_id")
    val deadIds = dead.collect().map(_.getLong(0)).toSet
    assert(BucketStore.tombstone(dead, dst) == deadIds.size)

    val batchIds = batch.select("doc_id").collect().map(_.getLong(0)).toSet
    def touching(pairs: Array[(Long, Long, Double)]) =
      pairs.filter(p => batchIds.contains(p._1) || batchIds.contains(p._2)).toSet
    val live = docs.filter(!col("doc_id").isin(deadIds.toSeq.map(Long.box): _*))
    val expected = touching(Dedup.minhashLshPairs(live, maxDocFreq = 10000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))))
    val withDead = touching(Dedup.minhashLshPairs(docs, maxDocFreq = 10000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))))
    assert(expected != withDead,
      "degenerate fixture: no deleted doc ever paired with the batch")

    val masked = NearDupIndex.probeNearDup(spark, dst, batch)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(masked == expected, "tombstoned docs still reach probe results")

    val (nPurged, rewritten) = NearDupIndex.purgeTombstones(spark, dst)
    assert(nPurged == deadIds.size && rewritten.nonEmpty)
    // physically gone from both stores, sidecar cleared
    val deadBoxed = deadIds.toSeq.map(Long.box)
    assert(spark.read.parquet(dst)
      .filter(col("doc_id").isin(deadBoxed: _*)).count() == 0)
    assert(spark.read.parquet(dst + "_docs")
      .filter(col("doc_id").isin(deadBoxed: _*)).count() == 0)
    assert(!new java.io.File(dst + "_tombstones").exists())
    // probe unchanged by the physical drop; a purge re-run is a no-op
    val after = NearDupIndex.probeNearDup(spark, dst, batch)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(after == expected, "purge changed probe results")
    val (reN, reBuckets) = NearDupIndex.purgeTombstones(spark, dst)
    assert(reN == 0L && reBuckets.isEmpty, "purge re-run was not a no-op")
    // the negative df segment kept sums ≥ 0 and dropped the dead docs'
    // contributions: no shingle of a purged doc can sum below zero
    val negSum = spark.read.parquet(dst + "_sh_df")
      .groupBy("g").agg(sum("df").as("df")).filter(col("df") < 0).count()
    assert(negSum == 0, "df segments sum below zero after purge")
  }

  test("sync tracks a living corpus: removed masked, changed re-indexed, added appended") {
    val docs = graft.Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val a = docs.filter(col("doc_id") % 5 =!= 0)       // indexed snapshot
    val batch = docs.filter(col("doc_id") % 5 === 0)   // probe set, never indexed
    val dst = tmp("mh-sync")
    NearDupIndex.writeMinhashLayout(a, dst, maxDocFreq = 10000L)

    // next snapshot: ids ≡1 (mod 10) removed, ids ≡3 (mod 10) rewritten,
    // twins of the batch docs added under shifted ids (so the probe must
    // find matches that ONLY exist via the added path)
    val b = a.filter(col("doc_id") % 10 =!= 1)
      .select(col("doc_id"),
        when(col("doc_id") % 10 === 3,
          concat(col("text"), lit(" synced suffix marker edit")))
          .otherwise(col("text")).as("text"))
      .unionByName(batch.select((col("doc_id") + 100000L).as("doc_id"), col("text")))
    val nRemoved = a.filter(col("doc_id") % 10 === 1).count()
    val nChanged = a.filter(col("doc_id") % 10 === 3).count()
    val nAdded = batch.count()

    val (purged, masked, appended) = NearDupIndex.sync(a, b, dst)
    assert(purged == nChanged, s"purged $purged, expected the changed set $nChanged")
    assert(masked == nRemoved && appended == nChanged + nAdded)

    val batchIds = batch.select("doc_id").collect().map(_.getLong(0)).toSet
    def touching(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter(p => batchIds.contains(p._1) || batchIds.contains(p._2)).toSet
    val expected = touching(Dedup.minhashLshPairs(
      b.unionByName(batch), maxDocFreq = 10000L).collect())
    val stale = touching(Dedup.minhashLshPairs(
      a.unionByName(batch), maxDocFreq = 10000L).collect())
    assert(expected != stale, "degenerate fixture: sync changed nothing the probe sees")
    val got = NearDupIndex.probeNearDup(spark, dst, batch)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == expected, "synced probe drifted from the live-corpus recompute")
    // the added twins are reachable: every batch doc pairs with its shifted copy
    assert(batchIds.forall(id => got.contains((id, id + 100000L, 1.0))
        || got.contains((id + 100000L, id, 1.0))),
      "an added twin was not matched by the probe")
  }

  test("sync: a doc removed in one sync and re-added later becomes probe-visible again") {
    val docs = graft.Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val a = docs.filter(col("doc_id") % 5 =!= 0)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    val dst = tmp("mh-readd")
    NearDupIndex.writeMinhashLayout(a, dst, maxDocFreq = 10000L)

    val comeback = a.filter(col("doc_id") % 10 === 1)
    val b1 = a.filter(col("doc_id") % 10 =!= 1)
    val (_, m1, app1) = NearDupIndex.sync(a, b1, dst)
    assert(m1 == comeback.count() && app1 == 0L)
    // the removal is a lazy mask: tombstones stand, nothing purged yet
    assert(BucketStore.tombstones(spark, dst).count() == m1)

    // second sync re-adds the same ids with the same text — the standing
    // tombstones must be collapsed or the re-added twins stay invisible
    val (p2, m2, app2) = NearDupIndex.sync(b1, a, dst)
    assert(p2 == m1 && m2 == 0L && app2 == comeback.count(),
      s"re-add sync did ($p2, $m2, $app2)")
    assert(BucketStore.tombstones(spark, dst).count() == 0)

    val batchIds = batch.select("doc_id").collect().map(_.getLong(0)).toSet
    val expected = Dedup.minhashLshPairs(docs, maxDocFreq = 10000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter(p => batchIds.contains(p._1) || batchIds.contains(p._2)).toSet
    val got = NearDupIndex.probeNearDup(spark, dst, batch)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == expected, "re-added docs still masked (or index drifted)")
    val cbIds = comeback.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got.exists(p => cbIds.contains(p._1) || cbIds.contains(p._2)),
      "degenerate fixture: no pair touches a re-added doc")
  }

  test("purge recovery: a .bak dir left by a mid-swap crash is restored") {
    val docs = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).limit(50)
    val dst = tmp("mh-bak")
    NearDupIndex.writeMinhashLayout(docs, dst, nBuckets = 8, maxDocFreq = 10000L)
    val root = new java.io.File(dst)
    val bucketDir = root.listFiles().filter(_.getName.startsWith("bucket=")).head
    // simulate a crash between rename-to-bak and rename-tmp-in
    val bak = new java.io.File(root, bucketDir.getName + ".bak")
    assert(bucketDir.renameTo(bak))
    // any purge entry restores it before touching data
    val (bakN, bakBuckets) = NearDupIndex.purgeTombstones(spark, dst)
    assert(bakN == 0L && bakBuckets.isEmpty)
    assert(new java.io.File(root, bak.getName.stripSuffix(".bak")).exists()
      && !bak.exists(), "crash leftover not restored")
  }

  test("append after a crashed bucket swap keeps the bucket's old rows through the next purge") {
    val docs = graft.Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val dst = tmp("mh-bak-append")
    NearDupIndex.writeMinhashLayout(docs.filter(col("doc_id") % 3 =!= 0), dst,
      nBuckets = 2, maxDocFreq = 10000L)
    def rows(p: String) = spark.read.parquet(p).count()
    val (bandsBefore, docsBefore) = (rows(dst), rows(dst + "_docs"))
    // a purge crashed between live → .bak and fresh → live, in both stores
    for ((root, part) <- Seq(dst -> "bucket=0", dst + "_docs" -> "dbucket=0"))
      assert(new java.io.File(root, part).renameTo(new java.io.File(root, part + ".bak")))
    val report = NearDupIndex.appendToMinhashLayout(docs.filter(col("doc_id") % 3 === 0), dst)
    assert(report.touchedBuckets.contains(0), "degenerate fixture: the batch missed bucket 0")
    NearDupIndex.purgeTombstones(spark, dst)
    // four band rows and one array row per appended doc, nothing lost
    assert(rows(dst) == bandsBefore + 4 * report.appended)
    assert(rows(dst + "_docs") == docsBefore + report.appended)
  }

  test("append reports cap crossings; rewriteCapCrossed restores fresh-write equality") {
    import spark.implicits._
    // 5-token shared phrase → 3 interior shingles whose df tracks how
    // many docs carry it; per-doc filler shingles stay unique
    val phrase = "alpha beta gamma delta epsilon"
    def mk(i: Long) =
      (i, phrase + " " + (1 to 10).map(j => s"u$i-$j").mkString(" "))
    val a = (1L to 3L).map(mk).toDF("doc_id", "text")
    val b = (11L to 12L).map(mk).toDF("doc_id", "text")
    val dst = tmp("mh-drift")
    // cap 3: the phrase survives the initial write (df=3), crosses with
    // the append (df=5) — exactly the drift the report must flag
    NearDupIndex.writeMinhashLayout(a, dst, nBuckets = 8, maxDocFreq = 3L)
    val report = NearDupIndex.appendToMinhashLayout(b, dst)
    assert(report.appended == 2L)
    assert(report.capCrossed == 3L && report.rewriteRecommended,
      s"phrase df 3→5 across cap 3 not reported: $report")

    // the drift is real before the rewrite: the A docs' stored arrays
    // still hold the now-over-cap phrase shingles; the B docs' never did
    val holders = spark.read.parquet(dst + "_docs")
      .filter(array_contains(col("gs"), "alpha beta gamma"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(holders == Set(1L, 2L, 3L),
      s"expected stale arrays on exactly the A docs, got $holders")

    val (nRecapped, buckets) = NearDupIndex.rewriteCapCrossed(spark, dst)
    assert(nRecapped == 3L && buckets.nonEmpty,
      s"rewrite touched $nRecapped docs / ${buckets.length} buckets")

    // both rewritten stores now equal a fresh one-shot write of A∪B
    val dst2 = tmp("mh-drift-fresh")
    NearDupIndex.writeMinhashLayout(a.unionByName(b), dst2,
      nBuckets = 8, maxDocFreq = 3L)
    def arrayRows(p: String) = spark.read.parquet(p + "_docs")
      .select("doc_id", "gs").collect()
      .map(r => (r.getLong(0), r.getSeq[String](1))).sortBy(_._1).toSeq
    assert(arrayRows(dst) == arrayRows(dst2),
      "array store differs from a fresh write after the rewrite")
    def bandStoreRows(p: String) = spark.read.parquet(p)
      .select("doc_id", "band", "bh").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sorted.toSeq
    assert(bandStoreRows(dst) == bandStoreRows(dst2),
      "band store differs from a fresh write after the rewrite")

    // probe parity against near-dup twins of one initial + one appended
    // doc (matched through their FILLER shingles — the phrase is capped)
    val probe = Seq((100L, mk(1L)._2), (101L, mk(11L)._2))
      .toDF("doc_id", "text")
    def pairs(p: String) = NearDupIndex.probeNearDup(spark, p, probe)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val got = pairs(dst)
    assert(got == pairs(dst2), "probe drifted from the fresh index")
    assert(got.exists(pr => pr._1 == 1L && pr._2 == 100L) &&
      got.exists(pr => pr._1 == 11L && pr._2 == 101L),
      s"twins not matched through uncapped shingles: $got")

    // nothing left to heal: a re-run is a no-op
    val (again, againBuckets) = NearDupIndex.rewriteCapCrossed(spark, dst)
    assert(again == 0L && againBuckets.isEmpty, "rewrite re-run not a no-op")
  }

  test("sync self-heals cap crossings: post-sync array store equals a fresh write") {
    import spark.implicits._
    val phrase = "alpha beta gamma delta epsilon"
    def mk(i: Long) =
      (i, phrase + " " + (1 to 10).map(j => s"u$i-$j").mkString(" "))
    val a = (1L to 3L).map(mk).toDF("doc_id", "text")
    val next = ((1L to 3L) ++ (11L to 12L)).map(mk).toDF("doc_id", "text")
    val dst = tmp("mh-sync-heal")
    NearDupIndex.writeMinhashLayout(a, dst, nBuckets = 8, maxDocFreq = 3L)
    // the sync's append pushes the phrase df 3→5 over cap 3 — the
    // lifecycle must re-cap docs 1-3's arrays on its own
    val (purged, masked, appended) = NearDupIndex.sync(a, next, dst)
    assert(purged == 0L && masked == 0L && appended == 2L)
    val dst2 = tmp("mh-sync-heal-fresh")
    NearDupIndex.writeMinhashLayout(next, dst2, nBuckets = 8, maxDocFreq = 3L)
    def arrayRows(p: String) = spark.read.parquet(p + "_docs")
      .select("doc_id", "gs").collect()
      .map(r => (r.getLong(0), r.getSeq[String](1))).sortBy(_._1).toSeq
    assert(arrayRows(dst) == arrayRows(dst2),
      "sync left stale over-cap shingles in the array store")
  }
}
