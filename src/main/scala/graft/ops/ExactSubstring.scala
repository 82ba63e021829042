package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Layout
import graft.Tables
import BucketStore.docBucket

/** VERIFIED-exact substring dedup at Lee-et-al scale minimum match
  * length (ExactSubstr, "Deduplicating Training Data Makes Language
  * Models Better", ACL'22) — the long-run upgrade of the q70/q82
  * char-gram family:
  *
  *  - CANDIDATES from the O(n) rolling kernel
  *    ([[graft.functions.TextWindowOps]]): every length-L code-point
  *    window hashed in ONE pass per document, so L=50..200 costs the
  *    same scan as L=20 — where q70's in-row
  *    `substring → md5 → conv` chain pays O(n·L) interpreted
  *    expression work and materializes L× the corpus bytes in-row.
  *  - EXACT VERIFY on the candidates only: duplicated-hash positions
  *    re-extract their actual window (`substring`, code-point
  *    positions — the kernel hashed exactly these) and must agree
  *    with ≥ 2 occurrences on the STRING value. Equal strings always
  *    collide on the rolling hash, so no true duplicate is lost; a
  *    hash collision is dropped by the verify — the span output is
  *    exact, not approximately-exact, unlike fixed-width-hash q70
  *    (where the 52-bit space makes a false span astronomically rare
  *    but not impossible).
  *
  * Why not a distributed suffix array (the other route to the same
  * primitive): prefix doubling needs ⌈log₂ L⌉ corpus-wide rank+sort
  * shuffle rounds to expose length-≥L repeats; the window form finds
  * the identical maximal spans (a duplicated substring of length ≥ L
  * covers exactly the positions whose L-window duplicates) with one
  * narrow scan + one hash shuffle + a candidates-only verify join.
  * On Spark the shuffle count IS the cost model — the window form is
  * the same semantics at 1/⌈log₂ L⌉ the exchanges, and the verify
  * side stays proportional to the true duplicate volume, not the
  * corpus.
  *
  * Scale shape: the hash aggregate is map-side combined; the
  * dup-hash join is 1:N semi (a boilerplate window skews a reducer
  * but cannot blow up pairs — AQE skew split absorbs it); the verify
  * join re-reads text for candidate DOCS only; the span-merge window
  * partitions by doc_id (per-key work bounded by document length,
  * the same bound as the text column itself). Nothing corpus-sized
  * reaches the driver. */
object ExactSubstring {

  /** Verified duplicated window positions: (doc_id, pos), pos
    * 1-indexed code points, each the start of a length-L window whose
    * exact string occurs ≥ 2 times in the corpus (self-repeats
    * count). */
  private[ops] def verifiedHits(docs: DataFrame, L: Int): DataFrame = {
    val t = Par.widen(docs).select(col("doc_id"), col("text"))
    val hashed = t.select(col("doc_id"),
        posexplode(graft.functions.exprs.substr_window_hashes(col("text"), L)))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
        col("col").as("h"))
    val dupH = hashed.groupBy(col("h")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select(col("h"))
    val cand = hashed.join(dupH, Seq("h"), "left_semi")
    // exact verify: candidates re-extract their window STRING and must
    // still duplicate on the value — collision-proof by construction
    val winCol = cand.join(t, Seq("doc_id"))
      .select(col("doc_id"), col("pos"),
        expr(s"substring(text, CAST(pos AS INT), $L)").as("win"))
    val dupWin = winCol.groupBy(col("win")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select(col("win"))
    winCol.join(dupWin, Seq("win"), "left_semi")
      .select(col("doc_id"), col("pos"))
  }

  /** Maximal verified duplicated spans per document: (doc_id,
    * span_start, span_len, n_windows); span_len covers [span_start,
    * last_window_start + L). Overlapping/adjacent windows merge (gap
    * ≤ L between consecutive duplicated starts). */
  def exactSubstringSpans(docs: DataFrame, L: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hits = verifiedHits(docs, L)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val lagPos = lag(col("pos"), 1).over(w)
    hits
      .withColumn("brk",
        when(lagPos.isNull || col("pos") - lagPos > L, 1L).otherwise(0L))
      .withColumn("island", sum(col("brk")).over(w))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + L - min(col("pos"))).as("span_len"),
        count(lit(1)).as("n_windows"))
      .select(col("doc_id"), col("span_start"), col("span_len"),
        col("n_windows"))
      .orderBy(col("doc_id"), col("span_start"))
  }

  /** q207: the verified-exact duplicated-span table at L=50 — the Lee
    * et al. minimum match length, 2.5× q70's gram window, priced at
    * the same single scan by the rolling kernel. */
  def q207ExactSubstring(s: SparkSession, dir: String, L: Int = 50): DataFrame =
    exactSubstringSpans(Tables.documents(s, dir), L)

  // ---------------------------------------------------------------- //
  // Standing window-hash index — the NearDupIndex lifecycle pattern  //
  // applied to verified-exact substring dedup (r13 verdict ask #7):  //
  // a corpus's window hashes live in a bucketed layout; new batches  //
  // APPEND their own hashes (O(batch), nothing global rewritten) and //
  // PROBE for exact duplicated spans against corpus ∪ batch without  //
  // ever re-hashing the corpus.                                      //
  // ---------------------------------------------------------------- //

  /** One pass of the rolling kernel: (doc_id, pos 1-based long, h). */
  private def windowHashes(docs: DataFrame, L: Int): DataFrame =
    Par.widen(docs).select(col("doc_id"),
        posexplode(graft.functions.exprs.substr_window_hashes(col("text"), L)))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
        col("col").as("h"))

  /** Write the standing layout: `dst` = window-hash postings
    * (doc_id, pos, h) partitioned by hash bucket (probes read their
    * buckets and join on h, so files are not sorted); `dst_docs` = the
    * corpus text bucketed by doc id (the verify step re-extracts
    * candidate windows from here — the index answers probes without
    * the original table, the `_docs` convention of the minhash
    * layout); `dst_meta` = (n_buckets, win_len). All three derive from
    * pins and write concurrently (Par.inParallel contract). */
  def writeWindowHashLayout(docs: DataFrame, dst: String, L: Int,
                            nBuckets: Int = 16): Unit = {
    val s = docs.sparkSession
    import s.implicits._
    val t = docs.select(col("doc_id"), col("text")).localCheckpoint()
    val hashed = windowHashes(t, L)
      .withColumn("bucket", docBucket(col("h"), nBuckets))
      .localCheckpoint()
    Par.inParallel(
      () => Layout.write(hashed, dst, SaveMode.Overwrite, Seq("bucket"), Nil),
      () => Layout.write(t.withColumn("dbucket", docBucket(col("doc_id"), nBuckets)),
        dst + "_docs", SaveMode.Overwrite, Seq("dbucket"), Nil),
      () => Seq((nBuckets, L)).toDF("n_buckets", "win_len").coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(dst + "_meta"))
  }

  /** Incremental append — the daily-ingest path: the batch's window
    * hashes and text land as extra part files under their buckets
    * (`appendToPostings` contract: untouched buckets keep their exact
    * file sets; `newDocs` must be NEW doc_ids). O(batch). A replayed
    * batch breaks that contract and duplicates its rows (checkpoint a
    * stream that feeds this). */
  def appendToWindowHashLayout(newDocs: DataFrame, dst: String): Long = {
    val s = newDocs.sparkSession
    val meta = s.read.parquet(dst + "_meta").head()
    val (nBuckets, l) = (meta.getInt(0), meta.getInt(1))
    val t = newDocs.select(col("doc_id"), col("text")).localCheckpoint()
    val hashed = windowHashes(t, l)
      .withColumn("bucket", docBucket(col("h"), nBuckets))
      .localCheckpoint()
    Par.inParallel(
      () => Layout.write(hashed, dst, SaveMode.Append, Seq("bucket"), Nil),
      () => Layout.write(t.withColumn("dbucket", docBucket(col("doc_id"), nBuckets)),
        dst + "_docs", SaveMode.Append, Seq("dbucket"), Nil))
    hashed.count()
  }

  /** Probe: the batch's verified maximal duplicated spans against
    * corpus ∪ batch — a batch window is a hit when its EXACT string
    * occurs ≥ 2 times across the indexed corpus and the batch itself
    * (the probeNearDup batch×corpus ∪ batch×batch convention).
    *
    * Dataflow: hash the batch once; candidate hashes = batch hashes
    * matching the store (semi-join over the batch's hash buckets) ∪
    * batch-internal duplicate hashes. Only candidate occurrences reach
    * the verify: batch side re-extracts from the batch text, corpus
    * side from the `_docs` store PRUNED to the matched postings'
    * dbuckets — the corpus is never re-hashed, and the verify volume
    * is proportional to true duplication, not corpus size. Exactness:
    * equal strings always share the rolling hash, so no true duplicate
    * escapes the candidate cut; unequal collisions die at the string
    * group-count, as in [[verifiedHits]]. */
  def probeExactSubstringSpans(s: SparkSession, dst: String,
                               batch: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val meta = s.read.parquet(dst + "_meta").head()
    val (nBuckets, l) = (meta.getInt(0), meta.getInt(1))
    val t = batch.select(col("doc_id"), col("text")).localCheckpoint()
    val bHashed = windowHashes(t, l)
      .withColumn("bucket", docBucket(col("h"), nBuckets))
      .localCheckpoint()
    val bBuckets = bHashed.select(col("bucket")).distinct()
      .collect().map(_.getInt(0))
    val store =
      if (bBuckets.isEmpty) s.read.parquet(dst).limit(0)
      else s.read.parquet(dst)
        .filter(col("bucket").isin(bBuckets.map(Int.box): _*))
    // corpus occurrences of batch hashes (the only store rows that can
    // verify a batch window), pinned: feeds the dbucket cut + verify
    val corpusHits = store.join(
        bHashed.select(col("h")).distinct(), Seq("h"), "left_semi")
      .select(col("doc_id"), col("pos"), col("h")).localCheckpoint()
    val batchDups = bHashed.groupBy(col("h")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select(col("h"))
    val candH = corpusHits.select(col("h")).distinct()
      .unionByName(batchDups).distinct().localCheckpoint()
    // candidate windows re-extract their exact strings — batch from its
    // own text, corpus from the _docs store pruned to matched dbuckets
    val batchWins = bHashed.join(candH, Seq("h"), "left_semi")
      .join(t, Seq("doc_id"))
      .select(lit(true).as("is_batch"), col("doc_id"), col("pos"),
        expr(s"substring(text, CAST(pos AS INT), $l)").as("win"))
    val dBuckets = corpusHits
      .select(docBucket(col("doc_id"), nBuckets).as("db"))
      .distinct().collect().map(_.getInt(0))
    val corpusText =
      if (dBuckets.isEmpty) s.read.parquet(dst + "_docs").limit(0)
      else s.read.parquet(dst + "_docs")
        .filter(col("dbucket").isin(dBuckets.map(Int.box): _*))
    val corpusWins = corpusHits.join(corpusText, Seq("doc_id"))
      .select(lit(false).as("is_batch"), col("doc_id"), col("pos"),
        expr(s"substring(text, CAST(pos AS INT), $l)").as("win"))
    val allWins = batchWins.unionByName(corpusWins)
    val dupWin = allWins.groupBy(col("win")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select(col("win"))
    val hits = allWins.filter(col("is_batch"))
      .join(dupWin, Seq("win"), "left_semi")
      .select(col("doc_id"), col("pos"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val lagPos = lag(col("pos"), 1).over(w)
    hits
      .withColumn("brk",
        when(lagPos.isNull || col("pos") - lagPos > l, 1L).otherwise(0L))
      .withColumn("island", sum(col("brk")).over(w))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + l - min(col("pos"))).as("span_len"),
        count(lit(1)).as("n_windows"))
      .select(col("doc_id"), col("span_start"), col("span_len"),
        col("n_windows"))
      .orderBy(col("doc_id"), col("span_start"))
  }

  /** q258: the CUT PLAN that completes the Lee-et-al pipeline — q207
    * finds verified duplicated windows, this decides what to delete:
    * each duplicated window string keeps its CANONICAL occurrence (the
    * corpus-first: min doc_id, then min pos) and every other
    * occurrence is marked for removal; the marked positions merge into
    * maximal per-doc cut spans (the q207 gap ≤ L rule) and the plan
    * reports, per affected doc, the windows/spans/chars to cut and
    * the cleaned length. Keep-first (not cut-everywhere) preserves one
    * copy of every string — dedup, not destruction.
    *
    * Scale shape: on top of the verified-occurrence frame, the
    * canonical pick is one min(struct) aggregate per window string
    * (map-side combined; a boilerplate window's occurrence list skews
    * a reducer, never pairs), the cut set is an anti-join, and the
    * span merge windows per doc (bounded by doc length). */
  def q258ExactSubstringCutPlan(s: SparkSession, dir: String,
                                L: Int = 50): DataFrame =
    cutPlanOf(Tables.documents(s, dir), L)

  /** The cut-plan core over any (doc_id, text) frame. */
  private[graft] def cutPlanOf(docs: DataFrame, L: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = Par.widen(docs).select(col("doc_id"), col("text"))
    val hashed = windowHashes(t, L)
    val dupH = hashed.groupBy(col("h")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select(col("h"))
    val winCol = hashed.join(dupH, Seq("h"), "left_semi")
      .join(t, Seq("doc_id"))
      .select(col("doc_id"), col("pos"),
        expr(s"substring(text, CAST(pos AS INT), $L)").as("win"))
    val dupWin = winCol.groupBy(col("win")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select(col("win"))
    val occ = winCol.join(dupWin, Seq("win"), "left_semi")
      .localCheckpoint() // feeds the canonical pick AND the anti-join
    val canonical = occ.groupBy(col("win"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("first"))
      .select(col("win"), col("first.doc_id").as("doc_id"),
        col("first.pos").as("pos"))
    val cuts = occ.join(canonical, Seq("win", "doc_id", "pos"), "left_anti")
      .select(col("doc_id"), col("pos")).distinct()
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val lagPos = lag(col("pos"), 1).over(w)
    val spans = cuts
      .withColumn("brk",
        when(lagPos.isNull || col("pos") - lagPos > L, 1L).otherwise(0L))
      .withColumn("island", sum(col("brk")).over(w))
      .groupBy(col("doc_id"), col("island"))
      .agg((max(col("pos")) + L - min(col("pos"))).as("span_len"),
        count(lit(1)).as("n_windows"))
    spans.groupBy(col("doc_id"))
      .agg(sum(col("n_windows")).as("n_cut_windows"),
        count(lit(1)).as("n_cut_spans"),
        sum(col("span_len")).as("chars_cut"))
      .join(docs.select(col("doc_id"),
        length(col("text")).cast("long").as("orig_len")), Seq("doc_id"))
      .withColumn("cleaned_len", col("orig_len") - col("chars_cut"))
      .select(col("doc_id"), col("n_cut_windows"), col("n_cut_spans"),
        col("chars_cut"), col("orig_len"), col("cleaned_len"))
      .orderBy(col("doc_id"))
  }

  /** q248: the STREAMED window-hash index lifecycle as a declared
    * query (the q169 shape): index the %5∈{1,2,3} slice, stream-append
    * the %10∈{4,9} slices as two micro-batches, probe with the %5=0
    * slice. Because %10∈{4,9} IS %5=4, the maintained index plus the
    * probe batch covers the whole corpus — so the oracle is q207's
    * definitional full-corpus dup scan restricted to probe-doc spans,
    * and any staleness in the append path (a batch's hashes missing
    * from the store) surfaces as a missing span. */
  def q248StreamedExactSubstringIndex(s: SparkSession, dir: String,
                                      L: Int = 50): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val rootStr = graft.Sidecars.path("graft_streamed_exactsub")
    val root = new org.apache.hadoop.fs.Path(rootStr)
    root.getFileSystem(s.sparkContext.hadoopConfiguration).delete(root, true)
    val dst = s"$rootStr/idx"
    writeWindowHashLayout(docs.filter(pmod(col("doc_id"), lit(5)).isin(1, 2, 3)),
      dst, L, nBuckets = 16)
    val stream = StreamingGates.stagedFileStream(rootStr,
      Seq(4, 9).map(i => docs.filter(pmod(col("doc_id"), lit(10)) === i)))
    graft.streaming.Streaming.appendEachBatch(stream)((b, _) =>
      appendToWindowHashLayout(b, dst)).awaitTermination()
    StreamingGates.withMicroBatchConfs(s) {
      probeExactSubstringSpans(s, dst, docs.filter(pmod(col("doc_id"), lit(5)) === 0))
    }
  }
}
