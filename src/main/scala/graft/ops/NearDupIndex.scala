package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Layout
import BucketStore.{docBucket, termBucketCol}

/** Standing MinHash-LSH near-dup index — the dedup-on-INGEST path.
  * q26 finds near-dup pairs within one corpus scan; a 100 TB standing
  * corpus cannot re-minhash itself for every arriving batch. This
  * layout freezes the corpus's banded signatures ON DISK once, and a
  * batch probe touches only the band buckets the batch's own
  * signatures hash into — O(batch) work against an O(corpus) index,
  * the same write-time-layout answer as the q29 signature buckets,
  * the IVF cells and the q58 posting lists.
  *
  * Stores (all md5-derived, so write/probe/append agree bit-for-bit):
  *   dst        — (band, bh, doc_id) partitioned by bucket(bh): the
  *                LSH candidate join surface, pruned to the batch's
  *                literal bucket set at probe time;
  *   dst_docs   — (doc_id, gs) the doc's CAPPED shingle array,
  *                partitioned by pmod(doc_id): fetched only for docs
  *                that appear in a candidate pair (exact-Jaccard
  *                verification never scans the corpus);
  *   dst_sh_df  — (g, df) shingle document frequencies, partitioned by
  *                the shingle's term bucket: APPEND-ONLY SEGMENTS that
  *                probes sum for just the batch's shingles, so the
  *                batch is capped against corpus+batch df with a
  *                bucket-pruned read;
  *   dst_meta   — (n_buckets, max_doc_freq);
  *   dst_tombstones — (doc_id) DELETED ids, masked by every probe
  *                immediately and dropped physically by
  *                `purgeTombstones` (touched dirs only).
  *
  * Semantics: q26's — candidates from 4×2 band collisions, then exact
  * Jaccard ≥ threshold over capped shingle sets. The stop-shingle cap
  * for a batch counts corpus df (summed segments) + within-batch df;
  * corpus docs keep the arrays capped at THEIR index time — a shingle
  * that crosses the cap only through later appends stays in older
  * docs' arrays until a rewrite (same freshness contract as the IVF
  * layout's frozen centroids). The drift is MEASURED and HEALED, not
  * conventional: every append's [[NearDupIndex.MinhashAppendReport]]
  * counts the cap crossings it caused (mirroring the IVF store's
  * occupancy refit signal), and [[NearDupIndex.rewriteCapCrossed]]
  * re-caps exactly the affected docs' arrays + band rows, restoring
  * fresh-write equality. With no cap crossing between write and
  * probe, probe ≡ `minhashLshPairs` on the union restricted to
  * batch-touching pairs (spec-asserted).
  *
  * Batch doc_ids must be disjoint from indexed ids (append-only store,
  * as `appendToPostings`). Driver state is bounded: literal bucket
  * sets (≤ n_buckets ints) — never rows.
  */
object NearDupIndex {

  private val K = 8      // signature components
  private val BandsN = 4 // bands of 2 components

  /** Recover the stores a bucket swap rewrites. */
  private[graft] def recoverSwaps(s: SparkSession, dst: String): Unit =
    BucketStore.recover(s, Seq(dst, dst + "_docs"))

  /** (doc_id, h0..h7) signatures from a capped shingle set. */
  private def signatures(sh: DataFrame): DataFrame =
    Dedup.withDigests(sh).groupBy(col("doc_id"))
      .agg(Dedup.minhashAgg(0), (1 until K).map(Dedup.minhashAgg): _*)

  /** One evaluation of `sig` exploded to (doc_id, band, bh) — q26's
    * banding, kept identical so index candidates are q26 candidates. */
  private def bandRows(sig: DataFrame): DataFrame = {
    val bandStructs = (0 until BandsN).map { b =>
      struct(lit(b).as("band"),
        md5(concat(col(s"h${2 * b}"), col(s"h${2 * b + 1}"))).as("bh"))
    }
    sig.select(col("doc_id"), explode(array(bandStructs: _*)).as("b"))
      .select(col("doc_id"), col("b.band").as("band"), col("b.bh").as("bh"))
  }

  /** One row per distinct batch shingle: (g, dfb, dfc) — the batch's
    * own df and the summed corpus segments (bucket-pruned read; dfc is
    * null for shingles new to the corpus). Feeds both the batch cap
    * (dfb + dfc > max) and the append's drift signal (dfc ≤ max <
    * dfb + dfc — crossings that leave older arrays stale). */
  private def batchCorpusDf(s: SparkSession, dst: String,
                            raw: DataFrame, nBuckets: Int): DataFrame = {
    val dfBatch = raw.groupBy(col("g")).agg(count(lit(1)).as("dfb"))
      .withColumn("gb", termBucketCol(col("g"), nBuckets))
    val gBuckets = dfBatch.select(col("gb")).distinct()
      .collect().map(_.getInt(0))
    val dfCorpus = s.read.parquet(dst + "_sh_df")
      .filter(col("bucket").isin(gBuckets.map(Int.box): _*))
      .groupBy(col("g")).agg(sum(col("df")).as("dfc"))
    dfBatch.join(dfCorpus, Seq("g"), "left")
  }

  /** The batch's capped per-doc arrays given its (g, dfb, dfc) frame,
    * pinned (they feed signatures AND verification). */
  private def cappedSetsFrom(raw: DataFrame, bdf: DataFrame,
                             maxDocFreq: Long): DataFrame = {
    val stop = bdf
      .filter(col("dfb") + coalesce(col("dfc"), lit(0L)) > maxDocFreq)
      .select(col("g"))
    Pin.Checkpoint(raw.join(broadcast(stop), Seq("g"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("g"))).as("gs")))
  }

  /** Capped shingle sets for a batch, with the cap counting summed
    * corpus df segments (bucket-pruned read) + within-batch df. */
  private def cappedBatchSets(s: SparkSession, dst: String,
                              raw: DataFrame, nBuckets: Int,
                              maxDocFreq: Long): DataFrame =
    cappedSetsFrom(raw, batchCorpusDf(s, dst, raw, nBuckets), maxDocFreq)

  private def jaccardOf(pairs: DataFrame, threshold: Double): DataFrame =
    pairs
      .select(col("d1"), col("d2"),
        size(array_intersect(col("gs1"), col("gs2"))).as("c"),
        size(col("gs1")).as("n1"), size(col("gs2")).as("n2"))
      .withColumn("jaccard",
        col("c").cast("double") / (col("n1") + col("n2") - col("c")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("d1"), col("d2"), col("jaccard"))

  /** Index a corpus: one raw shingle pass feeds the df sidecar, the
    * capped arrays and the band surface. */
  def writeMinhashLayout(docs: DataFrame, dst: String, nBuckets: Int = 64,
                         maxDocFreq: Long = 50L): Unit = {
    val s = docs.sparkSession
    import s.implicits._
    // shingles widens internally — wrapping its input in Par.widen again
    // would re-shuffle (widen sees the ORIGINAL file count, not the new
    // partitioning, so widen∘widen is two full repartitions)
    val raw = Pin.Checkpoint(Dedup.shingles(docs, 3))
    // dfG pinned: it feeds BOTH the _sh_df write and the stop list —
    // unpinned it would aggregate the shingle frame twice
    val dfG = Pin.Checkpoint(raw.groupBy(col("g")).agg(count(lit(1)).as("df"))
      .withColumn("bucket", termBucketCol(col("g"), nBuckets)))
    val stop = dfG.filter(col("df") > maxDocFreq).select(col("g"))
    val capped = Pin.Checkpoint(raw.join(broadcast(stop), Seq("g"), "left_anti"))
    // the four layout artifacts all derive from the pins — concurrent
    // writes (Par.inParallel contract: wall here is serialized job
    // planning + commit latency, not executor CPU)
    Par.inParallel(
      () => Layout.write(dfG, dst + "_sh_df", SaveMode.Overwrite, Seq("bucket"), Nil),
      () => Layout.write(capped.groupBy(col("doc_id"))
          .agg(sort_array(collect_list(col("g"))).as("gs"))
          .withColumn("dbucket", docBucket(col("doc_id"), nBuckets)),
        dst + "_docs", SaveMode.Overwrite, Seq("dbucket"), Nil),
      () => Layout.write(bandRows(signatures(capped))
          .withColumn("bucket", termBucketCol(col("bh"), nBuckets)),
        dst, SaveMode.Overwrite, Seq("bucket"), Nil),
      () => Seq((nBuckets, maxDocFreq)).toDF("n_buckets", "max_doc_freq").coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(dst + "_meta"))
  }

  /** Probe a batch: near-dup pairs (batch × corpus) ∪ (batch × batch)
    * at Jaccard ≥ `threshold`, reading only the batch's band buckets
    * and the candidate docs' array buckets. Output (d1, d2, jaccard),
    * d1 < d2, sorted. */
  def probeNearDup(s: SparkSession, dst: String, newDocs: DataFrame,
                   threshold: Double = 0.5): DataFrame = {
    val meta = s.read.parquet(dst + "_meta").head()
    val (nBuckets, maxDocFreq) = (meta.getInt(0), meta.getLong(1))
    val raw = Pin.Checkpoint(Dedup.shingles(newDocs, 3)) // shingles widens internally
    val newSets = cappedBatchSets(s, dst, raw, nBuckets, maxDocFreq)
    val newBands = Pin.Checkpoint(bandRows(signatures(
        newSets.select(col("doc_id"), explode(col("gs")).as("g"))))
      .withColumn("bucket", termBucketCol(col("bh"), nBuckets)))
    val bBuckets = newBands.select(col("bucket")).distinct()
      .collect().map(_.getInt(0))
    val corpusBands =
      if (bBuckets.isEmpty) s.read.parquet(dst).limit(0)
      else s.read.parquet(dst)
        .filter(col("bucket").isin(bBuckets.map(Int.box): _*))
    // tombstoned docs are masked HERE — before the dBuckets collection,
    // so a deleted doc costs neither an array fetch nor a verification
    val candCross = Pin.Checkpoint(corpusBands.as("x")
      .join(newBands.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh"))
      .select(col("x.doc_id").as("cid"), col("y.doc_id").as("nid"))
      .distinct()
      .join(BucketStore.tombstones(s, dst).withColumnRenamed("doc_id", "cid"),
        Seq("cid"), "left_anti"))
    val dBuckets = candCross
      .select(docBucket(col("cid"), nBuckets).as("db")).distinct()
      .collect().map(_.getInt(0))
    val corpusSets =
      if (dBuckets.isEmpty) s.read.parquet(dst + "_docs").limit(0)
      else s.read.parquet(dst + "_docs")
        .filter(col("dbucket").isin(dBuckets.map(Int.box): _*))
    val cross = candCross
      .join(corpusSets.select(col("doc_id").as("cid"), col("gs").as("gsc")), "cid")
      .join(newSets.select(col("doc_id").as("nid"), col("gs").as("gsn")), "nid")
      .select(least(col("cid"), col("nid")).as("d1"),
        greatest(col("cid"), col("nid")).as("d2"),
        when(col("cid") < col("nid"), col("gsc")).otherwise(col("gsn")).as("gs1"),
        when(col("cid") < col("nid"), col("gsn")).otherwise(col("gsc")).as("gs2"))
    val within = newBands.as("x").join(newBands.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      .distinct()
      .join(newSets.select(col("doc_id").as("d1"), col("gs").as("gs1")), "d1")
      .join(newSets.select(col("doc_id").as("d2"), col("gs").as("gs2")), "d2")
      .select(col("d1"), col("d2"), col("gs1"), col("gs2"))
    jaccardOf(cross.unionByName(within), threshold)
      .distinct()
      .orderBy(col("d1"), col("d2"))
  }

  /** Collapse the df sidecar's append segments back to one row per
    * shingle (sum-preserving, crash-safe via `Compaction.recover`) —
    * run when segment count grows. The band and array stores need no
    * row-level compaction (their rows are per-doc facts, not summed
    * aggregates); small-file hygiene for them is `etl.Compaction`. */
  def compactIndex(s: SparkSession, dst: String): (Long, Long) =
    SegmentCompaction.compactSegments(s, dst + "_sh_df",
      keys = Seq("g"), sums = Seq("df"))

  // ------------------------------------------------------------ deletes

  /** Physically drop tombstoned docs from the index — the compaction
    * half of the delete path. Only TOUCHED partition dirs are
    * rewritten: the dead docs' band buckets are recomputed from their
    * STORED capped arrays (no text needed — signatures are md5-pure),
    * so the rewrite reads `_docs` pruned to the dead dbuckets and the
    * band store pruned to the dead band buckets, never the corpus. A
    * negative df segment (from the stored arrays) keeps the `_sh_df`
    * sums equal to a fresh rewrite for every shingle still in an
    * array; shingles already stopped at the dead docs' index time
    * carry no correction — the same freshness contract as append-time
    * caps (exact again after [[compactIndex]] + a layout rewrite).
    *
    * Each touched dir is swapped by [[BucketStore.rewriteBuckets]] and
    * the sidecar cleared LAST — the crash contract is
    * [[BucketStore]]'s.
    *
    * Returns (docs purged, band buckets rewritten). The dead-id SET
    * never materializes on the driver — membership is by anti-join
    * against the pinned tombstone frame, so a mass delete (every id of
    * a decommissioned source at once) stays executor-side; the only
    * driver lists are bucket numbers, bounded by the layout's nBuckets
    * whatever the delete volume. */
  def purgeTombstones(s: SparkSession, dst: String): (Long, Array[Int]) = {
    recoverSwaps(s, dst)
    val dead = Pin.Checkpoint(BucketStore.tombstones(s, dst))
    if (dead.isEmpty) return (0L, Array.empty)
    val nDead = dead.count()
    val nBuckets = BucketStore.nBuckets(s, dst)

    // dead docs' stored arrays (pruned read: only their dbuckets —
    // bounded ≤ nBuckets driver scalars however many docs die)
    val dBuckets = dead.select(docBucket(col("doc_id"), nBuckets).as("db"))
      .distinct().collect().map(_.getInt(0)).sorted
    val deadDocs = Pin.Checkpoint(s.read.parquet(dst + "_docs")
      .filter(col("dbucket").isin(dBuckets.map(Int.box): _*))
      .join(dead, Seq("doc_id"), "left_semi"))

    // recompute the dead docs' band buckets from the stored arrays and
    // rewrite exactly those dirs
    val deadBands = bandRows(signatures(
        deadDocs.select(col("doc_id"), explode(col("gs")).as("g"))))
      .withColumn("bucket", termBucketCol(col("bh"), nBuckets))
    val bBuckets = deadBands.select(col("bucket")).distinct()
      .collect().map(_.getInt(0)).sorted
    // independent stores, both anti-joining the pinned dead set —
    // concurrent rewrites (Par.inParallel contract)
    Par.inParallel(
      () => BucketStore.rewriteBuckets(s, dst, "bucket", bBuckets,
        keep = _.join(dead, Seq("doc_id"), "left_anti"),
        sortCols = Nil),
      () => BucketStore.rewriteBuckets(s, dst + "_docs", "dbucket", dBuckets,
        keep = _.join(dead, Seq("doc_id"), "left_anti"),
        sortCols = Nil))

    // negative df segment from the PINNED arrays — probes' sums drop
    // the dead docs' contributions without touching existing segments.
    // Written AFTER the store rewrites so a crash-rerun (which re-reads
    // _docs and finds no dead rows) can never decrement twice; the
    // one crash window (rewrites done, segment unwritten) leaves df
    // conservatively HIGH — caps trigger earlier, never later
    Layout.write(deadDocs.select(explode(col("gs")).as("g"))
        .groupBy(col("g")).agg((-count(lit(1))).as("df"))
        .withColumn("bucket", termBucketCol(col("g"), nBuckets)),
      dst + "_sh_df", SaveMode.Append, Seq("bucket"), Nil)

    // clear the sidecar LAST — any crash above leaves tombstones standing
    BucketStore.clearTombstones(s, dst)
    (nDead, bBuckets)
  }

  /** What an incremental minhash-index append did, plus the freshness
    * signal — the [[graft.ops.Similarity]] `AnnAppendReport` shape for
    * THIS layout's drift mode: `capCrossed` counts shingles whose
    * summed corpus df was ≤ `maxDocFreq` before the append but crossed
    * it with the batch's df added. Those shingles are already excluded
    * from the BATCH's arrays (the cap counts corpus+batch), but they
    * remain UNCAPPED in older docs' stored arrays — the index has
    * drifted from what a fresh write would produce, and
    * [[NearDupIndex.rewriteCapCrossed]] re-caps exactly the affected
    * docs. A zero-crossing append leaves the layout fresh-write-exact
    * (the documented parity precondition). */
  final case class MinhashAppendReport(appended: Long,
                                       touchedBuckets: Array[Int],
                                       capCrossed: Long,
                                       rewriteRecommended: Boolean)

  /** Append a batch to the index: band rows and capped arrays land as
    * extra part files under their buckets' dirs, the batch's shingle
    * dfs as a NEW SEGMENT of the df sidecar — nothing corpus-global is
    * rewritten (the `appendToPostings` contract). The batch is capped
    * against corpus+batch df, exactly as a probe of the same batch
    * would be. The report's `capCrossed`/`rewriteRecommended` mirror
    * the IVF store's occupancy refit signal: they flag appends that
    * left OLDER docs' arrays stale against the new df totals. df
    * segments are counts: a replayed batch double-counts (checkpoint a
    * stream that feeds this). Recovers the store's bucket swaps first
    * ([[BucketStore]]'s crash contract). */
  def appendToMinhashLayout(newDocs: DataFrame, dst: String): MinhashAppendReport = {
    val s = newDocs.sparkSession
    recoverSwaps(s, dst)
    val meta = s.read.parquet(dst + "_meta").head()
    val (nBuckets, maxDocFreq) = (meta.getInt(0), meta.getLong(1))
    val raw = Pin.Checkpoint(Dedup.shingles(newDocs, 3)) // shingles widens internally
    // cap the batch BEFORE its df segment lands — reading the sidecar
    // after the append would count the batch twice. Pin the per-shingle
    // df frame: it feeds the cap AND the crossing count below.
    val bdf = Pin.Checkpoint(batchCorpusDf(s, dst, raw, nBuckets))
    // newSets pinned: it feeds the _docs write, the band derivation and
    // the appended-count — previously each re-aggregated from the pins
    val newSets = Pin.Checkpoint(cappedSetsFrom(raw, bdf, maxDocFreq))
    val bands = Pin.Checkpoint(bandRows(signatures(
        newSets.select(col("doc_id"), explode(col("gs")).as("g"))))
      .withColumn("bucket", termBucketCol(col("bh"), nBuckets)))
    // three independent appends from the pins — concurrent
    // (Par.inParallel contract)
    Par.inParallel(
      () => Layout.write(raw.groupBy(col("g")).agg(count(lit(1)).as("df"))
          .withColumn("bucket", termBucketCol(col("g"), nBuckets)),
        dst + "_sh_df", SaveMode.Append, Seq("bucket"), Nil),
      () => Layout.write(newSets.withColumn("dbucket", docBucket(col("doc_id"), nBuckets)),
        dst + "_docs", SaveMode.Append, Seq("dbucket"), Nil),
      () => Layout.write(bands, dst, SaveMode.Append, Seq("bucket"), Nil))
    val touched = bands.select(col("bucket")).distinct().collect().map(_.getInt(0))
    // drift signal: shingles whose corpus df sat in (0, max] but whose
    // corpus+batch df crossed the cap. dfc ≤ max implies the shingle
    // was ≤ cap at every earlier append too (positive segments only
    // grow it), so every indexed holder still carries it — exactly the
    // arrays a rewrite must re-cap. dfc null/≤0 shingles live in no
    // stored array (new to the corpus, or every holder purged).
    val capCrossed = bdf.filter(
      col("dfc").isNotNull && col("dfc") > 0 && col("dfc") <= maxDocFreq &&
        col("dfb") + col("dfc") > maxDocFreq).count()
    MinhashAppendReport(newSets.count(), touched.sorted,
      capCrossed, capCrossed > 0)
  }

  /** Re-cap the stored arrays that a sequence of appends left stale:
    * for every shingle whose SUMMED df now exceeds `maxDocFreq`
    * (the fresh-write stop set), drop it from the arrays of the docs
    * that still carry it, and rewrite those docs' band rows from the
    * re-capped arrays — after which the array and band stores equal a
    * fresh [[writeMinhashLayout]] of the same corpus, restoring the
    * probe-parity precondition that appends' cap crossings eroded
    * (spec-asserted: probe ≡ fresh-write probe, stores row-equal).
    *
    * Scale shape: ONE pruned pass finds the over-cap shingle set
    * (aggregated df sidecar — |distinct shingles| rows, heavy-tail
    * HEAD only survives the filter, so the broadcast is small by
    * construction); affected docs come from one explode + semi-join
    * over the array store; only THEIR dbuckets and band buckets are
    * swap-rewritten via [[BucketStore.rewriteBuckets]].
    * The df sidecar itself is cap-independent raw counts — untouched.
    * Docs already capped at their own index time carry no over-cap
    * shingles, so they are never touched: cost scales with drift, not
    * corpus.
    *
    * Direction note: this heals UPWARD crossings (appends grew a df
    * past the cap). A df that falls BELOW the cap via tombstone purges
    * cannot restore the shingle to arrays capped earlier — that (rare,
    * delete-driven) direction still needs a full layout rewrite, the
    * same contract as the IVF store's refit.
    *
    * Returns (docs re-capped, band buckets rewritten). */
  def rewriteCapCrossed(s: SparkSession, dst: String): (Long, Array[Int]) = {
    recoverSwaps(s, dst)
    val meta = s.read.parquet(dst + "_meta").head()
    val (nBuckets, maxDocFreq) = (meta.getInt(0), meta.getLong(1))
    val over = Pin.Checkpoint(s.read.parquet(dst + "_sh_df")
      .groupBy(col("g")).agg(sum(col("df")).as("dft"))
      .filter(col("dft") > maxDocFreq).select(col("g")))
    val docsStore = s.read.parquet(dst + "_docs")
    val affectedIds = docsStore
      .select(col("doc_id"), explode(col("gs")).as("g"))
      .join(broadcast(over), Seq("g"), "left_semi")
      .select(col("doc_id")).distinct()
    val affected = Pin.Checkpoint(docsStore.join(affectedIds, Seq("doc_id"), "left_semi"))
    if (affected.isEmpty) return (0L, Array.empty)
    val nAffected = affected.count()
    // re-capped arrays; a doc whose EVERY shingle is over-cap vanishes
    // from the groupBy — exactly a fresh write's behavior (no array
    // row, no band rows)
    val recapped = Pin.Checkpoint(affected
      .select(col("doc_id"), explode(col("gs")).as("g"))
      .join(broadcast(over), Seq("g"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("g"))).as("gs")))
    val oldBands = bandRows(signatures(
        affected.select(col("doc_id"), explode(col("gs")).as("g"))))
      .withColumn("bucket", termBucketCol(col("bh"), nBuckets))
    val newBands = Pin.Checkpoint(bandRows(signatures(
        recapped.select(col("doc_id"), explode(col("gs")).as("g"))))
      .withColumn("bucket", termBucketCol(col("bh"), nBuckets)))
    // touched dirs = old rows' buckets (rows to drop) ∪ new rows'
    // buckets (rows to land) — bounded ≤ nBuckets driver ints
    val bBuckets = (oldBands.select(col("bucket"))
        .unionByName(newBands.select(col("bucket"))))
      .distinct().collect().map(_.getInt(0)).sorted
    val affIds = affected.select(col("doc_id"))
    val dBuckets = affected.select(col("dbucket")).distinct()
      .collect().map(_.getInt(0)).sorted
    // independent stores, keep-functions reading only pins — concurrent
    Par.inParallel(
      () => BucketStore.rewriteBuckets(s, dst, "bucket", bBuckets,
        keep = _.join(affIds, Seq("doc_id"), "left_anti")
          .unionByName(newBands.select(col("doc_id"), col("band"),
            col("bh"), col("bucket"))),
        sortCols = Nil),
      () => BucketStore.rewriteBuckets(s, dst + "_docs", "dbucket", dBuckets,
        keep = _.join(affIds, Seq("doc_id"), "left_anti")
          .unionByName(recapped
            .withColumn("dbucket", docBucket(col("doc_id"), nBuckets))
            .select(col("doc_id"), col("gs"), col("dbucket"))),
        sortCols = Nil))
    (nAffected, bBuckets)
  }

  /** q89: the standing index as a DECLARED query — the write→probe path
    * proven in the driver gate, not only in specs: index the %5≠0 slice
    * of documents, probe with the %5=0 slice, emit the verified
    * near-dup pairs. maxDocFreq = 10000 (uncrossed at gate scale) makes
    * the capped arrays equal the full shingle sets, so the oracle
    * replays the probe exactly as the batch-touching restriction of the
    * whole-corpus banded chain at the same cap (the documented
    * exact-parity precondition).
    *
    * Cost note: the declared query REBUILDS the layout every run
    * (~0.8 of its bench time) so the gate can never read an index
    * stale against regenerated testdata; a standing deployment pays
    * the write once and every subsequent call is the probe alone
    * (measured ~0.2 of the query's bench time). */
  def q89IndexProbe(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val root = new org.apache.hadoop.fs.Path(graft.Sidecars.path("graft_neardup_index"))
    root.getFileSystem(s.sparkContext.hadoopConfiguration).delete(root, true)
    val dst = graft.Sidecars.path("graft_neardup_index/idx")
    writeMinhashLayout(docs.filter(col("doc_id") % 5 =!= 0), dst,
      nBuckets = 16, maxDocFreq = 10000L) // the q96 bucket-sizing note
    probeNearDup(s, dst, docs.filter(col("doc_id") % 5 === 0))
      .orderBy(col("d1"), col("d2"))
  }

  /** q169: q89's index BUILT THROUGH STRUCTURED STREAMING — the
    * initial layout holds the %5∈{1,2,3} slices; the %5=4 slice
    * arrives as TWO micro-batches (split %10∈{4,9}) whose foreachBatch
    * runs the real [[appendToMinhashLayout]] (the counting-store
    * maintenance unit); the probe is q89's, and the ORACLE is q89's
    * verbatim (the index content is the %5≠0 corpus regardless of
    * arrival path) — hash equality proves streamed maintenance ≡ the
    * one-shot write. Cap 10000 stays uncrossed at gate scale, the
    * documented exact-parity precondition.
    *
    * Gate pricing (the r10 verdict's slim): two appends prove the
    * multi-batch path — df segments from batch 1 must cap batch 2 —
    * exactly as three did, and the bulk write covers 3/5 of the corpus
    * instead of 1/5, so the gate prices ONE bulk load + incremental
    * maintenance rather than rebuilding most of the index through
    * appends (a standing deployment's actual shape). */
  def q169StreamedNearDupIndex(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val rootStr = graft.Sidecars.path("graft_streamed_neardup")
    val root = new org.apache.hadoop.fs.Path(rootStr)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(root, true)
    val dst = s"$rootStr/idx"
    writeMinhashLayout(docs.filter(pmod(col("doc_id"), lit(5)).isin(1, 2, 3)), dst,
      nBuckets = 16, maxDocFreq = 10000L)
    val stream = StreamingGates.stagedFileStream(rootStr,
      Seq(4, 9).map(i => docs.filter(pmod(col("doc_id"), lit(10)) === i)))
    graft.streaming.Streaming.appendEachBatch(stream)((b, _) =>
      appendToMinhashLayout(b, dst)).awaitTermination()
    // the probe's eager pins (batch sets, bands, candidates) are
    // micro-batch-sized too — build them under the same confs; the
    // returned frame itself is ≤ candidate-pairs rows
    StreamingGates.withMicroBatchConfs(s) {
      probeNearDup(s, dst, docs.filter(pmod(col("doc_id"), lit(5)) === 0))
        .orderBy(col("d1"), col("d2"))
    }
  }

  /** [[BucketStore.sync]] over this index: purge is [[purgeTombstones]],
    * append is [[appendToMinhashLayout]] followed by
    * [[rewriteCapCrossed]] when the append crossed the df cap.
    * Returns (docs purged, removals masked, docs appended). */
  def sync(oldDocs: DataFrame, newDocs: DataFrame, dst: String): (Long, Long, Long) =
    BucketStore.sync(oldDocs, newDocs, dst)(purgeTombstones(newDocs.sparkSession, dst)._1) { toAdd =>
      val report = appendToMinhashLayout(toAdd, dst)
      // self-healing lifecycle: an append that pushed shingles over
      // the df cap leaves older arrays stale — heal immediately so a
      // sync'd index is ALWAYS fresh-write-equal (the one-call
      // maintenance contract; cost scales with drift, not corpus)
      if (report.rewriteRecommended) rewriteCapCrossed(newDocs.sparkSession, dst)
      report.appended
    }
}
