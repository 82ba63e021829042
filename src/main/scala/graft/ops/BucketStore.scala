package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Layout

/** The file protocol of the bucketed standing indexes ([[NearDupIndex]],
  * [[Retrieval]]'s posting layout, [[ExactSubstring]]'s window hashes):
  * bucket columns, `<dst>_meta` (first column `n_buckets`), the
  * `<dst>_tombstones` sidecar ((doc_id) partitioned on `dbucket`), the
  * bucket swap a purge rewrites touched dirs with, and [[sync]].
  *
  * Crash contract. A purge clears the tombstone sidecar LAST, so a crash
  * anywhere in it leaves every tombstone standing and a re-run finishes
  * the job. A swap renames `<col>=N` → `<col>=N.bak`, the fresh dir in,
  * then drops the backup; a refused rename throws with the backup on
  * disk. Until the next [[recover]] the store is NOT probe-safe: the
  * backup sits inside the store root, so partition discovery infers the
  * bucket column as a string — under ANSI every probe's `bucket IN
  * (ints)` filter throws `CAST_INVALID_INPUT`, and a read that sees both
  * `N` and `N.bak` returns bucket N twice. Probes do not recover; every
  * purge, re-cap and append recovers its store's swapped roots first
  * (an append beside a backup would recreate bucket N with only its new
  * rows, and the recovery after it would drop the old ones). After a
  * crash, run one of them before probing. */
object BucketStore {

  /** Integer key → partition bucket (plain modulo — ids and rolling
    * hashes are already uniform enough for file sizing, and readers
    * only need pruning, not balance guarantees). */
  private[ops] def docBucket(id: Column, nBuckets: Int): Column =
    pmod(id, lit(nBuckets.toLong)).cast("int")

  /** Term → partition bucket: the first 52 bits of md5, mod `nBuckets`.
    * Computed md5-hex-prefix-wise so the DRIVER can derive a literal
    * bucket set from query terms (static partition pruning happens at
    * planning, before any file listing) and the EXECUTORS compute the
    * identical value columnar-wise at write time — both sides hash the
    * same UTF-8 bytes. */
  private[graft] def termBucket(term: String, nBuckets: Int): Int = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(term.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    (java.lang.Long.parseLong(hex.take(13), 16) % nBuckets).toInt
  }

  // INT, not long: partition dir values read back as IntegerType, and a
  // literal set of the same type keeps the isin a STATIC partition
  // filter (a widening cast on the partition column can defeat pruning)
  private[ops] def termBucketCol(term: Column, nBuckets: Int): Column =
    pmod(conv(substring(md5(term), 1, 13), 16, 10).cast("long"),
      lit(nBuckets.toLong)).cast("int")

  private[ops] def nBuckets(s: SparkSession, dst: String): Int =
    s.read.parquet(dst + "_meta").head().getInt(0)

  private def tombPath(dst: String) = dst + "_tombstones"

  private def fsOf(s: SparkSession, p: Path) =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  private[ops] def hasTombstones(s: SparkSession, dst: String): Boolean = {
    val p = new Path(tombPath(dst))
    fsOf(s, p).exists(p)
  }

  /** The sidecar's (doc_id, dbucket) rows, None when none stand. */
  private[ops] def tombstoneRows(s: SparkSession, dst: String): Option[DataFrame] =
    if (hasTombstones(s, dst)) Some(s.read.parquet(tombPath(dst))) else None

  /** The distinct tombstoned doc_ids (typed empty frame when none). */
  def tombstones(s: SparkSession, dst: String): DataFrame =
    tombstoneRows(s, dst) match {
      case Some(rows) => rows.select(col("doc_id")).distinct()
      case None =>
        import s.implicits._
        Seq.empty[Long].toDF("doc_id")
    }

  /** Mark indexed documents DELETED without touching the index stores.
    * Every probe masks them immediately; the store's purge later drops
    * their rows. Idempotent (duplicates collapse at read). Re-adding a
    * tombstoned id needs a purge first, or the standing tombstone masks
    * the twin — [[sync]] does that itself. Partition-aligned, so a mass
    * delete never serializes through one task. Returns tombstones
    * written. */
  def tombstone(ids: DataFrame, dst: String): Long = {
    val rows = ids.select(col("doc_id")).distinct()
      .withColumn("dbucket", docBucket(col("doc_id"), nBuckets(ids.sparkSession, dst)))
    Layout.write(rows, tombPath(dst), SaveMode.Append, Seq("dbucket"), Nil)
    rows.count()
  }

  private[ops] def clearTombstones(s: SparkSession, dst: String): Unit = {
    val p = new Path(tombPath(dst))
    fsOf(s, p).delete(p, true)
  }

  /** Restore every `<dir>.bak` under `roots` left by a crash between
    * the renames of a bucket swap: if the live dir is missing, the bak
    * IS the live data; if both exist the swap completed and the bak is
    * surplus. Filesystem calls only, no Spark job. */
  private[ops] def recover(s: SparkSession, roots: Seq[String]): Unit =
    roots.foreach { root =>
      val rp = new Path(root)
      val fs = fsOf(s, rp)
      if (fs.exists(rp))
        fs.listStatus(rp).filter(_.getPath.getName.endsWith(".bak")).foreach { st =>
          val live = new Path(root, st.getPath.getName.stripSuffix(".bak"))
          if (!fs.exists(live))
            require(fs.rename(st.getPath, live), s"bucket recovery: rename ${st.getPath} -> $live failed")
          else fs.delete(st.getPath, true)
        }
    }

  /** Swap-rewrite the named bucket dirs of a partitioned store with
    * `keep` applied. Buckets whose every row is dropped end up with no
    * dir — exactly what a fresh write would produce. */
  private[ops] def rewriteBuckets(s: SparkSession, root: String, bucketCol: String,
                                  buckets: Array[Int],
                                  keep: DataFrame => DataFrame,
                                  sortCols: Seq[String]): Unit = {
    if (buckets.isEmpty) return
    val tmp = new Path(root + ".purge-tmp")
    val fs = fsOf(s, tmp)
    Layout.write(keep(s.read.parquet(root)
        .filter(col(bucketCol).isin(buckets.map(Int.box): _*))),
      tmp.toString, SaveMode.Overwrite, Seq(bucketCol), sortCols)
    buckets.foreach { b =>
      val live = new Path(root, s"$bucketCol=$b")
      val bak = new Path(root, s"$bucketCol=$b.bak")
      val fresh = new Path(tmp, s"$bucketCol=$b")
      if (fs.exists(live))
        require(fs.rename(live, bak), s"bucket swap: rename $live -> $bak failed")
      if (fs.exists(fresh))
        require(fs.rename(fresh, live), s"bucket swap: rename $fresh -> $live failed; $bak holds the bucket")
      fs.delete(bak, true)
    }
    fs.delete(tmp, true)
  }

  /** One-call maintenance of a store against a living corpus: classify
    * `newDocs` vs the indexed snapshot `oldDocs` ([[SnapshotDiff.diff]])
    * and apply each verdict with the cheapest correct mechanism:
    *
    *   changed — tombstone + PHYSICAL `purge`, then re-append the new
    *             text (a standing tombstone would mask the re-added twin);
    *   removed — tombstone ONLY: probes mask immediately, the physical
    *             drop rides a later purge, so deletion churn costs O(ids);
    *   added   — `append`, O(new-data).
    *
    * The eager purge collapses EVERY standing tombstone and runs whenever
    * an incoming id is currently tombstoned, not only for this sync's
    * changed set: a doc removed in one sync (lazily masked) and re-added
    * in a LATER sync arrives as `added` while its old tombstone still
    * stands, and appending under it would mask the new twin forever.
    * `purge` and `append` return the docs they purged / appended.
    * Returns (docs purged, removals masked, docs appended). */
  private[ops] def sync(oldDocs: DataFrame, newDocs: DataFrame, dst: String)
                       (purge: => Long)(append: DataFrame => Long): (Long, Long, Long) = {
    // narrow (id, status) projection, pinned: consumed by up to three
    // downstream actions, and the full-outer diff should run once
    val d = Pin.Checkpoint(SnapshotDiff.diff(oldDocs, newDocs)
      .filter(col("status") =!= "unchanged")
      .select(col("doc_id"), col("status")))
    val changed = d.filter(col("status") === "changed").select("doc_id")
    val removed = d.filter(col("status") === "removed").select("doc_id")
    val toAddIds = d.filter(col("status") =!= "removed").select("doc_id")
    val maskedIncoming = tombstones(newDocs.sparkSession, dst).join(toAddIds, Seq("doc_id"))
    val purged =
      if (changed.isEmpty && maskedIncoming.isEmpty) 0L
      else {
        if (!changed.isEmpty) tombstone(changed, dst)
        purge
      }
    val masked = if (removed.isEmpty) 0L else tombstone(removed, dst)
    val toAdd = newDocs.join(toAddIds, Seq("doc_id"))
    val appended = if (toAdd.isEmpty) 0L else append(toAdd)
    (purged, masked, appended)
  }
}
