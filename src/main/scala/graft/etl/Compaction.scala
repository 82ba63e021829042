package graft.etl

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Small-file compaction for the partitioned log layout — the operational
  * companion of the hourly export: a year of hourly runs leaves one file
  * per (partition-combo, hour-run); reading a month then touches tens of
  * thousands of small files (S3 LIST + per-file open dominate). Compaction
  * rewrites a partition subtree into ~`targetBytes` files while keeping
  * the Hive layout and the row-group clustering contract intact.
  */
object Compaction {

  /** Rewrite `root` (or one partition subtree of it) with files sized
    * toward `targetBytes`. Returns (filesBefore, filesAfter).
    *
    * Crash-safety contract: at every instant at least one complete copy of
    * the data exists on disk, and `recover` restores `root` from any
    * intermediate state:
    *   1. write tmp (crash → root untouched, stray tmp);
    *   2. validate tmp: its row count must equal the rows that flowed
    *      through the write (observe(), no extra scan of root);
    *   3. rename root → backup (crash → no root, but backup AND validated
    *      tmp both complete — `recover` renames backup back);
    *   4. rename tmp → root (crash → root already complete);
    *   5. re-read the NEW root and only then delete backup — the old copy
    *      is never dropped before the new one has passed a read. */
  def compact(spark: SparkSession, root: String,
              targetBytes: Long = 128L * 1024 * 1024): (Long, Long) = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)

    def dataFiles(p: Path): Seq[org.apache.hadoop.fs.FileStatus] = {
      val it = fs.listFiles(p, true)
      val buf = scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.FileStatus]
      while (it.hasNext) {
        val st = it.next()
        if (st.getPath.getName.endsWith(".parquet")) buf += st
      }
      buf.toSeq
    }

    val before = dataFiles(rootPath)
    val totalBytes = before.map(_.getLen).sum
    val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)

    val df = spark.read.parquet(root)
    val tmp = new Path(rootPath.getParent, rootPath.getName + ".compact-tmp")
    val obs = org.apache.spark.sql.Observation("graft-compact")
    df.observe(obs, count(lit(1)).as("rows"))
      .repartition(nFiles, LogSchema.partitionCols.map(col): _*)
      // partition cols first, else the write's planned sort drops this one
      // (ExportJob.write scaladoc)
      .sortWithinPartitions((LogSchema.partitionCols ++ LogSchema.rowGroupCols).map(col): _*)
      .write.mode(SaveMode.Overwrite)
      .option("compression", "snappy")
      .partitionBy(LogSchema.partitionCols: _*)
      .parquet(tmp.toString)
    val written = obs.get("rows").asInstanceOf[Long]

    // validate the new tree BEFORE touching the original
    val tmpRows = spark.read.parquet(tmp.toString).count()
    require(tmpRows == written,
      s"compaction aborted: tmp tree has $tmpRows rows, expected $written — original untouched")

    val backup = new Path(rootPath.getParent, rootPath.getName + ".pre-compact")
    fs.rename(rootPath, backup)
    fs.rename(tmp, rootPath)

    // validate the swapped-in root before dropping the only other copy
    val rootRows = spark.read.parquet(root).count()
    require(rootRows == written,
      s"compaction: swapped root has $rootRows rows, expected $written — backup retained at $backup")
    fs.delete(backup, true)
    (before.size.toLong, dataFiles(rootPath).size.toLong)
  }

  /** Restore `root` after a crash mid-`compact`. Handles every
    * intermediate state:
    *   - root present → nothing to do (drop any stray tmp; a leftover
    *     backup means the final validation never passed — keep it);
    *   - root missing, backup present → the crash hit between the two
    *     renames: rename backup back (the validated tmp, if also present,
    *     is redundant and dropped).
    * Returns true if `root` exists when done. */
  def recover(spark: SparkSession, root: String): Boolean = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(rootPath.getParent, rootPath.getName + ".compact-tmp")
    val backup = new Path(rootPath.getParent, rootPath.getName + ".pre-compact")
    if (!fs.exists(rootPath) && fs.exists(backup)) fs.rename(backup, rootPath)
    if (fs.exists(rootPath) && fs.exists(tmp)) fs.delete(tmp, true)
    fs.exists(rootPath)
  }
}
