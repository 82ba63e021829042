package graft.etl

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Small-file compaction for the partitioned log layout — the operational
  * companion of the hourly export: a year of hourly runs leaves one file
  * per (partition-combo, hour-run); reading a month then touches tens of
  * thousands of small files (S3 LIST + per-file open dominate). Compaction
  * rewrites a partition subtree into one file per partition combo while
  * keeping the Hive layout and the row-group clustering contract intact.
  */
object Compaction {

  /** Rewrite `root` (or one partition subtree of it) with one file per
    * partition combo, clustered on `rowGroupCols`, through [[swap]]: the
    * new tree's row count must equal the rows that flowed through the
    * write (observe(), no extra scan of root). Returns (filesBefore,
    * filesAfter). */
  def compact(spark: SparkSession, root: String): (Long, Long) = {
    val before = dataFiles(spark, root)
    val obs = org.apache.spark.sql.Observation("graft-compact")
    val rows = spark.read.parquet(root).observe(obs, count(lit(1)).as("rows"))
    swap(spark, root,
      tmp => graft.io.Layout.write(rows, tmp, SaveMode.Overwrite,
        LogSchema.partitionCols, LogSchema.rowGroupCols, LogSchema.noDictionaryCols),
      _.count(), (_: Long) == obs.get("rows").asInstanceOf[Long])
    (before, dataFiles(spark, root))
  }

  /** The number of `.parquet` files anywhere under `root`. */
  def dataFiles(spark: SparkSession, root: String): Long = {
    val rootPath = new Path(root)
    val it = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(rootPath, true)
    var n = 0L
    while (it.hasNext) if (it.next().getPath.getName.endsWith(".parquet")) n += 1
    n
  }

  /** Replace `root` with the tree `write` puts at the path it is given,
    * crash-safely: at every instant at least one complete copy of the
    * data exists on disk, and [[recover]] restores `root` from any
    * intermediate state:
    *   1. write `<root>.compact-tmp` (crash → root untouched, stray tmp);
    *   2. validate tmp: `ok(measure(tmp))` must hold, else abort with root
    *      untouched;
    *   3. rename root → `<root>.pre-compact` (crash → no root, but backup
    *      AND validated tmp both complete — `recover` renames backup back);
    *   4. rename tmp → root (crash → root already complete);
    *   5. validate the NEW root the same way and only then delete the
    *      backup — the old copy is never dropped before the new one has
    *      passed a read.
    * A backup left by an earlier run whose step 5 failed may be the only
    * good copy, so its presence stops the swap before anything is written
    * until [[recover]] has found it equal to the root and dropped it.
    * Returns `measure` of the new root. */
  def swap[A](spark: SparkSession, root: String, write: String => Unit,
              measure: DataFrame => A, ok: A => Boolean): A = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = tmpPath(rootPath)
    val backup = backupPath(rootPath)
    require(!fs.exists(backup),
      s"compaction refused: $backup may hold the last validated copy of $root — " +
        "recover drops it if it holds the same rows as the root; otherwise inspect it")
    write(tmp.toString)
    val fresh = measure(spark.read.parquet(tmp.toString))
    require(ok(fresh), s"compaction aborted: $tmp read back $fresh — original untouched")
    require(fs.rename(rootPath, backup), s"compaction: rename $root -> $backup failed")
    require(fs.rename(tmp, rootPath), s"compaction: rename $tmp -> $root failed")
    val swapped = measure(spark.read.parquet(root))
    require(ok(swapped), s"compaction: swapped $root read back $swapped — backup retained at $backup")
    fs.delete(backup, true)
    swapped
  }

  private def tmpPath(root: Path) = new Path(root.getParent, root.getName + ".compact-tmp")
  private def backupPath(root: Path) = new Path(root.getParent, root.getName + ".pre-compact")

  /** Restore `root` after a crash mid-[[swap]]. Handles every
    * intermediate state:
    *   - root present → drop any stray tmp; a leftover backup means the
    *     final validation never passed: it is dropped if it holds the
    *     same rows as root ([[sameRows]]), so a validation that failed on
    *     a sound tree does not block every later compaction, and kept
    *     otherwise (a root that differs, or either side unreadable);
    *   - root missing, backup present → the crash hit between the two
    *     renames: rename backup back (the validated tmp, if also present,
    *     is redundant and dropped).
    * Returns true if `root` exists when done. */
  def recover(spark: SparkSession, root: String): Boolean = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = tmpPath(rootPath)
    val backup = backupPath(rootPath)
    if (!fs.exists(rootPath) && fs.exists(backup)) fs.rename(backup, rootPath)
    if (fs.exists(rootPath) && fs.exists(tmp)) fs.delete(tmp, true)
    if (fs.exists(rootPath) && fs.exists(backup) &&
        sameRows(spark, backup.toString, root)) fs.delete(backup, true)
    fs.exists(rootPath)
  }

  /** Whether the trees at `a` and `b` hold the same multiset of rows: the
    * same columns, the same count and the same order-free sum of per-row
    * `xxhash64`s. False if either cannot be read. */
  private def sameRows(spark: SparkSession, a: String, b: String): Boolean =
    scala.util.Try {
      val (da, db) = (spark.read.parquet(a), spark.read.parquet(b))
      val cols = db.columns.toSeq.map(col)
      def digest(df: DataFrame) =
        df.select(count(lit(1)), sum(xxhash64(cols: _*).cast("decimal(38,0)"))).head()
      da.columns.sorted.sameElements(db.columns.sorted) && digest(da) == digest(db)
    }.getOrElse(false)
}
