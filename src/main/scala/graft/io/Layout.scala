package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions.col

/** The engine's one clustered, partitioned Parquet write. */
object Layout {

  /** Write `df` under `path` as Hive `col=value/` dirs on `partitionCols`,
    * each file's rows sorted on `clusterCols` so Parquet row-group min/max
    * stats are tight on them (Snappy, the session default, set here once):
    *   - `repartition(partitionCols)` sends every row of a partition combo
    *     to one task, so each dir gets one file per write whatever the
    *     task count. A hot combo therefore lands on one task; spreading it
    *     needs a salt in the key (and then several files per dir);
    *   - `sortWithinPartitions(partitionCols ++ clusterCols)`: the partition
    *     columns lead, or the sort is lost. The planned write requires its
    *     input sorted on `partitionCols`; a sort on `clusterCols` alone gets
    *     a `Sort(partitionCols)` planned above it, and `EliminateSorts` then
    *     drops the inner sort as redundant, leaving files unclustered. The
    *     combined sort satisfies the write's ordering, so the executed plan
    *     holds exactly this one sort. With `clusterCols` empty the plan is
    *     the one Spark builds for a bare repartitioned `partitionBy`.
    * Row-group stats only skip for a reader that pushes a value filter on
    * `clusterCols` (`term IN (...)`); a reader that joins on them gains
    * nothing from the sort, so such stores pass `Nil`.
    *
    * Pages are Parquet v2 data pages. A column whose dictionary does not
    * pay (too large, or no smaller than the values) then falls back to
    * DELTA_BINARY_PACKED (integers) or DELTA_BYTE_ARRAY (strings) instead
    * of v1's PLAIN, which stores a 32-bit IP or an object size as an
    * 8-byte long. Dictionaries stay on except for the columns named in
    * `noDictionary`, for which the writer would hash every value into a
    * dictionary it then throws away or that saves nothing. */
  def write(df: DataFrame, path: String, mode: SaveMode,
            partitionCols: Seq[String], clusterCols: Seq[String],
            noDictionary: Seq[String] = Nil): Unit =
    df.repartition(partitionCols.map(col): _*)
      .sortWithinPartitions((partitionCols ++ clusterCols).map(col): _*)
      .write.mode(mode)
      .option("compression", "snappy")
      .option("parquet.writer.version", "v2")
      .options(noDictionary.map(c => s"parquet.enable.dictionary#$c" -> "false").toMap)
      .partitionBy(partitionCols: _*)
      .parquet(path)
}
