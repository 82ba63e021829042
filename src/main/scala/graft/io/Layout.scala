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
    * nothing from the sort, so such stores pass `Nil`. */
  def write(df: DataFrame, path: String, mode: SaveMode,
            partitionCols: Seq[String], clusterCols: Seq[String]): Unit =
    df.repartition(partitionCols.map(col): _*)
      .sortWithinPartitions((partitionCols ++ clusterCols).map(col): _*)
      .write.mode(mode)
      .option("compression", "snappy")
      .partitionBy(partitionCols: _*)
      .parquet(path)
}
