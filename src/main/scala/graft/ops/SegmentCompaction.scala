package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Segment compaction for the APPEND-ONLY aggregate sidecars (the
  * posting index's `_df`/`_totals`, the minhash index's `_sh_df`):
  * every append lands a new segment — one more row per key and one
  * more small file per bucket — and probes sum segments at read time.
  * Correctness never degrades, but read amplification grows with
  * append count; compaction collapses the store back to ONE row per
  * key (for `_df`, restoring the term-sorted row-group skipping of a
  * fresh write), summing exactly what the probes sum.
  *
  * The rewrite goes through `etl.Compaction.swap`, so
  * `Compaction.recover(root)` restores any intermediate state of this
  * op too. Validation here is SUM-preservation (the quantity probes
  * consume), not row count — collapsing rows is the point. */
object SegmentCompaction {

  /** Compact `root` to one row per (`keys`), summing `sums`.
    * `bucketCol` keeps the partition layout (None → a single unsplit
    * store, for tiny sidecars like `_totals`); `clusterCols` sorts each
    * bucket's file, worth it only where a reader pushes a value filter
    * on them (the `_df` probe's `term IN`). Returns (rows before, rows
    * after). */
  def compactSegments(spark: SparkSession, root: String, keys: Seq[String],
                      sums: Seq[String],
                      bucketCol: Option[String] = Some("bucket"),
                      clusterCols: Seq[String] = Nil): (Long, Long) = {
    val df = spark.read.parquet(root)

    def totalsOf(d: DataFrame): Seq[Any] = {
      val aggs = count(lit(1)).as("n") +: sums.map(c => sum(col(c)).as(c))
      d.agg(aggs.head, aggs.tail: _*).collect()(0).toSeq
    }
    val before = totalsOf(df)

    val groupCols = (bucketCol.toSeq ++ keys).map(col)
    val sumAggs = sums.map(c => sum(col(c)).as(c))
    val agg0 =
      if (groupCols.isEmpty) df.agg(sumAggs.head, sumAggs.tail: _*)
      else df.groupBy(groupCols: _*).agg(sumAggs.head, sumAggs.tail: _*)

    val after = graft.etl.Compaction.swap(spark, root,
      tmp => bucketCol match {
        case Some(b) => graft.io.Layout.write(agg0, tmp, SaveMode.Overwrite, Seq(b), clusterCols)
        case None => agg0.coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp)
      },
      totalsOf, (t: Seq[Any]) => t.drop(1) == before.drop(1))
    (before.head.asInstanceOf[Long], after.head.asInstanceOf[Long])
  }
}
