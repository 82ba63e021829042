package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The check a trainer runs before streaming a shard: the stored
  * `_manifest` of a [[Sharding.materializeContrastiveSet]] output against
  * the files actually on disk. */
object ShardManifestCheck {

  /** Re-derive every epoch's manifest from the files on disk and diff
    * it against the stored `_manifest`: returns the mismatching
    * (epoch, shard_id) rows — missing shards, extra shards, row-count
    * or content drift. Empty result = the materialization is exactly
    * what the manifest promises. Epochs come from the UNION of the
    * manifest and the dirs on disk, and a wholly missing epoch dir is
    * reported as its shards' mismatch rows (null file side), never an
    * exception — a stray `epoch=` dir the manifest doesn't know is
    * likewise flagged (null manifest side), not silently passed. */
  def validateManifest(s: SparkSession, dst: String): DataFrame = {
    import s.implicits._
    val stored = s.read.parquet(s"$dst/_manifest")
      .select(col("epoch").as("s_epoch"), col("shard_id").as("s_shard"),
        col("n_rows").as("s_rows"), col("content_md5").as("s_md5"))
    val root = new org.apache.hadoop.fs.Path(dst)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val onDisk =
      if (!fs.exists(root)) Set.empty[Int]
      else fs.listStatus(root).map(_.getPath.getName)
        .filter(_.startsWith("epoch=")).map(_.stripPrefix("epoch=").toInt).toSet
    val epochs = (stored.select(col("s_epoch")).distinct().as[Int].collect().toSet
      ++ onDisk).toSeq.sorted
    val actual = epochs
      .map { e =>
        val m =
          if (onDisk.contains(e))
            Sharding.shardManifest(s, s"$dst/epoch=$e").withColumn("epoch", lit(e))
          else
            Seq.empty[(Long, Long, String)].toDF("shard_id", "n_rows", "content_md5")
              .withColumn("epoch", lit(e))
        // normalize: the real branch's shard_id is partition-inferred
        m.select(col("shard_id").cast("long").as("shard_id"),
          col("n_rows").cast("long").as("n_rows"), col("content_md5"),
          col("epoch").cast("int").as("epoch"))
      }
      .reduce(_ unionByName _)
    stored
      .join(actual,
        col("s_epoch") === col("epoch") && col("s_shard") === col("shard_id"),
        "full_outer")
      .filter(col("s_rows").isNull || col("n_rows").isNull ||
        col("s_rows") =!= col("n_rows") || col("s_md5") =!= col("content_md5"))
      .select(
        coalesce(col("s_epoch"), col("epoch")).as("epoch"),
        coalesce(col("s_shard"), col("shard_id")).as("shard_id"),
        col("s_rows").as("manifest_rows"), col("n_rows").as("file_rows"),
        col("s_md5").as("manifest_md5"), col("content_md5").as("file_md5"))
  }
}
