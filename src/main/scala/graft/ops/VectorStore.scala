package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** A STANDING IVF vector index maintained from a stream — the vector
  * half of the q89/q96/q100 posting-store story: embeddings arrive in
  * micro-batches, each batch is assigned to its nearest coarse
  * centroid (the IVF cell) and appended into a store PARTITIONED BY
  * CELL, so an ANN probe later reads only its probed cells' directories
  * (the `writeCellBucketed` pruning argument from q36/q64). Ingest is
  * O(batch) — one narrow assignment pass, no shuffle of the standing
  * data, no index rebuild.
  *
  * The gate (q162) proves the maintenance path end to end: centroids
  * are trained once and PERSISTED (the q81 centroids-are-data pattern),
  * the embeddings table is staged as three disjoint micro-batches
  * through real Structured Streaming (`foreachBatch` append), and the
  * serve is a plain read-back of the streamed store — which the DuckDB
  * oracle must match by replaying the integer assignment from the
  * persisted centroid table over the raw embeddings. Equality proves
  * stream-ingested cells ≡ direct assignment, row for row.
  *
  * Replay rule: assignment rows are per-vector facts, so re-processing
  * a batch DUPLICATES rows (not idempotent — the counting-store rule,
  * not the KMV rule); production runs pass a checkpoint, the gate
  * stages each file exactly once under `Trigger.AvailableNow()`.
  *
  * Determinism: integer squared L2 on the fixed-point grid
  * ([[Clustering.Grid]]), argmin ties to the smaller cell id, NULL or
  * empty embeddings land in cell 0 at distance 0 — all inherited from
  * [[Clustering.assign]], which both the batch and streamed path call.
  */
object VectorStore {

  /** Where q162 persists its coarse centroids (fixed-point ints). */
  val StreamCentroidsPath = graft.Sidecars.path("graft_ivf_stream_centroids.parquet")

  /** The streamed store root (cell-partitioned parquet under /store). */
  val StreamStoreRoot = graft.Sidecars.path("graft_ivf_stream")

  /** One micro-batch into the store: assign against the broadcast
    * centroid array, append partitioned by cell. O(batch). Rows are
    * per-vector facts: a replayed batch duplicates them (the object's
    * replay rule). */
  def appendAssignments(batch: DataFrame, centroids: Array[Array[Long]],
                        dst: String): Unit =
    Clustering.assign(batch, centroids)
      .write.mode("append").partitionBy("cluster").parquet(dst)

  /** q162: train + persist the coarse quantizer, ingest the embeddings
    * table as three disjoint micro-batches through Structured
    * Streaming, then serve the full assignment FROM THE STORE. */
  def q162StreamedIvfStore(s: SparkSession, dir: String,
                           k: Int = 8): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val centroids = Clustering.trainCentroids(emb, k)
    Clustering.persistCentroids(s, centroids, StreamCentroidsPath)

    val root = new org.apache.hadoop.fs.Path(StreamStoreRoot)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(root, true)
    val stream = StreamingGates.stagedFileStream(StreamStoreRoot,
      (0 until 3).map(i => emb.filter(pmod(col("vec_id"), lit(3)) === i)))
    val store = s"$StreamStoreRoot/store"
    graft.streaming.Streaming.appendEachBatch(stream)((b, _) =>
      appendAssignments(b, centroids, store)).awaitTermination()
    serveAssignments(s, store)
  }

  /** Read the standing store back — the serve path an ANN probe would
    * cell-prune; the gate reads every cell so the oracle can replay the
    * whole assignment. */
  def serveAssignments(s: SparkSession, store: String): DataFrame =
    s.read.parquet(store)
      .select(col("vec_id"), col("cluster").cast("int").as("cluster"),
        col("sq_dist"))
      .orderBy(col("vec_id"))

  // ------------------------------------------------- lifecycle (q164)

  /** Where q164 persists its coarse centroids. */
  val LifecycleCentroidsPath = graft.Sidecars.path("graft_ivf_lifecycle_centroids.parquet")

  /** q164's store root (`/store` cells, `/tombstones` delete markers). */
  val LifecycleRoot = graft.Sidecars.path("graft_ivf_lifecycle")

  /** One micro-batch of PAYLOAD cell rows — (vec_id, qx, cluster), the
    * quantized vector riding along so probes never touch the raw
    * table. O(batch), cell-partitioned append. */
  def appendCellRows(batch: DataFrame, centroids: Array[Array[Long]],
                     dst: String): Unit =
    Clustering.assign(batch, centroids)
      .join(batch.select(col("vec_id"),
        Clustering.snapped(col("embedding")).as("qx")), Seq("vec_id"))
      .select(col("vec_id"), col("qx"), col("cluster"))
      .write.mode("append").partitionBy("cluster").parquet(dst)

  /** Mark ids deleted: tombstones are an O(|deletes|) append — the
    * standing cells are untouched (the q96 posting-delete rule). Serve
    * and probe anti-join them; compaction makes them physical. */
  def appendTombstones(ids: DataFrame, root: String): Unit =
    ids.select(col("vec_id")).write.mode("append")
      .parquet(s"$root/tombstones")

  /** Rewrite the cells without tombstoned rows and with one file per
    * cell (append-era segment files collapse) through
    * `etl.Compaction.swap`: the new store's row count must equal the live
    * rows that flowed through the write, and `Compaction.recover` of
    * `<root>/store` restores any interruption. Returns (files before,
    * files after). */
  def compactCells(s: SparkSession, root: String): (Long, Long) = {
    val store = s"$root/store"
    val before = graft.etl.Compaction.dataFiles(s, store)
    val tomb = s.read.parquet(s"$root/tombstones")
      .select(col("vec_id")).distinct()
    val obs = org.apache.spark.sql.Observation("graft-compact-cells")
    val live = s.read.parquet(store)
      .join(tomb, Seq("vec_id"), "left_anti")
      .observe(obs, count(lit(1)).as("rows"))
    graft.etl.Compaction.swap(s, store,
      tmp => graft.io.Layout.write(live, tmp, SaveMode.Overwrite, Seq("cluster"), Nil),
      _.count(), (_: Long) == obs.get("rows").asInstanceOf[Long])
    (before, graft.etl.Compaction.dataFiles(s, store))
  }

  /** Cell-pruned top-k probe: the query vector's `nprobe` nearest cells
    * (integer distance to the persisted centroids, ties to the smaller
    * cell id) are the ONLY partitions read; candidates rank by exact
    * integer distance, ties to the smaller vec_id. */
  def probeTopK(s: SparkSession, root: String, queryQx: Seq[Long],
                centroids: Array[Array[Long]], nprobe: Int,
                k: Int): DataFrame = {
    require(queryQx.nonEmpty, "probe query vector must be non-empty")
    val cells = centroids.zipWithIndex.map { case (c, cid) =>
      val d = queryQx.zipAll(c.toSeq, 0L, 0L)
        .map { case (a, b) => (a - b) * (a - b) }.sum
      (d, cid)
    }.sorted.take(nprobe).map(_._2)
    val dExpr = coalesce(
      graft.functions.exprs.int_sqdist(col("qx"), typedlit(queryQx)), lit(0L))
    val tomb = s.read.parquet(s"$root/tombstones")
      .select(col("vec_id")).distinct()
    val top = s.read.parquet(s"$root/store")
      .filter(col("cluster").isin(cells.map(Int.box): _*))
      .join(tomb, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cluster").cast("int").as("cluster"),
        dExpr.as("sq_dist"))
      .orderBy(col("sq_dist"), col("vec_id"))
      .limit(k)
    // rank numbers the LIMITed frame (bounded-window idiom)
    top.withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("sq_dist"), col("vec_id"))).cast("long"))
      .select(col("rank"), col("vec_id"), col("cluster"), col("sq_dist"))
      .orderBy(col("rank"))
  }

  /** q164: the full standing-index lifecycle on one gate — segment
    * ingest (three appends of payload cells), tombstone deletes
    * (vec_id % 7 = 3), physical compaction, then a cell-pruned top-10
    * probe for vec 0's embedding. The oracle replays every step from
    * the persisted centroids + raw embeddings, so the gate hash proves
    * ingest, delete, compaction and pruning all preserved content. */
  def q164IvfLifecycle(s: SparkSession, dir: String, k: Int = 8,
                       nprobe: Int = 2, topK: Int = 10): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val centroids = Clustering.trainCentroids(emb, k)
    Clustering.persistCentroids(s, centroids, LifecycleCentroidsPath)

    val root = LifecycleRoot
    val rootP = new org.apache.hadoop.fs.Path(root)
    val fs = rootP.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(rootP, true)
    (0 until 3).foreach { i =>
      appendCellRows(emb.filter(pmod(col("vec_id"), lit(3)) === i),
        centroids, s"$root/store")
    }
    appendTombstones(
      emb.filter(pmod(col("vec_id"), lit(7)) === 3), root)
    compactCells(s, root)

    val qRow = emb.filter(col("vec_id") === 0L).head()
    val queryQx: Seq[Long] = qRow.getSeq[Float](qRow.fieldIndex("embedding"))
      .map(x => math.floor(x.toDouble * Clustering.Grid + 0.5).toLong)
    probeTopK(s, root, queryQx, centroids, nprobe, topK)
  }
}
