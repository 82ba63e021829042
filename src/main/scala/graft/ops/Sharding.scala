package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** The trainer-facing end of the pipeline: materialize a training set as
  * SHARD FILES a shard-sequential data loader streams — the step that
  * turns the engine's verdicts and permutations into bytes on disk.
  *
  *  - `writeShards`: given documents and a (doc_id, shard_id,
  *    pos_in_shard) assignment (q56's epoch shuffle), write
  *    `shard_id=N/` parquet with rows IN POSITION ORDER inside each
  *    shard — the trainer reads shards sequentially and never sorts.
  *  - `materializeContrastiveSet` (q98): the (anchor, positive,
  *    negatives) triples laid out by `writeShards`, one epoch per dir,
  *    plus a `_manifest` of per-shard row counts and content digests.
  *
  * Scale shape: one hash shuffle on shard_id co-locates each shard's
  * rows in one task (a task may own several shards; `partitionBy`
  * splits them into one file per shard), and the in-shard order comes
  * from `graft.io.Layout.write`'s sort — a spillable per-task external
  * sort of that task's shards only, never a global sort. Shard size is the
  * knob: docsPerShard bounds rows per file, so file count tracks corpus
  * size and no task's sort exceeds its shards' rows. This is the same
  * write-side discipline as the ETL layout (ExportJob's partitioned
  * sink + row-group clustering), applied to training shards.
  */
object Sharding {

  /** Write `docs` (must carry doc_id) into `dst/shard_id=N/` files,
    * position-ordered within each shard. `assignment` is q56-shaped:
    * (doc_id, shard_id, pos_in_shard). */
  def writeShards(docs: DataFrame, assignment: DataFrame, dst: String): Unit =
    graft.io.Layout.write(
      docs.join(assignment.select(col("doc_id"), col("shard_id"), col("pos_in_shard")),
        "doc_id"),
      dst, SaveMode.Overwrite, Seq("shard_id"), Seq("pos_in_shard"))

  /** Contrastive training-set materialization — the (anchor, positive,
    * negatives) triples a retrieval/embedding trainer consumes, laid
    * out as position-ordered shards:
    *
    *   - anchors: a BOUNDED deterministic draw (the q52 salted-min-hash
    *     rule, `maxAnchors` smallest keys) from the docs that HAVE a
    *     MinHash near-dup partner — an anchor without a positive can't
    *     form a triple;
    *   - positive: the anchor's min-id near-dup partner ("same content,
    *     different bytes" — the classic weak-supervision positive);
    *   - negatives: q71's BM25 hard negatives FOR those anchors
    *     (term-overlapping but near-dup-excluded — lexically close
    *     enough to be hard, provably not the same document), rank-
    *     ordered, ≤ kNeg per anchor;
    *   - layout: the standard epoch-shuffled shard writer, one
    *     permutation PER EPOCH under `dst/epoch=E/` (q56 keys on
    *     (epoch, doc_id), so epoch orders are decorrelated), plus a
    *     `dst/_manifest` with per-(epoch, shard) row counts and content
    *     digests computed from the written files — what a trainer
    *     verifies a shard against before streaming it.
    *
    * Scale: the anchor cut is a TakeOrdered over the partner aggregate;
    * the negative probe costs corpus-hits × |anchors| (q71's documented
    * trade — `maxAnchors` is the knob); everything else is bounded
    * joins on the anchor set. Returns the triple frame for audit. */
  def materializeContrastiveSet(s: SparkSession, dir: String, dst: String,
                                kNeg: Int = 4, maxAnchors: Int = 64,
                                docsPerShard: Long = 16L,
                                nEpochs: Int = 1): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    // pin the pair frame ONCE: it feeds the anchor draw here AND the
    // near-dup exclusion inside the negative miner — without the pin
    // the whole banded-LSH dataflow ran twice (measured ~3 s of q98's
    // 16 s at sf0.1). Pair-list scale, so the checkpoint is bounded.
    val pairs = Dedup.minhashLshPairs(docs, pin = Pin.Checkpoint).localCheckpoint()
    val sym = pairs
      .select(explode(array(
        struct(col("d1").as("a"), col("d2").as("p")),
        struct(col("d2").as("a"), col("d1").as("p")))).as("e"))
      .select(col("e.a").as("doc_id"), col("e.p").as("pos_id"))
    val partners = sym.groupBy(col("doc_id")).agg(min(col("pos_id")).as("pos_id"))
    val anchors = partners
      .withColumn("skey", md5(concat(lit("contrastive:"), col("doc_id"))))
      .orderBy(col("skey"), col("doc_id")).limit(maxAnchors)
      .select(col("doc_id"), col("pos_id"))
      .localCheckpoint() // feeds the probe, the triple join, the shuffle
    val negs = Retrieval.hardNegativesFor(docs, anchors.select(col("doc_id")), kNeg,
      nearDupPairs = Some(pairs))
      .groupBy(col("query_id"))
      .agg(collect_list(struct(col("rank").as("r"), col("doc_id").as("n"))).as("ns"))
      .select(col("query_id").as("doc_id"),
        transform(array_sort(col("ns")), x => x.getField("n")).as("neg_ids"))
    val rows = anchors.join(docs, "doc_id")
      .join(negs, Seq("doc_id"), "left")
      .withColumn("neg_ids",
        coalesce(col("neg_ids"), expr("CAST(array() AS ARRAY<BIGINT>)")))
      .localCheckpoint()
    (1 to nEpochs)
      .map { e =>
        writeShards(rows, Selection.epochShuffle(
          rows.select(col("doc_id")), e, docsPerShard), s"$dst/epoch=$e")
        shardManifest(s, s"$dst/epoch=$e").withColumn("epoch", lit(e))
      }
      .reduce(_ unionByName _)
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dst/_manifest")
    rows.orderBy(col("doc_id"))
  }

  /** q98: the contrastive materialization as a DECLARED query — the
    * (anchor, positive, negatives) triples hash-proven in the driver
    * gate (the q89 staleness rule: rebuilt from scratch each run; the
    * shard layout itself is spec territory, the TRIPLES are the
    * oracle's). */
  def q98ContrastiveSet(s: SparkSession, dir: String): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(graft.Sidecars.path("graft_contrastive"))
    root.getFileSystem(s.sparkContext.hadoopConfiguration).delete(root, true)
    // neg_ids surfaces as a joined string (the q35 rule: the driver
    // gate's pandas sort can't order raw arrays; both sides stringify).
    materializeContrastiveSet(s, dir, graft.Sidecars.path("graft_contrastive"),
        kNeg = 4, maxAnchors = 64)
      .select(col("doc_id"), col("pos_id"),
        array_join(transform(col("neg_ids"), x => x.cast("string")), ",")
          .as("neg_ids"))
  }

  /** Per-shard row count + content digest of one epoch dir, computed
    * from the files: content_md5 = md5 over the position-ordered
    * per-row text digests (bounded per shard by docsPerShard — the
    * collect_list never exceeds one shard). */
  def shardManifest(s: SparkSession, epochDir: String): DataFrame =
    s.read.parquet(epochDir)
      .groupBy(col("shard_id"))
      .agg(
        count(lit(1)).as("n_rows"),
        md5(array_join(
          transform(
            array_sort(collect_list(struct(col("pos_in_shard").as("p"),
              md5(col("text")).as("h")))),
            x => x.getField("h")),
          ",")).as("content_md5"))

  /** q262: RENDEZVOUS (highest-random-weight) shard REBALANCE audit —
    * the data-layout question a growing cluster asks: when the shard
    * count goes 16 → 17, which documents move? Rendezvous hashing
    * (shard = argmax over shards of md5("rv" + shard + ":" + doc_id))
    * has the minimal-disruption guarantee BY CONSTRUCTION: a doc's
    * weights for existing shards are unchanged, so a doc moves iff the
    * NEW shard's weight beats them all — every moved doc lands on
    * shard 16 (asserted in spec AND visible in the emitted cells), and
    * the moved fraction concentrates at 1/17. Compare `(position-1)
    * DIV docsPerShard` modulo schemes, which reshuffle nearly
    * everything on resize.
    *
    * In-row cost: 33 md5s per doc (16 + 17), one aggregate to the
    * ≤ 17×17 cell grid — a pure narrow map at 100 TB. Weights compare
    * as fixed-length hex strings (ASCII order, both engines). */
  def q262RendezvousRebalance(s: SparkSession, dir: String,
                              oldN: Int = 16, newN: Int = 17): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    def shardCol(n: Int) = {
      val entries = (0 until n).map { sh =>
        struct(
          substring(md5(concat(lit("rv"), lit(sh.toString), lit(":"),
            col("doc_id").cast("string"))), 1, 13).as("w"),
          lit(sh.toLong).as("s"))
      }
      array_max(array(entries: _*)).getField("s")
    }
    graft.ops.Par.widen(docs)
      .select(col("doc_id"), shardCol(oldN).as("old_shard"),
        shardCol(newN).as("new_shard"))
      .groupBy(col("old_shard"), col("new_shard"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("moved", col("old_shard") =!= col("new_shard"))
      .orderBy(col("old_shard"), col("new_shard"))
  }
}
