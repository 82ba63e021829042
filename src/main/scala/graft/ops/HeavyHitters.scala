package graft.ops

import scala.collection.mutable
import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** SpaceSaving (Metwally et al., "Efficient Computation of Frequent and
  * Top-k Elements in Data Streams") heavy-hitters as a typed
  * `Aggregator` — the 100 TB path for "top tokens / top requesters /
  * top keys": constant memory (k counters) per partition, mergeable
  * buffers, one shuffle of k-sized summaries instead of a full
  * group-count of a possibly unbounded key domain.
  *
  * Guarantee: any item with true frequency > N/k is present in the
  * result, and reported counts overestimate by at most the tracked
  * error. Exact top-k needs a full groupBy; this is the sketch
  * companion (same relationship as approx_count_distinct to
  * countDistinct, Relational.q31).
  */
object HeavyHitters {

  /** counts: item -> (count, maxError). */
  case class SSBuffer(capacity: Int, counts: mutable.Map[String, (Long, Long)])

  case class TopItem(item: String, count: Long, maxError: Long)

  class SpaceSaving(k: Int) extends Aggregator[String, SSBuffer, Seq[TopItem]] {

    override def zero: SSBuffer = SSBuffer(k, mutable.Map.empty)

    private def offer(b: SSBuffer, item: String, inc: Long, err: Long): Unit = {
      b.counts.get(item) match {
        case Some((c, e)) => b.counts(item) = (c + inc, e + err)
        case None if b.counts.size < b.capacity =>
          b.counts(item) = (inc, err)
        case None =>
          // evict the current minimum; the newcomer inherits its count as error
          val (minItem, (minC, _)) = b.counts.minBy { case (i, (c, _)) => (c, i) }
          b.counts.remove(minItem)
          b.counts(item) = (minC + inc, minC + err)
      }
    }

    override def reduce(b: SSBuffer, item: String): SSBuffer = { offer(b, item, 1L, 0L); b }

    /** Sum-combine then truncate to the k largest (mergeable-summaries
      * style). Re-offering b's items through the eviction path instead
      * would let inherited counts inflate until the true top item becomes
      * the minimum and is evicted — counts here stay exact sums of the
      * partials, so the global top item always survives a merge. */
    override def merge(a: SSBuffer, b: SSBuffer): SSBuffer = {
      b.counts.foreach { case (item, (c, e)) =>
        val (c0, e0) = a.counts.getOrElse(item, (0L, 0L))
        a.counts(item) = (c0 + c, e0 + e)
      }
      if (a.counts.size > a.capacity) {
        val keep = a.counts.toSeq.sortBy { case (i, (c, _)) => (-c, i) }.take(a.capacity)
        a.counts.clear()
        keep.foreach { case (i, ce) => a.counts(i) = ce }
      }
      a
    }

    override def finish(b: SSBuffer): Seq[TopItem] =
      b.counts.toSeq
        .map { case (i, (c, e)) => TopItem(i, c, e) }
        .sortBy(t => (-t.count, t.item))

    override def bufferEncoder: Encoder[SSBuffer] = Encoders.kryo[SSBuffer]
    override def outputEncoder: Encoder[Seq[TopItem]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[TopItem]]()
  }

  /** Top-k heavy hitters over a string Dataset. */
  def topK(items: Dataset[String], k: Int): Seq[TopItem] = {
    import items.sparkSession.implicits._
    items.select(new SpaceSaving(k).toColumn.name("top")).as[Seq[TopItem]].head()
  }

  /** q150: exact top-k most frequent tokens WITHOUT a full-vocabulary
    * shuffle — the sketch-then-verify pattern: (1) one SpaceSaving pass
    * (constant `capacity` counters per partition, k-sized merge
    * summaries) yields a CANDIDATE set that provably contains every
    * item with frequency above the sketch bar; (2) the corpus is
    * re-scanned with the candidates as an in-row filter, so the exact
    * count shuffle carries ONLY candidate occurrences — at 100 TB the
    * vocabulary (URLs, user ids, shingles) is billions of keys and a
    * plain groupBy-count ships |distinct-per-partition| rows per task,
    * while this ships ≤ capacity keys' worth.
    *
    * Exactness: reported counts are true counts (stage 2), so the
    * output equals the global top-k whenever the candidate set covers
    * it. SpaceSaving guarantees any item with freq > N/capacity
    * survives a single pass, and the sum-combine merge loses at most
    * N_absent/capacity per partition where the item missed the summary
    * — with `capacity` ≫ k (64× here) the k-th item's frequency clears
    * the merged bar on any remotely Zipfian corpus; the ScaleOpsSpec
    * planted-skew test pins the recovery, and the gate's fixture
    * vocabulary (< capacity distinct tokens) makes the sketch lossless
    * outright. */
  def q150HeavyTokens(s: org.apache.spark.sql.SparkSession,
                      dir: String): org.apache.spark.sql.DataFrame =
    heavyTokens(graft.Tables.documents(s, dir), k = 20, capacity = 1280)

  /** The reusable core over any (doc_id, text) frame: (token, cnt) for
    * the k most frequent tokens, exact counts, ties broken by token. */
  def heavyTokens(docs: org.apache.spark.sql.DataFrame, k: Int,
                  capacity: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import docs.sparkSession.implicits._
    val toks = Par.widen(docs)
      .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
    val candidates = topK(toks.as[String], capacity).map(_.item)
    toks.filter(col("token").isInCollection(candidates))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(k)
      .orderBy(col("cnt").desc, col("token"))
  }

  /** One micro-batch's SpaceSaving summary, appended to the store as
    * ≤ `capacity` (item, cnt, err) rows — the streaming maintenance
    * step q152 runs through
    * [[graft.streaming.Streaming.appendEachBatch]]. The batch frame
    * must expose a single `item` string column. Summaries
    * are counts, so unlike KMV this store is NOT idempotent: a replayed
    * batch double-counts, and a stream feeding it needs a checkpoint. */
  def appendBatchSummary(batch: org.apache.spark.sql.DataFrame,
                         dst: String, capacity: Int): Unit = {
    import batch.sparkSession.implicits._
    val summary = topK(batch.select(
      org.apache.spark.sql.functions.col("item")).as[String], capacity)
    summary.toDF("item", "cnt", "err")
      .coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .option("compression", "snappy").parquet(dst)
  }

  /** Where q152 stages its source files and materializes its store. */
  val StreamedStorePath = graft.Sidecars.path("graft_streamed_hh")

  /** q152: top-k requesters served from a STREAM-MAINTAINED
    * heavy-hitters store — the q145 pattern for counts: events are
    * staged as three event-sliced files (every user's events split
    * across all three micro-batches, so the serve MUST sum-combine
    * partial summaries, never sees one batch whole) and ingested with
    * `maxFilesPerTrigger = 1`; each micro-batch appends one
    * capacity-bounded SpaceSaving summary; the serve merges the
    * summaries relationally (sum per item + truncate to the `capacity`
    * largest — exactly the Aggregator's `merge`), takes the survivors
    * as CANDIDATES, and exact-verifies them against the staged corpus
    * (the q150 stage-2). The oracle replays the plain global top-k:
    * hash equality proves the streamed store lost nothing the final
    * ranking needed. */
  def q152StreamedHeavyUsers(s: org.apache.spark.sql.SparkSession,
                             dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val k = 20
    val capacity = 4096
    val ev = graft.Tables.events(s, dir).select(col("event_id"), col("user_id"))
    val root = new org.apache.hadoop.fs.Path(StreamedStorePath)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(root, true)
    val watched = s"$StreamedStorePath/in"
    val stream = StreamingGates.stagedFileStream(StreamedStorePath,
        (0 until 3).map(i => ev.filter(pmod(col("event_id"), lit(3)) === i)))
      .select(col("user_id").cast("string").as("item"))
    val store = s"$StreamedStorePath/store"
    graft.streaming.Streaming.appendEachBatch(stream)((b, _) =>
      appendBatchSummary(b, store, capacity)).awaitTermination()

    serveHeavyUsers(s, store, s.read.parquet(watched), k, capacity)
  }

  /** The store's serve path, separated so the TRUNCATION regime
    * (capacity < distinct items — summaries drop tail mass per batch)
    * is spec-testable without streaming: sum-combine the appended
    * summaries (the Aggregator's `merge`, relationally), truncate to
    * the `capacity` largest as CANDIDATES, exact-recount the
    * candidates only from `events` (the q150 stage-2). */
  def serveHeavyUsers(s: org.apache.spark.sql.SparkSession, store: String,
                      events: org.apache.spark.sql.DataFrame, k: Int,
                      capacity: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val candidates = s.read.parquet(store)
      .groupBy(col("item")).agg(sum(col("cnt")).as("cnt"))
      .orderBy(col("cnt").desc, col("item")).limit(capacity)
      .select(col("item")).collect().map(_.getString(0)).toSeq // ≤ capacity
    events
      .filter(col("user_id").cast("string").isInCollection(candidates))
      .groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("user_id"))
      .limit(k)
      .orderBy(col("cnt").desc, col("user_id"))
  }

  /** q255: HEAVY-HITTER CHURN — the monitoring read on top of q150's
    * top-token report: exact top-20 tokens of the first doc_id half vs
    * the second (split = the q144 midpoint rule, broadcast 1-row
    * min/max), full-outer joined into an entered / left / stayed table
    * with both ranks and counts. A head token that vanishes or a new
    * one that storms in is the earliest human-readable drift signal.
    *
    * Scale shape: one token count aggregate per half (same shuffle,
    * keyed by half), two TakeOrdered top-k cuts (per-partition heaps,
    * k rows to the driver stage), rank windows over the ≤ k-row cuts
    * (the bounded benign case), one ≤ 2k-row outer join. */
  def q255HeavyHitterChurn(s: org.apache.spark.sql.SparkSession,
                           dir: String, k: Int = 20): Dataset[org.apache.spark.sql.Row] =
    heavyHitterChurnOf(graft.Tables.documents(s, dir), k)

  /** The churn core over any (doc_id, text) frame. */
  private[graft] def heavyHitterChurnOf(docs: org.apache.spark.sql.DataFrame,
                                        k: Int): Dataset[org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val d = graft.ops.Par.widen(docs)
    val span = d.agg(min(col("doc_id")).as("__d0"), max(col("doc_id")).as("__d1"))
      .select(expr("(__d0 + __d1 + 1) DIV 2").as("__split"))
    val counts = d.crossJoin(broadcast(span))
      .select(when(col("doc_id") < col("__split"), "a").otherwise("b").as("half"),
        explode(graft.ops.TextAnalysis.tokens(col("text"))).as("w"))
      .groupBy(col("half"), col("w")).agg(count(lit(1)).as("c"))
    def top(h: String) = counts.filter(col("half") === h)
      .orderBy(col("c").desc, col("w")).limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("c").desc, col("w"))).cast("long"))
    top("a").select(col("w"), col("rank").as("rank_a"), col("c").as("cnt_a"))
      .join(top("b").select(col("w"), col("rank").as("rank_b"), col("c").as("cnt_b")),
        Seq("w"), "full_outer")
      .withColumn("status",
        when(col("rank_a").isNotNull && col("rank_b").isNotNull, "stayed")
          .when(col("rank_a").isNotNull, "left").otherwise("entered"))
      .select(col("w").as("token"), col("rank_a"), col("cnt_a"),
        col("rank_b"), col("cnt_b"), col("status"))
      .orderBy(col("token"))
  }
}
