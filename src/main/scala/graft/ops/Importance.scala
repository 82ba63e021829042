package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** DSIR-style importance resampling — the standard public technique for
  * selecting raw-corpus documents that *resemble a target distribution*
  * (Xie et al. 2023, "Data Selection for Language Models via Importance
  * Resampling"): hash every unigram/bigram feature into a small bucket
  * space, fit add-1-smoothed bucket unigram models over the TARGET slice
  * and the RAW remainder, and score each raw document by the summed
  * log-likelihood ratio of its feature occurrences. High scores = "looks
  * like the target"; the selection keeps the top-K.
  *
  * Reference scope note: the reference engine (deptofdefense/s3-access-logs)
  * has no data-selection surface at all — this is part of the
  * training-data extension layer the builder prompt asks for.
  *
  * Shape at 100 TB: the hashed feature space is the whole trick — the
  * two "language models" are B=128 bucket histograms, so model fitting
  * is a map-side-combinable groupBy onto ≤128 keys per partition
  * (effectively free at any corpus size), and scoring joins each
  * document's bucket counts against a BROADCAST 128-row model table.
  * The only corpus-scale shuffle is the per-(doc, bucket) count —
  * bounded at ≤B rows per document regardless of document length — and
  * the final top-K is a bounded TakeOrderedAndProject, never a global
  * sort. No driver-side state beyond the 128-row model.
  *
  * Determinism (the oracle-hash contract): the per-bucket log ratio is
  * `ln` of an exact integer cross-ratio `((ct+1)·(nr+B)) /
  * ((cr+1)·(nt+B))` evaluated in doubles (products stay far inside
  * 2^53 at any tested scale), rounded to 12 digits into DECIMAL(28,12);
  * per-document sums weight that decimal by the integer occurrence
  * count, so summation order cannot perturb the hash.
  */
object Importance {

  /** Feature-hash bucket count. 128 is the published DSIR regime scaled
    * to this corpus (the paper uses 10k buckets on the Pile); what
    * matters for the operator is that B stays broadcastable, which any
    * realistic setting (≤1M) is. */
  val Buckets = 128

  /** 52-bit md5 prefix → bucket id; mirrors the DuckDB idiom
    * `('0x'||substr(md5(f),1,13))::BIGINT % B` (both operands
    * non-negative, so `%` and `pmod` agree). Same hash idiom as
    * `BucketStore.termBucketCol`, kept separate only for the LONG output
    * type this module's hash-verified q77 expression tree carries. */
  private def bucketOf(f: Column): Column =
    pmod(conv(substring(md5(f), 1, 13), 16, 10).cast("long"), lit(Buckets))

  /** Per-document hashed-feature bucket counts: one row per (doc_id,
    * source, bucket) with the occurrence count `k`; `carry` names
    * per-document columns of the input to thread through (they join the
    * group-by, so they must be functionally dependent on doc_id).
    * Features are the document's unigrams plus space-joined bigrams,
    * bucketed IN-ROW (one `transform` over the token array) before the
    * single explode — the exploded row carries only a long, not the
    * feature string. */
  private[ops] def docBuckets(docs: DataFrame,
                              carry: Seq[String] = Nil): DataFrame = {
    val l = TextAnalysis.tokens(col("text"))
    val bigrams = when(size(col("l")) >= 2,
      transform(sequence(lit(1), size(col("l")) - 1),
        i => concat(element_at(col("l"), i), lit(" "),
          element_at(col("l"), i + 1))))
      .otherwise(array().cast("array<string>"))
    val keep = Seq(col("doc_id"), col("source")) ++ carry.map(col)
    Par.widen(docs)
      .select(keep :+ l.as("l"): _*)
      .select(keep :+
        explode(transform(concat(col("l"), bigrams), f => bucketOf(f))).as("b"): _*)
      .groupBy(keep :+ col("b"): _*)
      .agg(count(lit(1)).as("k"))
  }

  /** q77: score the non-target documents against `source = 'src0'` as
    * the target distribution; emit the top 50 by log importance weight
    * (ties broken by doc_id). A document with no features (empty/null
    * text) never reaches scoring on either engine — it has no
    * likelihood ratio to sum — so it cannot appear in the top-K. */
  def q77DsirImportance(s: SparkSession, dir: String): DataFrame =
    dsirTopK(s, Tables.documents(s, dir), col("source") === "src0", 50)

  /** The reusable core: top-K raw documents by DSIR log importance
    * weight of hashed unigram+bigram features, target vs rest.
    *
    * @param isTarget row predicate naming the target slice; scored
    *                 candidates are the complement.
    */
  def dsirTopK(s: SparkSession, docs: DataFrame, isTarget: Column,
               topK: Int): DataFrame = {
    val (out, dbk) = dsirTopKLazy(s, docs, isTarget, topK)
    // bounded result (topK rows): materialize, RELEASE the cache, and
    // re-emit as a local frame so long-lived sessions don't accumulate
    // cached plans (q71's emit lesson, Retrieval.scala:165-170); the
    // release rides a finally so a failed job can't strand the cache
    val rows =
      try out.collect()
      finally dbk.unpersist(blocking = false)
    s.createDataFrame(s.sparkContext.parallelize(rows.toIndexedSeq, 1), out.schema)
      .orderBy(col("logweight").desc, col("doc_id"))
  }

  /** The uncollected dataflow plus its live cache — callers (PlanSpec,
    * composed pipelines) that want the plan or a larger-than-topK frame
    * audit/consume this and unpersist the cache themselves. */
  def dsirTopKLazy(s: SparkSession, docs: DataFrame, isTarget: Column,
                   topK: Int): (DataFrame, DataFrame) = {
    // the predicate is evaluated on the CALLER'S frame (it may name any
    // document column, e.g. text-content predicates), then threads
    // through the bucket counts as a carried flag
    val dbk = docBuckets(docs.withColumn("is_t", isTarget),
      carry = Seq("is_t")).cache()
    // bucket histograms for both models — tiny (≤B rows each)
    val tc = dbk.filter(col("is_t")).groupBy(col("b")).agg(sum(col("k")).as("ct"))
    val rc = dbk.filter(!col("is_t")).groupBy(col("b")).agg(sum(col("k")).as("cr"))
    val nt = tc.agg(coalesce(sum(col("ct")), lit(0L)).as("nt"))
    val nr = rc.agg(coalesce(sum(col("cr")), lit(0L)).as("nr"))
    // add-1-smoothed log ratio per bucket, defined on the FULL 0..B-1
    // range (buckets unseen in either slice still score)
    val lm = s.range(0, Buckets).select(col("id").as("b"))
        .join(tc, Seq("b"), "left").join(rc, Seq("b"), "left")
        .crossJoin(broadcast(nt)).crossJoin(broadcast(nr))
        .select(col("b"),
          round(log(
            ((coalesce(col("ct"), lit(0L)) + 1).cast("double") *
              (col("nr") + Buckets).cast("double")) /
            ((coalesce(col("cr"), lit(0L)) + 1).cast("double") *
              (col("nt") + Buckets).cast("double"))), 12)
            .cast("decimal(28,12)").as("lnterm"))
    // source is functionally dependent on doc_id and already rides dbk,
    // so it joins the group-by — no second corpus scan/shuffle to
    // recover it (the header's one-corpus-shuffle claim, kept honest)
    val w = dbk.filter(!col("is_t"))
        .join(broadcast(lm), Seq("b"))
        .groupBy(col("doc_id"), col("source"))
        .agg(sum(col("k")).as("n_feats"),
          sum(col("lnterm") * col("k").cast("decimal(9,0)")).as("slw"))
        .withColumn("logweight", round(col("slw").cast("double"), 12))
    val out = w
      .select(col("doc_id"), col("source"), col("n_feats"), col("logweight"))
      .orderBy(col("logweight").desc, col("doc_id"))
      .limit(topK)
    (out, dbk)
  }
}
