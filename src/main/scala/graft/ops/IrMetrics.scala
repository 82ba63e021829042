package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Retrieval-quality metrics — the evaluation half of the BM25/RAG
  * stack (q58/q71/q151/q156): given a query workload and a relevance
  * rule, score each ranking with the standard IR metrics so index
  * changes (champion lists, posting deletes, hybrid fusion weights)
  * are judged by MRR/nDCG movement, not eyeballs.
  *
  * Relevance is GRADED and derived, not annotated: a doc's gain for a
  * query is its count of distinct matched query terms (0..|q|), full
  * matches (gain = |q|) count as binary-relevant for MRR/precision —
  * deterministic from the corpus, so the whole evaluation replays in
  * the oracle. Metrics per query over the BM25 top-k:
  *
  *   MRR     = 1 / rank of the first full match (0 if none in top-k)
  *   P@k     = full matches in top-k / k
  *   nDCG@k  = DCG@k / IDCG@k with DCG = Σ (2^gain − 1)/log2(rank+1),
  *             IDCG from the corpus-wide ideal gain ordering
  *
  * Scale shape: the ranking is [[Retrieval.bm25TopK]]'s audited
  * dataflow (in-row pruned postings, bounded top-k); per-doc gains are
  * ONE in-row `array_intersect` pass (no explode); the ideal ordering
  * never sorts the corpus — gains take ≤ |q| distinct values, so IDCG
  * comes from the (gain → doc count) HISTOGRAM: a ≤|q|-row window
  * assigns each gain its ideal rank interval, sequence-exploded to at
  * most k rows. Every window in the plan runs over ≤ k or ≤ |q| rows.
  *
  * Determinism: ranks are integer; each 1/log2(rank+1) part is rounded
  * to 12 digits and summed as exact DECIMAL(28,12) (the q58 rule — a
  * 10-term double sum is already order-sensitive in the last ulp);
  * final ratios round 12. */
object IrMetrics {

  private def gainW(g: Column, r: Column): Column =
    round((pow(lit(2.0), g.cast("double")) - lit(1.0)) /
      log2(r.cast("double") + lit(1.0)), 12).cast("decimal(28,12)")

  /** One query's metric row: (query_id, n_rel, mrr, p_at_k, ndcg_at_k). */
  private[graft] def metricsFor(docs: DataFrame, queryId: Int, terms: Seq[String],
                                k: Int): DataFrame = {
    val m = terms.length
    val qArr = array(terms.map(t => lit(t.toLowerCase)): _*)
    // ≤k rows: the bounded global window is the q35/q58 accepted shape
    val top = Retrieval.bm25TopK(docs, terms, k)
      .withColumn("rank", row_number()
        .over(Window.orderBy(col("score").desc, col("doc_id"))).cast("long"))
    val topAgg = top.agg(
      coalesce(round(lit(1.0) /
        min(when(col("n_hit_terms") === m, col("rank"))), 12), lit(0.0)).as("mrr"),
      round(count(when(col("n_hit_terms") === m, lit(1))).cast("double") / k, 12)
        .as(s"p_at_$k"),
      coalesce(sum(gainW(col("n_hit_terms"), col("rank"))),
        lit(java.math.BigDecimal.ZERO).cast("decimal(28,12)")).as("dcg"))
    // corpus gains in one in-row pass (array_intersect = distinct hits)
    val gains = Par.widen(docs)
      .select(size(array_intersect(TextAnalysis.tokens(col("text")), qArr)).as("g"))
      .filter(col("g") > 0)
    val hist = gains.groupBy(col("g")).agg(count(lit(1)).as("cnt")) // ≤ |q| rows
    val cum = hist.withColumn("cum",
      sum(col("cnt")).over(Window.orderBy(col("g").desc)))
    val idealAgg = cum
      .withColumn("lo", col("cum") - col("cnt") + 1)
      .withColumn("hi", least(col("cum"), lit(k.toLong)))
      .filter(col("lo") <= col("hi"))
      .select(col("g"), explode(sequence(col("lo"), col("hi"))).as("r")) // ≤ k rows
      .agg(sum(gainW(col("g"), col("r"))).as("idcg"))
    val nRel = hist.agg(
      coalesce(sum(when(col("g") === m, col("cnt"))), lit(0L)).as("n_rel"))
    topAgg.crossJoin(idealAgg).crossJoin(nRel)
      .select(lit(queryId.toLong).as("query_id"), col("n_rel"),
        col("mrr"),
        col(s"p_at_$k"),
        when(col("idcg").isNull || col("idcg") === 0, lit(0.0))
          .otherwise(round(col("dcg").cast("double") / col("idcg").cast("double"), 12))
          .as(s"ndcg_at_$k"))
  }

  /** The fixed 3-query evaluation workload: a rare conjunction, the
    * q58 flagship query, and a mid-selectivity triple. */
  val Workload: Seq[(Int, Seq[String])] = Seq(
    1 -> Seq("dup", "key"),
    2 -> Seq("spark", "vector", "merge", "window"),
    3 -> Seq("dup", "scan", "sort"))

  /** q176: MRR / P@10 / graded nDCG@10 of the BM25 ranking for the
    * fixed workload — one row per query. */
  def q176IrMetrics(s: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      .localCheckpoint() // 3 queries × (ranking + gains) reuse the scan
    Workload.map { case (qid, terms) => metricsFor(docs, qid, terms, k) }
      .reduce(_.unionByName(_))
      .orderBy(col("query_id"))
  }
}
