package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Label construction for preference/annotation training data — the two
  * operators an RLHF-style pipeline runs after quality scoring:
  * preference-PAIR mining (chosen vs rejected examples from the quality
  * verdicts) and majority-vote aggregation of multi-annotator labels.
  *
  * Scale shape: pair mining never ranks a source's full membership —
  * both sides go through the bounded `top_k` aggregate (one map-side
  * combined shuffle per side, O(k) state per source), and the
  * rank-to-rank pairing joins two ≤ k·|sources| frames (broadcast).
  * Vote aggregation is one hash aggregate over (item, label) counts and
  * one argmax aggregate over those counts — no window, no sort, no
  * per-item state beyond the label-count pair. */
object Labeling {

  /** Majority vote per item over (item, annotator, label) rows:
    * n_votes, the winning label (most votes, ties → lexicographically
    * smallest label — deterministic regardless of vote arrival order),
    * the winner's count, and unanimity. The argmax rides a
    * `min(struct(-n, label))`: the smallest negated count is the
    * largest count, and within a count tie struct order falls through
    * to the smallest label. */
  def majorityVote(votes: DataFrame, itemCol: String, labelCol: String): DataFrame = {
    val counts = votes
      .groupBy(col(itemCol).as("item"), col(labelCol).as("label"))
      .agg(count(lit(1)).as("n"))
    counts.groupBy(col("item"))
      .agg(
        sum(col("n")).as("n_votes"),
        min(struct((-col("n")).as("neg"), col("label"))).as("w"),
        count(lit(1)).as("n_labels"))
      .select(
        col("item"),
        col("n_votes"),
        col("w.label").as("majority"),
        (-col("w.neg")).as("n_majority"),
        (col("n_labels") === 1).as("unanimous"))
  }

  /** Preference pairs from the q39 quality verdicts — per source, the
    * 8 earliest keepers paired rank-to-rank with the 8 earliest
    * rejects, carrying the reject reason and the token-count margin.
    *
    * EXACTLY TWO verdict passes, measured into shape at the 100× soak:
    * the obvious dataflow (rank each side, then join attributes for
    * each pair role) re-evaluated the interpreted-HOF verdict
    * projection once per derived frame — 4-6 corpus passes, 357 s at
    * 100×. Here pass 1 ranks BOTH sides in ONE aggregate (two
    * conditional `top_k` columns — TopKAgg skips null scores — zipped
    * into rank-aligned pairs), and pass 2 recovers both roles'
    * attributes from ONE scan by unpivoting the tiny pair frame to
    * (pair-key, role, doc_id) rows, broadcast-joining, and pivoting
    * back with conditional aggregates. */
  def preferencePairs(docs: DataFrame): DataFrame = {
    val v = TextAnalysis
      .filterVerdicts(docs, passThrough = Seq("source"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("reason"), col("keep"))
    // pass 1: both bounded ranked sides from one aggregate; score
    // -doc_id = earliest-k, tie-free (ids unique)
    val pairs = v.groupBy(col("source"))
      .agg(
        TopKPerGroup.topKColumn(
          when(col("keep"), -col("doc_id")), col("doc_id"), 8).as("ctop"),
        TopKPerGroup.topKColumn(
          when(!col("keep"), -col("doc_id")), col("doc_id"), 8).as("rtop"))
      .select(col("source"),
        posexplode(arrays_zip(col("ctop"), col("rtop"))).as(Seq("pos", "z")))
      .filter(col("z.ctop").isNotNull && col("z.rtop").isNotNull)
      .select(col("source"), (col("pos") + 1).cast("long").as("rank"),
        col("z.ctop.id").as("chosen_id"), col("z.rtop.id").as("rejected_id"))
    // pass 2: one attribute scan serves both roles (the pair frame's
    // source is re-aliased — it shares lineage with v, and Spark's
    // self-join ambiguity check rejects the bare name)
    val roles = pairs
      .select(col("source").as("psource"), col("rank"),
        col("chosen_id").as("did"), lit("c").as("role"))
      .unionByName(pairs.select(col("source").as("psource"), col("rank"),
        col("rejected_id").as("did"), lit("r").as("role")))
    v.join(broadcast(roles), v("doc_id") === roles("did"))
      .groupBy(col("psource").as("source"), col("rank"))
      .agg(
        max(when(col("role") === "c", col("doc_id"))).as("chosen_id"),
        max(when(col("role") === "r", col("doc_id"))).as("rejected_id"),
        max(when(col("role") === "c", col("n_tokens"))).as("chosen_tokens"),
        max(when(col("role") === "r", col("n_tokens"))).as("rejected_tokens"),
        max(when(col("role") === "r", col("reason"))).as("reject_reason"))
      .select(col("source"), col("rank"), col("chosen_id"), col("rejected_id"),
        col("chosen_tokens"), col("rejected_tokens"),
        (col("chosen_tokens") - col("rejected_tokens")).as("margin_tokens"),
        col("reject_reason"))
  }

  /** q123: [[preferencePairs]] over the documents table. */
  def q123PreferencePairs(s: SparkSession, dir: String): DataFrame =
    preferencePairs(Tables.documents(s, dir))
      .orderBy(col("source"), col("rank"))

  /** Three deterministic pseudo-annotators — annotator j's label is a
    * pure function of md5(doc_id:j) (first hex char: <'6' good ~6/16,
    * <'b' ok ~5/16, else bad ~5/16), so the oracle replays the votes
    * exactly. One in-row explode, 3 rows per doc. */
  def syntheticVotes(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), explode(array(lit(1), lit(2), lit(3))).as("j"))
    .withColumn("h",
      substring(md5(concat(col("doc_id").cast("string"), lit(":"),
        col("j").cast("string"))), 1, 1))
    .withColumn("label",
      when(col("h") < "6", "good").when(col("h") < "b", "ok")
        .otherwise(lit("bad")))

  /** [[majorityVote]] over the synthetic votes, keyed back to doc_id. */
  def labelVotes(docs: DataFrame): DataFrame =
    majorityVote(syntheticVotes(docs), "doc_id", "label")
      .withColumnRenamed("item", "doc_id")

  /** q124: the vote aggregation under test is [[majorityVote]]. */
  def q124LabelVote(s: SparkSession, dir: String): DataFrame =
    labelVotes(Tables.documents(s, dir)).orderBy(col("doc_id"))

  /** Cohen's kappa per annotator pair — the annotation-QA companion to
    * [[majorityVote]]: chance-corrected agreement κ = (p_o − p_e)/(1 − p_e),
    * where p_o is the observed agreement rate and p_e the chance rate
    * from the two annotators' label marginals (Cohen, 1960). Input is
    * (item, la, lb) rows of pair-labeled items over label set `labels`.
    *
    * Shape: ONE map-side-combined hash aggregate per the whole frame —
    * agreement and all 2·|labels| marginals are conditional sums in the
    * same pass; no join, no window, no per-item state. Doubles: all
    * counts are exact longs; p_e is a FIXED left-to-right sum over the
    * declared label order (one expression tree, shared with the
    * oracle), and κ is rounded to 6 (the q41 ulp note). */
  def kappaByPair(pairs: DataFrame, labels: Seq[String]): DataFrame = {
    val aggs: Seq[org.apache.spark.sql.Column] =
      Seq(count(lit(1)).as("n"),
        sum(when(col("la") === col("lb"), 1L).otherwise(0L)).as("n_agree")) ++
      labels.flatMap { l =>
        Seq(sum(when(col("la") === l, 1L).otherwise(0L)).as(s"__a_$l"),
            sum(when(col("lb") === l, 1L).otherwise(0L)).as(s"__b_$l"))
      }
    val agg = pairs.groupBy(col("j1"), col("j2")).agg(aggs.head, aggs.tail: _*)
    val nD = col("n").cast("double")
    val po = col("n_agree").cast("double") / nD
    val pe = labels.map { l =>
      col(s"__a_$l").cast("double") / nD * (col(s"__b_$l").cast("double") / nD)
    }.reduceLeft(_ + _)
    // degenerate guard: two annotators constant on the same label give
    // pe = 1 and a 0/0 kappa — NULL (no chance-corrected verdict
    // exists), mirrored by the same CASE in the q137 oracle, instead of
    // a Spark NaN vs DuckDB NULL parity gap.
    agg.select(col("j1"), col("j2"), col("n").as("n_items"),
      round(po, 6).as("po"), round(pe, 6).as("pe"),
      round(when(pe < 1.0, (po - pe) / (lit(1.0) - pe)), 6).as("kappa"))
  }

  /** q137: κ for the three synthetic-annotator pairs. The three labels
    * per doc are pure md5 functions of doc_id, so the pair frame is
    * built IN-ROW (explode of the 3 pair structs — no vote self-join),
    * and the oracle replays labels, marginals and κ exactly. */
  def annotatorKappa(docs: DataFrame): DataFrame = {
    def lab(j: Int) = {
      val h = substring(md5(concat(col("doc_id").cast("string"), lit(":"),
        lit(j.toString))), 1, 1)
      when(h < "6", "good").when(h < "b", "ok").otherwise(lit("bad"))
    }
    val pairFrame = docs
      .select(col("doc_id"), lab(1).as("l1"), lab(2).as("l2"), lab(3).as("l3"))
      .select(explode(array(
        struct(lit(1).as("j1"), lit(2).as("j2"), col("l1").as("la"), col("l2").as("lb")),
        struct(lit(1).as("j1"), lit(3).as("j2"), col("l1").as("la"), col("l3").as("lb")),
        struct(lit(2).as("j1"), lit(3).as("j2"), col("l2").as("la"), col("l3").as("lb"))))
        .as("p"))
      .select(col("p.j1").as("j1"), col("p.j2").as("j2"),
        col("p.la").as("la"), col("p.lb").as("lb"))
    kappaByPair(pairFrame, Seq("good", "ok", "bad")).orderBy(col("j1"), col("j2"))
  }

  /** q137 entry over the documents corpus. */
  def q137AnnotatorKappa(s: SparkSession, dir: String): DataFrame =
    annotatorKappa(Tables.documents(s, dir))
}
