package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Classifier-evaluation surface over the corpus's own labels — the
  * missing third of the model-quality family: q68/q97 train and score,
  * q170/q202 calibrate and rank (isotonic, AUC); this closes the loop
  * with the MULTICLASS eval a lang-ID heuristic actually ships with
  * (confusion counts → per-class precision/recall/F1 → macro-F1) and
  * the CALIBRATION read of its confidence (reliability bins → ECE).
  *
  * Scale shape: everything collapses in ONE map-side-combined
  * aggregate over in-row predictions (the q22 scoring expressions);
  * all downstream frames are class- or bin-bounded (≤ |langs|, ≤ 10
  * rows). Determinism: counts exact longs; every ratio is a single
  * rounded divide (12); macro/ECE totals decimal-sum the ROUNDED
  * per-row terms (order-free, the q48 rule), final round 6. */
object Evaluation {

  /** The q22 scoring + argmax over any (doc_id, lang, text) frame. */
  private[graft] def langPredsOf(docs: DataFrame): DataFrame = {
    import TextAnalysis.langHits
    Par.widen(docs).select(
        col("doc_id"), col("lang").as("lang_label"),
        langHits(col("text"), "en").as("n_en"),
        langHits(col("text"), "de").as("n_de"),
        langHits(col("text"), "es").as("n_es"),
        langHits(col("text"), "fr").as("n_fr"))
      .withColumn("lang_pred",
        when(col("n_en") >= greatest(col("n_de"), col("n_es"), col("n_fr")), "en")
          .when(col("n_de") >= greatest(col("n_es"), col("n_fr")), "de")
          .when(col("n_es") >= col("n_fr"), "es")
          .otherwise("fr"))
  }

  /** q250: confusion-matrix eval of the q22 lang-ID heuristic against
    * the corpus labels — per observed LABEL class: support, predicted
    * count, true positives, precision (NULL when the class is never
    * predicted), recall, F1 (NULL when precision+recall is 0 or
    * undefined), plus a `__macro` row averaging the per-class F1/P/R
    * with undefined treated as 0 (the standard macro convention —
    * a never-predicted class drags the average, which is the point). */
  def q250LangIdEval(s: SparkSession, dir: String): DataFrame =
    langIdEvalOf(Tables.documents(s, dir))

  /** The eval core over any (doc_id, lang, text) frame. */
  private[graft] def langIdEvalOf(docs: DataFrame): DataFrame = {
    val cells = langPredsOf(docs)
      .groupBy(col("lang_label"), col("lang_pred"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint() // class-bounded; feeds three tiny aggregates
    val byTrue = cells.groupBy(col("lang_label").as("lang"))
      .agg(sum(col("c")).as("n_true"),
        sum(when(col("lang_pred") === col("lang_label"), col("c"))
          .otherwise(0L)).as("tp"))
    val byPred = cells.groupBy(col("lang_pred").as("lang"))
      .agg(sum(col("c")).as("n_pred"))
    val perClass = byTrue.join(byPred, Seq("lang"), "left")
      .withColumn("n_pred", coalesce(col("n_pred"), lit(0L)))
      .withColumn("precision", when(col("n_pred") > 0,
        round(col("tp").cast("double") / col("n_pred").cast("double"), 12)))
      .withColumn("recall", when(col("n_true") > 0,
        round(col("tp").cast("double") / col("n_true").cast("double"), 12)))
      .withColumn("f1", when(
        col("precision").isNotNull && col("recall").isNotNull &&
          col("precision") + col("recall") > 0.0,
        round(lit(2.0) * col("precision") * col("recall") /
          (col("precision") + col("recall")), 12)))
    val macroRow = perClass.agg(
        sum(col("n_true")).as("n_true"), sum(col("n_pred")).as("n_pred"),
        sum(col("tp")).as("tp"),
        round(sum(coalesce(col("precision"), lit(0.0)).cast("decimal(28,12)"))
          .cast("double") / count(lit(1)).cast("double"), 12).as("precision"),
        round(sum(coalesce(col("recall"), lit(0.0)).cast("decimal(28,12)"))
          .cast("double") / count(lit(1)).cast("double"), 12).as("recall"),
        round(sum(coalesce(col("f1"), lit(0.0)).cast("decimal(28,12)"))
          .cast("double") / count(lit(1)).cast("double"), 12).as("f1"))
      .select(lit("__macro").as("lang"), col("n_true"), col("n_pred"),
        col("tp"), col("precision"), col("recall"), col("f1"))
    perClass.select(col("lang"), col("n_true"), col("n_pred"), col("tp"),
        col("precision"), col("recall"), col("f1"))
      .unionByName(macroRow)
      .orderBy(col("lang"))
  }

  /** q253: reliability diagram + ECE for the heuristic's "English"
    * confidence (n_en over all stopword hits, 0 when no hits) against
    * the true binary label. 10 equal-width bins (conf ∈ [0.9, 1.0]
    * closes the top bin); per bin: population, positives, mean
    * confidence, accuracy, |gap|; the `__total` row carries
    * ECE = Σ (n_b/N)·gap_b. */
  def q253EceReliability(s: SparkSession, dir: String): DataFrame =
    eceReliabilityOf(Tables.documents(s, dir))

  /** The reliability core over any (doc_id, lang, text) frame. */
  private[graft] def eceReliabilityOf(docs: DataFrame): DataFrame = {
    val den = col("n_en") + col("n_de") + col("n_es") + col("n_fr")
    val scored = langPredsOf(docs)
      .withColumn("conf", when(den > 0,
        round(col("n_en").cast("double") / den.cast("double"), 12))
        .otherwise(lit(0.0)))
      .withColumn("y", (col("lang_label") === "en").cast("long"))
      .withColumn("bin", least(lit(9L), floor(col("conf") * 10.0).cast("long")))
    val bins = scored.groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"),
        round(sum(col("conf").cast("decimal(28,12)")).cast("double")
          / count(lit(1)).cast("double"), 12).as("avg_conf"))
      .withColumn("acc",
        round(col("n_pos").cast("double") / col("n").cast("double"), 12))
      .withColumn("gap", round(abs(col("acc") - col("avg_conf")), 12))
      .localCheckpoint() // ≤ 10 rows; feeds the listing and the total
    val total = bins
      .agg(sum(col("n")).as("nt"), sum(col("n_pos")).as("pt"),
        round(sum(round(col("n") * col("gap"), 12).cast("decimal(28,12)"))
          .cast("double") / sum(col("n")).cast("double"), 6).as("ece"))
      .select(lit("__total").as("bin_label"), col("nt").as("n"),
        col("pt").as("n_pos"), lit(null).cast("double").as("avg_conf"),
        lit(null).cast("double").as("acc"), col("ece").as("gap"))
    bins.select(concat(lit("b"), col("bin").cast("string")).as("bin_label"),
        col("n"), col("n_pos"), col("avg_conf"), col("acc"), col("gap"))
      .unionByName(total)
      .orderBy(col("bin_label"))
  }
}
