package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Salted join for skewed keys — the manual fallback when AQE's runtime
  * skew splitting isn't available (e.g. non-shuffle-join plans, or a key
  * so hot a single salt range still overflows a task). The left (skewed)
  * side gets a random salt in [0, salts); the right side is replicated
  * once per salt value; the join key becomes (key, salt), spreading one
  * hot key over `salts` tasks.
  *
  * Replication multiplies the right side by `salts`, so this fits the
  * fact-⋈-medium-dim case where the dim is too big to broadcast but
  * cheap to duplicate a handful of times.
  */
object SkewJoin {

  def saltedJoin(left: DataFrame, right: DataFrame, key: String, salts: Int,
                 joinType: String = "inner"): DataFrame = {
    // deterministic salt: hash of the whole left row spreads rows evenly
    // without an RNG (reproducible across retries — a rand() salt is not)
    val saltedLeft = left.withColumn("__salt",
      pmod(hash(left.columns.map(col): _*), lit(salts)))
    val saltedRight = right.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    saltedLeft.join(saltedRight,
        saltedLeft(key) === saltedRight(key) &&
          saltedLeft("__salt") === saltedRight("__salt"), joinType)
      .drop(saltedRight(key)).drop("__salt")
  }

  /** Diagnostic: per-key row counts above a threshold — the keys that
    * need salting (or AQE skew handling) at scale. */
  def skewedKeys(df: DataFrame, key: String, threshold: Long): DataFrame =
    df.groupBy(col(key)).count().filter(col("count") >= threshold)
      .orderBy(col("count").desc, col(key))

  /** Per-key total attached to every row WITHOUT a window over the key —
    * the document-frequency idiom (tf-idf, unigram LM, cross-doc
    * repetition) made hot-key-safe.
    *
    * `count().over(Window.partitionBy(key))` routes each key's ENTIRE
    * partition group through one task's window buffer: a corpus-scale
    * hot key ("the", a boilerplate shingle — 10¹⁰ rows at 100 TB) is a
    * single-task, serial, spilling cliff, and AQE cannot split a window
    * partition. Here the total comes from a map-side-combined aggregate
    * (per-task partials — no task ever sees a whole key), and rows get
    * it back through a HEAVY/LIGHT split:
    *
    *   - light keys (total < heavyAt) shuffle-join: per-key fan-in is
    *     bounded by the threshold, so no join partition can blow up;
    *   - heavy keys number ≤ N/heavyAt BY CONSTRUCTION — a bounded,
    *     broadcastable set — and their rows broadcast-hash-join where
    *     they already sit, never repartitioning by the hot key.
    *
    * `heavyAt` trades broadcast size against light-side bound. Pass 0
    * (the default) to DERIVE it as max(1000, N/10⁶): the heavy set is
    * then ≤ 10⁶ keys whatever the corpus — a fixed threshold silently
    * stops being broadcastable when the corpus grows (at N = 10¹³,
    * heavyAt = 1000 admits up to 10¹⁰ heavy keys). The count behind the
    * derivation is one cheap action over the already-pinned
    * input.
    *
    * `weight` sums that column instead of counting rows (the unigram-LM
    * case, where rows are (doc, token, k) partials).
    *
    * The input feeds the aggregate and both join branches, so it is
    * pinned: recomputing a tokenize+explode subtree three times is
    * worse than one bounded materialization. A standing view passes
    * `Pin.Off` with an explicit `heavyAt` (the routing cut does NOT
    * affect results, only which branch a key takes) — the derived cut
    * counts the input, which is a job.
    *
    * NULL keys are routed with null-safe equality (`<=>`), so a NULL
    * key forms its own group with its own total — the same semantics as
    * the count-over-window formulation this replaced (a window
    * partitions NULLs together); a plain inner equi-join would silently
    * drop those rows. */
  def withKeyTotal(rows: DataFrame, key: String, totalName: String,
                   heavyAt: Long = 0L, weight: Option[String] = None,
                   pin: Pin = Pin.Checkpoint): DataFrame = {
    val pinned = pin(rows)
    val cut =
      if (heavyAt > 0L) heavyAt
      else math.max(1000L, pinned.count() / 1000000L)
    val agg = weight.map(w => sum(col(w))).getOrElse(count(lit(1)))
    val totals = pinned.groupBy(col(key)).agg(agg.cast("long").as(totalName))
      .withColumnRenamed(key, "__kt_key")
    def back(t: DataFrame) =
      pinned.join(t, col(key) <=> col("__kt_key")).drop("__kt_key")
    back(totals.filter(col(totalName) < cut))
      .unionByName(back(broadcast(totals.filter(col(totalName) >= cut))))
  }
}
