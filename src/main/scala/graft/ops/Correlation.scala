package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** SPEARMAN rank correlation between two per-document signals, per
  * source — the signal-redundancy audit: q21's rule-based quality
  * priority against raw token count answers "is the quality rule
  * secretly a length rule?" per source (ρ → 1 means the priority adds
  * nothing over length there; a source where ρ breaks from the pack
  * has a different quality/length relationship — template or spam
  * structure). Complements q131's per-key trend slope (Pearson on
  * time) with the tie-robust rank form.
  *
  * Tie handling is the textbook AVERAGE-RANK convention, made exact:
  * a value v with count c and cum_below docs strictly smaller has
  * average rank cum_below + (c+1)/2 — kept as the INTEGER
  * 2·rank = 2·cum_below + c + 1, so every rank is exact and Pearson's
  * moments stay integer (doubling both rank vectors leaves ρ
  * unchanged).
  *
  * Scale shape: TWO (source × value) count aggregates (priority has
  * ≤ 11 values, token count ≤ distinct lengths — both aggregated
  * frames); rank windows run over those frames only; docs re-attach
  * their ranks by value joins; the final per-source moment fold is
  * ≤ |sources| rows. Determinism: all moments DECIMAL(38,0) exact;
  * ρ is one fixed expression rounded 6; zero-variance sources (every
  * doc the same priority) read NULL, not a divide-by-zero. */
object Correlation {

  /** (source, n_docs, rho): Spearman of (q21 priority, token count). */
  def q201Spearman(s: SparkSession, dir: String): DataFrame =
    spearman(Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        Selection.priority().as("x"),
        TextAnalysis.tokenCount(col("text")).as("y")))

  /** Spearman over any (doc_id, source, x: long, y: long) frame. */
  def spearman(sig: DataFrame): DataFrame = {
    val pinned = sig.localCheckpoint() // two rank joins + the moment fold
    def ranks2(c: String): DataFrame = {
      val counts = pinned.groupBy(col("source"), col(c))
        .agg(count(lit(1)).as("cnt"))
      counts
        .withColumn("cum", coalesce(sum(col("cnt")).over(
          Window.partitionBy(col("source")).orderBy(col(c))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("source"), col(c),
          (lit(2L) * col("cum") + col("cnt") + lit(1L)).as(s"r2$c"))
    }
    val withRanks = pinned
      .join(ranks2("x"), Seq("source", "x"))
      .join(ranks2("y"), Seq("source", "y"))
    val mom = withRanks.groupBy(col("source"))
      .agg(count(lit(1)).as("n"),
        sum(col("r2x").cast("decimal(38,0)")).as("sx"),
        sum(col("r2y").cast("decimal(38,0)")).as("sy"),
        sum((col("r2x") * col("r2x")).cast("decimal(38,0)")).as("sxx"),
        sum((col("r2y") * col("r2y")).cast("decimal(38,0)")).as("syy"),
        sum((col("r2x") * col("r2y")).cast("decimal(38,0)")).as("sxy"),
        // exact zero-variance detection: one distinct value — the
        // double forms of nΣxx − Σx² can ulp-miss exact zero
        (min(col("x")) === max(col("x"))).as("flat_x"),
        (min(col("y")) === max(col("y"))).as("flat_y"))
    val nD = col("n").cast("double")
    val num = nD * col("sxy").cast("double") -
      col("sx").cast("double") * col("sy").cast("double")
    val dx = nD * col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double")
    val dy = nD * col("syy").cast("double") -
      col("sy").cast("double") * col("sy").cast("double")
    mom.select(col("source"), col("n").as("n_docs"),
        round(when(!col("flat_x") && !col("flat_y"),
          num / sqrt(dx * dy)), 6).as("rho"))
      .orderBy(col("source"))
  }

  /** q204: KENDALL τ-b — the pairwise companion of q201's Spearman
    * (ρ reads rank positions, τ reads pair ORDERINGS — τ is the one
    * with the direct "probability a random doc pair agrees" meaning,
    * and the more robust of the two under heavy ties like the 0..10
    * priority). Exact, without touching doc pairs: concordant /
    * discordant counts come from a self-join of the AGGREGATED
    * (source × x × y) contingency grid on x-inequality — cell pair
    * (a, b) with a.x < b.x contributes n_a·n_b concordant if
    * b.y > a.y, discordant if b.y < a.y — so the join is bounded by
    * the VALUE grid (≤ |x-values|·|y-values| cells per source), never
    * the corpus. Tie corrections are the τ-b standard:
    * τ = (C − D)/√((n0 − n1)(n0 − n2)) with n0 = n(n−1)/2 and
    * n1/n2 the x/y tie-pair counts — all exact integers through
    * DECIMAL(38,0), one rounded-6 divide, NULL on a flat signal. */
  def q204KendallTau(s: SparkSession, dir: String): DataFrame =
    kendallTau(Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        Selection.priority().as("x"),
        TextAnalysis.tokenCount(col("text")).as("y")))

  def kendallTau(sig: DataFrame): DataFrame = {
    val grid = sig.groupBy(col("source"), col("x"), col("y"))
      .agg(count(lit(1)).as("c")).localCheckpoint()
    val a = grid.as("a"); val b = grid.as("b")
    // cell-count products widen to decimal BEFORE multiplying: two
    // BIGINT cell counts can each exceed 3e9 at corpus scale
    val cxc = col("a.c").cast("decimal(19,0)") * col("b.c").cast("decimal(19,0)")
    val cd = a.join(b,
        col("a.source") === col("b.source") && col("a.x") < col("b.x"))
      .groupBy(col("a.source").as("source"))
      .agg(
        sum(when(col("b.y") > col("a.y"), cxc)
          .otherwise(lit(0).cast("decimal(38,0)"))).as("cc"),
        sum(when(col("b.y") < col("a.y"), cxc)
          .otherwise(lit(0).cast("decimal(38,0)"))).as("dd"))
    val ties = grid.groupBy(col("source"))
      .agg(sum(col("c")).as("n"),
        (min(col("x")) === max(col("x"))).as("flat_x"),
        (min(col("y")) === max(col("y"))).as("flat_y"))
      .join(grid.groupBy(col("source"), col("x"))
        .agg(sum(col("c")).as("tx")).groupBy(col("source"))
        .agg(sum(col("tx").cast("decimal(19,0)") *
          (col("tx") - 1).cast("decimal(19,0)") / 2).as("n1")), Seq("source"))
      .join(grid.groupBy(col("source"), col("y"))
        .agg(sum(col("c")).as("ty")).groupBy(col("source"))
        .agg(sum(col("ty").cast("decimal(19,0)") *
          (col("ty") - 1).cast("decimal(19,0)") / 2).as("n2")), Seq("source"))
    // n0 in doubles from the start: n(n−1) overflows BIGINT past ~4e9
    val n0 = col("n").cast("double") * (col("n").cast("double") - 1.0) / 2.0
    // no raw C−D column: pair counts overflow BIGINT at corpus scale
    // (n²/2 pairs), and τ only needs the double forms after the guard.
    // LEFT join from the tie base: a flat-x source generates no
    // x-inequality pairs at all — it must still emit its NULL row
    // (the q201 convention), not vanish
    ties.join(cd, Seq("source"), "left")
      .select(col("source"), col("n").as("n_docs"),
        round(when(!col("flat_x") && !col("flat_y"),
          (col("cc").cast("double") - col("dd").cast("double")) /
            sqrt((n0 - col("n1").cast("double")) *
              (n0 - col("n2").cast("double")))), 6).as("tau_b"))
      .orderBy(col("source"))
  }

  /** q221: SIMPSON'S-PARADOX AUDIT — does the per-source association
    * between document length (x = token count) and token shape
    * (y = average token length) point the same way as the pooled
    * corpus association? Aggregation reverses correlation signs when
    * strata differ in both baseline and mix (Simpson 1951) — the audit
    * a mixing/quality decision reads before acting on a POOLED
    * correlation (q201/q204 report per-source for the same reason;
    * this is the cross-check that pooling them would be safe).
    *
    * The statistic per group is the covariance numerator
    * D = n·Σxy − Σx·Σy (its SIGN is the association direction — no
    * variance normalization needed for a sign test). Determinism: Σxy
    * and Σy are decimal sums of rounded-12 terms, Σx exact; D is two
    * IEEE products and one subtract on the aggregate scalars, rounded
    * 12 before the sign (both engines compare the identical double).
    *
    * Shape at 100 TB: ONE map-combined per-source moment aggregate
    * (4 scalars per source), a 1-row pooled reduction of THAT frame,
    * one broadcast join (`Diag plan`'s BNLJ|SinglePartition flags = the
    * standing 1-row scalar-attach idiom). */
  def q221SimpsonAudit(s: SparkSession, dir: String): DataFrame = {
    val nTok = TextAnalysis.tokenCount(col("text"))
    val nChr = TextAnalysis.charCountNoWs(col("text"))
    simpsonOf(Par.widen(graft.Tables.documents(s, dir))
      .select(col("source"), nTok.as("x"),
        (nChr.cast("double") /
          greatest(nTok.cast("double"), lit(1.0))).as("y")))
  }

  /** The sign-audit core over any (source, x: long, y: double) frame. */
  def simpsonOf(xy: DataFrame): DataFrame = {
    val terms = xy
      .select(col("source"), col("x"),
        round(col("y"), 12).cast("decimal(28,12)").as("y12"),
        round(col("x").cast("double") * col("y"), 12)
          .cast("decimal(28,12)").as("xy12"))
    val per = terms.groupBy(col("source"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y12")).as("sy"), sum(col("xy12")).as("sxy"))
      .localCheckpoint() // pooled reduction + the output both read it
    def dSign(n: Column, sx: Column, sy: Column, sxy: Column): Column =
      signum(round(n.cast("double") * sxy.cast("double") -
        sx.cast("double") * sy.cast("double"), 12)).cast("long")
    val pooled = per.agg(sum(col("n")).as("pn"), sum(col("sx")).as("psx"),
        sum(col("sy")).as("psy"), sum(col("sxy")).as("psxy"))
      .select(dSign(col("pn"), col("psx"), col("psy"), col("psxy"))
        .as("pooled_sign"))
    per.crossJoin(broadcast(pooled))
      .select(col("source"), col("n").as("n_docs"),
        dSign(col("n"), col("sx"), col("sy"), col("sxy")).as("cov_sign"),
        col("pooled_sign"))
      .withColumn("simpson_flip",
        col("cov_sign") =!= lit(0L) && col("pooled_sign") =!= lit(0L) &&
          col("cov_sign") =!= col("pooled_sign"))
      .orderBy(col("source"))
  }

  /** q244: LAGGED CROSS-CORRELATION between event types' daily volumes
    * — "does signup LEAD purchase, and by how many days?": Pearson r
    * at every lag ℓ ∈ [−3, 3] for every type pair, plus the
    * |r|-maximizing lag. The lead/lag read none of the existing
    * correlation family gives (Spearman/Kendall/Simpson are
    * contemporaneous).
    *
    * Exact: daily counts are integers, so every moment (Σxy, Σx², …)
    * is an exact integer sum widened via (19,0)×(19,0) decimal
    * products; r is ONE double expression over exact longs (round 6),
    * and the argmax compares rounded-12 |r| with the smaller lag
    * winning ties. Zero-variance overlaps → NULL r, excluded from the
    * argmax. Shape: the (type × day) aggregate joined to itself on
    * day+ℓ with a 7-row broadcast lag table — aggregate-domain
    * throughout. */
  def q244LaggedXcorr(s: SparkSession, dir: String): DataFrame =
    laggedXcorr(Tables.events(s, dir))

  /** The cross-correlation core over any (ts nanos, event_type) frame. */
  def laggedXcorr(events: DataFrame, maxLag: Int = 3): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    val ev = events.select(col("event_type"),
      expr("ts DIV 86400000000000").as("day"))
    val counts = ev.groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("x"))
    val days = counts.select(col("day")).distinct()
    val grid = counts.select(col("event_type")).distinct()
      .crossJoin(days)
      .join(counts, Seq("event_type", "day"), "left")
      .withColumn("x", coalesce(col("x"), lit(0L)))
      .localCheckpoint() // both sides of the lag join read this frame
    val lags = (-maxLag to maxLag).map(_.toLong).toDF("lag")
    val a = grid.select(col("event_type").as("ta"), col("day"),
      col("x").as("xa"))
    val b = grid.select(col("event_type").as("tb"), col("day").as("dayb"),
      col("x").as("xb"))
    val moments = a.crossJoin(broadcast(lags))
      .join(b, col("dayb") === col("day") + col("lag") &&
        col("ta") < col("tb"))
      .groupBy(col("ta"), col("tb"), col("lag"))
      .agg(count(lit(1)).as("n"),
        sum(col("xa")).as("sx"), sum(col("xb")).as("sy"),
        sum(col("xa").cast("decimal(19,0)") * col("xb").cast("decimal(19,0)"))
          .cast("decimal(38,0)").as("sxy"),
        sum(col("xa").cast("decimal(19,0)") * col("xa").cast("decimal(19,0)"))
          .cast("decimal(38,0)").as("sxx"),
        sum(col("xb").cast("decimal(19,0)") * col("xb").cast("decimal(19,0)"))
          .cast("decimal(38,0)").as("syy"))
      .withColumn("num", col("n").cast("double") * col("sxy").cast("double") -
        col("sx").cast("double") * col("sy").cast("double"))
      .withColumn("den",
        sqrt(col("n").cast("double") * col("sxx").cast("double") -
          col("sx").cast("double") * col("sx").cast("double")) *
        sqrt(col("n").cast("double") * col("syy").cast("double") -
          col("sy").cast("double") * col("sy").cast("double")))
      .withColumn("r", when(col("den") > 0.0,
        round(col("num") / col("den"), 6)))
    moments.groupBy(col("ta"), col("tb"))
      .agg(max(when(col("lag") === 0L, col("r"))).as("r0"),
        min(when(col("r").isNotNull,
          struct((-round(abs(col("r")), 12)).as("nr"), col("lag"), col("r"))))
          .as("best"))
      .select(col("ta"), col("tb"), col("r0"),
        col("best.lag").as("best_lag"), col("best.r").as("best_r"))
      .orderBy(col("ta"), col("tb"))
  }
}
