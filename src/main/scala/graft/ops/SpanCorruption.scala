package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Span-corruption sample preparation — the denoising-objective
  * transform (T5, Raffel et al. 2020 §3.1.4; UL2's R-denoiser): mask k
  * contiguous token spans with sentinel tokens and emit the
  * (corrupted input, sentinel-delimited targets) pair a
  * denoising-objective trainer consumes. This is the data-AUGMENTATION
  * tier of the pipeline — the ops before it select and clean documents;
  * this one turns a clean document into a training example.
  *
  * Deterministic by construction: span starts are 52-bit md5 draws
  * (`span:<doc_id>:<j>` — the q62/q153 dyadic-uniform recipe) taken
  * modulo the legal start range, one span per equal segment of the
  * token array, so spans can never overlap and every engine replays
  * the same offsets. Documents too short to hold k disjoint spans
  * (fewer than k·L tokens per segment minimum) pass through unmasked
  * with an empty target — the convention a packing stage (q42)
  * expects.
  *
  * Shape at 100 TB: embarrassingly parallel — one narrow map over the
  * token array per document (in-row slices and joins, no explode, no
  * shuffle, whole-stage codegen). Nothing leaves the row.
  */
object SpanCorruption {

  /** Span length and span count (two spans, one per half). */
  val L = 3
  val K = 2

  /** q165: span-corrupt every document. */
  def q165SpanCorruption(s: SparkSession, dir: String): DataFrame =
    spanCorrupt(Tables.documents(s, dir))

  private def md5Long(key: Column): Column =
    conv(substring(md5(key), 1, 13), 16, 10).cast("long")

  /** Gate wrapper: the raw transform plus the deterministic global sort
    * the hash gate needs. At scale use [[spanCorruptRaw]] — augmented
    * examples feed a sharded write (`Sharding.writeShards`'
    * per-task sort), never a global order. */
  def spanCorrupt(docs: DataFrame): DataFrame =
    spanCorruptRaw(docs).orderBy(col("doc_id"))

  /** The reusable core over any (doc_id, text) frame — one in-row map,
    * no shuffle, no sort. */
  def spanCorruptRaw(docs: DataFrame): DataFrame = {
    val d = Par.widen(docs)
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("l"))
      .withColumn("n", size(col("l")).cast("long"))
    // one span per segment of seg = n div K tokens; legal starts per
    // segment: 1..seg-L+1 (requires seg >= L, i.e. n >= K*L)
    val withStarts = d
      .withColumn("seg", expr(s"n DIV $K"))
      .withColumn("eligible", col("seg") >= L)
      .withColumn("start0",
        lit(1L) + pmod(
          md5Long(concat(lit("span:"), col("doc_id"), lit(":0"))),
          greatest(col("seg") - (L - 1), lit(1L))))
      .withColumn("start1",
        col("seg") + 1 + pmod(
          md5Long(concat(lit("span:"), col("doc_id"), lit(":1"))),
          greatest(col("seg") - (L - 1), lit(1L))))
    withStarts
      .withColumn("input_text",
        when(col("eligible"),
          array_join(concat(
            slice(col("l"), lit(1), (col("start0") - 1).cast("int")),
            array(lit("<extra_id_0>")),
            slice(col("l"), (col("start0") + L).cast("int"),
              (col("start1") - col("start0") - L).cast("int")),
            array(lit("<extra_id_1>")),
            slice(col("l"), (col("start1") + L).cast("int"),
              (col("n") - col("start1") - (L - 1)).cast("int"))), " "))
        .otherwise(array_join(col("l"), " ")))
      .withColumn("target_text",
        when(col("eligible"), concat(
          lit("<extra_id_0> "),
          array_join(slice(col("l"), col("start0").cast("int"), lit(L)), " "),
          lit(" <extra_id_1> "),
          array_join(slice(col("l"), col("start1").cast("int"), lit(L)), " "),
          lit(" <extra_id_2>")))
        .otherwise(lit("")))
      .select(col("doc_id"), col("n").as("n_tokens"),
        col("input_text"), col("target_text"))
  }

  // ------------------------------------------------------- FIM (q168)

  /** q168: fill-in-the-middle transformation (Bavarian et al. 2022,
    * "Efficient Training of Language Models to Fill in the Middle") —
    * the PSM rearrangement code models train on: two md5-drawn cut
    * points split the token stream into prefix/middle/suffix, emitted
    * as `<fim_prefix> P <fim_suffix> S <fim_middle> M` so the model
    * learns to produce the middle given both sides. Deterministic like
    * [[spanCorrupt]]: cuts are 52-bit md5 draws mod (n+1), ordered;
    * docs under 4 tokens pass through unrearranged (psm = the raw
    * token stream, a no-op the packing stage treats as plain text).
    * Same scale shape: one in-row map, no shuffle. */
  def q168FimTransform(s: SparkSession, dir: String): DataFrame =
    fimTransform(Tables.documents(s, dir)).orderBy(col("doc_id"))

  /** The raw FIM core over any (doc_id, text) frame. */
  def fimTransform(docs: DataFrame): DataFrame = {
    val d = Par.widen(docs)
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("l"))
      .withColumn("n", size(col("l")).cast("long"))
    def cut(j: Int) = pmod(
      md5Long(concat(lit("fim:"), col("doc_id"), lit(s":$j"))),
      col("n") + 1)
    d.withColumn("c1", cut(0)).withColumn("c2", cut(1))
      .withColumn("lo", least(col("c1"), col("c2")))
      .withColumn("hi", greatest(col("c1"), col("c2")))
      .withColumn("psm",
        when(col("n") >= 4, concat(
          lit("<fim_prefix> "),
          array_join(slice(col("l"), lit(1), col("lo").cast("int")), " "),
          lit(" <fim_suffix> "),
          array_join(slice(col("l"), (col("hi") + 1).cast("int"),
            (col("n") - col("hi")).cast("int")), " "),
          lit(" <fim_middle> "),
          array_join(slice(col("l"), (col("lo") + 1).cast("int"),
            (col("hi") - col("lo")).cast("int")), " ")))
        .otherwise(array_join(col("l"), " ")))
      .select(col("doc_id"), col("n").as("n_tokens"),
        col("lo").as("cut_lo"), col("hi").as("cut_hi"), col("psm"))
  }

  // ------------------------------------------------ crop pairs (q173)

  /** q173: contrastive POSITIVE-PAIR generation — two independent crops
    * of the same document (the SimCSE/contrastive-pretraining recipe:
    * two views of one doc are a positive pair, views of different docs
    * are in-batch negatives; cf. q76/q98 which mine the NEGATIVES).
    * Crop length is n DIV 2 (≥1), starts are two md5 draws over the
    * legal range, and the emitted `overlap` (shared token positions)
    * lets a trainer filter pairs that are too easy (near-identical
    * views) or too hard (disjoint views). Docs under 4 tokens emit the
    * whole text twice (overlap = n). Same scale shape as the other
    * augmentation maps: one in-row pass, no shuffle. */
  def q173CropPairs(s: SparkSession, dir: String): DataFrame =
    cropPairs(Tables.documents(s, dir)).orderBy(col("doc_id"))

  /** The raw crop-pair core over any (doc_id, text) frame. */
  def cropPairs(docs: DataFrame): DataFrame = {
    val d = Par.widen(docs)
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("l"))
      .withColumn("n", size(col("l")).cast("long"))
      .withColumn("clen", greatest(expr("n DIV 2"), lit(1L)))
    def start(j: Int) = lit(1L) + pmod(
      md5Long(concat(lit("crop:"), col("doc_id"), lit(s":$j"))),
      greatest(col("n") - col("clen") + 1, lit(1L)))
    val withCrops = d
      .withColumn("eligible", col("n") >= 4)
      .withColumn("sa", start(0)).withColumn("sb", start(1))
    withCrops
      .withColumn("crop_a",
        when(col("eligible"), array_join(
          slice(col("l"), col("sa").cast("int"), col("clen").cast("int")), " "))
        .otherwise(array_join(col("l"), " ")))
      .withColumn("crop_b",
        when(col("eligible"), array_join(
          slice(col("l"), col("sb").cast("int"), col("clen").cast("int")), " "))
        .otherwise(array_join(col("l"), " ")))
      .withColumn("overlap",
        when(col("eligible"), greatest(lit(0L),
          least(col("sa"), col("sb")) + col("clen") -
            greatest(col("sa"), col("sb"))))
        .otherwise(col("n")))
      .select(col("doc_id"), col("n").as("n_tokens"),
        col("crop_a"), col("crop_b"), col("overlap"))
  }
}
