package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.{S3LogParse, exprs}

/** Projection + derived columns (reference s3access/normalize.py:18-83),
  * expressed as a single narrow `select` over the tokenized line — one
  * whole-stage-codegen span, no shuffle. The per-row work is three
  * byte-level kernels in `graft.functions`: the tokenizer, the request
  * time (all eight time fields from one read of the token) and the
  * numeric fields; each hands the inputs it cannot decide to the regex or
  * to Spark's own formatter.
  */
object Enrich {

  /** From a DataFrame with a `tokens: array<string>` column, produce the
    * full 35-column log schema (LogSchema.schema ordering).
    *
    * Calendar parts are extracted in the session zone (UTC in every engine
    * session); the reference extracts in the event's own offset, which for
    * S3 logs is always +0000 (SURVEY.md §2.2 note). An unparseable request
    * time nulls all eight time fields. */
  def fromTokens(df: DataFrame): DataFrame = {
    val raw = LogSchema.rawNames.zipWithIndex.map { case (name, i) =>
      val tok = get(col("tokens"), lit(i))
      if (LogSchema.longFields(name)) exprs.dash_to_long(tok).as(name) else tok.as(name)
    }
    // one struct, read eight times: subexpression elimination evaluates it once
    val t = exprs.s3_request_time(get(col("tokens"), lit(2)))
    val time = S3LogParse.RequestTimeType.fieldNames.toSeq.map(f => t.getField(f).as(f))
    val derived = time ++ Seq(
      exprs.ipv4_to_long(get(col("tokens"), lit(3))).as("remoteip_int"),
      get(col("tokens"), lit(4)).contains("assumed-role").as("is_assumed_role"),
      get(col("tokens"), lit(4)).contains("user").as("is_user"))
    df.select(raw ++ derived: _*)
  }

  /** Full parse: raw line column → 35-column log DataFrame. */
  def parseLines(df: DataFrame, lineCol: String = "value"): DataFrame =
    fromTokens(df.select(exprs.tokenize_s3_log(col(lineCol)).as("tokens")))
}
