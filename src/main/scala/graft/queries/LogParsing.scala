package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.etl.Enrich

/** Oracle coverage for the ETL parse/enrich operators (SURVEY.md §2.2).
  *
  * The driver's tables are TPC-H-ish, not raw log files, so this query
  * synthesizes a real S3 access-log line per event row (quoted URI and
  * user-agent, bracketed timestamp, dash sentinels, ARN requesters),
  * pushes it through the production path — `Enrich.parseLines`: the
  * byte-level TokenizeS3Log, then Enrich.fromTokens with its S3RequestTime
  * and DashToLong kernels — and emits the parsed+derived fields keyed by
  * requestid. The DuckDB oracle recomputes every field directly from the
  * source columns, so any tokenizer/projection/derivation bug breaks the
  * hash match. Every synthesized request time is canonical (`+0000`,
  * English month, four-digit year), so q20 exercises the kernels' fast
  * paths; their fallbacks are pinned against the old formulations in
  * ParseSpec's differential tests.
  */
object LogParsing {

  /** The deterministic per-event client IP used by the synthesized log
    * lines — shared with ops.Privacy.q44IpAnonymize so the anonymization
    * query and the parse query see the same client population (and one
    * definition can't drift from the other's oracle). */
  private[graft] def syntheticRemoteIp: org.apache.spark.sql.Column =
    concat_ws(".",
      pmod(col("event_id"), lit(223)) + 1,
      pmod(col("user_id"), lit(256)),
      pmod(col("event_id") * 7, lit(256)),
      pmod(col("event_id") * 13, lit(256)))

  /** The full synthesized S3 access-log line per event row — shared by
    * q20 (parse path) and ops.Privacy.q60PiiRedact (PII scan over the
    * same raw lines), so the two queries' oracles mirror ONE line
    * definition. */
  private[graft] def syntheticLogLine: org.apache.spark.sql.Column = {
    val tsUs = timestamp_micros(expr("ts DIV 1000"))
    val dtStr = concat(date_format(tsUs, "dd/MMM/yyyy:HH:mm:ss"), lit(" +0000"))
    val bucket = concat(lit("bucket"), pmod(col("event_id"), lit(3)))
    val objKey = concat(lit("data/k"), pmod(col("event_id"), lit(50)), lit(".bin"))
    val uri = concat(lit("GET /"), bucket, lit("/"), objKey, lit(" HTTP/1.1"))
    val requester = when(col("event_type") === "purchase",
        concat(lit("arn:aws:sts::123456789012:assumed-role/Deploy/i-"), col("event_id")))
      .when(col("event_type") === "click",
        concat(lit("arn:aws:iam::123456789012:user/u"), col("user_id")))
      .otherwise(lit("-"))
    val remoteip = syntheticRemoteIp

    concat_ws(" ",
      concat(lit("owner"), pmod(col("user_id"), lit(4))),
      bucket,
      concat(lit("["), dtStr, lit("]")),
      remoteip,
      requester,
      concat(lit("REQ"), col("event_id")),
      concat(lit("REST."), upper(col("event_type")), lit(".OBJECT")),
      objKey,
      concat(lit("\""), uri, lit("\"")),
      when(col("value") < 10, "404").otherwise("200"),
      when(col("value") < 10, "NoSuchKey").otherwise("-"),
      when(col("value") < 50, lit("-")).otherwise(floor(col("value") * 100).cast("string")),
      floor(col("value") * 1000).cast("string"),
      lit("15"), lit("5"),
      lit("\"-\""), lit("\"Mozilla/5.0 (Test; x64)\""),
      lit("-"), lit("hostIdExample123"), lit("SigV4"),
      lit("ECDHE-RSA-AES128-GCM-SHA256"), lit("AuthHeader"),
      concat(bucket, lit(".s3.us-west-2.amazonaws.com")), lit("TLSv1.2"))
  }

  def q20S3LogEtl(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    Enrich.parseLines(e.select(syntheticLogLine.as("value")))
      .select(
        col("requestid"), col("bucket_name"), col("requestdatetime"),
        col("remoteip"), col("requester"), col("operation"),
        col("key").as("obj_key"), col("request_uri"), col("httpstatus"),
        col("errorcode"), col("bytessent"), col("objectsize"),
        col("totaltime"), col("turnaroundtime"), col("useragent"),
        col("ts"), col("year"),
        col("month").cast("long").as("month"),
        col("day").cast("long").as("day"),
        col("hour").cast("long").as("hour"),
        col("minute").cast("long").as("minute"),
        col("second").cast("long").as("second"),
        col("datetime"), col("remoteip_int"),
        col("is_assumed_role"), col("is_user"))
      .orderBy(col("requestid"))
  }

  val q20OracleSql: String =
    """SELECT
      |  'REQ' || event_id AS requestid,
      |  'bucket' || (event_id % 3) AS bucket_name,
      |  strftime(ts, '%d/%b/%Y:%H:%M:%S') || ' +0000' AS requestdatetime,
      |  (event_id % 223 + 1) || '.' || (user_id % 256) || '.' ||
      |    ((event_id * 7) % 256) || '.' || ((event_id * 13) % 256) AS remoteip,
      |  CASE WHEN event_type = 'purchase'
      |         THEN 'arn:aws:sts::123456789012:assumed-role/Deploy/i-' || event_id
      |       WHEN event_type = 'click'
      |         THEN 'arn:aws:iam::123456789012:user/u' || user_id
      |       ELSE '-' END AS requester,
      |  'REST.' || upper(event_type) || '.OBJECT' AS operation,
      |  'data/k' || (event_id % 50) || '.bin' AS obj_key,
      |  'GET /bucket' || (event_id % 3) || '/data/k' || (event_id % 50) || '.bin HTTP/1.1' AS request_uri,
      |  CASE WHEN value < 10 THEN '404' ELSE '200' END AS httpstatus,
      |  CASE WHEN value < 10 THEN 'NoSuchKey' ELSE '-' END AS errorcode,
      |  CASE WHEN value < 50 THEN 0 ELSE CAST(FLOOR(value * 100) AS BIGINT) END AS bytessent,
      |  CAST(FLOOR(value * 1000) AS BIGINT) AS objectsize,
      |  CAST(15 AS BIGINT) AS totaltime,
      |  CAST(5 AS BIGINT) AS turnaroundtime,
      |  'Mozilla/5.0 (Test; x64)' AS useragent,
      |  epoch_ms(ts) // 1000 AS ts,
      |  CAST(year(ts) AS BIGINT) AS year,
      |  CAST(month(ts) AS BIGINT) AS month,
      |  CAST(day(ts) AS BIGINT) AS day,
      |  CAST(hour(ts) AS BIGINT) AS hour,
      |  CAST(minute(ts) AS BIGINT) AS minute,
      |  CAST(second(ts) AS BIGINT) AS second,
      |  strftime(ts, '%Y-%m-%dT%H:%M:%S') || '+00:00' AS datetime,
      |  (event_id % 223 + 1) * 16777216 + (user_id % 256) * 65536 +
      |    ((event_id * 7) % 256) * 256 + (event_id * 13) % 256 AS remoteip_int,
      |  event_type = 'purchase' AS is_assumed_role,
      |  event_type = 'click' AS is_user
      |FROM events
      |ORDER BY requestid""".stripMargin
}
