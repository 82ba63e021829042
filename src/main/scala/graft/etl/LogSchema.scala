package graft.etl

import org.apache.spark.sql.types._

/** The S3 server-access-log schema: 24 raw fields in documented AWS order
  * plus 11 derived fields (reference: s3access/schema.py:8-43).
  *
  * Type decisions vs the reference (SURVEY.md §1.4):
  *   - `remoteip_int` is uint32 in the reference's Arrow schema; the JVM has
  *     no unsigned 32-bit type, so we use LongType — identical integer
  *     values, range predicates unaffected.
  *   - `ts` is computed as epoch seconds LongType directly (the reference
  *     computes a float then coerces).
  *   - `-` sentinels in the four numeric fields become 0, not NULL
  *     (reference s3access/normalize.py:9-15).
  *   - `httpstatus`/`errorcode` stay strings (can be `-`).
  */
object LogSchema {

  /** Raw fields 1-24, positional order = token order after the regex
    * tokenizer (reference s3access/normalize.py:23-48). */
  val rawNames: Seq[String] = Seq(
    "bucketowner", "bucket_name", "requestdatetime", "remoteip", "requester",
    "requestid", "operation", "key", "request_uri", "httpstatus", "errorcode",
    "bytessent", "objectsize", "totaltime", "turnaroundtime", "referrer",
    "useragent", "versionid", "hostid", "sigv", "ciphersuite", "authtype",
    "endpoint", "tlsversion")

  /** Indices (0-based) of raw fields that are dash-to-zero int64. */
  val longFields: Set[String] = Set("bytessent", "objectsize", "totaltime", "turnaroundtime")

  val schema: StructType = StructType(
    rawNames.map {
      case n if longFields(n) => StructField(n, LongType, nullable = true)
      case n                  => StructField(n, StringType, nullable = true)
    } ++ Seq(
      StructField("ts", LongType, nullable = true),
      StructField("year", LongType, nullable = true),
      StructField("month", IntegerType, nullable = true),
      StructField("day", IntegerType, nullable = true),
      StructField("hour", IntegerType, nullable = true),
      StructField("minute", IntegerType, nullable = true),
      StructField("second", IntegerType, nullable = true),
      StructField("datetime", StringType, nullable = true),
      StructField("remoteip_int", LongType, nullable = true),
      StructField("is_assumed_role", BooleanType, nullable = true),
      StructField("is_user", BooleanType, nullable = true)))

  /** Hive partition columns, in layout order (reference cmd/export.py:146). */
  val partitionCols: Seq[String] = Seq("bucket_name", "operation", "year", "month", "day", "hour")

  /** Row-group clustering columns (reference cmd/export.py:148): sorting
    * within write tasks on these gives tight Parquet min/max stats for the
    * common predicates. */
  val rowGroupCols: Seq[String] = Seq("requester", "remoteip_int", "is_assumed_role", "is_user")

  /** Columns written without a Parquet dictionary (`Layout.write`'s
    * `noDictionary`); every other column keeps one, and falls back to a
    * delta encoding where it does not pay:
    *   - `requestid` is unique per request by AWS's definition, so its
    *     dictionary holds every value of the file and is always dropped;
    *   - `ts` is epoch seconds within one hour partition: its deltas fit
    *     in 13 bits, against a 12-bit dictionary index plus an 8-byte
    *     entry per distinct second. The two are close in size, so the
    *     dictionary saves no bytes worth hashing every value for.
    * `hostid`, `remoteip`, `remoteip_int` and `objectsize` are left to
    * Parquet's own fallback: real logs can repeat them. */
  val noDictionaryCols: Seq[String] = Seq("requestid", "ts")
}
