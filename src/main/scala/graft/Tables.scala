package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.types.{LongType, TimestampType}

/** Loaders for the driver-provided TPC-H-ish star schema
  * (see TESTDATA.md). One parquet file per table under `sfDir`.
  *
  * Small dimension tables (region/nation/supplier/part/customer) are
  * broadcast-join candidates at every scale factor — at 100 TB the fact
  * tables (lineitem/orders/events/documents) grow but the dims stay
  * broadcastable, so queries below mark them with `broadcast()`.
  */
object Tables {
  /** Parquet TIMESTAMP(NANOS) (events.ts) is unreadable by Spark's native
    * TimestampType (µs); sessions must set
    * `spark.sql.legacy.parquet.nanosAsLong=true`, which surfaces `ts` as
    * epoch-nanos LongType. All event-time math is integer arithmetic on
    * epoch units — ns magnitudes (~1.7e18) exceed double's 2^53 mantissa,
    * so float division would silently lose sub-second precision. */
  val NanosAsLongKey = "spark.sql.legacy.parquet.nanosAsLong"

  def region(s: SparkSession, dir: String): DataFrame    = s.read.parquet(s"$dir/region.parquet")
  def nation(s: SparkSession, dir: String): DataFrame    = s.read.parquet(s"$dir/nation.parquet")
  def customer(s: SparkSession, dir: String): DataFrame  = s.read.parquet(s"$dir/customer.parquet")
  def part(s: SparkSession, dir: String): DataFrame      = s.read.parquet(s"$dir/part.parquet")
  def orders(s: SparkSession, dir: String): DataFrame    = s.read.parquet(s"$dir/orders.parquet")
  def lineitem(s: SparkSession, dir: String): DataFrame  = s.read.parquet(s"$dir/lineitem.parquet")
  /** events.ts is normalized to epoch-nanos LongType regardless of how the
    * parquet encodes it: TIMESTAMP(NANOS) files surface as LongType already
    * (via [[NanosAsLongKey]]); TIMESTAMP(MICROS) files surface as a native
    * timestamp and are widened to nanos here. Downstream event-time math is
    * integer arithmetic on epoch-nanos either way, and the DuckDB oracle is
    * unaffected (it reads both encodings as a timestamp natively). The cast
    * through TimestampType is exact because the session timezone is pinned
    * to UTC (GraftSession). */
  def events(s: SparkSession, dir: String): DataFrame = {
    val raw = s.read.parquet(s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case LongType => raw
      case _ => raw.withColumn(
        "ts", (unix_micros(col("ts").cast(TimestampType)) * 1000L).as("ts"))
    }
  }
  def documents(s: SparkSession, dir: String): DataFrame = s.read.parquet(s"$dir/documents.parquet")
  def embeddings(s: SparkSession, dir: String): DataFrame = s.read.parquet(s"$dir/embeddings.parquet")
}
