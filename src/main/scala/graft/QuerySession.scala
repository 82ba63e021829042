package graft

import org.apache.spark.sql.SparkSession

/** The Athena-replacement query surface (SURVEY.md §0 "query half"): the
  * reference only *lays out* parquet for an external engine to query;
  * here the engine answers queries itself. Registers the exported
  * partitioned log table (partition pruning + parquet min/max skipping
  * come from the layout ExportJob wrote) and the custom SQL functions,
  * then any ANSI SQL runs against it.
  */
object QuerySession {

  /** Register the exported access-log dataset as `tableName` and install
    * the engine's SQL functions. Partition discovery picks up the Hive
    * `col=value` layout, so WHERE clauses on bucket_name / operation /
    * year / month / day / hour prune directories before any IO. */
  def open(spark: SparkSession, logsPath: String, tableName: String = "s3_access_logs"): Unit = {
    GraftExtensions.register(spark)
    spark.read.parquet(logsPath).createOrReplaceTempView(tableName)
  }
}
