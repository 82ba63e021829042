package graft

import org.apache.spark.sql.SparkSession

/** One place for engine session defaults so Verify / Bench / tests / jobs
  * all run with identical semantics. */
object GraftSession {
  def builder(master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]",
              shufflePartitions: Int = 32): SparkSession.Builder = {
    val b = SparkSession.builder()
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // AQE starts each shuffle at this width (Spark's default): 256
      // initial partitions (sf0.1, local[32]) multiplied the tasks of
      // localCheckpoint'd iterative plans (q184 1256 → 7976) and thrashed
      // GC (q113 2.3 → 19.1 s).
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // events.ts is parquet TIMESTAMP(NANOS) — unreadable as Spark's µs
      // TimestampType; surface it as epoch-nanos LongType (Tables scaladoc).
      .config(Tables.NanosAsLongKey, "true")
      // local files get their permissions without a forked `chmod` per
      // file, .crc and dir (graft.io.LocalFs scaladoc)
      .config("spark.hadoop.fs.file.impl", classOf[graft.io.LocalFs].getName)
    // spark-submit --master (or spark.master in a cluster deploy) wins;
    // the local[] default only applies when launched standalone (sbt/tests)
    if (sys.props.contains("spark.master")) b else b.master(master)
  }

  def create(master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]"): SparkSession = {
    val s = builder(master).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
