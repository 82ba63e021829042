package graft

import org.apache.spark.sql.SparkSession

/** One place for engine session defaults so Verify / Bench / tests / jobs
  * all run with identical semantics. */
object GraftSession {
  def builder(master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]",
              shufflePartitions: Int = 32): SparkSession.Builder = {
    val b = SparkSession.builder()
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // Scale-safe shuffle width (guide §2.2/§5): AQE coalescing can only
      // merge DOWN from the width a shuffle STARTS with, so a fixed low
      // `shuffle.partitions` (32 here — the bench-contract width) becomes
      // an OOM/spill cap at 100 TB. SPARK_GRAFT_INITIAL_PARTITIONS raises
      // the width every shuffle STARTS at, letting AQE coalesce down to
      // size — at production scale set it ≫ cores (e.g. 4–8× total task
      // slots) instead of re-tuning shuffle.partitions. The LOCAL default
      // stays at the contract width: an r15 A/B at 256 initial partitions
      // (sf0.1, local[32]) sped up one-shot aggregate plans (q258 7.5→4.6
      // s, q26 4.5→2.4, q212 7.7→4.7) but regressed the iterative/
      // checkpointed family structurally — localCheckpoint pins RDDs at
      // the wider post-shuffle layout, so every later round pays it
      // (q184 1256→7976 tasks, q77 397→2645, q98 790→3487) — and grew
      // shuffle-write buffers enough to thrash GC (q113 2.3→19.1 s GC,
      // wall 7.2→15.2 s). Explicit repartition(n) calls and the
      // stateful-streaming gates (own width pin, AQE off) are unaffected
      // by this knob either way.
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        sys.env.getOrElse("SPARK_GRAFT_INITIAL_PARTITIONS",
          shufflePartitions.toString))
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
