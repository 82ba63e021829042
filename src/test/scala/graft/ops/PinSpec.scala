package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.storage.StorageLevel
import graft.SparkSpec

/** The three materialization modes: what each runs at construction and
  * what it leaves in the CacheManager. */
class PinSpec extends SparkSpec {

  /** A frame with one shuffle. */
  private def shuffled: DataFrame =
    spark.range(0, 1000).groupBy((col("id") % 10).as("k"))
      .agg(count(lit(1)).as("n"))

  /** `f`'s result and the ids of the jobs it ran. Ids, not a count: the
    * status store evicts old jobs, so a count can stand still. */
  private def withJobs[A](f: => A): (A, Seq[Int]) = {
    val sc = spark.sparkContext
    Bridge.drainListenerBus(sc)
    val before = sc.statusTracker.getJobIdsForGroup(null).toSet
    val out = f
    Bridge.drainListenerBus(sc)
    (out, sc.statusTracker.getJobIdsForGroup(null).filterNot(before).toSeq)
  }

  private def rows(df: DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq

  test("Cache is lazy and registers a CacheManager entry") {
    val df = shuffled
    val (pinned, jobs) = withJobs(Pin.Cache(df))
    try {
      assert(jobs.isEmpty, s"Cache ran jobs $jobs")
      assert(pinned.storageLevel != StorageLevel.NONE)
      assert(rows(pinned) == rows(shuffled))
    } finally pinned.unpersist(blocking = true)
  }

  test("Checkpoint runs its job at construction and caches nothing") {
    val (pinned, jobs) = withJobs(Pin.Checkpoint(shuffled))
    assert(jobs.nonEmpty, "Checkpoint ran no job")
    assert(pinned.storageLevel == StorageLevel.NONE)
    assert(rows(pinned) == rows(shuffled))
  }

  test("Off runs nothing, caches nothing and keeps the plan") {
    val df = shuffled
    val (pinned, jobs) = withJobs(Pin.Off(df))
    assert(jobs.isEmpty, s"Off ran jobs $jobs")
    assert(pinned.storageLevel == StorageLevel.NONE)
    assert(pinned.queryExecution.logical == df.queryExecution.logical)
    assert(rows(pinned) == rows(shuffled))
  }
}
