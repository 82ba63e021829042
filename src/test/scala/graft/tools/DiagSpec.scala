package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.graftbridge.Bridge

import graft.SparkSpec

class DiagSpec extends SparkSpec {

  test("a name selects exactly: q16 is q16_asof_join, not q160-q169") {
    assert(Diag.select(Seq("q16")).map(_._1) == Seq("q16_asof_join"))
    assert(Diag.select(Seq("q16_asof_join")).map(_._1) == Seq("q16_asof_join"))
  }

  test("a name that selects no declared query fails") {
    intercept[IllegalArgumentException](Diag.select(Seq("q999_nope")))
    intercept[IllegalArgumentException](Diag.select(Seq("q1")))
  }

  test("profile counts are read after the listener bus drains: runs agree, also on a slowed bus") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-diag").toFile.getAbsolutePath
    (1 to 300).map(i => (Seq("A", "N", "R")(i % 3), Seq("F", "O")(i % 2),
        java.sql.Timestamp.valueOf(s"1998-0${1 + i % 9}-01 00:00:00"),
        i.toDouble, i * 10.0, 0.05, 0.02))
      .toDF("l_returnflag", "l_linestatus", "l_shipdate", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax")
      .repartition(3).write.parquet(s"$dir/lineitem.parquet")
    def counts = Diag.profile(spark, Seq("q01"), dir)
      .map(l => (l.jobs, l.stages.size, l.tasks))
    val first = counts
    assert(first.size == 1)
    val (jobs, stages, tasks) = first.head
    assert(jobs >= 1 && stages >= 1 && tasks >= 1, first)
    assert(counts == first)
    // a listener ahead of the profiler's on the shared queue holds up
    // every stage event: only counts read after a drain still agree
    val slow = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Thread.sleep(200)
    }
    spark.sparkContext.addSparkListener(slow)
    try assert(counts == first) finally spark.sparkContext.removeSparkListener(slow)
  }

  test("profile counts a streamed query's micro-batch jobs: q256 matches an unscoped listener") {
    val name = Diag.select(Seq("q256")).head._1
    // every job from the first one the measured run starts on the
    // caller's thread (its description is the query name; the warm-up
    // run has none) to the end of the profile
    var counting = false
    var seen = 0
    val all = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == name))
          counting = true
        if (counting) seen += 1
      }
    }
    spark.sparkContext.addSparkListener(all)
    val ledger = try Diag.profile(spark, Seq("q256"), "/root/testdata/sf0.001") finally {
      Bridge.drainListenerBus(spark.sparkContext)
      spark.sparkContext.removeSparkListener(all)
    }
    assert(ledger.map(_.name) == Seq(name))
    assert(seen > 0 && ledger.head.jobs == seen, s"profile saw ${ledger.head.jobs} of $seen jobs")
  }
}
