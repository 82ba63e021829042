package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Wave 36: l-diversity (q240), runs test (q241), SCD2 history build
  * (q242), greedy max-coverage (q243). */
class Wave36Spec extends SparkSpec {

  private val day = 86400000000000L

  test("q240: homogeneous group flagged, uniform group reads entropy_l = l") {
    import spark.implicits._
    val rows = (Seq.fill(10)(("s1", "en", 3L)) ++                 // all one value
      Seq(("s2", "en", 1L), ("s2", "en", 2L), ("s2", "en", 3L),
        ("s2", "en", 4L))).toDF("source", "lang", "sens")
    val out = Privacy.lDiversity(rows, 3).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out("s1").getLong(3) == 1L && out("s1").getBoolean(5))
    assert(out("s2").getLong(3) == 4L && !out("s2").getBoolean(5))
    assert(out("s2").getDouble(4) == 4.0, out("s2").toString) // e^ln4
  }

  test("q241: a sorted sequence clumps into 2 runs and z goes strongly negative") {
    import spark.implicits._
    // 20 below-median docs then 20 above (median of 1..40 values):
    // values 1..40, doc order = sorted -> R = 2
    val sorted = (1 to 40).map(i => ("a", i.toLong, i.toLong))
    val alternating = (1 to 40).map { i =>
      ("b", i.toLong, if (i % 2 == 0) 100L + i else i.toLong)
    }
    val out = Drift.runsTest((sorted ++ alternating)
      .toDF("source", "doc_id", "v")).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out("a").getLong(4) == 2L && out("a").getDouble(5) < -5.0,
      out("a").toString)
    assert(out("b").getLong(4) > 30L && out("b").getDouble(5) > 3.0,
      out("b").toString)
  }

  test("q242: type change and absence gap both close a version") {
    import spark.implicits._
    // u1: days 0,1 type A; day 2 type B; days 5,6 type B (gap breaks)
    val ev = Seq(
      (1L, 1L, 0L * day + 5, "A"), (1L, 2L, 1L * day + 5, "A"),
      (1L, 3L, 2L * day + 5, "B"), (1L, 4L, 5L * day + 5, "B"),
      (1L, 5L, 6L * day + 5, "B"),
      // day 1 has TWO events: the later one (by ts) wins the snapshot
      (1L, 6L, 1L * day + 9, "A"))
      .toDF("user_id", "event_id", "ts", "event_type")
    val out = SnapshotDiff.scd2History(ev).collect()
      .map(r => (r.getLong(1), r.getString(2), r.getLong(3), r.getLong(4)))
    assert(out.toSeq == Seq((1L, "A", 0L, 1L), (2L, "B", 2L, 2L),
      (3L, "B", 5L, 6L)), out.mkString(";"))
  }

  test("q243: greedy picks max coverage first, stops when nothing is left") {
    val out = Selection.q243CoverageSelect(spark, "/root/testdata/sf0.001")
      .collect()
    assert(out.nonEmpty && out.length <= 10)
    // gains are non-increasing (submodularity of coverage under the
    // greedy) and covered_total is their running sum
    val gains = out.map(_.getLong(2))
    assert(gains.zip(gains.tail).forall { case (a, b) => a >= b },
      gains.mkString(","))
    assert(out.map(_.getLong(2)).sum == out.last.getLong(3))
  }

  test("q243: documents whose text is all null pick nothing and do not throw") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-q243-null")
      .toFile.getAbsolutePath
    (1L to 5L).map(i => (i, null: String, "en", "web", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    assert(Selection.q243CoverageSelect(spark, dir).collect().isEmpty)
  }
}
