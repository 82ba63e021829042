package graft
import org.apache.spark.sql.SparkSession

object Bench {
  /** Median of timed runs: robust to one-off JIT/GC/sandbox spikes, unlike
    * min (over-optimistic) or mean (one 9x ghost skews the total). r1 vs r2
    * ran identical code and differed 30% under best-of-2 — the harness, not
    * the engine. */
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  private def fmt(v: Double) =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** Atomic write: the driver (or a human) may read the artifact while a
    * later pass is still running; write-to-tmp + rename means they never
    * see a torn file. */
  private def writeAtomic(path: String, line: String): Unit = {
    try {
      val tmp = new java.io.File(path + ".tmp")
      val w = new java.io.PrintWriter(tmp, "UTF-8")
      try w.println(line) finally w.close()
      val dst = new java.io.File(path)
      if (!tmp.renameTo(dst)) { dst.delete(); tmp.renameTo(dst) }
    } catch { case _: java.io.IOException => () } // read-only cwd: stdout still has it
  }

  def main(args: Array[String]): Unit = {
    val tStart = System.nanoTime()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // One untimed-by-default warmup pass (codegen compile, classloading,
    // page-cache warm), then N timed PASSES — each pass sweeps every query
    // once, and a query's time is its median across passes. Interleaving
    // matters: timing one query's N runs back-to-back lets a single
    // multi-second host-contention spike poison all of them (and the
    // median with it); spread across passes, the spike lands in one pass
    // and the median discards it.
    //
    // Round-13 lesson: 247 queries x (1 warmup + 4 timed) passes + sbt
    // compile breached the driver's 3600 s wall budget -> BENCH_r13.json
    // rc=124, parsed:null — a round with NO perf certification. Three
    // fixes: (1) default timed passes 4 -> 2 (median-of-2 + warmup; the
    // interleaved-pass design already absorbs spikes); (2) a wall budget
    // (SPARK_GRAFT_BENCH_BUDGET_SEC, default 2400 s from JVM start,
    // leaving the driver headroom for sbt compile + teardown) checked
    // before every query — on breach the sweep stops and the artifact is
    // emitted from the passes completed so far, with "partial":true;
    // (3) the full per-query artifact is written atomically after EVERY
    // pass, so even a hard kill leaves a parseable per-query map on disk.
    // Warmup times are recorded too, as the emergency fallback sample for
    // queries that never reached a timed pass.
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SEC", "2400").toDouble
    def elapsed: Double = (System.nanoTime() - tStart) / 1e9
    // Sorted by name: Map iteration order reshuffles whenever a query is
    // added, which silently re-attributes shared costs across rounds.
    // SPARK_GRAFT_BENCH_ONLY=q25,q26 restricts to a comma-separated subset
    // — the iteration loop while tuning one query's plan. It matches by
    // PREFIX: q16 also selects q160-q169; name the full key
    // (q16_asof_join) to select one query.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.exists(n.startsWith)) }
    val fullPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "tools/bench_latest_full.json")

    val warm = Array.fill(queries.size)(-1.0)     // warmup sample (fallback only)
    val times = Array.fill(queries.size)(Vector.newBuilder[Double])
    var partial = false
    var passesDone = 0

    def mediansSoFar: Seq[(String, Double)] = queries.zipWithIndex.map {
      case ((name, _), i) =>
        val timed = times(i).result()
        name -> (if (timed.nonEmpty) median(timed)
                 else if (warm(i) >= 0) warm(i) else -1.0)
    }
    def fullLine(): String = {
      val rs = mediansSoFar
      val qs = rs.map { case (k, v) =>
        "\"" + k.takeWhile(_ != '_') + "\":" + fmt(v)
      }.mkString("{", ",", "}")
      val tot = rs.map(_._2).filter(_ >= 0).sum
      s"""{"metric":"total","value":${fmt(tot)},"unit":"sec","n_queries":${rs.size},"passes_done":$passesDone,"partial":$partial,"queries":$qs,"sf":"$sfDir"}"""
    }

    // warmup: also the smoke gate (a failing query aborts with a parseable
    // error line) and the fallback timing sample
    var aborted = false
    queries.zipWithIndex.foreach { case ((name, fn), i) =>
      if (!aborted) {
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count(); warm(i) = (System.nanoTime() - t0) / 1e9 }
        catch { case _: Throwable =>
          println(s"""{"metric":"total","value":-1,"unit":"sec","error":"$name failed"}""")
          aborted = true
        }
      }
    }
    if (aborted) return
    writeAtomic(fullPath, fullLine())

    var p = 1
    while (p <= runs && !partial) {
      var i = 0
      while (i < queries.size && !partial) {
        if (elapsed > budgetSec) { partial = true }
        else {
          // clear BETWEEN queries, not just between passes: CacheManager
          // matches cached plans across queries (q25/q26 share a cached
          // shingle front end), so whichever ran first paid the
          // materialization and the per-query attribution lied. Each query
          // now pays its own full cost.
          spark.catalog.clearCache()
          val t0 = System.nanoTime()
          queries(i)._2(spark, sfDir).count()
          times(i) += (System.nanoTime() - t0) / 1e9
          i += 1
        }
      }
      if (!partial) passesDone = p
      writeAtomic(fullPath, fullLine())
      p += 1
    }

    val results = mediansSoFar
    val total = results.map(_._2).filter(_ >= 0).sum
    val theFullLine = fullLine()
    writeAtomic(fullPath, theFullLine)

    // The driver captures only the LAST ~2000 chars of stdout. A named
    // 262-entry map is ~3000+ chars and CANNOT fit that window (BENCH_r10
    // proved it: the line's front — metric/value — fell outside the tail
    // and parsed came back null). Self-sufficiency has three layers:
    //   1. the full NAMED per-query map is in tools/bench_latest_full.json
    //      (rewritten atomically after every pass — even a kill -9 leaves
    //      the last completed pass parseable);
    //   2. the full named line is still printed, for humans and small runs;
    //   3. the LAST stdout line is compact JSON < ~1800 chars in the SAME
    //      shape the driver parsed green in r11/r12: "queries" is a NAMED
    //      map (the contract shape), slowest-first, truncated to a
    //      1200-char budget so the line always fits the tail window;
    //      "full" points at the complete named map on disk.
    // Printing after a silenced spark.stop() keeps everything but sbt's
    // one [success] line out of the tail window.
    def item(k: String, v: Double) = "\"" + k.takeWhile(_ != '_') + "\":" + fmt(v)
    val compactQs = {
      val sb = new StringBuilder
      results.sortBy(-_._2).foreach { case (k, v) =>
        val it = item(k, v)
        if (sb.length + it.length < 1200) {
          if (sb.nonEmpty) sb.append(','); sb.append(it)
        }
      }
      sb.insert(0, '{').append('}').toString
    }
    val compact =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.size},"passes_done":$passesDone,"partial":$partial,"queries":$compactQs,"full":"$fullPath","sf":"$sfDir"}"""
    spark.sparkContext.setLogLevel("ERROR")
    spark.stop()
    println(theFullLine)
    println(compact)
  }
}
