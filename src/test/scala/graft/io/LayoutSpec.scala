package graft.io

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.Path
import org.apache.parquet.column.{Encoding, EncodingStats}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.catalyst.expressions.{Attribute, SortOrder}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.util.QueryExecutionListener
import graft.SparkSpec
import graft.etl.{Compaction, Enrich, ExportJob, LogSchema}
import graft.ops.{BucketStore, NearDupIndex, Retrieval}

/** Every file a clustered write leaves is sorted on its cluster columns,
  * and the executed plan of the write holds exactly the one sort. The
  * stores checked are the ones whose readers push a value filter on the
  * cluster columns (the posting probe's `term IN`). The files carry v2
  * data pages, without a dictionary on the columns the writer names, and
  * both of Spark's Parquet readers read them back alike. */
class LayoutSpec extends SparkSpec {

  private object Plans extends AdaptiveSparkPlanHelper

  /** 40 docs of 24 words from a 30-word vocabulary, doc ids scrambled so
    * no store is sorted by accident of input order. */
  private def corpus(ids: Range = 0 until 40): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vocab = (0 until 30).map(i => s"w${(i * 7) % 30}x")
    ids.map(i => ((i * 17L) % 97 + 1, Seq.fill(24)(vocab(rnd.nextInt(30))).mkString(" ")))
      .toDF("doc_id", "text").repartition(3)
  }

  private def tmpDir(name: String): String =
    Files.createTempDirectory(s"graft-layout-$name").toFile.getAbsolutePath + "/idx"

  /** The data files of `root`'s `<partitionCol>=*` dirs; each must exist
    * and be sorted on `cols`. */
  private def assertSorted(root: String, partitionCol: String, cols: Seq[String]): Unit = {
    val files = parquetFiles(root).filter(_.contains(s"/$partitionCol="))
    assert(files.nonEmpty, s"no $partitionCol=* files under $root")
    for (f <- files) assert(sortedOn(f, cols), s"$f not sorted on ${cols.mkString(", ")}")
  }

  test("posting store files are sorted on (term, doc_id), df files on term") {
    val dst = tmpDir("postings")
    Retrieval.writePostingsBucketed(corpus(), dst, nBuckets = 4)
    assertSorted(dst, "bucket", Seq("term", "doc_id"))
    assertSorted(dst + "_df", "bucket", Seq("term"))
  }

  test("posting append lands sorted files") {
    val dst = tmpDir("postapp")
    Retrieval.writePostingsBucketed(corpus(0 until 20), dst, nBuckets = 4)
    val before = parquetFiles(dst).toSet
    Retrieval.appendToPostings(corpus(20 until 40), dst)
    val appended = parquetFiles(dst).filterNot(before)
    assert(appended.exists(_.contains("/bucket=")))
    assertSorted(dst, "bucket", Seq("term", "doc_id"))
    assertSorted(dst + "_df", "bucket", Seq("term"))
  }

  test("posting purge and df compaction keep the files sorted on term") {
    import spark.implicits._
    val dst = tmpDir("postpurge")
    Retrieval.writePostingsBucketed(corpus(0 until 20), dst, nBuckets = 4)
    Retrieval.appendToPostings(corpus(20 until 40), dst)
    BucketStore.tombstone(Seq(18L, 35L, 52L).toDF("doc_id"), dst)
    val (purged, touched) = Retrieval.purgePostingTombstones(spark, dst)
    assert(purged == 3L && touched.nonEmpty)
    assertSorted(dst, "bucket", Seq("term", "doc_id"))
    Retrieval.compactIndex(spark, dst)
    assertSorted(dst + "_df", "bucket", Seq("term"))
  }

  /** The executed plan of the write `body` issues. */
  private def writePlan(body: => Unit): SparkPlan = {
    var plan: Option[SparkPlan] = None
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plan = Some(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      Bridge.drainListenerBus(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    plan.getOrElse(fail("no write was executed"))
  }

  private def sortKeys(s: SortExec): Seq[String] = s.sortOrder.map {
    case SortOrder(a: Attribute, _, _, _) => a.name
    case o => o.sql
  }

  test("a clustered write's executed plan holds one sort, on partitionCols ++ clusterCols") {
    import spark.implicits._
    val df = (0 until 200).map(i => ((i * 37) % 5, (i * 53) % 200L, s"v$i")).toDF("b", "k", "v")
    for (cluster <- Seq(Seq("k"), Seq("k", "v"), Nil)) {
      val plan = writePlan(
        Layout.write(df, tmpDir("plan"), SaveMode.Overwrite, Seq("b"), cluster))
      val sorts = Plans.collect(plan) { case s: SortExec => s }
      assert(sorts.map(sortKeys) == Seq("b" +: cluster), plan.toString)
    }
  }

  test("the export's write plan: one hash exchange on the 6 partition columns, one sort") {
    val src = Files.createTempDirectory("graft-layout-export").toFile.getAbsolutePath
    Files.write(java.nio.file.Paths.get(s"$src/2021-07-18-05-00-12-ABCDEF0123456789"),
      (graft.Fixtures.happyLine + "\n" + graft.Fixtures.dashLine).getBytes)
    val lines = ExportJob.readHour(spark, src, "2021-07-18-05").get
    val plan = writePlan(ExportJob.write(Enrich.parseLines(lines), s"$src/out"))
    val exchanges = Plans.collect(plan) { case e: ShuffleExchangeExec => e.outputPartitioning }
    assert(exchanges.size == 1, plan.toString)
    val keys = exchanges.head match {
      case h: HashPartitioning => h.expressions.map { case a: Attribute => a.name; case e => e.sql }
      case p => fail(s"not a hash exchange: $p")
    }
    assert(keys == LogSchema.partitionCols, plan.toString)
    val sorts = Plans.collect(plan) { case s: SortExec => s }
    assert(sorts.map(sortKeys) == Seq(LogSchema.partitionCols ++ LogSchema.rowGroupCols),
      plan.toString)
  }

  /** The encoding stats of every column chunk in the files under `root`,
    * by column path. */
  private def chunkStats(root: String): Map[String, Seq[EncodingStats]] = {
    val conf = spark.sparkContext.hadoopConfiguration
    parquetFiles(root).flatMap { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f), conf))
      try reader.getFooter.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala
        .map(c => c.getPath.toDotString -> c.getEncodingStats))
      finally reader.close()
    }.groupMap(_._1)(_._2)
  }

  /** Per column: whether it has a dictionary page, and its data-page encodings. */
  private def encodings(root: String): Map[String, (Boolean, Set[Encoding])] =
    chunkStats(root).map { case (c, stats) =>
      c -> (stats.exists(_.hasDictionaryPages), stats.flatMap(_.getDataEncodings.asScala).toSet)
    }

  /** The rows under `root`, read by the vectorized reader and by parquet-mr. */
  private def bothReaders(root: String): (Seq[String], Seq[String]) = {
    def rows() = spark.read.parquet(root).collect().map(_.toString).sorted.toSeq
    val key = "spark.sql.parquet.enableVectorizedReader"
    val vectorized = rows()
    spark.conf.set(key, "false")
    try (vectorized, rows()) finally spark.conf.unset(key)
  }

  test("an exported hour has v2 pages, no dictionary on requestid/ts, and reads alike in both readers") {
    val base = Files.createTempDirectory("graft-layout-enc").toFile.getAbsolutePath
    val src = s"$base/in"; val dst = s"$base/out"
    new java.io.File(src).mkdirs()
    val lines = (0 until 200).map { i =>
      graft.Fixtures.happyLine
        .replace("3E57427F3EXAMPLE", f"REQ$i%013d")
        .replace("05:00:01", f"05:${i % 60}%02d:${(i * 7) % 60}%02d")
        .replace("user/alice", s"user/u${i % 5}")
        .replace("192.0.2.3", s"192.0.${i % 3}.${(i * 37) % 250}")
    } ++ Seq.fill(5)(graft.Fixtures.dashLine)
    Files.write(java.nio.file.Paths.get(s"$src/2021-07-18-05-00-12-ABCDEF0123456789"),
      lines.mkString("\n").getBytes)
    assert(ExportJob.runHour(spark, src, dst, s"$base/track", "2021-07-18-05") == 205L)

    val stats = chunkStats(dst)
    assert(stats.keySet == LogSchema.schema.fieldNames.toSet -- LogSchema.partitionCols)
    for ((c, s) <- stats; e <- s) assert(e != null && e.usesV2Pages, s"$c: $e")
    val enc = encodings(dst)
    for (c <- LogSchema.noDictionaryCols) assert(!enc(c)._1, s"$c has a dictionary page")
    assert(enc("requestid")._2 == Set(Encoding.DELTA_BYTE_ARRAY), enc("requestid"))
    assert(enc("ts")._2 == Set(Encoding.DELTA_BINARY_PACKED), enc("ts"))
    for (c <- Seq("httpstatus", "useragent", "requester"))
      assert(enc(c) == (true, Set(Encoding.RLE_DICTIONARY)), s"$c: ${enc(c)}")

    val (vectorized, parquetMr) = bothReaders(dst)
    assert(vectorized.size == 205 && parquetMr == vectorized)

    // a compacted hour keeps the encodings and the rows
    Compaction.compact(spark, dst)
    assert(encodings(dst) == enc)
    assert(bothReaders(dst) == (vectorized, vectorized))
  }

  test("a nested Layout store (near-dup _docs arrays) reads alike in both readers") {
    val dst = tmpDir("nested")
    NearDupIndex.writeMinhashLayout(corpus(), dst, nBuckets = 4, maxDocFreq = 10000L)
    val docs = dst + "_docs"
    assert(spark.read.parquet(docs).schema.exists(_.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]))
    for ((c, s) <- chunkStats(docs); e <- s) assert(e.usesV2Pages, s"$c: $e")
    val (vectorized, parquetMr) = bothReaders(docs)
    assert(vectorized.size == 40 && parquetMr == vectorized)
  }
}
