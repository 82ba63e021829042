package graft.etl

import java.io.IOException
import java.net.URI
import java.nio.file.Files
import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import graft.{Fixtures, SparkSpec}
import graft.ops.{BucketStore, Clustering, NearDupIndex, Retrieval, SegmentCompaction, VectorStore}

/** Local files under the `<scheme>:` scheme. Statuses carry default
  * permissions: the raw class reads them through a `file:` URI. */
abstract class SchemeFs(scheme: String) extends RawLocalFileSystem {
  override def getUri: URI = URI.create(s"$scheme:///")
  override def getScheme: String = scheme
  private def plain(s: FileStatus) =
    new FileStatus(s.getLen, s.isDirectory, s.getReplication, s.getBlockSize, s.getModificationTime, s.getPath)
  override def getFileStatus(p: Path): FileStatus = plain(super.getFileStatus(p))
  override def listStatus(p: Path): Array[FileStatus] = super.listStatus(p).map(plain)
}

/** Renaming a `*.compact-tmp` dir fails: a crash between the swap's two
  * renames, after the original has moved to its backup. */
class CrashFs extends SchemeFs("crashfs") {
  override def rename(src: Path, dst: Path): Boolean =
    if (src.getName.endsWith(".compact-tmp")) throw new IOException(s"injected crash renaming $src")
    else super.rename(src, dst)
}

/** Renaming a dir out of a `*.purge-tmp` dir returns false: a bucket
  * swap whose second rename is refused, after the live bucket has moved
  * to its backup. */
class RefusingSwapFs extends SchemeFs("swapfs") {
  override def rename(src: Path, dst: Path): Boolean =
    !src.getParent.getName.endsWith(".purge-tmp") && super.rename(src, dst)
}

/** Each compaction, crashed at its worst point, is restored by
  * `Compaction.recover` with its data unchanged. */
class CompactionSwapSpec extends SparkSpec {

  private def crashRoot(name: String): String = {
    spark.sparkContext.hadoopConfiguration.set("fs.crashfs.impl", classOf[CrashFs].getName)
    "crashfs://" + Files.createTempDirectory(s"graft-swap-$name").toFile.getAbsolutePath
  }

  /** Run `compaction`, which must crash in the swap, then recover `root`. */
  private def crashAndRecover(root: String)(compaction: => Any): Unit = {
    val e = intercept[IOException](compaction)
    assert(e.getMessage.contains("injected crash"), e)
    assert(Compaction.recover(spark, root), s"$root not restored")
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new Path(root + ".compact-tmp")) && !fs.exists(new Path(root + ".pre-compact")))
  }

  test("compact: crash between the swap renames, recover restores every row") {
    val base = crashRoot("compact")
    val src = Files.createTempDirectory("graft-swap-src").toFile.getAbsolutePath
    val dst = s"$base/out"
    (1 to 3).foreach { i =>
      Files.write(java.nio.file.Paths.get(s"$src/2021-07-18-05-0$i-00-RUN$i"),
        (Fixtures.happyLine + "\n" + Fixtures.dashLine).getBytes)
      ExportJob.write(Enrich.parseLines(ExportJob.readHour(spark, src, "2021-07-18-05").get), dst)
    }
    def rows() = spark.read.parquet(dst).orderBy("requestid", "ts").collect().toSeq
    val before = rows()
    crashAndRecover(dst)(Compaction.compact(spark, dst))
    assert(rows() == before)
  }

  test("a backup left by an earlier failed swap stops the next compaction before it writes") {
    val src = Files.createTempDirectory("graft-swap-refuse").toFile.getAbsolutePath
    val dst = s"$src/out"
    Files.write(java.nio.file.Paths.get(s"$src/2021-07-18-05-01-00-RUN1"),
      (Fixtures.happyLine + "\n" + Fixtures.dashLine).getBytes)
    ExportJob.write(Enrich.parseLines(ExportJob.readHour(spark, src, "2021-07-18-05").get), dst)
    val backup = java.nio.file.Paths.get(dst + ".pre-compact")
    Files.createDirectories(backup)
    Files.write(backup.resolve("part-0.parquet"), "last good copy".getBytes)
    val rootFiles = parquetFiles(dst).sorted
    val e = intercept[IllegalArgumentException](Compaction.compact(spark, dst))
    assert(e.getMessage.contains("compaction refused"), e)
    assert(!Files.exists(java.nio.file.Paths.get(dst + ".compact-tmp")))
    assert(parquetFiles(dst).sorted == rootFiles)
    assert(parquetFiles(backup.toString) == Seq(backup.resolve("part-0.parquet").toString))
    assert(new String(Files.readAllBytes(backup.resolve("part-0.parquet"))) == "last good copy")
  }

  /** A one-hour log store at `<base>/out` exported from `lines`. */
  private def exported(base: String, lines: String*): String = {
    val src = s"$base/in"
    Files.createDirectories(java.nio.file.Paths.get(src))
    Files.write(java.nio.file.Paths.get(s"$src/2021-07-18-05-01-00-RUN1"), lines.mkString("\n").getBytes)
    ExportJob.write(Enrich.parseLines(ExportJob.readHour(spark, src, "2021-07-18-05").get), s"$base/out")
    s"$base/out"
  }

  /** Copy the tree at `from` to `to`, as a swap whose final validation
    * failed leaves it. */
  private def copyTree(from: String, to: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(from).getFileSystem(conf)
    assert(org.apache.hadoop.fs.FileUtil.copy(fs, new Path(from), fs, new Path(to), false, conf))
  }

  test("recover drops a backup that holds the root's rows, and the next compaction runs") {
    val base = Files.createTempDirectory("graft-swap-equal").toFile.getAbsolutePath
    val dst = exported(base, Fixtures.happyLine, Fixtures.dashLine, Fixtures.roleLine)
    copyTree(dst, dst + ".pre-compact")
    def rows() = spark.read.parquet(dst).orderBy("requestid", "ts").collect().toSeq
    val before = rows()
    assert(Compaction.recover(spark, dst))
    assert(!Files.exists(java.nio.file.Paths.get(dst + ".pre-compact")))
    Compaction.compact(spark, dst)
    assert(rows() == before)
  }

  test("recover keeps a backup whose rows differ from the root's, and compaction still refuses") {
    val base = Files.createTempDirectory("graft-swap-differ").toFile.getAbsolutePath
    val dst = exported(base, Fixtures.happyLine, Fixtures.dashLine)
    // same count and columns, one row's requestid changed
    val other = exported(s"$base/other", Fixtures.happyLine, Fixtures.dashLine.replace("891CE47D2", "891CE47D3"))
    assert(spark.read.parquet(other).count() == spark.read.parquet(dst).count())
    copyTree(other, dst + ".pre-compact")
    val backupFiles = parquetFiles(dst + ".pre-compact").sorted
    assert(Compaction.recover(spark, dst))
    assert(parquetFiles(dst + ".pre-compact").sorted == backupFiles)
    val e = intercept[IllegalArgumentException](Compaction.compact(spark, dst))
    assert(e.getMessage.contains("compaction refused"), e)
  }

  test("compactSegments: crash between the swap renames, recover restores every sum") {
    import spark.implicits._
    val root = s"${crashRoot("segments")}/idx_df"
    for (seg <- 0 until 3)
      graft.io.Layout.write(
        (0 until 30).map(i => (s"t${(i * 7 + seg) % 30}", i % 4, (i + seg).toLong)).toDF("term", "bucket", "df"),
        root, SaveMode.Append, Seq("bucket"), Seq("term"))
    def rows() = spark.read.parquet(root).groupBy("bucket", "term").agg(sum("df").as("df"))
      .orderBy("bucket", "term").collect().toSeq
    val before = rows()
    crashAndRecover(root)(SegmentCompaction.compactSegments(spark, root, Seq("term"), Seq("df")))
    assert(rows() == before)
    assert(spark.read.parquet(root).count() == 90L, "the segments must still be uncompacted")
  }

  test("compactCells: crash between the swap renames, recover restores the probe answer") {
    import spark.implicits._
    val emb = (0L until 40L).map(i => (i, Seq.tabulate(4)(d => ((i * 5 + d) % 11).toFloat)))
      .toDF("vec_id", "embedding")
    val centroids = Clustering.trainCentroids(emb, k = 3, sampleCap = 40)
    val root = crashRoot("cells")
    (0 until 4).foreach { i =>
      VectorStore.appendCellRows(emb.filter(pmod(col("vec_id"), lit(4)) === i), centroids, s"$root/store")
    }
    VectorStore.appendTombstones(emb.filter(col("vec_id") < 5L), root)
    def probe() = VectorStore.probeTopK(spark, root, Seq(1000L, 2000L, 3000L, 4000L), centroids,
      nprobe = 2, k = 8).collect().toSeq
    val before = probe()
    assert(before.size == 8)
    crashAndRecover(s"$root/store")(VectorStore.compactCells(spark, root))
    assert(probe() == before)
  }

  private val dir = "/root/testdata/sf0.001"

  /** A local store dir, and its path under `swapfs:`, where every bucket
    * swap's fresh → live rename is refused. */
  private def refusingStore(name: String): (String, String) = {
    spark.sparkContext.hadoopConfiguration.set("fs.swapfs.impl", classOf[RefusingSwapFs].getName)
    val local = Files.createTempDirectory(s"graft-refuse-$name").toFile.getAbsolutePath + "/idx"
    (local, "swapfs://" + local)
  }

  /** Every row of each store under `roots`, in a fixed order. */
  private def storeRows(roots: Seq[String]) =
    roots.map(r => spark.read.parquet(r).collect().map(_.toString).sorted.toSeq)

  /** `purge` must throw at a refused swap rename, and until recovery a
    * probe of the store must fail loudly (the backup dir makes the bucket
    * column a string), never answer from a store missing a bucket. */
  private def refusedSwap(purge: => Any)(probe: => Any): Unit = {
    val e = intercept[IllegalArgumentException](purge)
    assert(e.getMessage.contains("bucket swap"), e)
    val p = intercept[Exception](probe)
    assert(p.getMessage.contains("CAST_INVALID_INPUT"), p)
  }

  test("near-dup purge: a refused bucket-swap rename throws; recovery restores rows and probe answers") {
    val docs = graft.Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val (dst, refusing) = refusingStore("neardup")
    NearDupIndex.writeMinhashLayout(docs.filter(col("doc_id") % 5 =!= 0), dst,
      nBuckets = 8, maxDocFreq = 10000L)
    BucketStore.tombstone(docs.filter(col("doc_id") % 10 === 1).select(col("doc_id")), dst)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    val roots = Seq(dst, dst + "_docs", dst + "_sh_df")
    def probe() = NearDupIndex.probeNearDup(spark, dst, batch).collect().toSeq
    val (rowsBefore, probeBefore) = (storeRows(roots), probe())
    refusedSwap(NearDupIndex.purgeTombstones(spark, refusing))(probe())
    NearDupIndex.recoverSwaps(spark, dst)
    assert(storeRows(roots) == rowsBefore)
    assert(probe() == probeBefore)
    // a re-run finishes the purge with the same answers
    assert(NearDupIndex.purgeTombstones(spark, dst)._1 > 0)
    assert(probe() == probeBefore)
  }

  test("posting purge: a refused bucket-swap rename throws; recovery restores rows and probe answers") {
    val docs = graft.Tables.documents(spark, dir)
    val (dst, refusing) = refusingStore("postings")
    Retrieval.writePostingsBucketed(docs, dst, nBuckets = 8)
    BucketStore.tombstone(docs.filter(col("doc_id") % 5 === 0).select(col("doc_id")), dst)
    val roots = Seq(dst, dst + "_docbuckets", dst + "_dl", dst + "_df", dst + "_totals")
    def probe() = Retrieval.bucketedBm25TopK(spark, dst, Seq("spark", "vector", "merge", "window"), 20)
      .collect().toSeq
    val (rowsBefore, probeBefore) = (storeRows(roots), probe())
    refusedSwap(Retrieval.purgePostingTombstones(spark, refusing))(probe())
    Retrieval.recoverSwaps(spark, dst)
    assert(storeRows(roots) == rowsBefore)
    assert(probe() == probeBefore)
    assert(Retrieval.purgePostingTombstones(spark, dst)._1 > 0)
    assert(probe() == probeBefore)
  }
}
