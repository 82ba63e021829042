package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs — one per suite, GraftSession semantics. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder("local[4]", 4).getOrCreate()

  /** The parquet data files under local dir `root`. */
  def parquetFiles(root: String): Seq[String] =
    java.nio.file.Files.walk(java.nio.file.Paths.get(root)).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).toSeq

  /** Whether `file`'s rows, read back in file order, are sorted on `cols`. */
  def sortedOn(file: String, cols: Seq[String]): Boolean = {
    val keys = cols.map(org.apache.spark.sql.functions.col)
    val inFileOrder = spark.read.parquet(file).select(keys: _*)
    inFileOrder.collect().toSeq == inFileOrder.sort(keys: _*).collect().toSeq
  }
}

object Fixtures {
  /** FIXTURES.md §1.1 — happy-path GET by IAM user. */
  val happyLine =
    """79a59df900b949e55d96a1e698fbacedfd6e09d98eacf8f8d5218e7cd47ef2be awsexamplebucket1 [18/Jul/2021:05:00:01 +0000] 192.0.2.3 arn:aws:iam::123456789012:user/alice 3E57427F3EXAMPLE REST.GET.OBJECT photos/2021/puppy.jpg "GET /awsexamplebucket1/photos/2021/puppy.jpg?x-foo=bar HTTP/1.1" 200 - 2662992 3462992 70 10 "http://www.example.com/start.html" "curl/7.68.0" - s9lzHYrFp76ZVxRcpX9+5cjAnEH2ROuNkd2BHfIa6UkFVdtjf5mKR3/eTPFvsiP/XV/VLi31234= SigV4 ECDHE-RSA-AES128-GCM-SHA256 AuthHeader awsexamplebucket1.s3.us-west-2.amazonaws.com TLSv1.2"""

  /** FIXTURES.md §1.2 — dash sentinels, anonymous requester. */
  val dashLine =
    """79a59df900b949e55d96a1e698fbacedfd6e09d98eacf8f8d5218e7cd47ef2be awsexamplebucket1 [18/Jul/2021:05:59:59 +0000] 198.51.100.7 - 891CE47D2EXAMPLE REST.GET.LOGGING_STATUS - "GET /awsexamplebucket1?logging HTTP/1.1" 200 - 242 - - - "-" "S3Console/0.4" - 9vKBE6vMhrNiWHZmb2L0mXOcqPGzQOI5XLnCtZNPxev+Hf+7tpT6sxDwDty4LHBUOZJG96N1234= SigV2 ECDHE-RSA-AES128-SHA AuthHeader awsexamplebucket1.s3.us-west-2.amazonaws.com TLSv1.2"""

  /** happyLine retried 10 minutes later: SAME requestid, different
    * timestamp — the normal shape of a real duplicate (retry/clock skew).
    * Streaming dedup must drop it on id alone. */
  val happyRetryLine: String =
    happyLine.replace("[18/Jul/2021:05:00:01 +0000]", "[18/Jul/2021:05:10:07 +0000]")

  /** FIXTURES.md §1.3 — assumed-role PUT. */
  val roleLine =
    """79a59df900b949e55d96a1e698fbacedfd6e09d98eacf8f8d5218e7cd47ef2be awsexamplebucket1 [18/Jul/2021:06:00:00 +0000] 203.0.113.9 arn:aws:sts::123456789012:assumed-role/DeployRole/i-0abc12345 A1206F460EXAMPLE REST.PUT.OBJECT builds/app.zip "PUT /awsexamplebucket1/builds/app.zip HTTP/1.1" 200 - - 5242880 120 35 "-" "aws-sdk-java/1.11.900" kNBp1FqExample - SigV4 TLS_AES_128_GCM_SHA256 AuthHeader awsexamplebucket1.s3.us-west-2.amazonaws.com TLSv1.3"""
}
