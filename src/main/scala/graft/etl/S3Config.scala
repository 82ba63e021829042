package graft.etl

import org.apache.spark.sql.SparkSession

/** Filesystem factory (reference create_file_system, cmd/export.py:59-76):
  * the reference builds an s3fs client per root with FIPS endpoint /
  * region / ACL; on Spark the same contract maps to Hadoop S3A
  * configuration, applied once per session — paths then work uniformly
  * for `s3a://` and local roots with no per-root client objects.
  *
  * Env contract (reference cmd/export.py:234-259):
  *   INPUT_S3_ENDPOINT / OUTPUT_S3_ENDPOINT / OUTPUT_S3_ENDPOINT_REGION /
  *   S3_ACL. Note: the reference reads the *output* endpoint for the
  *   input filesystem too (cmd/export.py:247-250, an apparent copy-paste
  *   bug); we honor INPUT_S3_ENDPOINT — deliberate divergence, SURVEY.md
  *   §2.1.
  *
  * Per-bucket overrides use Hadoop's `fs.s3a.bucket.<name>.*` keys, so
  * one session can read from one endpoint and write to another.
  */
object S3Config {

  /** Apply the env contract to the session's Hadoop configuration. The
    * default endpoint is INPUT_S3_ENDPOINT (falling back to
    * OUTPUT_S3_ENDPOINT); when OUTPUT_S3_ENDPOINT is set and `dst` is an
    * `s3a://` URI, DST's bucket gets the output endpoint through
    * [[forBucket]], so input and output may sit on different
    * endpoints. */
  def applyFromEnv(spark: SparkSession, dst: String,
                   env: Map[String, String] = sys.env): Unit = {
    val hc = spark.sparkContext.hadoopConfiguration
    env.get("INPUT_S3_ENDPOINT").orElse(env.get("OUTPUT_S3_ENDPOINT"))
      .foreach(hc.set("fs.s3a.endpoint", _))
    env.get("OUTPUT_S3_ENDPOINT_REGION").foreach(hc.set("fs.s3a.endpoint.region", _))
    env.get("S3_ACL").foreach(hc.set("fs.s3a.acl.default", _))
    val uri = new java.net.URI(dst)
    for (endpoint <- env.get("OUTPUT_S3_ENDPOINT")
         if uri.getScheme == "s3a"; bucket <- Option(uri.getAuthority))
      forBucket(spark, bucket, endpoint)
  }

  /** Per-bucket endpoint override (input and output roots on different
    * endpoints, the case the reference's bug collapses). */
  def forBucket(spark: SparkSession, bucket: String, endpoint: String): Unit =
    spark.sparkContext.hadoopConfiguration
      .set(s"fs.s3a.bucket.$bucket.endpoint", endpoint)
}
