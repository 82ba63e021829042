package graft.etl

import graft.SparkSpec

class S3ConfigSpec extends SparkSpec {

  private val dst = "s3a://out-bucket/logs"
  private val keys = Seq("fs.s3a.endpoint", "fs.s3a.endpoint.region", "fs.s3a.acl.default",
    "fs.s3a.bucket.out-bucket.endpoint")

  /** The keys' values after applying `env` to a configuration where
    * none of them is set; the session's own values are restored. */
  private def applied(env: Map[String, String], to: String = dst): Map[String, String] = {
    val hc = spark.sparkContext.hadoopConfiguration
    val saved = keys.map(k => k -> Option(hc.get(k)))
    try {
      keys.foreach(hc.unset)
      S3Config.applyFromEnv(spark, to, env)
      keys.flatMap(k => Option(hc.get(k)).map(k -> _)).toMap
    } finally saved.foreach {
      case (k, Some(v)) => hc.set(k, v)
      case (k, None) => hc.unset(k)
    }
  }

  test("INPUT_S3_ENDPOINT alone sets the default endpoint only") {
    assert(applied(Map("INPUT_S3_ENDPOINT" -> "in.example")) ==
      Map("fs.s3a.endpoint" -> "in.example"))
  }

  test("OUTPUT_S3_ENDPOINT alone is the default endpoint and DST's bucket endpoint") {
    assert(applied(Map("OUTPUT_S3_ENDPOINT" -> "out.example")) ==
      Map("fs.s3a.endpoint" -> "out.example",
        "fs.s3a.bucket.out-bucket.endpoint" -> "out.example"))
  }

  test("with both endpoints the default is the input one and DST's bucket gets the output one") {
    assert(applied(Map("INPUT_S3_ENDPOINT" -> "in.example",
        "OUTPUT_S3_ENDPOINT" -> "out.example")) ==
      Map("fs.s3a.endpoint" -> "in.example",
        "fs.s3a.bucket.out-bucket.endpoint" -> "out.example"))
    // a local DST has no bucket to override
    assert(applied(Map("INPUT_S3_ENDPOINT" -> "in.example",
        "OUTPUT_S3_ENDPOINT" -> "out.example"), to = "/data/out") ==
      Map("fs.s3a.endpoint" -> "in.example"))
  }

  test("region and ACL are applied; an empty env sets nothing") {
    assert(applied(Map("OUTPUT_S3_ENDPOINT_REGION" -> "us-gov-west-1",
        "S3_ACL" -> "bucket-owner-full-control")) ==
      Map("fs.s3a.endpoint.region" -> "us-gov-west-1",
        "fs.s3a.acl.default" -> "bucket-owner-full-control"))
    assert(applied(Map.empty) == Map.empty)
  }
}
