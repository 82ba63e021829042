package graft.functions

import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.{Fixtures, SparkSpec}
import graft.etl.Enrich

class ParseSpec extends SparkSpec {

  /** Run a ScalaCheck property and fail the suite on falsification
    * (scalatestplus bridge isn't on the offline classpath). */
  private def check(p: Prop, minSuccessful: Int = 200): Unit = {
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(minSuccessful), p)
    assert(r.passed, r.status.toString)
  }

  private def toks(line: String): Seq[String] =
    S3LogParse.tokenize(UTF8String.fromString(line)).toSeq[UTF8String](
      org.apache.spark.sql.types.StringType).map(_.toString)

  test("tokenizer: happy-path line yields 24 fields, quotes/brackets stripped") {
    val t = toks(Fixtures.happyLine)
    assert(t.length == 24)
    assert(t(2) == "18/Jul/2021:05:00:01 +0000")     // brackets stripped
    assert(t(8) == "GET /awsexamplebucket1/photos/2021/puppy.jpg?x-foo=bar HTTP/1.1")
    assert(t(16) == "curl/7.68.0")
    assert(t(23) == "TLSv1.2")
  }

  test("tokenizer: quoted fields with spaces stay one token") {
    val t = toks("""a "two words" [18/Jul/2021:05:00:01 +0000] b""")
    assert(t == Seq("a", "two words", "18/Jul/2021:05:00:01 +0000", "b"))
  }

  test("ipv4ToLong: known values and invalid inputs") {
    def ip(s: String) = S3LogParse.ipv4ToLong(UTF8String.fromString(s))
    assert(ip("192.0.2.3") == 3221225987L)           // FIXTURES.md §1.1
    assert(ip("0.0.0.0") == 0L)
    assert(ip("255.255.255.255") == 4294967295L)
    assert(ip("2001:db8::1") == -1L)
    assert(ip("1.2.3") == -1L)
    assert(ip("1.2.3.4.5") == -1L)
    assert(ip("1.2.3.256") == -1L)
    assert(ip("") == -1L)
    assert(ip("a.b.c.d") == -1L)
  }

  test("ipv4ToLong property: (a<<24)+(b<<16)+(c<<8)+d for all octets") {
    val octet = Gen.choose(0, 255)
    check(Prop.forAll(octet, octet, octet, octet) { (a: Int, b: Int, c: Int, d: Int) =>
      S3LogParse.ipv4ToLong(UTF8String.fromString(s"$a.$b.$c.$d")) ==
        (a.toLong << 24) + (b.toLong << 16) + (c.toLong << 8) + d
    })
  }

  test("tokenizer property: never splits inside quotes or brackets") {
    val word = Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString)
    check(Prop.forAll(word, word) { (w1: String, w2: String) =>
      toks(s"""x "$w1 $w2" [$w1 $w2] y""") ==
        Seq("x", s"$w1 $w2", s"$w1 $w2", "y")
    })
  }

  test("enrichment: derived columns match FIXTURES.md expected values") {
    import spark.implicits._
    val df = Enrich.parseLines(
      Seq(Fixtures.happyLine, Fixtures.dashLine, Fixtures.roleLine).toDF("value"))
    assert(df.schema == graft.etl.LogSchema.schema)
    val rows = df.orderBy("requestdatetime").collect()

    val happy = rows(0)
    assert(happy.getAs[Long]("ts") == 1626584401L)
    assert(happy.getAs[Long]("year") == 2021L)
    assert(happy.getAs[Int]("month") == 7)
    assert(happy.getAs[Int]("day") == 18)
    assert(happy.getAs[Int]("hour") == 5)
    assert(happy.getAs[Int]("minute") == 0)
    assert(happy.getAs[Int]("second") == 1)
    assert(happy.getAs[String]("datetime") == "2021-07-18T05:00:01+00:00")
    assert(happy.getAs[Long]("remoteip_int") == 3221225987L)
    assert(!happy.getAs[Boolean]("is_assumed_role"))
    assert(happy.getAs[Boolean]("is_user"))
    assert(happy.getAs[Long]("bytessent") == 2662992L)
    assert(happy.getAs[Long]("objectsize") == 3462992L)
    assert(happy.getAs[Long]("totaltime") == 70L)
    assert(happy.getAs[Long]("turnaroundtime") == 10L)

    val dash = rows(1)
    assert(dash.getAs[Long]("bytessent") == 242L)
    assert(dash.getAs[Long]("objectsize") == 0L)     // dash → 0, not NULL
    assert(dash.getAs[Long]("totaltime") == 0L)
    assert(dash.getAs[Long]("turnaroundtime") == 0L)
    assert(!dash.getAs[Boolean]("is_assumed_role"))
    assert(!dash.getAs[Boolean]("is_user"))
    assert(dash.getAs[String]("httpstatus") == "200") // stays string

    val role = rows(2)
    assert(role.getAs[Boolean]("is_assumed_role"))
    assert(!role.getAs[Boolean]("is_user"))           // plain substring semantics
    assert(role.getAs[String]("operation") == "REST.PUT.OBJECT")
  }

  test("rolling_hash64: deterministic, sensitive to every byte, codegen == interpreted") {
    import spark.implicits._
    def ref(s: String): Long =
      s.getBytes("UTF-8").foldLeft(1469598103934665603L)((h, b) => h * 1000003L + (b & 0xffL))
    val texts = Seq("", "a", "ab", "ba", "hello world", "hello worle")
    val got = texts.toDF("t").select(exprs.rolling_hash64($"t")).collect().map(_.getLong(0))
    assert(got.toSeq == texts.map(ref))
    assert(got.distinct.length == texts.length) // all inputs hash differently
  }

  test("native cosine expression is bit-identical to the HOF formulation") {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions.{aggregate, lit, sqrt, zip_with}
    // the built-ins-only cosine: zip_with + aggregate, same accumulation order
    def dot(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
        lit(0.0), (acc, e) => acc + e)
    def cosineHof(a: Column, b: Column): Column =
      dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter(org.apache.spark.sql.functions.col("vec_id") < 3)
      .select(org.apache.spark.sql.functions.col("embedding").as("qe"),
        org.apache.spark.sql.functions.col("vec_id").as("qid"))
    val pairs = emb.crossJoin(q)
    val diffs = pairs.select(
        graft.ops.Similarity.cosine(
          org.apache.spark.sql.functions.col("qe"),
          org.apache.spark.sql.functions.col("embedding")).as("native"),
        cosineHof(
          org.apache.spark.sql.functions.col("qe"),
          org.apache.spark.sql.functions.col("embedding")).as("hof"))
      .filter("native <> hof").count()
    assert(diffs == 0L)
  }

  test("malformed lines degrade to nulls instead of killing the job") {
    import spark.implicits._
    // a digit run above Long.MaxValue in every numeric field
    val huge = Fixtures.happyLine.replace(" 2662992 3462992 70 10 ",
      " 99999999999999999999 9223372036854775808 99999999999999999999 99999999999999999999 ")
    val rows = Enrich.parseLines(Seq(
      "too short",                       // 2 tokens
      "",                                // empty line
      "a b [not-a-timestamp] 1.2.3.4 r", // bad timestamp, 5 tokens
      huge)
      .toDF("value")).collect()
    assert(rows.length == 4)
    val big = rows.find(_.getAs[String]("bucket_name") == "awsexamplebucket1").get
    for (f <- graft.etl.LogSchema.longFields) assert(big.isNullAt(big.fieldIndex(f)), f)
    assert(big.getAs[Long]("ts") == 1626584401L)       // the rest of the line still parses
    // no exception; missing positions and unparseable derivations are null
    val short = rows.find(_.getAs[String]("bucketowner") == "too").get
    assert(short.getAs[String]("bucket_name") == "short")
    assert(short.isNullAt(short.fieldIndex("requestdatetime")))
    assert(short.isNullAt(short.fieldIndex("ts")))
    val bad = rows.find(_.getAs[String]("bucketowner") == "a").get
    assert(bad.getAs[String]("requestdatetime") == "not-a-timestamp")
    assert(bad.isNullAt(bad.fieldIndex("ts")))          // unparseable → null
    assert(bad.getAs[Long]("remoteip_int") == 16909060L) // valid IP still derived
  }

  test("ipv4_to_long yields NULL for a non-IPv4 address (SURVEY §1.4#5)") {
    import spark.implicits._
    val df = Seq("2001:db8::1").toDF("ip")
    assert(df.select(exprs.ipv4_to_long($"ip")).collect()(0).isNullAt(0))
  }

  // ---- differential tests: the byte kernels against the formulations
  // they replaced, which live on here only as oracles

  /** The regex tokenizer the byte kernel replaced. */
  private val OraclePattern = java.util.regex.Pattern.compile(
    "(?:\"([^\"]+)\")|(?:\\[([^\\]]+)\\])|([^ ]+)")

  private def oracleTokens(line: UTF8String): Seq[UTF8String] = {
    val m = OraclePattern.matcher(line.toString)
    val out = Seq.newBuilder[UTF8String]
    while (m.find()) out += UTF8String.fromString(
      if (m.start(1) >= 0) m.group(1) else if (m.start(2) >= 0) m.group(2) else m.group(3))
    out.result()
  }

  test("tokenizer differential: byte kernel == regex on delimiter, multibyte and stray-byte soup") {
    import java.nio.charset.StandardCharsets.UTF_8
    def weighted(xs: (Int, String)*): Seq[(Int, Gen[Array[Byte]])] =
      xs.map { case (w, a) => w -> Gen.const(a.getBytes(UTF_8)) }
    val text = weighted(6 -> " ", 3 -> "\"", 2 -> "[", 2 -> "]", 1 -> "\t", 4 -> "a", 2 -> "Z",
      3 -> "7", 2 -> "-", 1 -> "\u00e9", 1 -> "\uD83D\uDE00")
    val stray = Seq(0xFF, 0xC3, 0x80).map(b => 1 -> Gen.const(Array(b.toByte)))
    val valid = Gen.frequency(text: _*)
    val soup = Gen.frequency(text ++ stray: _*)
    val len = Gen.frequency(9 -> Gen.choose(0, 60), 1 -> Gen.choose(2000, 2600))
    val line = for {
      atom <- Gen.oneOf(Seq(valid, soup))
      n <- len
      atoms <- Gen.listOfN(n, atom)
    } yield atoms.toArray.flatten
    check(Prop.forAll(line) { bytes =>
      // a view into a larger buffer, as a scanned row hands it over
      val padded = Array[Byte](1, 2, 3) ++ bytes ++ Array[Byte](9)
      val u = UTF8String.fromBytes(padded, 3, bytes.length)
      S3LogParse.tokenize(u).toSeq[UTF8String](org.apache.spark.sql.types.StringType) ==
        oracleTokens(u)
    }, minSuccessful = 20000)
  }

  test("request-time fast path decides canonical tokens and leaves the rest") {
    def fast(s: String) = S3LogParse.requestTimeUtc(UTF8String.fromString(s))
    val r = fast("18/Jul/2021:05:00:01 +0000")
    assert(r.getLong(0) == 1626584401L && r.getLong(1) == 2021L && r.getInt(2) == 7)
    assert(r.getUTF8String(7).toString == "2021-07-18T05:00:01+00:00")
    assert(fast("29/Feb/2024:23:59:59 +0000").getLong(0) == 1709251199L)
    for (s <- Seq("18/jul/2021:05:00:01 +0000", "29/Feb/2023:00:00:00 +0000",
        "18/Jul/0999:05:00:01 +0000", "18/Jul/2021:05:00:01 +0100", "18/Jul/2021:24:00:00 +0000",
        "31/Apr/2021:00:00:00 +0000", "18/Jul/2021:05:00:60 +0000", "18/Jul/2021 05:00:01 +0000"))
      assert(fast(s) == null, s)
  }

  /** Run `body` with session confs set, restoring them after. */
  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val saved = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val Modes = Seq(
    "codegen" -> Seq.empty[(String, String)],
    "interpreted" -> Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  private object Plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  /** Tokens in `tok` whose new and old values differ, under every mode.
    * The rows come from an RDD, so no optimizer rule folds the
    * expressions over a local relation before execution. */
  private def mismatches(tokens: Seq[String], pairs: Seq[(org.apache.spark.sql.Column,
      org.apache.spark.sql.Column)]): Seq[String] = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    Modes.flatMap { case (mode, conf) =>
      withConf(conf: _*) {
        val df = spark.sparkContext.parallelize(tokens, 4).toDF("tok")
          .filter(pairs.map { case (a, b) => !(a <=> b) }.reduce(_ || _))
          .select(col("tok"))
        val bad = df.collect().map(r => s"$mode: '${r.getString(0)}'")
        val wscg = Plans.find(df.queryExecution.executedPlan)(
          _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec]).isDefined
        assert(wscg == (mode == "codegen"), s"$mode: whole-stage codegen $wscg")
        bad.toSeq
      }
    }
  }

  test("request-time differential: 8 fields == try_to_timestamp + extractors, codegen and interpreted") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(20210718)
    def p2(i: Int) = f"$i%02d"
    val months = Seq("Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep", "Oct", "Nov",
      "Dec", "jul", "JUL", "Foo")
    val years = Seq("0000", "0999", "1582", "1900", "2000", "2021", "2024", "9999")
    val offsets = Seq("+0000", "+0000", "+0100", "-0700")
    def pick[A](xs: Seq[A]) = xs(rnd.nextInt(xs.size))
    val grid = for (d <- 0 to 32; m <- months; y <- years) yield s"${p2(d)}/$m/$y:12:34:56 +0000"
    val random = Seq.fill(20000)(
      s"${p2(rnd.nextInt(33))}/${pick(months)}/${pick(years)}:" +
        s"${p2(rnd.nextInt(26))}:${p2(rnd.nextInt(62))}:${p2(rnd.nextInt(62))} ${pick(offsets)}")
    val odd = Seq("", "-", "18/Jul/2021:05:00:01", "18/Jul/2021:05:00:01 +0000 ",
      "18/Jul/2021:05:00:01 Z", "8/Jul/2021:05:00:01 +0000", "18/Jul/21:05:00:01 +0000",
      "18-Jul-2021:05:00:01 +0000", "18/Jul/2021:05:00:01 +00:00", "18/Jul/202a:05:00:01 +0000",
      "18/J\u00fcl/2021:05:00:01 +0000", "1\u0668/Jul/2021:05:00:01 +0000")
    val tokens = grid ++ random ++ odd
    val t = exprs.s3_request_time(col("tok"))
    val old = try_to_timestamp(col("tok"), lit(S3LogParse.RequestTimePattern))
    val pairs = Seq(
      t.getField("ts") -> unix_timestamp(old),
      t.getField("year") -> year(old).cast("long"),
      t.getField("month") -> month(old),
      t.getField("day") -> dayofmonth(old),
      t.getField("hour") -> hour(old),
      t.getField("minute") -> minute(old),
      t.getField("second") -> second(old),
      t.getField("datetime") -> date_format(old, S3LogParse.DatetimePattern))
    for (zone <- Seq("UTC", "America/Los_Angeles")) withConf("spark.sql.session.timeZone" -> zone) {
      val bad = mismatches(tokens, pairs)
      assert(bad.isEmpty, s"$zone: ${bad.size} differ, e.g. ${bad.take(5).mkString(", ")}")
    }
    // not vacuous: both parsed and unparsed tokens occur
    import spark.implicits._
    val parsed = tokens.toDF("tok").filter(t.isNotNull).count()
    assert(parsed > 3000 && parsed < tokens.size - 3000, s"$parsed of ${tokens.size} parsed")
  }

  test("numeric-field differential: dash_to_long == the regex-gated try_cast, codegen and interpreted") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(11)
    val chars = "0123456789-+ .x\n\t\u0663"
    val digitRuns = Seq.fill(3000)(Seq.fill(1 + rnd.nextInt(21))(('0' + rnd.nextInt(10)).toChar).mkString)
    val soup = Seq.fill(3000)(Seq.fill(rnd.nextInt(6))(chars(rnd.nextInt(chars.length))).mkString)
    val odd = Seq("-", "--", "", "0", "007", "9223372036854775807", "9223372036854775808",
      "99999999999999999999", "12\n", " 12", "12 ", "+5", "-5", "1.5", "1e3", "0x1F",
      "\u0663", "12\u2028", "12\r\n")
    val c = col("tok")
    val old = when(c === "-", lit(0L)).when(c.rlike("^\\d+$"), c.try_cast("long"))
      .otherwise(lit(null).cast("long"))
    val bad = mismatches(digitRuns ++ soup ++ odd, Seq(exprs.dash_to_long(c) -> old))
    assert(bad.isEmpty, s"${bad.size} differ, e.g. ${bad.take(5).mkString(", ")}")
  }
}
