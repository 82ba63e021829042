package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

import scala.collection.mutable

/** How one hour of logs is delivered: `lines` lines over `files` input
  * objects, bucket and operation drawn Zipf(`skew`) over `buckets` x `ops`
  * (skew 0 is uniform). */
final case class Shape(lines: Int, files: Int, buckets: Int, ops: Int, skew: Double)

/** One generated line, as the generator chose its fields. Expected engine
  * output is derived from these values, never read back from the engine. */
final case class LogRec(hour: Int, index: Int, bucket: String, operation: String,
                        requester: String, ip: Long, key: String, status: String,
                        bytesSent: Long, epochSec: Long, requestId: String)

/** Ground truth for one generated hour, tallied while the lines are written. */
final class HourTally(val hour: Int) {
  var rows = 0L
  var inputBytes = 0L
  var assumedRole = 0L
  val combos = mutable.Set.empty[(String, String)]
  /** (count, bytessent) per key; the keys below name what is counted. */
  val byBucketRequester = mutable.HashMap.empty[(String, String), Array[Long]]
  val byBucketOp = mutable.HashMap.empty[(String, String), Array[Long]]
  val byRequester = mutable.HashMap.empty[String, Array[Long]]
  val byKey = mutable.HashMap.empty[String, Long]
  val forbiddenByRequester = mutable.HashMap.empty[String, Long]
  private val ipBuf = mutable.ArrayBuilder.make[Long]
  /** Every line's remoteip_int, sorted: range counts by binary search. */
  lazy val ips: Array[Long] = { val a = ipBuf.result(); java.util.Arrays.sort(a); a }

  private def add(m: mutable.HashMap[(String, String), Array[Long]], k: (String, String), b: Long): Unit = {
    val a = m.getOrElseUpdate(k, new Array[Long](2)); a(0) += 1; a(1) += b
  }

  def add(r: LogRec, lineBytes: Int): Unit = {
    rows += 1
    inputBytes += lineBytes
    if (r.requester.contains("assumed-role")) assumedRole += 1
    combos += ((r.bucket, r.operation))
    add(byBucketRequester, (r.bucket, r.requester), r.bytesSent)
    add(byBucketOp, (r.bucket, r.operation), r.bytesSent)
    val q = byRequester.getOrElseUpdate(r.requester, new Array[Long](2)); q(0) += 1; q(1) += r.bytesSent
    byKey(r.key) = byKey.getOrElse(r.key, 0L) + 1
    if (r.status == "403") forbiddenByRequester(r.requester) = forbiddenByRequester.getOrElse(r.requester, 0L) + 1
    ipBuf += r.ip
  }

  def merge(o: HourTally): Unit = {
    def into[K](m: mutable.HashMap[K, Array[Long]], from: mutable.HashMap[K, Array[Long]]): Unit =
      from.foreach { case (k, v) => val a = m.getOrElseUpdate(k, new Array[Long](2)); a(0) += v(0); a(1) += v(1) }
    def sum[K](m: mutable.HashMap[K, Long], from: mutable.HashMap[K, Long]): Unit =
      from.foreach { case (k, v) => m(k) = m.getOrElse(k, 0L) + v }
    rows += o.rows; inputBytes += o.inputBytes; assumedRole += o.assumedRole
    combos ++= o.combos
    into(byBucketRequester, o.byBucketRequester); into(byBucketOp, o.byBucketOp); into(byRequester, o.byRequester)
    sum(byKey, o.byKey); sum(forbiddenByRequester, o.forbiddenByRequester)
    ipBuf ++= o.ipBuf.result()
  }

  def ipsBetween(lo: Long, hi: Long): Long = {
    def lowerBound(v: Long): Int = {
      var a = 0; var b = ips.length
      while (a < b) { val m = (a + b) >>> 1; if (ips(m) < v) a = m + 1 else b = m }
      a
    }
    (lowerBound(hi + 1) - lowerBound(lo)).toLong
  }
}

/** Zipf(s) over n ranks by inverse CDF; s = 0 is uniform. */
final class Zipf(n: Int, s: Double) {
  private val cdf = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }
  def sample(r: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    math.min(if (i >= 0) i else -i - 1, n - 1)
  }
}

/** Seeded S3 server-access-log generator, the shape of the Python ETL
  * bench's `gen_line` (same field layout, requester kinds, user agents and
  * TLS trailer), extended with bucket/operation skew, 403/404 responses
  * and a bounded pool of assumed-role sessions. Line `i` of hour `h` is a
  * pure function of (seed, h, i), so any line can be regenerated to check
  * a sampled output row. Hour `h` counts from 2021-07-18T00:00Z. */
final class LogGen(seed: Long, shape: Shape) {
  import LogGen._

  private val bucketDist = new Zipf(shape.buckets, shape.skew)
  private val opDist = new Zipf(shape.ops, shape.skew)
  private val keyDist = new Zipf(Keys, 1.1)

  def rec(h: Int, i: Int): LogRec = {
    val r = new SplittableRandom(mix(mix(seed ^ 0x5DEECE66DL, h.toLong), i.toLong))
    val bucket = s"bucket${bucketDist.sample(r)}"
    val op = Ops(opDist.sample(r))
    val sec = r.nextInt(3600)
    val ip = ((1L + r.nextInt(223)) << 24) | (r.nextInt(256).toLong << 16) |
      (r.nextInt(256).toLong << 8) | r.nextInt(256).toLong
    val kind = r.nextInt(100)
    val requester =
      if (kind < 50) s"arn:aws:iam::123456789012:user/u${r.nextInt(97)}"
      else if (kind < 85) {
        val s = r.nextInt(RoleSessions)
        s"arn:aws:sts::123456789012:assumed-role/Role${s % 5}/i-${hex(s, 8)}"
      } else "-"
    val key = s"k/${keyDist.sample(r)}.bin"
    val u = r.nextInt(100)
    val status = if (u < 94) "200" else if (u < 97) "403" else "404"
    val bytes = if (status != "200") 243L else if (r.nextBoolean()) 0L else 100L + r.nextInt(9999901)
    LogRec(h, i, bucket, op, requester, ip, key, status, bytes,
      BaseEpoch + h * 3600L + sec, s"R${hex(h, 4)}${hex(i, 10)}")
  }

  /** The rest of the line draws from its own stream so `rec` stays cheap to
    * regenerate for sampled-row checks. */
  def line(x: LogRec): String = {
    val r = new SplittableRandom(mix(seed ^ 0x2545F4914F6CDD1DL, x.hour.toLong * 1000003L + x.index))
    val sec = (x.epochSec - BaseEpoch) % 3600
    val (day, hh) = dayHour(x.hour)
    val ipText = s"${x.ip >>> 24}.${(x.ip >>> 16) & 255}.${(x.ip >>> 8) & 255}.${x.ip & 255}"
    val bytesText = if (x.bytesSent == 0L) "-" else x.bytesSent.toString
    val error = x.status match { case "403" => "AccessDenied"; case "404" => "NoSuchKey"; case _ => "-" }
    val sb = new java.lang.StringBuilder(400)
    sb.append("owner").append(x.index % 7).append(' ').append(x.bucket).append(' ')
      .append('[').append(pad2(day)).append("/Jul/2021:").append(pad2(hh)).append(':')
      .append(pad2((sec / 60).toInt)).append(':').append(pad2((sec % 60).toInt)).append(" +0000] ")
      .append(ipText).append(' ').append(x.requester).append(' ').append(x.requestId).append(' ')
      .append(x.operation).append(' ').append(x.key)
      .append(" \"GET /").append(x.bucket).append('/').append(x.key).append(" HTTP/1.1\" ")
      .append(x.status).append(' ').append(error).append(' ').append(bytesText).append(' ')
      .append(1 + r.nextInt(1 << 30)).append(' ').append(1 + r.nextInt(500)).append(' ')
      .append(1 + r.nextInt(100)).append(" \"-\" ").append(UserAgents(r.nextInt(UserAgents.length)))
      .append(" - hostid").append(x.index % 13).append("= SigV4 ECDHE-RSA-AES128-GCM-SHA256 AuthHeader ")
      .append(x.bucket).append(".s3.us-west-2.amazonaws.com TLSv1.2")
      .toString
  }

  /** Write hour `h` as `files` objects named `<HOUR>-MM-SS-<n>` under `dir`
    * (the hour prefix is what `ExportJob.readHour` globs on), one object
    * per thread of the global pool. */
  def writeHour(dir: File, h: Int, files: Int): HourTally = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    dir.mkdirs()
    val per = (shape.lines + files - 1) / files
    val parts = (0 until files).map { f =>
      Future {
        val tally = new HourTally(h)
        val name = f"${hourString(h)}-${f / 60 % 60}%02d-${f % 60}%02d-$f%08X"
        val w = new BufferedWriter(new OutputStreamWriter(
          new FileOutputStream(new File(dir, name)), StandardCharsets.UTF_8), 1 << 20)
        try {
          var i = f * per
          val end = math.min(shape.lines, (f + 1) * per)
          while (i < end) {
            val x = rec(h, i)
            val l = line(x)
            w.write(l); w.write('\n')
            tally.add(x, l.length + 1)
            i += 1
          }
        } finally w.close()
        tally
      }
    }
    val tallies = parts.map(Await.result(_, scala.concurrent.duration.Duration.Inf))
    tallies.tail.foreach(tallies.head.merge)
    tallies.head
  }
}

object LogGen {
  val BaseEpoch = 1626566400L // 2021-07-18T00:00:00Z
  val Keys = 1000
  val RoleSessions = 50
  val Ops: IndexedSeq[String] = IndexedSeq("REST.GET.OBJECT", "REST.PUT.OBJECT", "REST.HEAD.OBJECT",
    "REST.GET.BUCKET", "REST.DELETE.OBJECT", "REST.COPY.OBJECT", "REST.GET.ACL", "REST.POST.UPLOADS")
  val UserAgents: IndexedSeq[String] = IndexedSeq("\"curl/7.68.0\"",
    "\"Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7)\"", "\"aws-sdk-java/1.11.900\"")

  def dayHour(h: Int): (Int, Int) = (18 + h / 24, h % 24)
  def pad2(v: Int): String = if (v < 10) "0" + v else v.toString
  def hex(v: Long, width: Int): String = {
    val s = java.lang.Long.toHexString(v)
    if (s.length >= width) s else "0" * (width - s.length) + s
  }
  def hourString(h: Int): String = { val (d, hh) = dayHour(h); f"2021-07-$d%02d-$hh%02d" }

  /** SplitMix64 finalizer: decorrelates nearby (seed, hour, index) triples. */
  def mix(a: Long, b: Long): Long = {
    var z = a + 0x9E3779B97F4A7C15L * (b + 1)
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}
