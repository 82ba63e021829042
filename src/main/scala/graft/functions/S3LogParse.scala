package graft.functions

import java.nio.charset.StandardCharsets.UTF_8
import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Runtime helpers shared by the interpreted (`nullSafeEval`) and
  * whole-stage-codegen (`doGenCode`) paths of the custom expressions.
  *
  * Deliberately a plain object with no companion class so the Scala
  * compiler emits static forwarders — generated Java from Janino calls
  * `graft.functions.S3LogParse.tokenize(...)` directly.
  */
object S3LogParse {

  /** The reference's tokenizer regex (s3access/serializer.py:5): a field is
    * a quoted string (delimiters stripped), a bracketed timestamp
    * (delimiters stripped), or a space-free run. `tokenize` applies these
    * rules byte by byte; the regex itself serves only lines that are not
    * valid UTF-8. */
  private val TokenPattern: Pattern =
    Pattern.compile("(?:\"([^\"]+)\")|(?:\\[([^\\]]+)\\])|([^ ]+)")

  /** Tokenize one access-log line; per match, the single non-null capture
    * group wins (reference s3access/serializer.py:8-10).
    *
    * One pass over the line's bytes, trying the regex's alternatives in its
    * order at each non-space byte: a `"` with a closing `"` at least one
    * byte on, else a `[` with a closing `]` at least one byte on, else the
    * run up to the next space. The next `"` and `]` are remembered, so a
    * line of unclosed quotes stays linear. The delimiters are ASCII, so
    * on valid UTF-8 these byte rules cut where the regex cuts on chars.
    * The line is copied once and every token is a view into that copy.
    * A line with a byte >= 0x80 that is not valid UTF-8 takes the regex,
    * whose U+FFFD replacements the byte rules cannot reproduce. */
  def tokenize(line: UTF8String): ArrayData = {
    val buf = new Array[Byte](line.numBytes())
    line.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET)
    val n = buf.length
    var out = new Array[AnyRef](32)
    var count = 0
    var bits = 0          // OR of every token byte: bit 7 marks non-ASCII
    var nextQuote = -1    // first '"' after the last search start, or n
    var nextClose = -1    // first ']' likewise
    var p = 0
    while (p < n) {
      val b = buf(p)
      if (b == ' ') p += 1
      else {
        var start = p
        var end = -1
        if (b == '"') {
          if (nextQuote <= p) {
            nextQuote = p + 1
            while (nextQuote < n && buf(nextQuote) != '"') { bits |= buf(nextQuote); nextQuote += 1 }
          }
          if (nextQuote < n && nextQuote > p + 1) { start = p + 1; end = nextQuote }
        } else if (b == '[') {
          if (nextClose <= p) {
            nextClose = p + 1
            while (nextClose < n && buf(nextClose) != ']') { bits |= buf(nextClose); nextClose += 1 }
          }
          if (nextClose < n && nextClose > p + 1) { start = p + 1; end = nextClose }
        }
        if (end < 0) {
          end = p
          while (end < n && buf(end) != ' ') { bits |= buf(end); end += 1 }
          p = end
        } else p = end + 1
        if (count == out.length) out = java.util.Arrays.copyOf(out, count * 2)
        out(count) = UTF8String.fromBytes(buf, start, end - start)
        count += 1
      }
    }
    if ((bits & 0x80) != 0 && !java.util.Arrays.equals(new String(buf, UTF_8).getBytes(UTF_8), buf))
      regexTokenize(line)
    else new GenericArrayData(java.util.Arrays.copyOf(out, count).asInstanceOf[Array[Any]])
  }

  /** `tokenize` by the regex on the decoded line. */
  private def regexTokenize(line: UTF8String): ArrayData = {
    val m = TokenPattern.matcher(line.toString)
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    while (m.find()) {
      val tok =
        if (m.start(1) >= 0) m.group(1)
        else if (m.start(2) >= 0) m.group(2)
        else m.group(3)
      out += UTF8String.fromString(tok)
    }
    new GenericArrayData(out.toArray)
  }

  /** The request time's pattern: `18/Jul/2021:05:00:01 +0000`
    * (reference s3access/normalize.py:53, strptime `%d/%b/%Y:%H:%M:%S %z`). */
  val RequestTimePattern = "dd/MMM/yyyy:HH:mm:ss xx"

  /** `datetime`'s pattern: matches Python datetime.isoformat() for +00:00
    * inputs. */
  val DatetimePattern = "yyyy-MM-dd'T'HH:mm:ssxxx"

  /** The eight fields derived from the request time, in log-schema order. */
  val RequestTimeType: StructType = StructType(Seq(
    StructField("ts", LongType, nullable = false),
    StructField("year", LongType, nullable = false),
    StructField("month", IntegerType, nullable = false),
    StructField("day", IntegerType, nullable = false),
    StructField("hour", IntegerType, nullable = false),
    StructField("minute", IntegerType, nullable = false),
    StructField("second", IntegerType, nullable = false),
    StructField("datetime", StringType, nullable = false)))

  /** Three-letter month names packed big-endian into an int, January first. */
  private val MonthKeys: Array[Int] =
    Array("Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")
      .map(m => (m(0) << 16) | (m(1) << 8) | m(2))

  private val DatetimeTemplate: Array[Byte] = "0000-00-00T00:00:00+00:00".getBytes(UTF_8)

  /** The decimal digit at byte `i`, or a value that sinks any sum it
    * joins far below every range check. */
  private def digit(s: UTF8String, i: Int): Int = {
    val d = s.getByte(i) - '0'
    if (d < 0 || d > 9) -1000000 else d
  }

  private def two(s: UTF8String, i: Int): Int = digit(s, i) * 10 + digit(s, i + 1)

  private def daysInMonth(y: Int, m: Int): Int = m match {
    case 2 => if ((y % 4 == 0 && y % 100 != 0) || y % 400 == 0) 29 else 28
    case 4 | 6 | 9 | 11 => 30
    case _ => 31
  }

  /** Days from 1970-01-01 to a proleptic Gregorian date (Hinnant's
    * days_from_civil; `y` >= 1 here). */
  private def epochDay(y0: Int, m: Int, d: Int): Long = {
    val y = if (m <= 2) y0 - 1 else y0
    val era = y / 400
    val yoe = y - era * 400
    val doy = (153 * (if (m > 2) m - 3 else m + 9) + 2) / 5 + d - 1
    val doe = yoe * 365 + yoe / 4 - yoe / 100 + doy
    era * 146097L + doe - 719468L
  }

  /** The request-time fields of a canonical `dd/MMM/yyyy:HH:mm:ss +0000`
    * token, as a `RequestTimeType` row read in UTC; null for any token it
    * cannot decide by arithmetic alone: another length or offset, a
    * month name not spelled `Jan`..`Dec`, a year outside 1000..9999, or a
    * field out of range (days-in-month and leap years included). Such
    * tokens are left to Spark's own formatter. */
  def requestTimeUtc(s: UTF8String): InternalRow = {
    def at(i: Int): Byte = s.getByte(i)
    if (s.numBytes() != 26 || at(2) != '/' || at(6) != '/' || at(11) != ':' || at(14) != ':' ||
        at(17) != ':' || at(20) != ' ' || at(21) != '+' || at(22) != '0' || at(23) != '0' ||
        at(24) != '0' || at(25) != '0') return null
    val key = ((at(3) & 0xff) << 16) | ((at(4) & 0xff) << 8) | (at(5) & 0xff)
    var mi = 0
    while (mi < 12 && MonthKeys(mi) != key) mi += 1
    val month = mi + 1
    val day = two(s, 0)
    val year = two(s, 7) * 100 + two(s, 9)
    val hour = two(s, 12)
    val minute = two(s, 15)
    val second = two(s, 18)
    if (month > 12 || year < 1000 || year > 9999 || hour < 0 || hour > 23 ||
        minute < 0 || minute > 59 || second < 0 || second > 59 ||
        day < 1 || day > daysInMonth(year, month)) return null
    val ts = epochDay(year, month, day) * 86400L + hour * 3600 + minute * 60 + second
    // yyyy-MM-ddTHH:mm:ss+00:00, copied from the token's own digits
    val dt = DatetimeTemplate.clone()
    var i = 0
    while (i < 4) { dt(i) = at(7 + i); i += 1 }
    dt(5) = ('0' + month / 10).toByte; dt(6) = ('0' + month % 10).toByte
    dt(8) = at(0); dt(9) = at(1)
    i = 0
    while (i < 8) { dt(11 + i) = at(12 + i); i += 1 }
    new GenericInternalRow(Array[Any](ts, year.toLong, month, day, hour, minute, second,
      UTF8String.fromBytes(dt)))
  }

  /** A numeric field's token as a long (reference `field_to_int`,
    * s3access/normalize.py:9-15): `-` gives 0, a run of ASCII digits its
    * value; -1 stands for NULL (a digit run above Long.MaxValue, or any
    * token the `^\d+$` gate rejects). Tokens that are neither `-` nor all
    * ASCII digits take that regex gate and Spark's string-to-long cast, so
    * they convert exactly as `try_cast` would after the gate. */
  def dashToLong(s: UTF8String): Long = {
    val n = s.numBytes()
    if (n == 1 && s.getByte(0) == '-') return 0L
    var v = 0L
    var i = 0
    while (i < n) {
      val d = s.getByte(i) - '0'
      if (d < 0 || d > 9) return gatedToLong(s)
      if (v > (Long.MaxValue - d) / 10) return -1L
      v = v * 10 + d
      i += 1
    }
    if (n == 0) -1L else v
  }

  private val DigitsPattern: Pattern = Pattern.compile("^\\d+$")

  private def gatedToLong(s: UTF8String): Long = {
    val w = new UTF8String.LongWrapper
    if (DigitsPattern.matcher(s.toString).find() && s.toLong(w)) w.value else -1L
  }

  /** 64-bit polynomial rolling hash of a string's UTF-8 bytes
    * (h = h*1000003 + b, wrapping): the per-document fingerprint primitive —
    * O(n), no allocation, and the polynomial form supports incremental
    * window updates for character-level winnowing. */
  def rollingHash64(s: UTF8String): Long = {
    val n = s.numBytes()
    var h = 1469598103934665603L // FNV offset basis as a non-zero seed
    var i = 0
    while (i < n) {
      h = h * 1000003L + (s.getByte(i) & 0xffL)
      i += 1
    }
    h
  }

  /** Dotted-quad IPv4 → unsigned-32 value as long; -1 when the input is not
    * a valid IPv4 literal (caller maps -1 to NULL — SURVEY.md §1.4#5).
    * Allocation-free fast path. */
  def ipv4ToLong(ip: UTF8String): Long = {
    val n = ip.numBytes()
    if (n < 7 || n > 15) return -1L
    var acc = 0L      // current octet
    var digits = 0    // digits in current octet
    var octets = 0    // completed octets
    var value = 0L
    var i = 0
    while (i < n) {
      val b = ip.getByte(i)
      if (b >= '0' && b <= '9') {
        acc = acc * 10 + (b - '0')
        digits += 1
        if (digits > 3 || acc > 255) return -1L
      } else if (b == '.') {
        if (digits == 0 || octets == 3) return -1L
        value = (value << 8) | acc
        acc = 0L; digits = 0; octets += 1
      } else return -1L
      i += 1
    }
    if (digits == 0 || octets != 3) return -1L
    (value << 8) | acc
  }
}
