package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, GenericInternalRow, TimeZoneAwareExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{DateTimeConstants, DateTimeUtils, LegacyDateFormats, TimestampFormatter}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions. The access-log parse (SURVEY.md §2.2) is
  * four of them: the tokenizer, the request-time fields, the numeric
  * fields and IPv4→int. Each implements `doGenCode` so it stays inside
  * whole-stage codegen — no UDF serialization, no row-at-a-time boxing
  * beyond the unavoidable string work.
  */

/** Splits one S3 access-log line into its fields.
  * Reference: s3access/serializer.py:5-10. Output never contains nulls
  * (absent fields arrive as literal "-" tokens). */
case class TokenizeS3Log(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def nullSafeEval(input: Any): Any =
    S3LogParse.tokenize(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.S3LogParse.tokenize($c)")
  override protected def withNewChildInternal(newChild: Expression): TokenizeS3Log =
    copy(child = newChild)
  override def prettyName: String = "tokenize_s3_log"
}

/** The eight fields derived from an access-log request time (reference
  * s3access/normalize.py:53-66) as one `S3LogParse.RequestTimeType`
  * struct, NULL when the token does not parse. Equal, field by field, to
  * `try_to_timestamp(child, RequestTimePattern)` followed by
  * `unix_timestamp`, `year` (as long), `month`, `dayofmonth`, `hour`,
  * `minute`, `second` and `date_format(DatetimePattern)` in the session
  * zone. A UTC session reads canonical tokens by arithmetic
  * (`S3LogParse.requestTimeUtc`); every other token, and every token in
  * another zone, goes through Spark's own `TimestampFormatter`. */
case class S3RequestTime(child: Expression, timeZoneId: Option[String] = None)
  extends UnaryExpression with TimeZoneAwareExpression with ExpectsInputTypes {
  override def dataType: DataType = S3LogParse.RequestTimeType
  override def nullable: Boolean = true
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def withTimeZone(tz: String): S3RequestTime = copy(timeZoneId = Option(tz))

  @transient private lazy val utc = zoneId.normalized() == java.time.ZoneOffset.UTC
  @transient private lazy val parser = TimestampFormatter(S3LogParse.RequestTimePattern, zoneId,
    LegacyDateFormats.SIMPLE_DATE_FORMAT, isParsing = true)
  @transient private lazy val printer = TimestampFormatter(S3LogParse.DatetimePattern, zoneId,
    LegacyDateFormats.SIMPLE_DATE_FORMAT, isParsing = false)

  /** Spark's formatter path: what `try_to_timestamp` and the extractors
    * compute, NULL where `try_to_timestamp` gives NULL. */
  def viaFormatter(s: UTF8String): InternalRow = {
    val micros =
      try parser.parse(s.toString)
      catch { case _: java.time.DateTimeException | _: java.text.ParseException => return null }
    val days = DateTimeUtils.microsToDays(micros, zoneId)
    new GenericInternalRow(Array[Any](
      Math.floorDiv(micros, DateTimeConstants.MICROS_PER_SECOND),
      DateTimeUtils.getYear(days).toLong, DateTimeUtils.getMonth(days),
      DateTimeUtils.getDayOfMonth(days), DateTimeUtils.getHours(micros, zoneId),
      DateTimeUtils.getMinutes(micros, zoneId), DateTimeUtils.getSeconds(micros, zoneId),
      UTF8String.fromString(printer.format(micros))))
  }

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val fast = if (utc) S3LogParse.requestTimeUtc(s) else null
    if (fast != null) fast else viaFormatter(s)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("requestTime", this)
    nullSafeCodeGen(ctx, ev, c => {
      val fast = if (utc) s"graft.functions.S3LogParse.requestTimeUtc($c)" else "null"
      s"""${ev.value} = $fast;
         |if (${ev.value} == null) ${ev.value} = $self.viaFormatter($c);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin
    })
  }
  override protected def withNewChildInternal(newChild: Expression): S3RequestTime =
    copy(child = newChild)
  override def prettyName: String = "s3_request_time"
}

/** A numeric access-log field as a long (S3LogParse.dashToLong): `-` → 0,
  * digits → their value (reference `field_to_int`, s3access/normalize.py:9-15
  * — the sentinel erases the null/zero distinction deliberately, for
  * parity). Non-numeric garbage, and a digit run above Long.MaxValue,
  * → NULL, never an error: one corrupt line must not kill a 100 TB job
  * (the reference does crash there — divergence as with IPv4, SURVEY
  * §1.4#5). */
case class DashToLong(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def nullSafeEval(input: Any): Any = {
    val r = S3LogParse.dashToLong(input.asInstanceOf[UTF8String])
    if (r >= 0L) java.lang.Long.valueOf(r) else null
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.S3LogParse.dashToLong($c);
         |${ev.isNull} = ${ev.value} < 0L;""".stripMargin)
  override protected def withNewChildInternal(newChild: Expression): DashToLong =
    copy(child = newChild)
  override def prettyName: String = "dash_to_long"
}

/** Dotted-quad IPv4 string → its unsigned 32-bit value as a long.
  * Reference: s3access/normalize.py:70 (`int(ipaddress.IPv4Address(ip))`),
  * where invalid input kills the run (cmd/export.py:109-111). Here invalid
  * input is NULL (hostile-input-safe at 100 TB scale), and the export
  * counts such rows in its marker's `bad_ip` field. */
case class Ipv4ToLong(child: Expression)
  extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def nullSafeEval(input: Any): Any = {
    val r = S3LogParse.ipv4ToLong(input.asInstanceOf[UTF8String])
    if (r >= 0L) java.lang.Long.valueOf(r) else null
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |${ev.value} = graft.functions.S3LogParse.ipv4ToLong($c);
         |if (${ev.value} < 0L) { ${ev.isNull} = true; }
       """.stripMargin)
  override protected def withNewChildInternal(newChild: Expression): Ipv4ToLong =
    copy(child = newChild)
  override def prettyName: String = "ipv4_to_long"
}

/** 64-bit polynomial rolling hash of a string (document-fingerprint
  * primitive; see S3LogParse.rollingHash64). Codegen'd; deterministic
  * across partitions/engines-with-this-library. */
case class RollingHash64(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = LongType
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def nullSafeEval(input: Any): Any =
    S3LogParse.rollingHash64(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.S3LogParse.rollingHash64($c)")
  override protected def withNewChildInternal(newChild: Expression): RollingHash64 =
    copy(child = newChild)
  override def prettyName: String = "rolling_hash64"
}

/** Cosine similarity between two `array<float>` columns as a native
  * binary expression: one fused loop computing dot product and both
  * norms with double accumulation — replaces a 3×(zip_with+aggregate)
  * HOF chain in the ANN hot path while producing bit-identical values
  * (same accumulation order; asserted in ParseSpec). */
case class CosineSimilarity(left: Expression, right: Expression)
  extends BinaryExpression with ExpectsInputTypes {
  override def dataType: DataType = DoubleType
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def nullSafeEval(a: Any, b: Any): Any =
    VectorOps.cosineFloat(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorOps.cosineFloat($a, $b)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "cosine_similarity"
}

/** Exact integer dot product between two `array<bigint>` columns (the
  * int8-quantization hot path): one fused codegen'd loop. The
  * zip_with+aggregate HOF formulation it replaces is CodegenFallback —
  * interpreted per row, with its whole defining expression tree inlined
  * into any join condition or filter that references it (measured ~1.6 s
  * of flat overhead on q47's verify filter vs ~0 for this expression). */
case class IntDot(left: Expression, right: Expression)
  extends BinaryExpression with ExpectsInputTypes {
  override def dataType: DataType = LongType
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType), ArrayType(LongType))
  override def nullSafeEval(a: Any, b: Any): Any =
    VectorOps.dotLong(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorOps.dotLong($a, $b)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): IntDot =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "int_dot"
}

/** Winnowing fingerprint selection (Schleimer SIGMOD'03) over a token
  * array: k-gram md5-prefix hashes + w-window minima + distinct, as ONE
  * codegen'd kernel call per document (WinnowOps scaladoc has the
  * hash/tie contract and the measured win over the HOF chain). k and w
  * are plan-time constants — baked into the generated call site. */
case class WinnowFingerprints(child: Expression, k: Int, w: Int)
  extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  require(k >= 1 && w >= 1, s"winnow_fingerprints: k, w must be >= 1, got k=$k, w=$w")
  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def nullSafeEval(input: Any): Any =
    WinnowOps.fingerprints(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], k, w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WinnowOps.fingerprints($c, $k, $w)")
  override protected def withNewChildInternal(newChild: Expression): WinnowFingerprints =
    copy(child = newChild)
  override def prettyName: String = "winnow_fingerprints"
}

/** Exact integer squared L2 distance over two ARRAY<BIGINT> columns as
  * one codegen'd kernel call per row (VectorOps.sqDistLong has the
  * null/padding contract vs the HOF chain it replaces — bit parity in
  * Wave29Spec). The assignment hot path of the grid k-means family:
  * one call per (vector, centroid) pair instead of an interpreted
  * expression-tree fold. */
case class IntSqDist(left: Expression, right: Expression)
  extends BinaryExpression with ExpectsInputTypes {
  override def dataType: DataType = LongType
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType), ArrayType(LongType))
  override def nullSafeEval(a: Any, b: Any): Any =
    VectorOps.sqDistLong(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorOps.sqDistLong($a, $b)")
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): IntSqDist = copy(left = newLeft, right = newRight)
  override def prettyName: String = "int_sqdist"
}

/** Exact-decimal dot product of two numeric arrays as one codegen'd
  * kernel call per row (DecimalOps scaladoc has the bit contract vs
  * the aggregate/zip_with HOF chain it replaces). The scale is a
  * plan-time constant; each side may be array<float> or array<double>
  * — the getters are baked into the generated call. */
case class DecDot(left: Expression, right: Expression, scale: Int)
  extends BinaryExpression with ExpectsInputTypes {
  private def elemIsDouble(e: Expression): Boolean = e.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }
  require(scale >= 0 && scale <= 18, s"dec_dot: scale must be in [0, 18], got $scale")
  override def inputTypes = {
    val elems = Bridge.anyOf(ArrayType(FloatType), ArrayType(DoubleType))
    Seq(elems, elems)
  }
  override def dataType: DataType = DecimalType(28, scale)
  override def nullable: Boolean = true
  override def nullSafeEval(a: Any, b: Any): Any =
    DecimalOps.decDot(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      scale, elemIsDouble(left), elemIsDouble(right))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val xd = elemIsDouble(left)
    val yd = elemIsDouble(right)
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""${ev.value} = graft.functions.DecimalOps.decDot($a, $b, $scale, $xd, $yd);
         |if (${ev.value} == null) { ${ev.isNull} = true; }""".stripMargin
    })
  }
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): DecDot = copy(left = newLeft, right = newRight)
  override def prettyName: String = "dec_dot"
}

/** Per-offset rolling hashes of every length-L character window of a
  * string as one codegen'd kernel call per row (TextWindowOps scaladoc
  * has the semantics and the suffix-array comparison). L is a
  * plan-time constant baked into the generated call site. */
case class SubstrWindowHashes(child: Expression, win: Int)
  extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  require(win >= 1, s"substr_window_hashes: L must be >= 1, got $win")
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def nullSafeEval(input: Any): Any =
    TextWindowOps.windowHashes(input.asInstanceOf[UTF8String], win)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextWindowOps.windowHashes($c, $win)")
  override protected def withNewChildInternal(newChild: Expression): SubstrWindowHashes =
    copy(child = newChild)
  override def prettyName: String = "substr_window_hashes"
}

/** Word n-grams of a token array as one codegen'd kernel call per row
  * (NGramOps scaladoc has the semantics contract and the measured win
  * over the HOF chain). n and the distinct flag are plan-time
  * constants baked into the generated call site. */
case class WordNGrams(child: Expression, n: Int, distinct: Boolean)
  extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  require(n >= 1, s"word_ngrams: n must be >= 1, got $n")
  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def nullSafeEval(input: Any): Any =
    NGramOps.ngrams(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], n, distinct)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NGramOps.ngrams($c, $n, $distinct)")
  override protected def withNewChildInternal(newChild: Expression): WordNGrams =
    copy(child = newChild)
  override def prettyName: String = "word_ngrams"
}

/** Per-pattern OVERLAPPING occurrence counts of a literal pattern list
  * as one codegen'd kernel call per row (AhoCorasick scaladoc has the
  * semantics and complexity contract). The pattern list is a plan-time
  * constant; the built automaton ships as a codegen reference object. */
case class AcCounts(child: Expression, patterns: Seq[String])
  extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  require(patterns.nonEmpty && patterns.forall(_.nonEmpty),
    s"ac_counts: needs >= 1 non-empty pattern, got ${patterns.size} patterns")
  override def inputTypes: Seq[DataType] = Seq(StringType)
  @transient private lazy val ac = AhoCorasick.build(patterns)
  override def nullSafeEval(input: Any): Any =
    ac.countsAll(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val acRef = ctx.addReferenceObj("acAutomaton", ac,
      classOf[AhoCorasick].getName)
    defineCodeGen(ctx, ev, c => s"$acRef.countsAll($c)")
  }
  override protected def withNewChildInternal(newChild: Expression): AcCounts =
    copy(child = newChild)
  override def prettyName: String = "ac_counts"
}

/** Column-level entry points for the custom expressions. */
object exprs {
  import org.apache.spark.sql.graftbridge.Bridge.{column, expression}

  def tokenize_s3_log(c: Column): Column = column(TokenizeS3Log(expression(c)))
  def s3_request_time(c: Column): Column = column(S3RequestTime(expression(c)))
  def dash_to_long(c: Column): Column = column(DashToLong(expression(c)))
  def ipv4_to_long(c: Column): Column = column(Ipv4ToLong(expression(c)))
  def cosine_similarity(a: Column, b: Column): Column =
    column(CosineSimilarity(expression(a), expression(b)))
  def int_dot(a: Column, b: Column): Column =
    column(IntDot(expression(a), expression(b)))
  def rolling_hash64(c: Column): Column = column(RollingHash64(expression(c)))
  def winnow_fingerprints(c: Column, k: Int, w: Int): Column =
    column(WinnowFingerprints(expression(c), k, w))
  def substr_window_hashes(c: Column, win: Int): Column =
    column(SubstrWindowHashes(expression(c), win))
  def ac_counts(c: Column, patterns: Seq[String]): Column =
    column(AcCounts(expression(c), patterns))
  def int_sqdist(a: Column, b: Column): Column =
    column(IntSqDist(expression(a), expression(b)))
  def dec_dot(a: Column, b: Column, scale: Int): Column =
    column(DecDot(expression(a), expression(b), scale))
  def word_ngrams(c: Column, n: Int, distinct: Boolean = false): Column =
    column(WordNGrams(expression(c), n, distinct))
  def cms_sketch(c: Column, depth: Int = 5, width: Int = 2048): Column =
    column(CountMinSketchAgg(expression(c), depth, width).toAggregateExpression())
  def cms_estimate(sketch: Column, item: Column): Column =
    column(CmsEstimate(expression(sketch), expression(item)))
}
