package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** HyperLogLog (Flajolet, Fusy, Gandouet & Meunier, AofA 2007) as a
  * native TypedImperativeAggregate — the cardinality member of the
  * engine's storable sketch family (CMS = frequency, Bloom =
  * membership, top_k = heavy hitters, HLL = distinct count).
  *
  * Positioning vs Spark's built-ins: `approx_count_distinct` never
  * exposes its sketch; `hll_sketch_agg` (DataSketches, used by
  * [[graft.ops.Rollup]]'s partials) IS first-class but its binary is
  * the DataSketches library format — library-versioned, opaque to
  * audit, minimum error config limited. This implementation is the
  * ~100-line classic-HLL whose 1+2^p-byte register format is PINNED by
  * this file alone (a standing partials store outlives Spark
  * upgrades), uniform with the repo's other sketch binaries, and
  * register-auditable in specs (the union test asserts REGISTER
  * equality, not estimate closeness). 2^p one-byte registers; p=12 →
  * 4 KiB and ~1.6% standard error (1.04/√m), mergeable losslessly
  * forever.
  *
  * Estimator: the classic alpha_m·m²/Σ2^(−reg) with the small-range
  * linear-counting correction below 2.5m when empty registers remain;
  * the 64-bit hash (Spark's XXH64) makes the 32-bit large-range
  * correction unnecessary. Deterministic across JVMs/partitionings —
  * register content is a pure max over per-item hashes.
  */
object HllFormat {
  /** [byte p][2^p register bytes]. */
  def serialize(p: Int, regs: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](1 + regs.length)
    out(0) = p.toByte
    System.arraycopy(regs, 0, out, 1, regs.length)
    out
  }

  def deserialize(bytes: Array[Byte]): (Int, Array[Byte]) = {
    val p = bytes(0).toInt
    val regs = new Array[Byte](bytes.length - 1)
    System.arraycopy(bytes, 1, regs, 0, regs.length)
    (p, regs)
  }

  def update(regs: Array[Byte], p: Int, item: UTF8String): Unit = {
    val h = XXH64.hashUnsafeBytes(item.getBaseObject, item.getBaseOffset,
      item.numBytes, 42L)
    val idx = (h >>> (64 - p)).toInt
    val w = h << p
    // rho = leading-zero run of the remaining 64−p bits, +1; an all-zero
    // suffix caps at 64−p+1
    val rho = (math.min(java.lang.Long.numberOfLeadingZeros(w), 64 - p) + 1).toByte
    if (rho > regs(idx)) regs(idx) = rho
  }

  def merge(a: Array[Byte], b: Array[Byte]): Unit = {
    var i = 0
    while (i < a.length) { if (b(i) > a(i)) a(i) = b(i); i += 1 }
  }

  def estimate(bytes: Array[Byte]): Long = {
    val (_, regs) = deserialize(bytes)
    val m = regs.length
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _ => 0.7213 / (1.0 + 1.079 / m)
    }
    var invSum = 0.0
    var zeros = 0
    var i = 0
    while (i < m) {
      invSum += java.lang.Math.scalb(1.0, -regs(i))
      if (regs(i) == 0) zeros += 1
      i += 1
    }
    val raw = alpha * m * m / invSum
    val est =
      if (raw <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros)
      else raw
    math.round(est)
  }
}

/** `hll_sketch(col[, p])`: aggregate a string column into an HLL
  * register binary (2^p + 1 bytes). Default p=12 (~1.6% error, 4 KiB). */
case class HllAgg(
    child: Expression,
    p: Int = 12,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] with UnaryLike[Expression]
  with ExpectsInputTypes {

  require(p >= 4 && p <= 18, s"hll_sketch: p in [4, 18], got $p")

  override def inputTypes: Seq[DataType] = Seq(StringType)

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false

  override def createAggregationBuffer(): Array[Byte] = new Array[Byte](1 << p)

  override def update(buf: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) HllFormat.update(buf, p, v.asInstanceOf[UTF8String])
    buf
  }

  override def merge(buf: Array[Byte], other: Array[Byte]): Array[Byte] = {
    HllFormat.merge(buf, other)
    buf
  }

  override def eval(buf: Array[Byte]): Any = HllFormat.serialize(p, buf)

  override def serialize(buf: Array[Byte]): Array[Byte] =
    HllFormat.serialize(p, buf)

  override def deserialize(bytes: Array[Byte]): Array[Byte] =
    HllFormat.deserialize(bytes)._2

  override def withNewMutableAggBufferOffset(newOffset: Int): HllAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HllAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): HllAgg =
    copy(child = newChild)
  override def prettyName: String = "hll_sketch"
}

/** `hll_union(sketches)`: aggregate STORED `hll_sketch` binaries into
  * their register-max union — the serve-time half of the partials
  * pattern. All inputs must share p (asserted). */
case class HllUnionAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] with UnaryLike[Expression]
  with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(BinaryType)

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false

  /** Empty marker until the first sketch fixes p. */
  override def createAggregationBuffer(): Array[Byte] = Array.emptyByteArray

  private def mergeSketch(buf: Array[Byte], sk: Array[Byte]): Array[Byte] =
    if (buf.isEmpty) sk.clone()
    else {
      require(buf(0) == sk(0),
        s"hll_union: precision mismatch (p=${buf(0)} vs p=${sk(0)})")
      var i = 1
      while (i < buf.length) { if (sk(i) > buf(i)) buf(i) = sk(i); i += 1 }
      buf
    }

  override def update(buf: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v == null) buf else mergeSketch(buf, v.asInstanceOf[Array[Byte]])
  }

  override def merge(buf: Array[Byte], other: Array[Byte]): Array[Byte] =
    if (other.isEmpty) buf else mergeSketch(buf, other)

  override def eval(buf: Array[Byte]): Any = buf

  override def serialize(buf: Array[Byte]): Array[Byte] = buf
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes

  override def withNewMutableAggBufferOffset(newOffset: Int): HllUnionAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HllUnionAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): HllUnionAgg =
    copy(child = newChild)
  override def prettyName: String = "hll_union"
}

/** `hll_estimate(sketch)`: cardinality estimate from an `hll_sketch` /
  * `hll_union` binary. */
case class HllEstimate(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = LongType
  override def inputTypes: Seq[DataType] = Seq(BinaryType)

  override def nullSafeEval(sketch: Any): Any =
    HllFormat.estimate(sketch.asInstanceOf[Array[Byte]])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) =
    defineCodeGen(ctx, ev, a => s"graft.functions.HllFormat.estimate($a)")

  override protected def withNewChildInternal(newChild: Expression): HllEstimate =
    copy(child = newChild)
  override def prettyName: String = "hll_estimate"
}
