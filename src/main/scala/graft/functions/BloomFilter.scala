package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._

/** Bloom filter (Bloom 1970) over a LONG key column as a native
  * TypedImperativeAggregate — the shuffle-avoidance sketch for 100 TB
  * joins: when the build side of a semi join is too big to broadcast
  * as rows but its KEY SET fits a few hundred KiB of bits, broadcast
  * the bits and prune the probe side BEFORE any shuffle. False
  * positives only (never drops a real match), so a downstream exact
  * join stays correct while touching a fraction of the rows —
  * Spark's own runtime row-level filtering does exactly this,
  * internally, for shuffle joins; exposing it as `bloom_agg` /
  * `bloom_might_contain` makes the plan explicit, storable and
  * composable (build once, prune many pipelines).
  *
  * Bits per key ≈ 1.44·k for FPP 2^-k; defaults (numBits = 2^20,
  * k = 6) hold ~100k keys at ~1.6% FPP in 128 KiB.
  *
  * Hashing: splitmix64 double hashing — `g_i = h1 + i·h2` (Kirsch &
  * Mitzenmacher 2006: two independent hashes simulate k) with both
  * halves from one splitmix64 stream, deterministic across JVMs.
  */
object BloomFormat {
  /** [int k][int numWords][numWords longs], big-endian. */
  def serialize(k: Int, words: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 + words.length * 8)
    bb.putInt(k).putInt(words.length)
    var i = 0
    while (i < words.length) { bb.putLong(words(i)); i += 1 }
    bb.array()
  }

  def deserialize(bytes: Array[Byte]): (Int, Array[Long]) = {
    val bb = ByteBuffer.wrap(bytes)
    val k = bb.getInt; val n = bb.getInt
    val words = new Array[Long](n)
    var i = 0
    while (i < n) { words(i) = bb.getLong; i += 1 }
    (k, words)
  }

  def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  def setBits(words: Array[Long], key: Long, k: Int): Unit = {
    val numBits = words.length.toLong * 64L
    val h1 = splitmix64(key)
    val h2 = splitmix64(h1) | 1L
    var i = 0
    while (i < k) {
      val bit = java.lang.Long.remainderUnsigned(h1 + i.toLong * h2, numBits)
      words((bit >>> 6).toInt) |= (1L << (bit & 63))
      i += 1
    }
  }

  def mightContain(bytes: Array[Byte], key: Long): Boolean = {
    val bb = ByteBuffer.wrap(bytes)
    val k = bb.getInt; val n = bb.getInt
    val numBits = n.toLong * 64L
    val h1 = splitmix64(key)
    val h2 = splitmix64(h1) | 1L
    var i = 0
    while (i < k) {
      val bit = java.lang.Long.remainderUnsigned(h1 + i.toLong * h2, numBits)
      val word = bb.getLong(8 + (bit >>> 6).toInt * 8)
      if ((word & (1L << (bit & 63))) == 0L) return false
      i += 1
    }
    true
  }
}

/** `bloom_agg(col[, numBits, k])`: aggregate a LONG key column into a
  * Bloom filter binary. numBits is rounded up to a multiple of 64. */
case class BloomAgg(
    child: Expression,
    numBits: Int = 1 << 20,
    k: Int = 6,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression]
  with ExpectsInputTypes {

  require(numBits >= 64 && k >= 1,
    s"bloom_agg: need numBits >= 64 and k >= 1, got ($numBits, $k)")

  override def inputTypes: Seq[DataType] = Seq(LongType)

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false

  private def numWords: Int = (numBits + 63) / 64

  override def createAggregationBuffer(): Array[Long] = new Array[Long](numWords)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) BloomFormat.setBits(buf, v.asInstanceOf[Long], k)
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buf.length) { buf(i) |= other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any = BloomFormat.serialize(k, buf)

  override def serialize(buf: Array[Long]): Array[Byte] =
    BloomFormat.serialize(k, buf)

  override def deserialize(bytes: Array[Byte]): Array[Long] =
    BloomFormat.deserialize(bytes)._2

  override def withNewMutableAggBufferOffset(newOffset: Int): BloomAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): BloomAgg =
    copy(child = newChild)
  override def prettyName: String = "bloom_agg"
}

/** `bloom_might_contain(bloom, key)`: membership probe — false means
  * definitely absent; true means present or a false positive. Stays in
  * whole-stage codegen (static call, no boxing in the hot loop). */
case class BloomMightContain(left: Expression, right: Expression)
  extends BinaryExpression with ExpectsInputTypes {
  override def dataType: DataType = BooleanType
  override def inputTypes: Seq[DataType] = Seq(BinaryType, LongType)

  override def nullSafeEval(bloom: Any, key: Any): Any =
    BloomFormat.mightContain(bloom.asInstanceOf[Array[Byte]], key.asInstanceOf[Long])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.BloomFormat.mightContain($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BloomMightContain =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "bloom_might_contain"
}
