package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.unsafe.types.UTF8String

/** Count-Min Sketch (Cormode & Muthukrishnan 2005) as a native
  * TypedImperativeAggregate — the constant-memory frequency sketch for
  * 100 TB streams: each partition folds its rows into a depth×width
  * counter grid, partials merge by elementwise add (commutative,
  * associative), and only `depth*width*8` bytes ever cross the shuffle
  * regardless of input size or cardinality.
  *
  * Guarantees (ε = e/width, δ = e^-depth): estimate ≥ true count always
  * (one-sided error), and estimate ≤ true + ε·N with probability 1-δ.
  *
  * The sketch is emitted as a self-describing binary (depth, width,
  * counters) so it composes: store it, union it later (elementwise add),
  * or query it with the scalar `cms_estimate`.
  */
object CountMinSketchFormat {
  /** [int depth][int width][depth*width longs], big-endian. */
  def serialize(depth: Int, width: Int, counters: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 + counters.length * 8)
    bb.putInt(depth).putInt(width)
    var i = 0
    while (i < counters.length) { bb.putLong(counters(i)); i += 1 }
    bb.array()
  }

  def deserialize(bytes: Array[Byte]): (Int, Int, Array[Long]) = {
    val bb = ByteBuffer.wrap(bytes)
    val depth = bb.getInt; val width = bb.getInt
    val counters = new Array[Long](depth * width)
    var i = 0
    while (i < counters.length) { counters(i) = bb.getLong; i += 1 }
    (depth, width, counters)
  }

  /** Row i's bucket for an item: murmur3 seeded by the row index —
    * pairwise-independent enough in practice, deterministic everywhere. */
  def bucket(item: UTF8String, row: Int, width: Int): Int = {
    val h = Murmur3_x86_32.hashUnsafeBytes(
      item.getBaseObject, item.getBaseOffset, item.numBytes, row)
    ((h % width) + width) % width
  }

  /** Equi-join cardinality estimate from two sketches of the SAME
    * (depth, width): min over rows of the counter inner product —
    * `E[est] = |A ⋈ B| + N_A·N_B/width`, never an underestimate
    * (Cormode & Muthukrishnan §4.2, the classic sketch-based join-size
    * estimator). The planner use: decide broadcast vs shuffle vs
    * bloom-prune for a fact⋈fact join from two 80 KiB sketches instead
    * of running the join — at 100 TB the stats pass is free (the
    * sketches are one map-side-combined aggregate each, storable
    * alongside the data). */
  def joinSize(a: Array[Byte], b: Array[Byte]): Long = {
    val (da, wa, ca) = deserialize(a)
    val (db, wb, cb) = deserialize(b)
    require(da == db && wa == wb,
      s"cms_join_size: sketch shapes differ: ${da}x$wa vs ${db}x$wb")
    var min = Long.MaxValue
    var i = 0
    while (i < da) {
      var dot = 0L
      var j = 0
      while (j < wa) { dot += ca(i * wa + j) * cb(i * wa + j); j += 1 }
      if (dot < min) min = dot
      i += 1
    }
    min
  }

  def estimate(bytes: Array[Byte], item: UTF8String): Long = {
    val (depth, width, counters) = deserialize(bytes)
    var min = Long.MaxValue
    var i = 0
    while (i < depth) {
      val c = counters(i * width + bucket(item, i, width))
      if (c < min) min = c
      i += 1
    }
    min
  }
}

/** `cms_sketch(col[, depth, width])`: aggregate a string column into a
  * Count-Min Sketch (binary). Defaults depth=5 (δ≈0.7%), width=2048
  * (ε≈0.13%) — 80 KiB per group. */
case class CountMinSketchAgg(
    child: Expression,
    depth: Int = 5,
    width: Int = 2048,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression]
  with ExpectsInputTypes {

  require(depth >= 1 && width >= 1,
    s"cms_sketch: depth, width must be >= 1, got depth=$depth, width=$width")

  override def inputTypes: Seq[DataType] = Seq(StringType)

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false

  override def createAggregationBuffer(): Array[Long] = new Array[Long](depth * width)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val s = v.asInstanceOf[UTF8String]
      var i = 0
      while (i < depth) {
        buf(i * width + CountMinSketchFormat.bucket(s, i, width)) += 1L
        i += 1
      }
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buf.length) { buf(i) += other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any =
    CountMinSketchFormat.serialize(depth, width, buf)

  override def serialize(buf: Array[Long]): Array[Byte] =
    CountMinSketchFormat.serialize(depth, width, buf)

  override def deserialize(bytes: Array[Byte]): Array[Long] =
    CountMinSketchFormat.deserialize(bytes)._3

  override def withNewMutableAggBufferOffset(newOffset: Int): CountMinSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CountMinSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): CountMinSketchAgg =
    copy(child = newChild)
  override def prettyName: String = "cms_sketch"
}

/** `cms_estimate(sketch, item)`: point-frequency estimate from a
  * `cms_sketch` binary — min over the sketch's rows of the item's
  * bucket counter. Never underestimates. */
case class CmsEstimate(left: Expression, right: Expression)
  extends BinaryExpression with ExpectsInputTypes {
  override def dataType: DataType = LongType
  override def inputTypes: Seq[DataType] = Seq(BinaryType, StringType)

  override def nullSafeEval(sketch: Any, item: Any): Any =
    CountMinSketchFormat.estimate(
      sketch.asInstanceOf[Array[Byte]], item.asInstanceOf[UTF8String])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.CountMinSketchFormat.estimate($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CmsEstimate =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "cms_estimate"
}

/** `cms_join_size(sketchA, sketchB)`: equi-join cardinality estimate —
  * min-over-rows counter inner product of two same-shape `cms_sketch`
  * binaries. One-sided: never underestimates the true join size. */
case class CmsJoinSize(left: Expression, right: Expression)
  extends BinaryExpression with ExpectsInputTypes {
  override def dataType: DataType = LongType
  override def inputTypes: Seq[DataType] = Seq(BinaryType, BinaryType)

  override def nullSafeEval(a: Any, b: Any): Any =
    CountMinSketchFormat.joinSize(
      a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.CountMinSketchFormat.joinSize($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CmsJoinSize =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "cms_join_size"
}
