package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Bounded top-k per group — the scale path for "k best rows per key".
  *
  * Spark ≥3.5's own optimizer already softens the window formulation
  * (`filter(row_number().over(partitionBy(key).orderBy(v)) <= k)`): a
  * Partial `WindowGroupLimit` below the Exchange caps the shuffle at k
  * rows per key per task. What the window still pays that this aggregate
  * does not: a FULL local sort of every task's input on both sides of
  * the exchange (WindowGroupLimit requires sorted input), versus O(n)
  * heap updates here with no sort buffer; and a sort-based rather than
  * hash-based final stage. Same asymptotic win as the reference's layout
  * tricks: do the selection before the expensive movement, not after.
  *
  * Implemented as a native `TypedImperativeAggregate` over FLAT PRIMITIVE
  * arrays (model: [[graft.functions.CountMinSketchAgg]]): the previous
  * typed `Aggregator` rode `Encoders.kryo[ArrayBuffer[Entry]]`, which
  * serialized a generic object graph through Kryo on EVERY partial-merge
  * hop — per-entry boxing plus class headers on the shuffle. The
  * imperative buffer is two primitive arrays; its wire format is
  * `[int n][n doubles][n longs]`, trimmed to ≤ k entries before
  * serializing, so at most `4 + 16k` bytes per group cross the shuffle.
  *
  * Result rows are (score desc, id asc)-ordered with deterministic
  * tie-breaks — verified equal to the window formulation in ScaleOpsSpec.
  */
object TopKPerGroup {

  /** Mutable aggregation state: parallel (score, id) arrays, capacity
    * 2k, compacted to the best k (score desc, id asc) when full — the
    * amortized-trim trick: appends are O(1), each trim is O(k log k)
    * every k appends. */
  final class TopKBuffer(val k: Int) {
    var n: Int = 0
    var scores: Array[Double] = new Array[Double](2 * k)
    var ids: Array[Long] = new Array[Long](2 * k)

    def add(s: Double, id: Long): Unit = {
      if (n == scores.length) trim()
      scores(n) = s; ids(n) = id; n += 1
    }

    /** Indices of the current entries, best (score desc, id asc) first. */
    private def rankedIdx(): Array[Int] = {
      val idx = Array.range(0, n).map(Int.box)
      java.util.Arrays.sort(idx, (a: Integer, b: Integer) => {
        val c = java.lang.Double.compare(scores(b), scores(a))
        if (c != 0) c else java.lang.Long.compare(ids(a), ids(b))
      })
      idx.map(_.intValue)
    }

    /** Keep only the best k entries. */
    def trim(): Unit = if (n > k) {
      val keep = rankedIdx().take(k)
      val ns = new Array[Double](2 * k); val ni = new Array[Long](2 * k)
      var i = 0
      while (i < keep.length) { ns(i) = scores(keep(i)); ni(i) = ids(keep(i)); i += 1 }
      scores = ns; ids = ni; n = keep.length
    }

    /** Best-first (score, id) pairs, at most k of them. */
    def sortedTopK(): Array[(Double, Long)] =
      rankedIdx().take(k).map(i => (scores(i), ids(i)))
  }

  /** `top_k(score, id)`: array<struct<score,id>> of the k best rows. */
  case class TopKAgg(
      score: Expression,
      id: Expression,
      k: Int,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[TopKBuffer] with BinaryLike[Expression]
    with ExpectsInputTypes {

    // the buffer allocates Array(2 * k): k <= 0 would crash inside a task
    require(k >= 1, s"top_k: k must be >= 1, got $k")

    override def left: Expression = score
    override def right: Expression = id

    override def inputTypes: Seq[DataType] = Seq(DoubleType, LongType)

    override def dataType: DataType = ArrayType(
      StructType(Seq(StructField("score", DoubleType, nullable = false),
        StructField("id", LongType, nullable = false))), containsNull = false)
    override def nullable: Boolean = false

    override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(k)

    override def update(buf: TopKBuffer, input: InternalRow): TopKBuffer = {
      val s = score.eval(input)
      val i = id.eval(input)
      if (s != null && i != null)
        buf.add(s.asInstanceOf[Double], i.asInstanceOf[Long])
      buf
    }

    override def merge(buf: TopKBuffer, other: TopKBuffer): TopKBuffer = {
      var i = 0
      while (i < other.n) { buf.add(other.scores(i), other.ids(i)); i += 1 }
      buf
    }

    override def eval(buf: TopKBuffer): Any =
      new GenericArrayData(buf.sortedTopK().map { case (s, i) =>
        InternalRow(s, i)
      }.asInstanceOf[Array[Any]])

    override def serialize(buf: TopKBuffer): Array[Byte] = {
      buf.trim() // never ship more than k entries
      val bb = java.nio.ByteBuffer.allocate(4 + 16 * buf.n)
      bb.putInt(buf.n)
      var i = 0
      while (i < buf.n) { bb.putDouble(buf.scores(i)); i += 1 }
      i = 0
      while (i < buf.n) { bb.putLong(buf.ids(i)); i += 1 }
      bb.array()
    }

    override def deserialize(bytes: Array[Byte]): TopKBuffer = {
      val bb = java.nio.ByteBuffer.wrap(bytes)
      val buf = new TopKBuffer(k)
      val n = bb.getInt
      var i = 0
      while (i < n) { buf.scores(i) = bb.getDouble; i += 1 }
      i = 0
      while (i < n) { buf.ids(i) = bb.getLong; i += 1 }
      buf.n = n
      buf
    }

    override def withNewMutableAggBufferOffset(newOffset: Int): TopKAgg =
      copy(mutableAggBufferOffset = newOffset)
    override def withNewInputAggBufferOffset(newOffset: Int): TopKAgg =
      copy(inputAggBufferOffset = newOffset)
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): TopKAgg =
      copy(score = newLeft, id = newRight)
    override def prettyName: String = "top_k"
  }

  /** The bounded top-k aggregate as a Column — usable from any groupBy,
    * whatever the key type (the session need not have the SQL `top_k`
    * registration). */
  def topKColumn(score: org.apache.spark.sql.Column,
                 id: org.apache.spark.sql.Column, k: Int): org.apache.spark.sql.Column =
    Bridge.column(
      TopKAgg(
        Bridge.expression(score.cast("double")),
        Bridge.expression(id.cast("long")),
        k).toAggregateExpression())

  /** Top-k rows per key: input (key, score, id) → one row per kept entry
    * with rank. */
  def topKPerKey(df: DataFrame, keyCol: String, scoreCol: String, idCol: String,
                 k: Int): DataFrame = {
    df.groupBy(col(keyCol).cast("long").as("key"))
      .agg(topKColumn(col(scoreCol), col(idCol), k).as("top"))
      .select(col("key"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("key"), (col("pos") + 1).cast("long").as("rank"),
        col("e.score").as("score"), col("e.id").as("id"))
  }
}
