package graft.functions

import java.nio.ByteBuffer
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/**
 * Native top-k aggregate: `graft_topk(id, score, k)` keeps the k best
 * (score desc, id asc) pairs in a bounded binary heap.
 *
 * `update` reads the input InternalRow directly — no encoder
 * round-trip per row — and the [[TopKBuffer]] serializes as 16
 * bytes/entry only at shuffle boundaries.
 * Partial aggregation runs map-side, so a batched k-NN shuffles
 * k rows per (group x partition) regardless of corpus size.
 */
case class TopKAgg(idExpr: Expression, scoreExpr: Expression, k: Int,
                   mutableAggBufferOffset: Int = 0,
                   inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKBuffer] {

  override def children: Seq[Expression] = Seq(idExpr, scoreExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("score", DoubleType, nullable = false))), containsNull = false)

  override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(k)

  override def update(buffer: TopKBuffer, input: InternalRow): TopKBuffer = {
    val id = idExpr.eval(input)
    val score = scoreExpr.eval(input)
    if (id != null && score != null) {
      buffer.insert(id.asInstanceOf[Long], score.asInstanceOf[Double])
    }
    buffer
  }

  override def merge(buffer: TopKBuffer, other: TopKBuffer): TopKBuffer = {
    buffer.absorb(other); buffer
  }

  override def eval(buffer: TopKBuffer): Any = {
    val sorted = buffer.sortedDesc
    new GenericArrayData(sorted.map { case (id, score) =>
      InternalRow(id, score)
    }.toArray[Any])
  }

  override def serialize(buffer: TopKBuffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 + 16 * buffer.size)
    bb.putInt(buffer.k).putInt(buffer.size)
    var i = 0
    while (i < buffer.size) {
      bb.putLong(buffer.ids(i)); bb.putDouble(buffer.scores(i))
      i += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val kk = bb.getInt; val n = bb.getInt
    val buf = new TopKBuffer(kk)
    var i = 0
    while (i < n) { buf.insert(bb.getLong, bb.getDouble); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(idExpr = newChildren(0), scoreExpr = newChildren(1))
  override def prettyName: String = "graft_topk"
}

/**
 * Bounded buffer for [[TopKStrAgg]]: the k best (score desc, payload
 * asc) string-keyed entries, kept SORTED best-first (k is small —
 * a shift insert beats heap bookkeeping and eval needs the order
 * anyway). Payloads are defensively cloned on store: the input
 * UTF8String points into a row buffer the aggregate iterator reuses.
 */
class TopKStrBuffer(val k: Int) extends Serializable {
  var size: Int = 0
  var items: Array[org.apache.spark.unsafe.types.UTF8String] =
    new Array[org.apache.spark.unsafe.types.UTF8String](math.max(k, 1))
  var scores: Array[Long] = new Array[Long](math.max(k, 1))

  @inline private def better(s1: Long, i1: org.apache.spark.unsafe.types.UTF8String,
                             s2: Long, i2: org.apache.spark.unsafe.types.UTF8String): Boolean =
    s1 > s2 || (s1 == s2 && i1.compareTo(i2) < 0)

  def insert(item: org.apache.spark.unsafe.types.UTF8String, score: Long): Unit = {
    if (k == 0) return
    if (size == k) {
      if (!better(score, item, scores(k - 1), items(k - 1))) return
    } else size += 1
    var i = size - 1
    while (i > 0 && better(score, item, scores(i - 1), items(i - 1))) {
      items(i) = items(i - 1); scores(i) = scores(i - 1); i -= 1
    }
    items(i) = item.clone(); scores(i) = score
  }

  def absorb(other: TopKStrBuffer): Unit = {
    var i = 0
    while (i < other.size) { insert(other.items(i), other.scores(i)); i += 1 }
  }
}

/**
 * Native top-k aggregate over STRING payloads:
 * `graft_topk_str(item, score, k)` keeps the k best (score desc,
 * item asc) entries in a bounded sorted buffer — the long-count /
 * string-key sibling of [[TopKAgg]], for ranked-vocabulary shapes
 * (top n-grams per source) where the generic rank-window would sort
 * the FULL per-group key set. Partial aggregation runs map-side, so
 * the post-count shuffle carries k entries per (group x partition)
 * regardless of vocabulary size. Output: array<struct<item, score>>
 * already in final rank order.
 */
case class TopKStrAgg(itemExpr: Expression, scoreExpr: Expression, k: Int,
                      mutableAggBufferOffset: Int = 0,
                      inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKStrBuffer] {
  import org.apache.spark.unsafe.types.UTF8String

  override def children: Seq[Expression] = Seq(itemExpr, scoreExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("item", StringType, nullable = false),
    StructField("score", LongType, nullable = false))), containsNull = false)

  override def createAggregationBuffer(): TopKStrBuffer = new TopKStrBuffer(k)

  override def update(buffer: TopKStrBuffer, input: InternalRow): TopKStrBuffer = {
    val item = itemExpr.eval(input)
    val score = scoreExpr.eval(input)
    if (item != null && score != null)
      buffer.insert(item.asInstanceOf[UTF8String], score.asInstanceOf[Long])
    buffer
  }

  override def merge(buffer: TopKStrBuffer, other: TopKStrBuffer): TopKStrBuffer = {
    buffer.absorb(other); buffer
  }

  override def eval(buffer: TopKStrBuffer): Any = {
    val rows = new Array[Any](buffer.size)
    var i = 0
    while (i < buffer.size) {
      rows(i) = InternalRow(buffer.items(i), buffer.scores(i)); i += 1
    }
    new GenericArrayData(rows)
  }

  override def serialize(buffer: TopKStrBuffer): Array[Byte] = {
    var bytes = 8
    var i = 0
    while (i < buffer.size) { bytes += 12 + buffer.items(i).numBytes(); i += 1 }
    val bb = ByteBuffer.allocate(bytes)
    bb.putInt(buffer.k).putInt(buffer.size)
    i = 0
    while (i < buffer.size) {
      bb.putLong(buffer.scores(i))
      val b = buffer.items(i).getBytes
      bb.putInt(b.length).put(b)
      i += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKStrBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val kk = bb.getInt; val n = bb.getInt
    val buf = new TopKStrBuffer(kk)
    var i = 0
    while (i < n) {
      val score = bb.getLong
      val b = new Array[Byte](bb.getInt); bb.get(b)
      buf.insert(org.apache.spark.unsafe.types.UTF8String.fromBytes(b), score)
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKStrAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKStrAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(itemExpr = newChildren(0), scoreExpr = newChildren(1))
  override def prettyName: String = "graft_topk_str"
}
