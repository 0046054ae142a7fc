package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._

/** `hot_item_agg(item)` — the ITEM-FREQUENCY-ARGMAX aggregate: counts
  * occurrences per distinct item inside the group and emits
  * `struct(hot_item, n_hot)`, the modal item (count ties break to the
  * SMALLEST item — deterministic, matching the batch `win_hot_items`
  * oracle's ORDER BY n DESC, item ASC).
  *
  * This exists for Nexmark Q5's hot-items-per-sliding-window shape
  * (reference: sdks/java/testing/nexmark/.../queries/Query5.java —
  * Count.perElement inside the window, then Max over the counts).
  * Grouping by (window, item) and re-aggregating per window is the
  * textbook plan, but in STREAMING it keeps one durable state row per
  * (item, window) — at 1 h / 15 m sliding that is size/slide = 4 rows
  * per touched item per window set, measured 385k RocksDB writes per
  * 100k events (r19 sf0.1 replay). Folding the per-item counts INTO the
  * aggregation buffer flips the state grain to one row per WINDOW:
  * touched-window count per micro-batch is bounded by the stream's
  * time progress (~hundreds), not by item cardinality.
  *
  * Scale contract: the buffer holds one (long, long) entry per
  * DISTINCT ITEM seen in the group — right for Nexmark-style bounded
  * item universes (auctions live ~minutes; items per window are
  * bounded). For unbounded per-window item cardinality use the
  * per-(item, window) two-stage form instead ([[graft.streaming
  * .StreamOps.slidingAggPaned]]) — that keeps every state row O(1) at
  * the cost of size/slide rows per item. Partials merge associatively
  * (map-side combine lifts exactly like Beam's CombineFn), so the
  * exchange carries one partial map per (window, partition).
  */
case class HotItemAgg(
    child: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[java.util.HashMap[java.lang.Long, Array[Long]]] {

  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = "hot_item_agg"
  override def nullable: Boolean = false
  override def dataType: DataType = StructType(Seq(
    StructField("hot_item", LongType, nullable = true),
    StructField("n_hot", LongType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType | IntegerType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"hot_item_agg requires an integral item, got ${other.sql}")
  }

  override def createAggregationBuffer(): java.util.HashMap[java.lang.Long, Array[Long]] =
    new java.util.HashMap[java.lang.Long, Array[Long]]()

  // counts live in a single-cell array so increments mutate in place
  // (no box-unbox-rebox churn per event on the hot path)
  private def bump(buf: java.util.HashMap[java.lang.Long, Array[Long]],
      item: Long, n: Long): Unit = {
    val cell = buf.get(item)
    if (cell == null) buf.put(item, Array(n)) else cell(0) += n
  }

  override def update(buf: java.util.HashMap[java.lang.Long, Array[Long]],
      input: InternalRow): java.util.HashMap[java.lang.Long, Array[Long]] = {
    val v = child.eval(input)
    if (v != null) {
      val item = v match {
        case i: java.lang.Integer => i.longValue
        case l: java.lang.Long => l.longValue
      }
      bump(buf, item, 1L)
    }
    buf
  }

  override def merge(buf: java.util.HashMap[java.lang.Long, Array[Long]],
      other: java.util.HashMap[java.lang.Long, Array[Long]]): java.util.HashMap[java.lang.Long, Array[Long]] = {
    val it = other.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      bump(buf, e.getKey.longValue, e.getValue()(0))
    }
    buf
  }

  override def eval(buf: java.util.HashMap[java.lang.Long, Array[Long]]): Any = {
    if (buf.isEmpty) return InternalRow(null, 0L)
    var bestItem = 0L
    var bestN = -1L
    val it = buf.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val n = e.getValue()(0)
      val item = e.getKey.longValue
      if (n > bestN || (n == bestN && item < bestItem)) {
        bestItem = item; bestN = n
      }
    }
    InternalRow(bestItem, bestN)
  }

  override def serialize(buf: java.util.HashMap[java.lang.Long, Array[Long]]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buf.size() * 16)
    val it = buf.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      bb.putLong(e.getKey.longValue); bb.putLong(e.getValue()(0))
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.HashMap[java.lang.Long, Array[Long]] = {
    val buf = createAggregationBuffer()
    val bb = java.nio.ByteBuffer.wrap(bytes)
    while (bb.remaining() >= 16) bump(buf, bb.getLong(), bb.getLong())
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): HotItemAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HotItemAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): HotItemAgg =
    copy(child = newChildren.head)
}
