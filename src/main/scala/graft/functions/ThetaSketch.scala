package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** KMV ("k minimum values") theta sketch: the distinct-count sketch with
  * closed-form SET ALGEBRA — union, intersection, difference — over
  * merged sketches, the capability HLL lacks (reference: Beam's
  * sketching extension wraps the library theta sketch the same way;
  * the published construction is Beyer et al. 2007 / the DataSketches
  * theta family).
  *
  * The sketch is simply the k smallest DISTINCT 60-bit portable hashes
  * of the values (emitted as a sorted array<long>), so:
  *  - estimate: n < k ⇒ exact n; else (k-1) / (kth/2^60)
  *  - union: k smallest of the concatenated sketches
  *  - intersection: common hashes below theta = min(theta_a, theta_b),
  *    scaled by 1/theta
  * All READ-OUTS are plain array HOF expressions (element_at / filter /
  * array_intersect) — only the aggregate itself needs native code. The
  * hash is the portable md5 family, so an external SQL oracle can
  * rebuild every hash and verify the sketch content bit-for-bit.
  *
  * At 100 TB: per-group state is ≤ k longs; partials merge
  * associatively (TypedImperativeAggregate lifts map-side combine), so
  * the exchange is O(k) per group regardless of input size — and
  * cross-segment overlap questions (union/intersection of audiences)
  * need no re-scan and NO join: they are array expressions over the
  * stored sketches.
  *
  * [[KmvAggBase]] holds the one KMV implementation (capped sorted-set
  * insert, merge, eval ordering, wire format); [[ThetaSketchAgg]]
  * (build from raw values) and [[ThetaMergeAgg]] (roll up stored
  * sketches) differ only in their input row handling — a one-sided
  * edit to the shared core is impossible by construction, which is
  * what keeps the ScaleSpec "merge ≡ single pass bit-for-bit" contract
  * safe. */
abstract class KmvAggBase
    extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]] {
  def k: Int

  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
    new java.util.TreeSet[java.lang.Long]()

  /** Capped sorted-set insert: keep the k smallest distinct hashes. */
  protected final def add(buf: java.util.TreeSet[java.lang.Long],
      h: Long): Unit = {
    if (buf.size < k) { buf.add(h); () }
    else if (h < buf.last()) {
      if (buf.add(h)) { buf.remove(buf.last()); () }
    }
  }

  override def merge(buf: java.util.TreeSet[java.lang.Long],
      other: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] = {
    val it = other.iterator()
    while (it.hasNext) add(buf, it.next())
    buf
  }

  override def eval(buf: java.util.TreeSet[java.lang.Long]): Any = {
    val out = new Array[Any](buf.size)
    var i = 0
    val it = buf.iterator()
    while (it.hasNext) { out(i) = it.next().longValue(); i += 1 }
    new GenericArrayData(out) // ascending — element_at(s, k) is the theta
  }

  override def serialize(buf: java.util.TreeSet[java.lang.Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buf.size * 8)
    val it = buf.iterator()
    while (it.hasNext) bb.putLong(it.next().longValue())
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] = {
    val buf = new java.util.TreeSet[java.lang.Long]()
    val bb = java.nio.ByteBuffer.wrap(bytes)
    while (bb.remaining() >= 8) buf.add(bb.getLong())
    buf
  }
}

/** `kmv_sketch_agg(value, k)` — build a KMV sketch from raw values. */
case class ThetaSketchAgg(
    child: Expression,
    k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
    extends KmvAggBase {

  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = "kmv_sketch_agg"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"kmv_sketch_agg requires string, got ${other.sql}")
  }

  @transient private lazy val md = java.security.MessageDigest.getInstance("MD5")

  override def update(buf: java.util.TreeSet[java.lang.Long],
      input: InternalRow): java.util.TreeSet[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null)
      add(buf, TextHash.md5Long60(md, v.asInstanceOf[UTF8String].getBytes))
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): ThetaSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ThetaSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ThetaSketchAgg =
    copy(child = newChildren.head)
}

/** `kmv_merge_agg(sketch, k)` — merge already-built sketches (the
  * MergePartial / rollup read-out: fine-grained per-segment sketches
  * roll up to coarser ones in O(groups·k), never rescanning rows). */
case class ThetaMergeAgg(
    child: Expression,
    k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
    extends KmvAggBase {

  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = "kmv_merge_agg"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"kmv_merge_agg requires array<long>, got ${other.sql}")
  }

  override def update(buf: java.util.TreeSet[java.lang.Long],
      input: InternalRow): java.util.TreeSet[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[ArrayData]
      var i = 0
      while (i < arr.numElements()) {
        // getLong on a null slot silently reads 0 — which would inject
        // a bogus minimum hash into the merged KMV sketch and skew
        // every downstream estimate. A null element is corrupt input:
        // fail fast, by name.
        if (arr.isNullAt(i)) throw new IllegalArgumentException(
          "kmv_merge_agg: null element in sketch array — not a valid KMV sketch")
        add(buf, arr.getLong(i)); i += 1
      }
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): ThetaMergeAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ThetaMergeAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ThetaMergeAgg =
    copy(child = newChildren.head)
}
