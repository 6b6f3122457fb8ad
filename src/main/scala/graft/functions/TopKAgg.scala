package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnShim
import org.apache.spark.sql.types._

/** Bounded top-k buffer: keeps the k smallest (dist, id) pairs seen so far.
  * Implemented as a size-capped binary MAX-heap ordered by (dist, id) so the
  * current worst element is O(1) to inspect and replace. Ties break on id
  * ascending — fully deterministic, matching the oracle's
  * `ORDER BY dist, id`.
  *
  * With `distinct = true` an id already in the buffer is never double-counted
  * (an O(k) scan per insert; k is small by contract). This subsumes the SPANN
  * replica dedup (`m_deduper`, `IExtraSearcher.h:104-160`) into the aggregate
  * itself: because a given (query, id) pair always evaluates to the SAME
  * distance, suppressing duplicate ids in-buffer is exactly equivalent to a
  * groupBy(query, id).min(dist) pre-pass — without its extra shuffle.
  */
final class TopKBuffer(val k: Int, val distinct: Boolean = false) {
  // parallel arrays, heap-ordered; heap max = the current k-th best
  val dists = new Array[Double](k)
  val ids = new Array[Long](k)
  var size = 0

  @inline private def worse(d1: Double, i1: Long, d2: Double, i2: Long): Boolean =
    d1 > d2 || (d1 == d2 && i1 > i2)

  def insert(d: Double, id: Long): Unit = {
    if (distinct) {
      var i = 0
      while (i < size) {
        if (ids(i) == id) {
          // deterministic-distance contract: normally d == dists(i); keep the
          // better value defensively (replace + sift down restores the heap)
          if (d < dists(i)) {
            dists(i) = d
            var c = i
            while (true) {
              val l = 2 * c + 1; val r = l + 1
              var m = c
              if (l < size && worse(dists(l), ids(l), dists(m), ids(m))) m = l
              if (r < size && worse(dists(r), ids(r), dists(m), ids(m))) m = r
              if (m == c) return
              val td = dists(c); dists(c) = dists(m); dists(m) = td
              val ti = ids(c); ids(c) = ids(m); ids(m) = ti
              c = m
            }
          }
          return
        }
        i += 1
      }
    }
    if (size < k) {
      var c = size
      dists(c) = d; ids(c) = id; size += 1
      while (c > 0) { // sift up
        val p = (c - 1) >> 1
        if (worse(dists(c), ids(c), dists(p), ids(p))) {
          val td = dists(c); dists(c) = dists(p); dists(p) = td
          val ti = ids(c); ids(c) = ids(p); ids(p) = ti
          c = p
        } else return
      }
    } else if (worse(dists(0), ids(0), d, id)) {
      dists(0) = d; ids(0) = id
      var c = 0
      while (true) { // sift down
        val l = 2 * c + 1; val r = l + 1
        var m = c
        if (l < size && worse(dists(l), ids(l), dists(m), ids(m))) m = l
        if (r < size && worse(dists(r), ids(r), dists(m), ids(m))) m = r
        if (m == c) return
        val td = dists(c); dists(c) = dists(m); dists(m) = td
        val ti = ids(c); ids(c) = ids(m); ids(m) = ti
        c = m
      }
    }
  }

  /** Empty the buffer for reuse (per-task scratch in [[NearestHeadsExpr]]);
    * the heap arrays are overwritten by subsequent inserts.
    */
  def reset(): Unit = size = 0

  /** Cheap reject test: a candidate strictly worse than the current worst can
    * never change the buffer (insert's worse() needs d <= dists(0), and a
    * distinct-id replacement needs d < the id's stored dist <= dists(0)).
    * NaN-safe: !(NaN > x) is true, so NaN candidates still reach insert and
    * behave exactly as without the guard.
    */
  @inline def wouldAccept(d: Double): Boolean = size < k || !(d > dists(0))

  /** (id, dist) pairs sorted ascending by (dist, id). */
  def sorted: Array[(Long, Double)] = {
    val out = new Array[(Long, Double)](size)
    var i = 0
    while (i < size) { out(i) = (ids(i), dists(i)); i += 1 }
    out.sortBy { case (id, d) => (d, id) }
  }

  /** Bytes [[writeTo]] appends. */
  def byteSize: Int = 9 + size * 16

  /** Append `k, distinct, size, (dist, id)*` — the aggregate-buffer codec. */
  def writeTo(bb: ByteBuffer): Unit = {
    bb.putInt(k).put(if (distinct) 1.toByte else 0.toByte).putInt(size)
    var i = 0
    while (i < size) { bb.putDouble(dists(i)).putLong(ids(i)); i += 1 }
  }
}

object TopKBuffer {

  /** Read one buffer written by [[TopKBuffer.writeTo]]. */
  def readFrom(bb: ByteBuffer): TopKBuffer = {
    val buf = new TopKBuffer(bb.getInt(), bb.get() == 1.toByte)
    val n = bb.getInt()
    var i = 0
    while (i < n) { buf.insert(bb.getDouble(), bb.getLong()); i += 1 }
    buf
  }
}

/** `topk(id, dist, k)` → `array<struct<id bigint, dist double>>`, the k
  * smallest-distance rows per group, sorted ascending by (dist, id).
  *
  * Why not `Window.partitionBy(q).orderBy(dist) + row_number <= k`? A window
  * must shuffle EVERY (query, candidate) pair — |Q|×|N| rows — to rank them.
  * This aggregate runs inside Spark's partial-aggregation machinery
  * (ObjectHashAggregate): each map task reduces its slice of candidates to at
  * most k rows per query BEFORE the shuffle, so the exchange carries
  * O(|Q| · k · tasks) rows instead of O(|Q| · |N|). That is the plan shape
  * that survives a 100 TB corpus (mirrors the reference's per-thread top-k
  * QueryResultSet + final merge, `AnnService/inc/Core/SearchQuery.h:150-254`).
  */
case class TopKByDistance(
    id: Expression,
    distExpr: Expression,
    k: Int,
    distinctIds: Boolean = false,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[TopKBuffer] {

  require(k > 0, s"topk requires k > 0, got $k")

  override def children: Seq[Expression] = Seq(id, distExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = TopKByDistance.resultType
  override def prettyName: String = "topk_by_distance"

  override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(k, distinctIds)

  override def update(buf: TopKBuffer, input: InternalRow): TopKBuffer = {
    val idV = id.eval(input)
    val dV = distExpr.eval(input)
    if (idV != null && dV != null) {
      buf.insert(dV.asInstanceOf[Double], idV.asInstanceOf[Long])
    }
    buf
  }

  override def merge(buf: TopKBuffer, other: TopKBuffer): TopKBuffer = {
    var i = 0
    while (i < other.size) { buf.insert(other.dists(i), other.ids(i)); i += 1 }
    buf
  }

  override def eval(buf: TopKBuffer): Any = {
    val s = buf.sorted
    new GenericArrayData(s.map { case (id, d) => InternalRow(id, d) })
  }

  override def serialize(buf: TopKBuffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(buf.byteSize)
    buf.writeTo(bb)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKBuffer =
    TopKBuffer.readFrom(ByteBuffer.wrap(bytes))

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKByDistance =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKByDistance =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(id = newChildren(0), distExpr = newChildren(1))
}

object TopKByDistance {
  val resultType: DataType = ArrayType(
    StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("dist", DoubleType, nullable = false))),
    containsNull = false)

  /** Column API: `groupBy(queryId).agg(topk($"id", $"dist", 10).as("nn"))`. */
  def topk(id: Column, distC: Column, k: Int): Column =
    ColumnShim.column(
      TopKByDistance(ColumnShim.expression(id), ColumnShim.expression(distC), k)
        .toAggregateExpression())

  /** Top-k with in-buffer id dedup — requires (group, id) → dist to be
    * deterministic; then it equals `groupBy(group, id).min(dist)` + topk,
    * minus that pre-pass's shuffle (SPANN replica dedup).
    */
  def topkDistinct(id: Column, distC: Column, k: Int): Column =
    ColumnShim.column(
      TopKByDistance(ColumnShim.expression(id), ColumnShim.expression(distC), k,
        distinctIds = true).toAggregateExpression())
}
