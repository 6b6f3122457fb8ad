package graft.functions

import java.nio.ByteBuffer

import scala.reflect.ClassTag

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{col, explode}
import org.apache.spark.sql.graft.ColumnShim
import org.apache.spark.sql.types._

/** The scan-top-k aggregate: a whole query batch rides INSIDE one aggregate
  * over a corpus scan. Each corpus row updates per-query bounded
  * [[TopKBuffer]]s, partials merge map-side, and the final row is
  * `array<struct<query_id, nn>>` — the reference's per-thread bounded
  * `QueryResultSet` plus final merge (`AnnService/inc/Core/SearchQuery.h:
  * 150-254`) as ONE dataflow operator. No (query, vector) joined row ever
  * exists: the exchange carries O(|Q|·k·tasks) buffer rows, which is the
  * plan shape that survives a 100 TB corpus. The query batch is collected to
  * the driver under the "queries are broadcastable" contract.
  *
  * Two parameters cover every searcher:
  *  - the [[ScanTopK.Scorer]] turns a row into per-query distances: exact
  *    metric over `vec` ([[ScanTopK.Exact]]), or a LUT sum over stored
  *    `codes` — ADC/SDC `Σ_s lut[s][codes[s]]` and RVQ
  *    `Σ_s lut[s][codes1[s]·n2[s]+codes2[s]]` ([[ScanTopK.Lut]]);
  *  - the [[ScanTopK.Router]] picks the queries a row updates: all of them,
  *    the ones listed under the row's key in a sorted CSR index (SPANN
  *    stage-2 keys on `head_id`; positive mining keys on `label` and skips
  *    the anchor itself), or the complement of that list (hard negatives).
  *
  * Dispatch happens once per row: the router hands the scorer slices of
  * query indices and the scorer loops over them. Children are
  * `[key,] id, payload…` (key only for keyed routers).
  *
  * Exactness: every per-pair score is the same strict left-to-right double
  * sum as the column forms ([[VectorDistance]], [[LutCodesDistExpr]],
  * [[RvqLutDistExpr]]) and every buffer keeps the same (dist, id) tie rule,
  * so results are bit-identical to the join formulations the specs pin them
  * against. The SPANN probe router uses distinct-id buffers: a (query, id)
  * pair always scores the same distance, so in-buffer dedup of posting
  * replicas equals the join form's `topkDistinct`.
  */
case class ScanTopK(
    children: Seq[Expression],
    qids: Array[Long],
    scorer: ScanTopK.Scorer,
    router: ScanTopK.Router,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[TopKBuffer]] {
  import ScanTopK._

  require(k > 0, s"$prettyName requires k > 0, got $k")
  require(children.size == router.keyArity + 1 + scorer.arity,
    s"$prettyName arity must match its router and scorer")
  require(qids.length == scorer.numQueries)

  override def nullable: Boolean = false
  override def dataType: DataType = ScanTopK.resultType
  override def prettyName: String = (scorer, router) match {
    case (_: Exact, AllQueries) => "batch_topk"
    case (_: Lut, AllQueries)   => "lut_batch_topk"
    case (_: Exact, _: Probe)   => "spann_probe_topk"
    case (_: Lut, _: Probe)     => "spann_probe_lut_topk"
    case _                      => "labeled_batch_topk"
  }

  private def id: Expression = children(router.keyArity)
  @transient private lazy val payload: Seq[Expression] =
    children.drop(router.keyArity + 1)
  // per-task scratch for the router's query-index slices
  @transient private lazy val spans = new Array[Int](4)

  override def createAggregationBuffer(): Array[TopKBuffer] =
    Array.fill(qids.length)(new TopKBuffer(k, router.distinctIds))

  override def update(bufs: Array[TopKBuffer], input: InternalRow): Array[TopKBuffer] = {
    val keyV = if (router.keyArity == 0) null else children(0).eval(input)
    val idV = id.eval(input)
    if (idV != null && (router.keyArity == 0 || keyV != null)) {
      val rowId = idV.asInstanceOf[Long]
      val key = if (keyV == null) 0L else keyV.asInstanceOf[Number].longValue
      val n = router.route(key, rowId, qids, spans)
      if (n > 0) scorer.score(bufs, rowId, input, payload, router.qIdx, spans, n)
    }
    bufs
  }

  override def merge(bufs: Array[TopKBuffer], other: Array[TopKBuffer]): Array[TopKBuffer] = {
    var qi = 0
    while (qi < bufs.length) {
      val o = other(qi)
      var i = 0
      while (i < o.size) { bufs(qi).insert(o.dists(i), o.ids(i)); i += 1 }
      qi += 1
    }
    bufs
  }

  override def eval(bufs: Array[TopKBuffer]): Any =
    new GenericArrayData(Array.tabulate(bufs.length) { qi =>
      val nn = bufs(qi).sorted.map { case (id, d) => InternalRow(id, d) }
      InternalRow(qids(qi), new GenericArrayData(nn))
    })

  override def serialize(bufs: Array[TopKBuffer]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + bufs.map(_.byteSize).sum)
    bb.putInt(bufs.length)
    bufs.foreach(_.writeTo(bb))
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[TopKBuffer] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(bb.getInt())(TopKBuffer.readFrom(bb))
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): ScanTopK =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ScanTopK =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

object ScanTopK {
  val resultType: DataType = ArrayType(
    StructType(Seq(
      StructField("query_id", LongType, nullable = false),
      StructField("nn", TopKByDistance.resultType, nullable = false))),
    containsNull = false)

  /** Turns one corpus row's payload into distances for chosen queries. */
  sealed abstract class Scorer extends Serializable {
    /** Payload columns after `id`. */
    def arity: Int
    def numQueries: Int
    /** Score the row against queries `qIdx[spans(2s), spans(2s+1))`, s < n;
      * a null `qIdx` is [[AllQueries]]: one span over every query index.
      */
    def score(bufs: Array[TopKBuffer], rowId: Long, row: InternalRow,
        payload: Seq[Expression], qIdx: Array[Int], spans: Array[Int], n: Int): Unit
  }

  /** Exact metric over the row's `vec` ([[DistKernel]]): all queries go
    * through [[DistKernel.updateAll]] (4-way interleave, triangle-inequality
    * reject), routed slices — and ragged query dims — through
    * [[DistKernel.pair]] over the common prefix. Query vectors are flattened
    * once per task into one contiguous array (stride = dim).
    */
  final case class Exact(qvecs: Array[Array[Double]], metric: String) extends Scorer {
    private val tag = DistKernel.tag(metric)
    def arity: Int = 1
    def numQueries: Int = qvecs.length

    @transient private lazy val dim: Int = if (qvecs.isEmpty) 0 else qvecs(0).length
    @transient private lazy val uniformDim: Boolean = qvecs.forall(_.length == dim)
    @transient private lazy val flatQ: Array[Double] = {
      val out = new Array[Double](qvecs.length * dim)
      var qi = 0
      while (qi < qvecs.length) {
        System.arraycopy(qvecs(qi), 0, out, qi * dim, dim)
        qi += 1
      }
      out
    }
    @transient private lazy val qNorms: Array[Double] = qvecs.map(squaredNorm)
    // ‖q‖ for the wide-dim L2 triangle-inequality reject; null elsewhere so
    // narrow and non-L2 scans pay nothing
    @transient private lazy val sqrtQNorms: Array[Double] =
      if (tag == DistKernel.L2 && dim >= DistKernel.AbandonMinDim)
        qNorms.map(math.sqrt)
      else null

    private def squaredNorm(v: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i) * v(i); i += 1 }
      s
    }

    /** The row's vector widened to double (exact), or null. */
    private def load(row: InternalRow, vec: Expression): Array[Double] = {
      val vV = vec.eval(row)
      if (vV == null) return null
      val arr = vV.asInstanceOf[ArrayData]
      val isFloat = vec.dataType match {
        case ArrayType(FloatType, _) => true
        case _                       => false
      }
      val v = new Array[Double](arr.numElements())
      var i = 0
      while (i < v.length) {
        v(i) = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
        i += 1
      }
      v
    }

    private def vNorm(v: Array[Double]): Double =
      if (tag == DistKernel.Cos) squaredNorm(v) else 0.0

    def score(bufs: Array[TopKBuffer], rowId: Long, row: InternalRow,
        payload: Seq[Expression], qIdx: Array[Int], spans: Array[Int], n: Int): Unit = {
      val v = load(row, payload.head)
      if (v == null) return
      val vn = vNorm(v)
      if (qIdx == null && uniformDim && v.length >= dim) {
        DistKernel.updateAll(v, flatQ, qNorms, dim, tag, bufs, rowId, vn, sqrtQNorms)
        return
      }
      var s = 0
      while (s < n) {
        var p = spans(2 * s)
        val end = spans(2 * s + 1)
        while (p < end) {
          val qi = if (qIdx == null) p else qIdx(p)
          val qv = qvecs(qi)
          val d = DistKernel.pair(qv, v, math.min(v.length, qv.length), tag,
            qNorms(qi), vn)
          val buf = bufs(qi)
          if (buf.wouldAccept(d)) buf.insert(d, rowId)
          p += 1
        }
        s += 1
      }
    }
  }

  /** LUT sum over the row's stored codes: `Σ_s lut[s][codes[s]]` (ADC, SDC)
    * or, with `n2` set, the RVQ two-level `Σ_s lut[s][codes1[s]·n2[s] +
    * codes2[s]]`. A row whose codes length differs from the LUT's `m` is a
    * codebook mismatch and fails with a named error instead of reading a
    * wrong or out-of-range cell.
    */
  final case class Lut(luts: Array[Array[Array[Double]]], n2: Array[Int] = null)
      extends Scorer {
    def arity: Int = if (n2 == null) 1 else 2
    def numQueries: Int = luts.length
    private val m = if (luts.isEmpty) 0 else luts(0).length

    private def codes(row: InternalRow, e: Expression): ArrayData = {
      val c = e.eval(row).asInstanceOf[ArrayData]
      if (c != null) {
        val len = c.numElements()
        if (len != m)
          throw new IllegalArgumentException(
            s"codes length $len does not match the LUT's m = $m (codebook mismatch)")
        if (n2 != null && len != n2.length)
          throw new IllegalArgumentException(
            s"codes length $len does not match the RVQ stride length ${n2.length}")
      }
      c
    }

    private def lutSum(lut: Array[Array[Double]], c1: ArrayData, c2: ArrayData): Double = {
      var total = 0.0
      var s = 0
      if (c2 == null) while (s < m) { total += lut(s)(c1.getInt(s)); s += 1 }
      else while (s < m) { total += lut(s)(c1.getInt(s) * n2(s) + c2.getInt(s)); s += 1 }
      total
    }

    def score(bufs: Array[TopKBuffer], rowId: Long, row: InternalRow,
        payload: Seq[Expression], qIdx: Array[Int], spans: Array[Int], n: Int): Unit = {
      val c1 = codes(row, payload(0))
      val c2 = if (n2 == null) null else codes(row, payload(1))
      if (c1 == null || (n2 != null && c2 == null)) return
      var s = 0
      while (s < n) {
        var p = spans(2 * s)
        val end = spans(2 * s + 1)
        while (p < end) {
          val qi = if (qIdx == null) p else qIdx(p)
          val d = lutSum(luts(qi), c1, c2)
          val buf = bufs(qi)
          if (buf.wouldAccept(d)) buf.insert(d, rowId)
          p += 1
        }
        s += 1
      }
    }
  }

  /** Sorted CSR index key → ascending query indices:
    * `qIdx[offsets(i), offsets(i+1))` are the queries listed under `keys(i)`.
    */
  final case class KeyIndex(keys: Array[Long], offsets: Array[Int], qIdx: Array[Int]) {
    require(offsets.length == keys.length + 1)

    /** Position of `key` in `keys`, or -1. */
    def slot(key: Long): Int = {
      val s = java.util.Arrays.binarySearch(keys, key)
      if (s < 0) -1 else s
    }
  }

  object KeyIndex {

    /** Build from parallel `(key, query index)` pairs; duplicate pairs
      * collapse (a widened SPANN probe can name a head twice).
      */
    def of(pairKeys: Array[Long], pairQIdx: Array[Int]): KeyIndex = {
      val keys = sortedDistinct(pairKeys.clone())
      // (slot, query index) packed into one long: one primitive sort orders
      // by key, then by query index
      val packed = Array.tabulate(pairKeys.length) { i =>
        (java.util.Arrays.binarySearch(keys, pairKeys(i)).toLong << 32) | pairQIdx(i)
      }
      val entries = sortedDistinct(packed)
      val offsets = new Array[Int](keys.length + 1)
      entries.foreach(e => offsets((e >>> 32).toInt + 1) += 1)
      var i = 0
      while (i < keys.length) { offsets(i + 1) += offsets(i); i += 1 }
      KeyIndex(keys, offsets, entries.map(_.toInt))
    }

    private def sortedDistinct(a: Array[Long]): Array[Long] = {
      java.util.Arrays.sort(a)
      var w = 0
      var i = 0
      while (i < a.length) {
        if (w == 0 || a(i) != a(w - 1)) { a(w) = a(i); w += 1 }
        i += 1
      }
      java.util.Arrays.copyOf(a, w)
    }
  }

  /** Picks the queries a corpus row updates. */
  sealed abstract class Router extends Serializable {
    /** 1 when the row's first child is a routing key. */
    def keyArity: Int = 1
    def distinctIds: Boolean = false
    /** The query indices the spans slice; null = the identity. */
    def qIdx: Array[Int]
    /** Fill `spans` with up to two `[from, to)` slices of [[qIdx]];
      * returns the slice count.
      */
    def route(key: Long, rowId: Long, qids: Array[Long], spans: Array[Int]): Int
  }

  /** Every row updates every query. */
  case object AllQueries extends Router {
    override def keyArity: Int = 0
    def qIdx: Array[Int] = null
    def route(key: Long, rowId: Long, qids: Array[Long], spans: Array[Int]): Int = {
      spans(0) = 0; spans(1) = qids.length; 1
    }
  }

  /** Routes by the row's key through a [[KeyIndex]]. */
  sealed abstract class Keyed extends Router {
    def index: KeyIndex
    def qIdx: Array[Int] = index.qIdx
  }

  /** SPANN stage-2: a posting row updates the queries that probe its head.
    * Distinct-id buffers dedupe the head's replicas of a vector.
    */
  final case class Probe(index: KeyIndex) extends Keyed {
    override def distinctIds: Boolean = true
    def route(key: Long, rowId: Long, qids: Array[Long], spans: Array[Int]): Int = {
      val s = index.slot(key)
      if (s < 0) 0
      else { spans(0) = index.offsets(s); spans(1) = index.offsets(s + 1); 1 }
    }
  }

  /** Positives: a row updates the anchors that share its key, except the
    * anchor whose id is the row's own.
    */
  final case class SameKey(index: KeyIndex) extends Keyed {
    def route(key: Long, rowId: Long, qids: Array[Long], spans: Array[Int]): Int = {
      val s = index.slot(key)
      if (s < 0) return 0
      val from = index.offsets(s)
      val to = index.offsets(s + 1)
      val self = java.util.Arrays.binarySearch(qids, rowId)
      val at = if (self < 0) -1 else java.util.Arrays.binarySearch(index.qIdx, from, to, self)
      spans(0) = from
      if (at < 0) { spans(1) = to; 1 }
      else { spans(1) = at; spans(2) = at + 1; spans(3) = to; 2 }
    }
  }

  /** Hard negatives: a row updates every anchor whose key differs. The index
    * lists each query under exactly one key, so the complement of a key's
    * slice is the two slices around it.
    */
  final case class OtherKey(index: KeyIndex) extends Keyed {
    def route(key: Long, rowId: Long, qids: Array[Long], spans: Array[Int]): Int = {
      val s = index.slot(key)
      spans(0) = 0
      if (s < 0) { spans(1) = index.qIdx.length; 1 }
      else {
        spans(1) = index.offsets(s)
        spans(2) = index.offsets(s + 1); spans(3) = index.qIdx.length
        2
      }
    }
  }

  /** Collect a broadcastable-by-contract query frame whose first column is
    * `query_id`, sorted by id; `payload` reads the rest of each row. Every
    * scan-top-k caller collects through here, so a duplicated id — which
    * would silently give two buffers and two rows per rank — fails with a
    * named error instead.
    */
  def collectSorted[T: ClassTag](queries: DataFrame)(payload: Row => T)
      : (Array[Long], Array[T]) = {
    val rows = queries.collect()
      .map { r =>
        val qid = r.get(0) match {
          case n: Number => n.longValue
          case other     => other.toString.toLong
        }
        (qid, payload(r))
      }
      .sortBy(_._1)
    var i = 1
    while (i < rows.length) {
      if (rows(i)._1 == rows(i - 1)._1)
        throw new IllegalArgumentException(
          s"duplicate query_id ${rows(i)._1} in the query batch: query ids must be unique")
      i += 1
    }
    (rows.map(_._1), rows.map(_._2))
  }

  /** A `Seq` of float or double widened to doubles (exact). */
  def doubles(v: scala.collection.Seq[Any]): Array[Double] =
    v.map {
      case f: java.lang.Float  => f.toDouble
      case d: java.lang.Double => d.doubleValue
    }.toArray

  /** `(query_id, qvec)` → sorted `(ids, vectors)`. */
  def collectQueries(queries: DataFrame): (Array[Long], Array[Array[Double]]) =
    collectSorted(queries.select("query_id", "qvec"))(r => doubles(r.getSeq[Any](1)))

  /** The SPANN stage-2 router from stage-1 candidates `(query_id, head_id)`. */
  def probeRoute(cand: DataFrame, qids: Array[Long]): Probe = {
    val rows = cand.select(col("query_id").cast("long"), col("head_id").cast("long"))
      .collect()
    val qIdx = rows.map { r =>
      val qi = java.util.Arrays.binarySearch(qids, r.getLong(0))
      if (qi < 0)
        throw new IllegalArgumentException(
          s"fused SPANN probe: candidate query_id ${r.getLong(0)} is not in the query batch")
      qi
    }
    Probe(KeyIndex.of(rows.map(_.getLong(1)), qIdx))
  }

  /** The aggregate column over `cols` = `[key,] id, payload…`. */
  def column(cols: Seq[Column], qids: Array[Long], scorer: Scorer, router: Router,
      k: Int): Column =
    ColumnShim.column(
      ScanTopK(cols.map(ColumnShim.expression), qids, scorer, router, k)
        .toAggregateExpression())

  /** Run one scan-top-k over `corpus`: one `(query_id, nn)` row per query,
    * `nn` sorted ascending by (dist, id) with unrounded distances.
    */
  def nearest(corpus: DataFrame, cols: Seq[Column], qids: Array[Long],
      scorer: Scorer, router: Router, k: Int): DataFrame =
    corpus.agg(column(cols, qids, scorer, router, k).as("per_q"))
      .select(explode(col("per_q")).as("r"))
      .select(col("r.query_id").as("query_id"), col("r.nn").as("nn"))
}
