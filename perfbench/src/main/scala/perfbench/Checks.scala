package perfbench

import scala.collection.mutable

/** The benchmark's own reference answers and output checks. Nothing here
  * calls graft: truth is brute force over the generated inputs.
  */
object Checks {

  def l2sq(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) {
      val d = a(i).toDouble - b(i).toDouble
      s += d * d
      i += 1
    }
    s
  }

  /** Exact top-`k` of `q` over the rows of `vecs` whose `live` flag is set,
    * ordered by (distance, id): `(id, dist)` pairs.
    */
  def topK(q: Array[Float], ids: collection.IndexedSeq[Long],
      vecs: collection.IndexedSeq[Array[Float]], live: Int => Boolean,
      k: Int): Array[(Long, Double)] = {
    val bestD = Array.fill(k)(Double.PositiveInfinity)
    val bestI = Array.fill(k)(Long.MaxValue)
    var filled = 0
    var i = 0
    while (i < ids.length) {
      if (live(i)) {
        val d = l2sq(q, vecs(i))
        val id = ids(i)
        if (filled < k || d < bestD(k - 1) || (d == bestD(k - 1) && id < bestI(k - 1))) {
          var p = math.min(filled, k - 1)
          while (p > 0 && (bestD(p - 1) > d || (bestD(p - 1) == d && bestI(p - 1) > id))) {
            bestD(p) = bestD(p - 1)
            bestI(p) = bestI(p - 1)
            p -= 1
          }
          bestD(p) = d
          bestI(p) = id
          if (filled < k) filled += 1
        }
      }
      i += 1
    }
    Array.tabulate(filled)(j => (bestI(j), bestD(j)))
  }

  /** One returned result row `(query_id, rank, id, dist)`. */
  final case class Hit(queryId: Long, rank: Int, id: Long, dist: Double)

  /** Outcome of checking one call: the violations found, and the quality
    * tallies — `found` of the `expected` true answers (neighbours or
    * near-duplicate pairs) were among the `returned` ones.
    */
  final case class Check(violations: Seq[String], found: Long, expected: Long, returned: Long)

  /** Checks one search call. Per query: exactly `min(k, live)` rows, ranks
    * `1..n`, distances non-decreasing, no repeated id, every id live, and
    * each distance equal to the true distance of that id (graft rounds to
    * 4 decimals). Recall counts returned ids that are among the exact top-k.
    */
  def checkSearch(hits: Seq[Hit], queries: Seq[(Long, Array[Float])],
      truth: Long => Array[(Long, Double)], vecOf: Long => Option[Array[Float]],
      k: Int, liveCount: Long): Check = {
    val bad = mutable.ArrayBuffer.empty[String]
    val byQuery = hits.groupBy(_.queryId)
    val known = queries.map(_._1).toSet
    byQuery.keys.filterNot(known).foreach(q => bad += s"rows for unknown query $q")
    val want = math.min(k.toLong, liveCount).toInt
    var found = 0L
    var expected = 0L
    queries.foreach { case (qid, qvec) =>
      val rows = byQuery.getOrElse(qid, Seq.empty).sortBy(_.rank)
      if (rows.length != want) bad += s"query $qid: ${rows.length} rows, expected $want"
      if (rows.map(_.rank) != (1 to rows.length)) bad += s"query $qid: ranks ${rows.map(_.rank)}"
      if (rows.map(_.id).distinct.length != rows.length) bad += s"query $qid: repeated id"
      rows.sliding(2).foreach {
        case Seq(a, b) if b.dist < a.dist => bad += s"query $qid: dist decreases at rank ${b.rank}"
        case _ =>
      }
      rows.foreach { h =>
        vecOf(h.id) match {
          case None => bad += s"query $qid: id ${h.id} is not live"
          case Some(v) =>
            val d = l2sq(qvec, v)
            if (math.abs(d - h.dist) > 1e-3 + 1e-6 * d)
              bad += s"query $qid: id ${h.id} dist ${h.dist}, true $d"
        }
      }
      val t = truth(qid).map(_._1).toSet
      found += rows.count(h => t.contains(h.id))
      expected += t.size
    }
    Check(bad.toSeq, found, expected, hits.length.toLong)
  }

  /** Distinct 3-token shingles of a token sequence, as graft's `shingleArrays`
    * forms them (a sequence shorter than 3 is one shingle). Tokens are word
    * indices below 2^20, packed into one Long per shingle.
    */
  def shingles(tokens: Array[Int]): Set[Long] = {
    val n = 3
    if (tokens.length < n) Set(tokens.foldLeft(0L)((acc, t) => (acc << 20) | t))
    else (0 to tokens.length - n).map { i =>
      (tokens(i).toLong << 40) | (tokens(i + 1).toLong << 20) | tokens(i + 2).toLong
    }.toSet
  }

  def jaccard(a: Set[Long], b: Set[Long]): Double = {
    val inter = a.count(b.contains)
    inter.toDouble / (a.size + b.size - inter)
  }

  /** Jaccard rounded half-up to 4 decimals — the value graft reports and
    * compares with the threshold.
    */
  def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Every pair `(a, b)`, `a < b`, whose rounded shingle Jaccard is at least
    * `tau`, found exactly: pairs with any similarity share a shingle, so an
    * inverted shingle index enumerates all of them.
    */
  def similarPairs(ids: Array[Long], sets: Array[Set[Long]], tau: Double): Map[(Long, Long), Double] = {
    val postings = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Int]]
    sets.indices.foreach(i => sets(i).foreach(s => postings.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += i))
    val out = mutable.HashMap.empty[(Long, Long), Double]
    sets.indices.foreach { i =>
      val partners = mutable.HashSet.empty[Int]
      sets(i).foreach(s => postings(s).foreach(j => if (j > i) partners += j))
      partners.foreach { j =>
        val jac = round4(jaccard(sets(i), sets(j)))
        if (jac >= tau) {
          val (a, b) = if (ids(i) < ids(j)) (ids(i), ids(j)) else (ids(j), ids(i))
          out((a, b)) = jac
        }
      }
    }
    out.toMap
  }

  /** Checks reported pairs `(a, b, jaccard)` against the exact pair set:
    * every pair is ordered, unrepeated, and carries its true rounded
    * Jaccard; `kept` must equal the number of connected components of the
    * reported pair graph over all `docCount` docs.
    */
  def checkDedup(pairs: Seq[(Long, Long, Double)], truth: Map[(Long, Long), Double],
      exact: (Long, Long) => Double, tau: Double, docCount: Long, kept: Long): Check = {
    val bad = mutable.ArrayBuffer.empty[String]
    val keys = pairs.map(p => (p._1, p._2))
    if (keys.distinct.length != keys.length) bad += "repeated pair"
    pairs.foreach { case (a, b, j) =>
      if (a >= b) bad += s"pair ($a, $b) not ordered"
      val t = exact(a, b)
      if (math.abs(t - j) > 1e-9) bad += s"pair ($a, $b): jaccard $j, exact $t"
      if (j < tau) bad += s"pair ($a, $b): jaccard $j below $tau"
    }
    val components = docCount - merges(keys)
    if (kept != components) bad += s"kept $kept docs, pair graph has $components components"
    val found = keys.distinct.count(truth.contains).toLong
    Check(bad.toSeq, found, truth.size.toLong, keys.distinct.length.toLong)
  }

  /** Number of union-find merges the edges perform (docs minus components). */
  def merges(edges: Seq[(Long, Long)]): Long = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    var n = 0L
    edges.foreach { case (a, b) =>
      val ra = find(a)
      val rb = find(b)
      if (ra != rb) { parent(math.max(ra, rb)) = math.min(ra, rb); n += 1 }
    }
    n
  }

  /** Rounds of synchronous min-label propagation over the edges until no
    * label changes, counting the final round that confirms it — the loop
    * `Dedup.canonicalGroups` runs.
    */
  def labelRounds(edges: Seq[(Long, Long)]): Int = {
    val adj = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Long]]
    edges.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, mutable.ArrayBuffer.empty) += b
      adj.getOrElseUpdate(b, mutable.ArrayBuffer.empty) += a
    }
    var label = adj.keys.map(v => v -> v).toMap
    var rounds = 0
    var changed = true
    while (changed) {
      rounds += 1
      val next = label.map { case (v, l) => v -> (l +: adj(v).map(label)).min }
      changed = next != label
      label = next
    }
    rounds
  }
}
