package perfbench

import org.scalatest.funsuite.AnyFunSuite

import perfbench.Checks.Hit

/** The checkers on closed-form inputs: the SPTAG-mirror fixture
  * `x[i][j] = i` (n = 2000, d = 10) with queries `q[t][j] = 2t`, whose
  * exact neighbours and distances are known by hand.
  */
class ChecksSpec extends AnyFunSuite {
  private val n = 2000
  private val d = 10
  private val ids = (0 until n).map(_.toLong)
  private val vecs = (0 until n).map(i => Array.fill(d)(i.toFloat))
  private val queries = (0 until 3).map(t => (t.toLong, Array.fill(d)((2 * t).toFloat)))
  private def truth(q: Long) = Checks.topK(queries(q.toInt)._2, ids, vecs, _ => true, 3)
  private def vecOf(id: Long) = if (id >= 0 && id < n) Some(vecs(id.toInt)) else None

  // distance d·(i − 2t)²; ties broken by id
  private val expected = Map(
    0L -> Seq(0L -> 0.0, 1L -> 10.0, 2L -> 40.0),
    1L -> Seq(2L -> 0.0, 1L -> 10.0, 3L -> 10.0),
    2L -> Seq(4L -> 0.0, 3L -> 10.0, 5L -> 10.0))

  private def exactHits: Seq[Hit] =
    expected.toSeq.flatMap { case (q, ns) =>
      ns.zipWithIndex.map { case ((id, dist), r) => Hit(q, r + 1, id, dist) }
    }

  test("brute-force truth matches the closed form") {
    expected.foreach { case (q, ns) => assert(truth(q).toSeq == ns) }
  }

  test("truth skips rows that are not live") {
    val t = Checks.topK(queries(0)._2, ids, vecs, i => i != 1, 3)
    assert(t.map(_._1).toSeq == Seq(0L, 2L, 3L))
  }

  test("an exact result passes with recall 1") {
    val c = Checks.checkSearch(exactHits, queries, truth, vecOf, 3, n)
    assert(c.violations.isEmpty)
    assert(c.found == 9 && c.expected == 9 && c.returned == 9)
  }

  test("a wrong but well-formed neighbour lowers recall without a violation") {
    val hits = exactHits.map(h => if (h.queryId == 0 && h.rank == 3) h.copy(id = 3, dist = 90.0) else h)
    val c = Checks.checkSearch(hits, queries, truth, vecOf, 3, n)
    assert(c.violations.isEmpty)
    assert(c.found == 8 && c.expected == 9)
  }

  test("malformed results are violations") {
    def bad(hits: Seq[Hit], live: Long => Option[Array[Float]] = vecOf) =
      Checks.checkSearch(hits, queries, truth, live, 3, n).violations
    assert(bad(exactHits.filterNot(h => h.queryId == 1 && h.rank == 3)).exists(_.contains("rows")))
    assert(bad(exactHits.map(h => if (h.queryId == 2 && h.rank == 2) h.copy(rank = 4) else h))
      .exists(_.contains("ranks")))
    assert(bad(exactHits.map(h => if (h.queryId == 0 && h.rank == 3) h.copy(id = 1, dist = 10.0) else h))
      .exists(_.contains("repeated")))
    assert(bad(exactHits.map(h => if (h.queryId == 0 && h.rank == 2) h.copy(dist = 50.0) else h))
      .exists(_.contains("decreases")))
    assert(bad(exactHits.map(h => if (h.queryId == 0 && h.rank == 1) h.copy(dist = 0.5) else h))
      .exists(_.contains("true")))
    assert(bad(exactHits, id => if (id == 1) None else vecOf(id)).exists(_.contains("not live")))
    assert(bad(exactHits :+ Hit(9, 1, 0, 0.0)).exists(_.contains("unknown query")))
  }

  test("fewer live rows than k asks for exactly that many") {
    val c = Checks.checkSearch(exactHits.filter(_.rank <= 2), queries,
      q => truth(q).take(2), vecOf, 3, liveCount = 2)
    assert(c.violations.isEmpty)
  }

  private val doc = (0 until 60).toArray
  private def sub(at: Int) = doc.updated(at, 1000)

  test("shingle Jaccard in closed form") {
    val a = Checks.shingles(doc)
    assert(a.size == 58)
    // the last token is in one shingle, a middle token in three
    assert(Checks.jaccard(a, Checks.shingles(sub(59))) == 57.0 / 59)
    assert(Checks.jaccard(a, Checks.shingles(sub(30))) == 55.0 / 61)
    assert(Checks.round4(57.0 / 59) == 0.9661)
    assert(Checks.shingles(Array(1, 2)).size == 1)
  }

  test("similar pairs are found exactly, and dedup output is checked against them") {
    val unrelated = (2000 until 2060).toArray
    val docs = Array(doc, sub(30), unrelated, sub(59))
    val sets = docs.map(Checks.shingles)
    val dids = Array(0L, 1L, 2L, 3L)
    val truthPairs = Checks.similarPairs(dids, sets, 0.7)
    val j = (a: Long, b: Long) => Checks.round4(Checks.jaccard(sets(a.toInt), sets(b.toInt)))
    // doc vs each copy, and the two copies (54 shingles shared of 62)
    assert(truthPairs.keySet == Set((0L, 1L), (0L, 3L), (1L, 3L)))
    assert(truthPairs((0L, 1L)) == Checks.round4(55.0 / 61))

    val all = truthPairs.toSeq.map { case ((a, b), v) => (a, b, v) }
    val ok = Checks.checkDedup(all, truthPairs, j, 0.7, docCount = 4, kept = 2)
    assert(ok.violations.isEmpty && ok.found == 3 && ok.expected == 3 && ok.returned == 3)

    val partial = Checks.checkDedup(all.take(1), truthPairs, j, 0.7, docCount = 4, kept = 3)
    assert(partial.violations.isEmpty && partial.found == 1 && partial.expected == 3)

    assert(Checks.checkDedup(all, truthPairs, j, 0.7, 4, kept = 3).violations.exists(_.contains("components")))
    assert(Checks.checkDedup(Seq((0L, 1L, 0.5)), truthPairs, j, 0.7, 4, 3).violations.nonEmpty)
    assert(Checks.checkDedup(Seq((1L, 0L, j(0, 1))), truthPairs, j, 0.7, 4, 3)
      .violations.exists(_.contains("ordered")))
  }

  test("label propagation rounds on a chain and on no edges") {
    assert(Checks.labelRounds(Seq((1L, 2L), (2L, 3L))) == 3)
    assert(Checks.labelRounds(Seq((1L, 2L))) == 2)
    assert(Checks.labelRounds(Seq.empty) == 1)
  }
}
