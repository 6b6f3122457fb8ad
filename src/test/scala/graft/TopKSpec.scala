package graft

import scala.util.Random

import graft.functions.TopKBuffer

class TopKSpec extends SparkSpec {

  test("buffer keeps k smallest by (dist, id)") {
    val buf = new TopKBuffer(3)
    val items = Seq((5.0, 1L), (1.0, 2L), (3.0, 3L), (2.0, 4L), (4.0, 5L))
    items.foreach { case (d, id) => buf.insert(d, id) }
    assert(buf.sorted.toSeq === Seq((2L, 1.0), (4L, 2.0), (3L, 3.0)))
  }

  test("scan-top-k routers hand out the right query slices") {
    import graft.functions.ScanTopK.{KeyIndex, OtherKey, Probe, SameKey}
    // keys 30, 10, 30(dup), 20 → sorted CSR with the duplicate collapsed
    val idx = KeyIndex.of(Array(30L, 10L, 30L, 20L, 10L), Array(2, 1, 2, 0, 3))
    assert(idx.keys.toSeq === Seq(10L, 20L, 30L))
    assert(idx.offsets.toSeq === Seq(0, 2, 3, 4))
    assert(idx.qIdx.toSeq === Seq(1, 3, 0, 2))
    val qids = Array(100L, 101L, 102L, 103L)
    val spans = new Array[Int](4)
    def slices(n: Int) = (0 until n).map(s => idx.qIdx.slice(spans(2 * s), spans(2 * s + 1)).toSeq)
    assert(slices(Probe(idx).route(10L, -1L, qids, spans)) === Seq(Seq(1, 3)))
    assert(Probe(idx).route(99L, -1L, qids, spans) === 0)
    // row 103 is anchor 3: its own slot is skipped
    assert(slices(SameKey(idx).route(10L, 103L, qids, spans)).flatten === Seq(1))
    assert(slices(OtherKey(idx).route(10L, 103L, qids, spans)).flatten === Seq(0, 2))
    assert(slices(OtherKey(idx).route(99L, 103L, qids, spans)).flatten === Seq(1, 3, 0, 2))
  }

  test("ties break on id ascending") {
    val buf = new TopKBuffer(2)
    Seq((1.0, 9L), (1.0, 3L), (1.0, 7L)).foreach { case (d, id) => buf.insert(d, id) }
    assert(buf.sorted.toSeq === Seq((3L, 1.0), (7L, 1.0)))
  }

  test("merge of partial buffers == single buffer (partial-agg correctness)") {
    val rnd = new Random(42)
    val items = Seq.fill(500)((rnd.nextDouble() * 100, rnd.nextInt(10000).toLong))
    val whole = new TopKBuffer(10)
    items.foreach { case (d, id) => whole.insert(d, id) }
    val parts = items.grouped(50).map { chunk =>
      val b = new TopKBuffer(10)
      chunk.foreach { case (d, id) => b.insert(d, id) }
      b
    }
    val merged = new TopKBuffer(10)
    parts.foreach { p =>
      (0 until p.size).foreach(i => merged.insert(p.dists(i), p.ids(i)))
    }
    assert(merged.sorted.toSeq === whole.sorted.toSeq)
  }

  test("fewer than k items returns all, sorted") {
    val buf = new TopKBuffer(10)
    Seq((3.0, 1L), (1.0, 2L)).foreach { case (d, id) => buf.insert(d, id) }
    assert(buf.sorted.toSeq === Seq((2L, 1.0), (1L, 3.0)))
  }
}
