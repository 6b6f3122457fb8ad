package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private def corpusOf(seed: Long) = {
    val mix = Gen.mixture(seed, clusters = 8, dim = 4)
    (mix, Gen.corpus(seed, mix, 50), mix.draw(5, Gen.rng(seed, "queries")))
  }

  test("the same seed gives identical vectors, meta and queries") {
    val (m1, c1, q1) = corpusOf(7)
    val (m2, c2, q2) = corpusOf(7)
    assert(m1.centres.map(_.toSeq).toSeq == m2.centres.map(_.toSeq).toSeq)
    assert(c1.ids.toSeq == c2.ids.toSeq)
    assert(c1.vecs.map(_.toSeq).toSeq == c2.vecs.map(_.toSeq).toSeq)
    assert(c1.meta.toSeq == c2.meta.toSeq)
    assert(q1.map(_.toSeq).toSeq == q2.map(_.toSeq).toSeq)
  }

  test("another seed gives different vectors and queries") {
    val (_, c1, q1) = corpusOf(7)
    val (_, c2, q2) = corpusOf(8)
    assert(c1.vecs.map(_.toSeq).toSeq != c2.vecs.map(_.toSeq).toSeq)
    assert(q1.map(_.toSeq).toSeq != q2.map(_.toSeq).toSeq)
  }

  test("queries are drawn from their own stream, not the corpus stream") {
    val (_, c, q) = corpusOf(7)
    assert(!c.vecs.exists(v => q.exists(_.sameElements(v))))
  }

  test("meta takes one of the 16 values") {
    val (_, c, _) = corpusOf(3)
    assert(c.meta.forall(m => m.matches("m[0-9]{2}") && m.drop(1).toInt < Gen.MetaValues))
  }

  test("documents are deterministic per seed and plant near-duplicates") {
    val d1 = Gen.docs(5, base = 40, dups = 10, len = 12, vocab = 100, subs = 3)
    val d2 = Gen.docs(5, base = 40, dups = 10, len = 12, vocab = 100, subs = 3)
    val d3 = Gen.docs(6, base = 40, dups = 10, len = 12, vocab = 100, subs = 3)
    assert(d1.tokens.map(_.toSeq).toSeq == d2.tokens.map(_.toSeq).toSeq)
    assert(d1.tokens.map(_.toSeq).toSeq != d3.tokens.map(_.toSeq).toSeq)
    assert(d1.ids.toSeq == (0L until 50L))
    // every copy differs from exactly one base doc, in exactly `subs` positions
    val base = d1.tokens.take(40)
    d1.tokens.drop(40).foreach { dup =>
      val diffs = base.map(b => b.indices.count(i => b(i) != dup(i)))
      assert(diffs.count(_ == 3) == 1)
    }
    // and the copies come from distinct base docs
    val sources = d1.tokens.drop(40).map(dup => base.indexWhere(b => b.indices.count(i => b(i) != dup(i)) == 3))
    assert(sources.distinct.length == 10)
  }

  test("document text is the words of its tokens, which tokenize back to them") {
    val d = Gen.docs(1, base = 3, dups = 1, len = 5, vocab = 50, subs = 1)
    assert(d.text(0).split(" ").toSeq == d.tokens(0).toSeq.map(Gen.word))
    assert(d.text(0).split("[^a-z0-9]+").forall(_.nonEmpty))
  }
}
