package perfbench

import scala.util.hashing.MurmurHash3

/** Seeded input generators. Every stream is derived from `(seed, stream
  * name)`, so one seed always gives the same inputs and two streams never
  * share draws (the query stream is independent of the corpus stream).
  */
object Gen {

  def rng(seed: Long, stream: String): java.util.Random =
    new java.util.Random(seed * 0x9E3779B97F4A7C15L ^ MurmurHash3.stringHash(stream).toLong)

  /** Gaussian-mixture parameters: `clusters` centres drawn from N(0, 10²)
    * per coordinate; points are a uniformly chosen centre plus N(0, 1) noise.
    */
  final case class Mixture(centres: Array[Array[Float]]) {
    def dim: Int = centres(0).length

    def draw(n: Int, r: java.util.Random): Array[Array[Float]] =
      Array.fill(n) {
        val c = centres(r.nextInt(centres.length))
        Array.tabulate(dim)(j => (c(j) + r.nextGaussian()).toFloat)
      }
  }

  def mixture(seed: Long, clusters: Int, dim: Int): Mixture = {
    val r = rng(seed, "centres")
    Mixture(Array.fill(clusters, dim)((r.nextGaussian() * 10.0).toFloat))
  }

  val MetaValues: Int = 16

  /** The vector corpus `(id, vec, meta)`: ids `0 until n`, meta one of
    * [[MetaValues]] strings.
    */
  final case class Corpus(ids: Array[Long], vecs: Array[Array[Float]], meta: Array[String]) {
    def vecOf(id: Long): Option[Array[Float]] =
      if (id >= 0 && id < vecs.length) Some(vecs(id.toInt)) else None
  }

  def corpus(seed: Long, mix: Mixture, n: Int): Corpus = {
    val r = rng(seed, "corpus")
    val vecs = mix.draw(n, r)
    val meta = Array.fill(n)(f"m${r.nextInt(MetaValues)}%02d")
    Corpus(Array.tabulate(n)(_.toLong), vecs, meta)
  }

  def word(t: Int): String = "w" + Integer.toString(t, 36)

  /** A document corpus with planted near-duplicates: `base` docs of `len`
    * tokens drawn uniformly from a `vocab`-word vocabulary, then `dups`
    * copies of distinct base docs, each with `subs` tokens at distinct
    * positions replaced by a different word. Doc ids: base docs `0 until
    * base`, copies after them. Tokens are word indices (see [[word]]).
    */
  final case class Docs(ids: Array[Long], tokens: Array[Array[Int]]) {
    def text(i: Int): String = tokens(i).map(word).mkString(" ")
  }

  def docs(seed: Long, base: Int, dups: Int, len: Int, vocab: Int, subs: Int): Docs = {
    require(dups <= base && subs <= len && vocab > 1)
    val r = rng(seed, "docs")
    val baseToks = Array.fill(base, len)(r.nextInt(vocab))
    val sources = shuffled(base, r).take(dups)
    val dupToks = sources.map { s =>
      val t = baseToks(s).clone()
      shuffled(len, r).take(subs).foreach { p =>
        var w = r.nextInt(vocab)
        while (w == t(p)) w = r.nextInt(vocab)
        t(p) = w
      }
      t
    }
    Docs(Array.tabulate(base + dups)(_.toLong), baseToks ++ dupToks)
  }

  private def shuffled(n: Int, r: java.util.Random): Array[Int] = {
    val a = Array.tabulate(n)(identity)
    for (i <- n - 1 to 1 by -1) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }
}
