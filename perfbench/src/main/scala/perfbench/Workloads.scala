package perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.AnnIndex
import graft.operators.{Dedup, Knn, Mutations, Spann}

/** One timed region: its wall time, and its wall-clock window in epoch
  * milliseconds (for attributing Spark counters).
  */
final case class Timing(ms: Double, window: (Long, Long))

/** One checked closed-loop call: its timing, the work items it completed,
  * the violations its check found, and the quality tallies.
  */
final case class Outcome(t: Timing, items: Long, violations: Seq[String],
    found: Long, expected: Long, returned: Long)

/** A workload: a set-up that can be repeated, and a call the loop repeats.
  * Everything a call sends graft is generated from the seed.
  */
trait Workload {
  /** One full set-up. Repeated set-ups replace the state; the last serves the loop. */
  def setup(tr: Tracer): Unit
  /** Calls made after set-up and before timing, to fill caches and JIT. */
  def warmups: Int
  def call(i: Int, tr: Tracer): Outcome
  /** Layer-split and reference calls made after a traced call, untimed. */
  def traceExtras(tr: Tracer): Unit
  /** Per-layer work recorded once after the loop of a traced run; returns
    * the violations its own checks found.
    */
  def traceSummary(tr: Tracer, log: TaskLog): Seq[String] = Seq.empty
}

object Workloads {
  val K = 10

  /** Shared vector corpus: a Gaussian mixture (see README). */
  val CorpusRows = 10000
  val Dim = 64
  val Clusters = 256
  val QueryPool = 4096
  val BulkBatch = 2048

  def timed[T](body: => T): (T, Timing) = {
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out = body
    val ms = (System.nanoTime() - t0) / 1e6
    (out, Timing(ms, (w0, System.currentTimeMillis() + 1)))
  }

  /** Brute-force truth for many queries, computed on all cores. */
  def truths(qs: Array[Array[Float]], ids: collection.IndexedSeq[Long],
      vecs: collection.IndexedSeq[Array[Float]], live: Int => Boolean): Array[Array[(Long, Double)]] = {
    val out = new Array[Array[(Long, Double)]](qs.length)
    java.util.stream.IntStream.range(0, qs.length).parallel()
      .forEach(i => out(i) = Checks.topK(qs(i), ids, vecs, live, K))
    out
  }

  val Names: Seq[String] = Seq("serve-bulk", "curate-dedup")

  def apply(name: String, spark: SparkSession, seed: Long, work: File): Workload =
    name match {
      case "serve-bulk" =>
        val mix = Gen.mixture(seed, Clusters, Dim)
        new Serve(spark, seed, mix, Gen.corpus(seed, mix, CorpusRows),
          mix.draw(QueryPool, Gen.rng(seed, "queries")), work)
      case "curate-dedup" => new Curate(spark, Gen.docs(seed, base = 8000, dups = 2000,
        len = 60, vocab = 5000, subs = 3))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  /** SPANN stage split and exact reference for one query batch, plus the
    * stage counters, all run outside the timed call.
    */
  def spannExtras(spark: SparkSession, index: AnnIndex, qdf: DataFrame, nq: Int,
      layout: PostingLayout, tr: Tracer): Unit = {
    val conf = index.conf
    val cand = Spann.candidateHeads(qdf, index.heads.get, conf.internalK,
      conf.maxDistRatio, conf.metric, conf.wideK, conf.closeRatio)
    val candRows = tr.span("Spann.stage1_ms")(cand.collect())
    val candDf = spark.createDataFrame(candRows.toList.asJava, cand.schema)
    val live = index.postings.get.join(index.deleted, Seq("id"), "left_anti")
    val buckets = if (live.columns.contains("head_bucket")) Some(conf.headBuckets) else None
    val stage2 = tr.span("Spann.stage2_ms")(
      Spann.searchFromCandidates(candDf, qdf, live, K, conf.metric, buckets).collect())
    tr.span("Knn.exact_ms")(
      Knn.search(qdf, Mutations.liveView(index.vectors, index.deleted), K, conf.metric).collect())
    val pairs = candRows.map(r => (r.getAs[Number]("query_id").longValue, r.getAs[Number]("head_id").longValue))
    val perQuery = pairs.groupBy(_._1).values.toSeq
    val candidates = pairs.map(p => layout.live.getOrElse(p._2, Array.emptyLongArray).length.toLong).sum
    val distinct = perQuery.map(ps => ps.flatMap(p => layout.live.getOrElse(p._2, Array.emptyLongArray)).distinct.length.toLong).sum
    tr.count("Spann.head_count", layout.heads.toDouble)
    tr.count("Spann.heads_probed_per_query", pairs.length.toDouble / nq)
    tr.count("Spann.head_dist_evals", nq.toDouble * layout.heads)
    tr.count("Spann.posting_candidates_per_query", candidates.toDouble / nq)
    tr.count("Spann.replica_dup_ratio", if (distinct > 0) candidates.toDouble / distinct else 0.0)
    tr.count("Spann.result_yield", if (candidates > 0) stage2.length.toDouble / candidates else 0.0)
    tr.count("Spann.posting_rows", layout.rows.toDouble)
    tr.count("Mutations.live_rows", Mutations.liveView(index.vectors, index.deleted).count().toDouble)
  }
}

/** The posting lists of one index state, as the benchmark sees them: live
  * ids per head, physical posting rows and head count.
  */
final case class PostingLayout(live: Map[Long, Array[Long]], rows: Long, heads: Long)

object PostingLayout {
  def of(index: AnnIndex): PostingLayout = {
    val p = index.postings.get
    val live = p.join(index.deleted, Seq("id"), "left_anti")
      .select(col("head_id"), col("id")).collect()
      .groupBy(_.getLong(0)).map { case (h, rs) => h -> rs.map(_.getLong(1)) }
    PostingLayout(live, p.count(), index.heads.get.count())
  }
}

/** `serve-bulk`: the in-memory built index answering batches of
  * [[BulkBatch]] queries drawn in turn from a pool. A traced run ends with
  * a [[StoreProbe]] and a [[WriteProbe]].
  */
final class Serve(spark: SparkSession, seed: Long, mix: Gen.Mixture, corpus: Gen.Corpus,
    pool: Array[Array[Float]], work: File) extends Workload {
  import Workloads._

  private val corpusDf = Frames.distributed(spark,
    Frames.vectorRows(corpus.ids.toSeq, corpus.vecs.toSeq, corpus.meta.toSeq), Frames.VectorSchema, 4)
  private val truth = truths(pool, corpus.ids, corpus.vecs, _ => true)
  private var index: AnnIndex = _
  private lazy val layout = PostingLayout.of(index)
  private var lastQueries: DataFrame = _

  // calls keep getting faster for the first ~10 s (the JIT is still
  // compiling Spark's planner and the kernels); measuring before that made
  // the median drift by up to 20% between runs
  def warmups: Int = 12

  def setup(tr: Tracer): Unit =
    index = tr.span("AnnIndex.build_s")(AnnIndex(spark, corpusDf).build())

  private def batchAt(i: Int): Seq[(Long, Array[Float])] = {
    val start = math.floorMod(i.toLong * BulkBatch, pool.length.toLong).toInt
    (0 until BulkBatch).map { j =>
      val q = (start + j) % pool.length
      (q.toLong, pool(q))
    }
  }

  def call(i: Int, tr: Tracer): Outcome = {
    val qs = batchAt(i)
    val qdf = Frames.queries(spark, qs)
    lastQueries = qdf
    val (rows, t) = timed(tr.span("call") {
      val res = tr.span("AnnIndex.search_call_ms")(index.search(qdf, K))
      tr.span("AnnIndex.collect_ms")(res.collect())
    })
    val c = Checks.checkSearch(Frames.hits(rows), qs, q => truth(q.toInt), corpus.vecOf, K,
      corpus.ids.length.toLong)
    Outcome(t, qs.length.toLong, c.violations, c.found, c.expected, c.returned)
  }

  def traceExtras(tr: Tracer): Unit =
    spannExtras(spark, index, lastQueries, BulkBatch, layout, tr)

  override def traceSummary(tr: Tracer, log: TaskLog): Seq[String] =
    new StoreProbe(spark, corpus, pool, truth, index, work).run(tr, log) ++
      new WriteProbe(spark, seed, mix, corpus, pool, index).run(tr)
}

/** The storage path, probed in traced `serve-bulk` runs: the served index
  * is saved with the default `GraftConf` (256 posting buckets), loaded
  * back, and the loaded, bucketed index answers [[Queries]] single-query
  * searches, each checked.
  */
final class StoreProbe(spark: SparkSession, corpus: Gen.Corpus, pool: Array[Array[Float]],
    truth: Array[Array[(Long, Double)]], index: AnnIndex, work: File) {
  import Workloads._
  val Queries = 8

  def run(tr: Tracer, log: TaskLog): Seq[String] = {
    val dir = new File(work, "saved-index")
    tr.call = -3000
    tr.span("IndexStore.save_s")(index.save(dir.getPath))
    val loaded = tr.span("IndexStore.load_s")(AnnIndex.load(spark, dir.getPath))
    val disk = du(dir)
    val userBytes = corpus.ids.indices.map(i => 8L + 4L * Dim + corpus.meta(i).length).sum
    tr.count("IndexStore.disk_bytes", disk.toDouble)
    tr.count("IndexStore.bytes_per_user_byte", disk.toDouble / userBytes)
    val bad = mutable.ArrayBuffer.empty[String]
    val windows = (0 until Queries).map { q =>
      tr.call = -3001 - q
      val qs = Seq((q.toLong, pool(q)))
      val (rows, t) = timed(tr.span("IndexStore.point_search")(
        loaded.search(Frames.queries(spark, qs), K).collect()))
      bad ++= Checks.checkSearch(Frames.hits(rows), qs, t => truth(t.toInt), corpus.vecOf,
        K, corpus.ids.length.toLong).violations
      t.window
    }
    log.settle()
    tr.count("IndexStore.scan_bytes_per_call", log.over(windows, Main.Cores)("spark.input_bytes") / Queries)
    bad.toSeq
  }

  private def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(du).sum else f.length()
}

/** The write path, probed in traced `serve-bulk` runs: rounds against the
  * served index with `DeletePercentageForRefine` = 0.02. A round
  * adds [[Adds]] new vectors, tombstones as many live ids, asks
  * `needRefine`, compacts with `refineIndex` when it says so, then searches
  * [[Queries]] queries, checked against brute force over the live corpus.
  * Rounds run until one has compacted (one refine cycle, three rounds at
  * this size).
  */
final class WriteProbe(spark: SparkSession, seed: Long, mix: Gen.Mixture, corpus: Gen.Corpus,
    pool: Array[Array[Float]], start: AnnIndex) {
  import Workloads._
  val Adds = 100
  val Queries = 16
  val MaxRounds = 6

  private var index = start.setParameter("DeletePercentageForRefine", "0.02")
  private val addRng = Gen.rng(seed, "adds")
  private val deleteRng = Gen.rng(seed, "deletes")
  private val ids = mutable.ArrayBuffer.from(corpus.ids)
  private val vecs = mutable.ArrayBuffer.from(corpus.vecs)
  private val alive = mutable.ArrayBuffer.fill(corpus.ids.length)(true)
  private val liveIdx = mutable.ArrayBuffer.from(corpus.ids.indices)

  /** Runs the rounds; returns every violation found. */
  def run(tr: Tracer): Seq[String] = {
    val builtRows = index.postings.get.count()
    val bad = mutable.ArrayBuffer.empty[String]
    var refined = false
    var r = 0
    while (!refined && r < MaxRounds) {
      tr.call = -2000 - r
      refined = round(r, tr, bad)
      if (!refined) tr.count("Spann.delta_posting_rows", (index.postings.get.count() - builtRows).toDouble)
      tr.count("Mutations.tombstones", index.deleted.count().toDouble)
      r += 1
    }
    if (!refined) bad += s"no compaction within $MaxRounds write rounds"
    bad.toSeq
  }

  private def round(r: Int, tr: Tracer, bad: mutable.ArrayBuffer[String]): Boolean = {
    val newIds = (0 until Adds).map(j => ids.length.toLong + j)
    val newVecs = mix.draw(Adds, addRng)
    val newMeta = newIds.map(id => f"m${id % Gen.MetaValues}%02d")
    val gone = (0 until Adds).map { _ =>
      val p = deleteRng.nextInt(liveIdx.length)
      val idx = liveIdx(p)
      liveIdx(p) = liveIdx.last
      liveIdx.remove(liveIdx.length - 1)
      idx
    }
    val addDf = Frames.local(spark, Frames.vectorRows(newIds, newVecs.toSeq, newMeta), Frames.VectorSchema)
    val delDf = Frames.ids(spark, gone.map(ids))
    val qs = (0 until Queries).map { j =>
      val q = math.floorMod(r * Queries + j, pool.length)
      (q.toLong, pool(q))
    }
    val qdf = Frames.queries(spark, qs)
    var refined = false
    val rows = tr.span("write_round") {
      index = tr.span("AnnIndex.add_ms")(index.add(addDf))
      index = tr.span("AnnIndex.delete_ms")(index.deleteByIds(delDf))
      refined = tr.span("AnnIndex.needRefine_ms")(index.needRefine)
      if (refined) index = tr.span("AnnIndex.refine_s")(index.refineIndex())
      index.search(qdf, K).collect()
    }
    gone.foreach(idx => alive(idx) = false)
    newIds.indices.foreach { j =>
      liveIdx += ids.length
      ids += newIds(j); vecs += newVecs(j); alive += true
    }
    val position = ids.indices.map(j => ids(j) -> j).toMap
    val truth = truths(qs.map(_._2).toArray, ids, vecs, alive).zip(qs.map(_._1)).map(_.swap).toMap
    bad ++= Checks.checkSearch(Frames.hits(rows), qs, truth,
      id => position.get(id).filter(alive).map(vecs), K, liveIdx.length.toLong).violations
    refined
  }
}

/** `curate-dedup`: one pass is MinHash near-duplicate detection at Jaccard
  * 0.7, connected-component grouping, and keeping one doc per group.
  */
final class Curate(spark: SparkSession, docs: Gen.Docs) extends Workload {
  val Tau = 0.7
  private val rows: Seq[Row] = docs.ids.indices.map(i => Row(docs.ids(i), docs.text(i)))
  private val sets = docs.tokens.map(Checks.shingles)
  private val truth = Checks.similarPairs(docs.ids, sets, Tau)
  private var docsDf: DataFrame = _
  private var lastPairs: Seq[(Long, Long, Double)] = Seq.empty

  // the first pass compiles every plan of the pipeline (~9 s); the passes
  // after it keep getting faster for ~15 s, and with fewer warm-up passes
  // the median moved by ~10% between runs
  def warmups: Int = 6

  def setup(tr: Tracer): Unit = {
    if (docsDf != null) docsDf.unpersist(blocking = true)
    docsDf = tr.span("load_docs")(Frames.distributed(spark, rows, Frames.DocSchema, 4))
  }

  def call(i: Int, tr: Tracer): Outcome = {
    val ((pairs, kept), t) = Workloads.timed(tr.span("call") {
      val pairs = tr.span("Dedup.minhashDedup_ms")(Dedup.minhashDedup(docsDf, Tau))
      val groups = tr.span("Dedup.groups_ms")(Dedup.canonicalGroups(docsDf, pairs))
      val kept = tr.span("Dedup.apply_ms")(Dedup.applyDedup(docsDf, groups).count())
      (pairs, kept)
    })
    lastPairs = pairs.collect().toSeq.map(r =>
      (r.getAs[Number]("a").longValue, r.getAs[Number]("b").longValue, r.getAs[Number]("jaccard").doubleValue))
    val c = Checks.checkDedup(lastPairs, truth,
      (a, b) => Checks.round4(Checks.jaccard(sets(a.toInt), sets(b.toInt))), Tau, docs.ids.length.toLong, kept)
    Outcome(t, docs.ids.length.toLong, c.violations, c.found, c.expected, c.returned)
  }

  def traceExtras(tr: Tracer): Unit = {
    val da = tr.span("Dedup.shingle_ms")(Dedup.shingleArrays(docsDf).localCheckpoint(true))
    val sigs = tr.span("Dedup.minhash_ms")(Dedup.minhashFromArrays(da).localCheckpoint(true))
    val bands = Dedup.lshBands(sigs)
    val cands = tr.span("Dedup.lsh_ms")(Dedup.lshCandidates(bands).localCheckpoint(true))
    val candidates = cands.count()
    val maxBucket = bands.groupBy(col("band"), col("band_hash")).count()
      .agg(org.apache.spark.sql.functions.max(col("count"))).head().getLong(0)
    tr.count("Dedup.candidate_pairs", candidates.toDouble)
    tr.count("Dedup.verified_pairs", lastPairs.length.toDouble)
    tr.count("Dedup.verify_yield", if (candidates > 0) lastPairs.length.toDouble / candidates else 0.0)
    tr.count("Dedup.max_band_bucket", maxBucket.toDouble)
    tr.count("Dedup.label_rounds", Checks.labelRounds(lastPairs.map(p => (p._1, p._2))).toDouble)
    Seq(da, sigs, cands).foreach(_.unpersist(blocking = false))
  }
}
