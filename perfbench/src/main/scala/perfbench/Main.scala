package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The graft benchmark. One client thread drives graft in a closed loop
  * (the next call is sent after the previous result is collected) on a
  * `local[4]` Spark session, and prints one JSON line:
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * }}}
  *
  * With `--trace 0` the line carries the end-to-end metrics; with
  * `--trace 1` every other call is traced and the line carries the
  * per-layer metrics. See perfbench/README.md for every metric.
  */
object Main {
  val Cores = 4
  /** Set-ups per run; `setup_s` is their median. */
  val SetupReps = 3
  /** Minimum measured calls of a run. */
  val MinCalls = 3

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean)

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
    }
    val seconds = need("seconds").toInt
    require(seconds >= 1, "--seconds must be at least 1")
    Opts(need("workload"), need("seed").toLong, seconds, trace)
  }

  /** End-to-end metrics `(name, unit)`, printed with `--trace 0`. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "call_p50_ms" -> "ms",
    "throughput_per_s" -> "1/s",
    "recall" -> "ratio",
    "precision" -> "ratio",
    "resident_mb" -> "MB")

  /** Per-layer metrics `(name, unit)`, printed with `--trace 1`. A layer the
    * workload does not call reports 0.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.exec_run_ms" -> "ms", "spark.exec_cpu_ms" -> "ms", "spark.gc_ms" -> "ms",
    "spark.shuffle_read_bytes" -> "bytes", "spark.shuffle_write_bytes" -> "bytes",
    "spark.input_bytes" -> "bytes", "spark.scheduler_delay_ms" -> "ms",
    "spark.driver_gap_ms" -> "ms", "spark.core_busy_ratio" -> "ratio",
    "AnnIndex.search_call_ms" -> "ms", "AnnIndex.collect_ms" -> "ms", "AnnIndex.build_s" -> "s",
    "AnnIndex.add_ms" -> "ms", "AnnIndex.delete_ms" -> "ms", "AnnIndex.needRefine_ms" -> "ms",
    "AnnIndex.refine_s" -> "s",
    "Spann.stage1_ms" -> "ms", "Spann.stage2_ms" -> "ms", "Spann.head_count" -> "count",
    "Spann.heads_probed_per_query" -> "count", "Spann.head_dist_evals" -> "count",
    "Spann.posting_candidates_per_query" -> "count", "Spann.replica_dup_ratio" -> "ratio",
    "Spann.result_yield" -> "ratio", "Spann.posting_rows" -> "count",
    "Spann.delta_posting_rows" -> "count",
    "Knn.exact_ms" -> "ms",
    "IndexStore.save_s" -> "s", "IndexStore.load_s" -> "s", "IndexStore.disk_bytes" -> "bytes",
    "IndexStore.bytes_per_user_byte" -> "ratio", "IndexStore.scan_bytes_per_call" -> "bytes",
    "Mutations.live_rows" -> "count", "Mutations.tombstones" -> "count",
    "Dedup.shingle_ms" -> "ms", "Dedup.minhash_ms" -> "ms", "Dedup.lsh_ms" -> "ms",
    "Dedup.minhashDedup_ms" -> "ms", "Dedup.groups_ms" -> "ms", "Dedup.apply_ms" -> "ms",
    "Dedup.candidate_pairs" -> "count", "Dedup.verified_pairs" -> "count",
    "Dedup.verify_yield" -> "ratio", "Dedup.max_band_bucket" -> "count",
    "Dedup.label_rounds" -> "count",
    "bench.calls" -> "count", "bench.traced_calls" -> "count",
    "bench.call_tail_ms" -> "ms", "bench.tail_percentile" -> "%",
    "trace.overhead_ms" -> "ms")

  def main(args: Array[String]): Unit = {
    val opts = try parse(args) catch {
      case e: IllegalArgumentException =>
        System.err.println(s"perfbench: ${e.getMessage}")
        sys.exit(2)
    }
    val work = new File(sys.props.getOrElse("perfbench.work", "perfbench/target/work"))
    val traces = new File(sys.props.getOrElse("perfbench.traces", "perfbench/target/traces"))
    val spark = graft.GraftSession.configure(SparkSession.builder(), Cores.toString)
      .config("spark.local.dir", new File(work, "spark").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val code =
      try run(spark, opts, work, traces)
      catch {
        case NonFatal(e) =>
          System.err.println(s"perfbench: run failed: $e")
          e.printStackTrace()
          1
      } finally spark.stop()
    sys.exit(code)
  }

  private def attempt(wl: Workload, i: Int, tr: Tracer): Outcome = {
    val w0 = System.currentTimeMillis()
    try wl.call(i, tr)
    catch {
      case NonFatal(e) =>
        Outcome(Timing(Double.NaN, (w0, System.currentTimeMillis())), 0,
          Seq(s"call $i threw $e"), 0, 0, 0)
    }
  }

  def run(spark: SparkSession, o: Opts, work: File, traces: File): Int = {
    val log = new TaskLog
    if (o.trace) spark.sparkContext.addSparkListener(log)
    val tr = new Tracer
    phase("session up")
    val wl = Workloads(o.workload, spark, o.seed, work)
    phase("inputs generated")

    val setupS = (0 until SetupReps).map { r =>
      tr.active = o.trace
      tr.call = -1000 - r
      Workloads.timed(wl.setup(tr))._2.ms / 1000
    }
    phase("set-up done")
    tr.active = false
    val warm = (1 to wl.warmups).map(w => attempt(wl, -w, tr))
    phase("warm-up done")

    val calls = mutable.ArrayBuffer.empty[(Outcome, Boolean)]
    val deadline = System.nanoTime() + o.seconds * 1000000000L
    while (System.nanoTime() < deadline || calls.length < MinCalls) {
      val i = calls.length
      val traced = o.trace && i % 2 == 1
      tr.active = traced
      tr.call = i
      val out = attempt(wl, i, tr)
      val extra =
        if (traced && out.violations.isEmpty)
          try { wl.traceExtras(tr); Seq.empty }
          catch { case NonFatal(e) => Seq(s"traced extras of call $i threw $e") }
        else Seq.empty
      tr.active = false
      calls += ((out.copy(violations = out.violations ++ extra), traced))
    }
    phase("loop done")
    val residentMb = resident(spark)
    val summary =
      if (!o.trace) Seq.empty
      else {
        tr.active = true
        val bad = try wl.traceSummary(tr, log) catch { case NonFatal(e) => Seq(s"traced summary threw $e") }
        tr.active = false
        if (bad.isEmpty) Seq.empty
        else Seq(Outcome(Timing(Double.NaN, (0L, 0L)), 0, bad, 0, 0, 0))
      }

    val outcomes = warm ++ calls.map(_._1) ++ summary
    val failed = outcomes.count(_.violations.nonEmpty)
    outcomes.filter(_.violations.nonEmpty).take(5).foreach(c =>
      System.err.println(s"perfbench: violation: ${c.violations.take(3).mkString("; ")}"))
    val measured = calls.map(_._1).filter(_.violations.isEmpty)
    val lat = measured.map(_.t.ms).toSeq
    // the tail percentile needs more than 10 samples; below that, the
    // largest sample stands in for it (reported as p100)
    val (tailMs, tailPct) =
      if (lat.length > Stats.TailBeyond) Stats.tail(lat) else (lat.maxOption.getOrElse(0.0), 100.0)
    System.err.println(f"perfbench: ${o.workload} seed=${o.seed} calls=${calls.length} " +
      f"ok=${measured.length} tail=p$tailPct%.1f failed=$failed/${outcomes.length} " +
      f"error_rate=${failed.toDouble / outcomes.length}%.4f setups=${setupS.map(s => f"$s%.3f").mkString(",")} " +
      f"warm_ms=${warm.map(c => f"${c.t.ms}%.0f").mkString(",")} ms=${lat.map(m => f"$m%.0f").mkString(",")}")

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) {
        val busyS = measured.map(_.t.ms).sum / 1000
        val values = Map(
          "setup_s" -> Stats.median(setupS),
          "call_p50_ms" -> (if (lat.nonEmpty) Stats.median(lat) else 0.0),
          "throughput_per_s" -> (if (busyS > 0) measured.map(_.items).sum / busyS else 0.0),
          "recall" -> ratio(measured.map(_.found).sum, measured.map(_.expected).sum),
          "precision" -> ratio(measured.map(_.found).sum, measured.map(_.returned).sum),
          "resident_mb" -> residentMb)
        EndToEnd.map { case (n, u) => (n, values(n), u) }
      } else {
        log.settle()
        val traced = calls.filter(_._2).map(_._1).filter(_.violations.isEmpty).toSeq
        val untraced = calls.filterNot(_._2).map(_._1).filter(_.violations.isEmpty).toSeq
        val sparkPerCall = log.over(traced.map(_.t.window), Cores).map { case (k, v) =>
          k -> (if (traced.nonEmpty) v / traced.length else 0.0)
        }
        val values = sparkPerCall ++ Map(
          "bench.calls" -> calls.length.toDouble,
          "bench.traced_calls" -> traced.length.toDouble,
          "bench.call_tail_ms" -> tailMs,
          "bench.tail_percentile" -> tailPct,
          "trace.overhead_ms" ->
            (if (traced.nonEmpty && untraced.nonEmpty)
              Stats.median(traced.map(_.t.ms)) - Stats.median(untraced.map(_.t.ms))
            else 0.0))
        tr.write(new File(traces, s"${o.workload}-seed${o.seed}.jsonl"))
        PerLayer.map { case (n, u) =>
          val v = values.get(n).orElse {
            val spans = tr.spansNamed(n)
            if (spans.nonEmpty) Some(Stats.median(spans.map(_.ms)) / (if (u == "s") 1000 else 1))
            else {
              val c = tr.counted(n)
              if (c.nonEmpty) Some(Stats.mean(c)) else None
            }
          }
          (n, v.getOrElse(0.0), u)
        }
      }

    println(resultLine(failed == 0, outcomes.length, failed, metrics))
    if (failed == 0) 0 else 1
  }

  private val started = System.nanoTime()

  private def phase(what: String): Unit =
    System.err.println(f"perfbench: ${(System.nanoTime() - started) / 1e9}%.1f s: $what")

  private def ratio(a: Long, b: Long): Double = if (b > 0) a.toDouble / b else 0.0

  /** Spark block-storage memory in use (cached inputs, checkpoints,
    * broadcasts), in MB.
    */
  def resident(spark: SparkSession): Double = {
    // blocks of frames no longer referenced (earlier set-ups' checkpoints)
    // leave storage only after a GC lets Spark's cleaner see them: collect
    // and poll until the figure holds still, so it counts live state only
    def used() = spark.sparkContext.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum
    var last = -1L
    var now = used()
    var polls = 0
    while (now != last && polls < 20) {
      System.gc()
      Thread.sleep(250)
      last = now
      now = used()
      polls += 1
    }
    now / 1e6
  }

  def resultLine(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (n, v, u) =>
      require(!v.isNaN && !v.isInfinite, s"metric $n is $v")
      s""""$n": {"value": ${java.lang.Double.toString(v)}, "unit": "$u"}"""
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}
