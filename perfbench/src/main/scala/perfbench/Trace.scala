package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}

/** A timed region around one call into a layer. `parent` is the id of the
  * enclosing span (-1 at top level); spans of one benchmark call share
  * `call`. Times are `System.nanoTime` nanoseconds.
  */
final case class Span(id: Int, name: String, start: Long, end: Long, parent: Int, call: Int) {
  def ms: Double = (end - start) / 1e6
}

/** Records spans and per-call counters in memory; [[write]] dumps them once
  * at the end. While not `active` it still runs every body, and records
  * nothing.
  */
final class Tracer {
  var active: Boolean = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private val counts = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var call: Int = -1

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val id = spans.length
      val parent = open.headOption.getOrElse(-1)
      val start = System.nanoTime()
      spans += Span(id, name, start, start, parent, call)
      open = id :: open
      try body
      finally {
        open = open.tail
        spans(id) = spans(id).copy(end = System.nanoTime())
      }
    }

  def count(name: String, value: Double): Unit =
    if (active) counts.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += value

  def spansNamed(name: String): Seq[Span] = spans.filter(_.name == name).toSeq
  def counted(name: String): Seq[Double] = counts.get(name).map(_.toSeq).getOrElse(Seq.empty)

  def write(file: java.io.File): Unit = {
    file.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(file, "UTF-8")
    try spans.foreach { s =>
      w.println(s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.start},"end_ns":${s.end},"parent":${s.parent},"call":${s.call}}""")
    } finally w.close()
  }
}

/** One finished task as the listener saw it; times are epoch milliseconds. */
final case class TaskRec(
    launch: Long, finish: Long, runMs: Long, cpuNs: Long, gcMs: Long,
    schedulerDelayMs: Long, shuffleRead: Long, shuffleWrite: Long, inputBytes: Long)

/** The benchmark's own listener: logs every finished task, job start and
  * stage submission with its time, so counters can be attributed to call
  * windows after the loop.
  */
final class TaskLog extends SparkListener {
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val jobs = new ConcurrentLinkedQueue[java.lang.Long]()
  val stages = new ConcurrentLinkedQueue[java.lang.Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.add(e.time); () }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    stages.add(e.stageInfo.submissionTime.fold(System.currentTimeMillis())(_.longValue))
    ()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = e.taskMetrics
    if (m != null) {
      val gettingResult = if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L
      val delay = math.max(0L, (i.finishTime - i.launchTime) - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
      tasks.add(TaskRec(i.launchTime, i.finishTime, m.executorRunTime, m.executorCpuTime,
        m.jvmGCTime, delay, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead))
    }
    ()
  }

  /** Waits until no event has arrived for `quietMs` (at most `maxMs`), so
    * every event of the calls already made has been delivered.
    */
  def settle(quietMs: Long = 500, maxMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    var last = -1
    var stableSince = System.currentTimeMillis()
    while (System.currentTimeMillis() < deadline &&
      System.currentTimeMillis() - stableSince < quietMs) {
      val n = tasks.size + jobs.size + stages.size
      if (n != last) { last = n; stableSince = System.currentTimeMillis() }
      Thread.sleep(50)
    }
  }

  /** Spark counters of the windows `[lo, hi)` (epoch ms), summed over
    * windows, with `cores` task slots.
    */
  def over(windows: Seq[(Long, Long)], cores: Int): Map[String, Double] = {
    val ts = tasks.asScala.toSeq
    val js = jobs.asScala.toSeq.map(_.longValue)
    val ss = stages.asScala.toSeq.map(_.longValue)
    def in(t: Long, w: (Long, Long)) = t >= w._1 && t < w._2
    val per = windows.map { w =>
      val wt = ts.filter(t => in(t.launch, w))
      val wall = (w._2 - w._1).toDouble
      Map(
        "spark.jobs" -> js.count(in(_, w)).toDouble,
        "spark.stages" -> ss.count(in(_, w)).toDouble,
        "spark.tasks" -> wt.length.toDouble,
        "spark.exec_run_ms" -> wt.map(_.runMs).sum.toDouble,
        "spark.exec_cpu_ms" -> wt.map(_.cpuNs).sum / 1e6,
        "spark.gc_ms" -> wt.map(_.gcMs).sum.toDouble,
        "spark.shuffle_read_bytes" -> wt.map(_.shuffleRead).sum.toDouble,
        "spark.shuffle_write_bytes" -> wt.map(_.shuffleWrite).sum.toDouble,
        "spark.input_bytes" -> wt.map(_.inputBytes).sum.toDouble,
        "spark.scheduler_delay_ms" -> wt.map(_.schedulerDelayMs).sum.toDouble,
        "spark.driver_gap_ms" -> Stats.gap(wt.map(t => (t.launch, t.finish)), w._1, w._2).toDouble,
        "spark.core_busy_ratio" ->
          (if (wall > 0) wt.map(t => math.min(t.finish, w._2) - t.launch).sum / (cores * wall) else 0.0))
    }
    per.flatten.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
  }
}
