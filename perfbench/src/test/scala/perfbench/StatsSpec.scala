package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("the tail is the highest percentile with 10 samples beyond it") {
    val xs = (1 to 100).map(_.toDouble).reverse
    assert(Stats.tail(xs) == ((90.0, 90.0)))
    val twenty = (1 to 20).map(_.toDouble)
    assert(Stats.tail(twenty) == ((10.0, 50.0)))
    // eleven samples: only the smallest has ten beyond it
    val eleven = (1 to 11).map(_.toDouble)
    val (v, p) = Stats.tail(eleven)
    assert(v == 1.0 && math.abs(p - 100.0 / 11) < 1e-12)
  }

  test("a tail needs more than ten samples") {
    assertThrows[IllegalArgumentException](Stats.tail((1 to 10).map(_.toDouble)))
  }

  test("covered time is the union of intervals clipped to the window") {
    val intervals = Seq((10L, 30L), (20L, 40L), (50L, 60L), (95L, 120L), (-5L, 3L), (40L, 40L))
    // [0,3) + [10,40) + [50,60) + [95,100)
    assert(Stats.covered(intervals, 0, 100) == 3 + 30 + 10 + 5)
    assert(Stats.gap(intervals, 0, 100) == 100 - 48)
    assert(Stats.gap(Seq.empty, 0, 100) == 100)
    assert(Stats.gap(Seq((0L, 100L), (10L, 20L)), 0, 100) == 0)
  }

  test("spark counters of a hand-built task timeline") {
    val log = new TaskLog
    def task(launch: Long, finish: Long) =
      TaskRec(launch, finish, runMs = finish - launch, cpuNs = 1000000L, gcMs = 1,
        schedulerDelayMs = 2, shuffleRead = 10, shuffleWrite = 20, inputBytes = 30)
    // window [1000, 1100): tasks cover [1010, 1040) and [1060, 1070) in
    // four slots; the task launched at 1200 belongs to no window
    Seq(task(1010, 1030), task(1020, 1040), task(1060, 1070), task(1200, 1300))
      .foreach(log.tasks.add)
    Seq(1005L, 1055L, 1250L).foreach(t => log.jobs.add(t))
    val m = log.over(Seq((1000L, 1100L)), cores = 4)
    assert(m("spark.tasks") == 3)
    assert(m("spark.jobs") == 2)
    assert(m("spark.driver_gap_ms") == 100 - 30 - 10)
    assert(m("spark.core_busy_ratio") == (20 + 20 + 10) / 400.0)
    assert(m("spark.exec_run_ms") == 50)
    assert(m("spark.exec_cpu_ms") == 3.0)
    assert(m("spark.shuffle_write_bytes") == 60)
  }
}
