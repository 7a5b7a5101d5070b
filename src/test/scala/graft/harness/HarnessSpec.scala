package graft.harness

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class HarnessSpec extends AnyFunSuite {

  test("Session.profile(4) pins the engine conf set, and the test session is built from it") {
    assert(Session.conf(4) === Map(
      "spark.master" -> "local[4]",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.extensions" -> "graft.GraftExtensions",
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "262144",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false"))
    val built = TestSpark.spark.sparkContext.getConf
    Session.conf(4).foreach { case (k, v) => assert(built.get(k) === v, k) }
  }

  test("straggler ratio: max over stages of max/median, short tasks and small stages skipped") {
    // stage 1: eight non-trivial tasks (median 400, max 1200) plus short
    // tasks that must not drag the median down
    val stage1 = Seq(300L, 300L, 400L, 400L, 400L, 500L, 600L, 1200L).map(1 -> _) ++
      Seq(10L, 20L, 199L).map(1 -> _)
    // stage 2: eight tasks, max/median 2.0
    val stage2 = Seq(250L, 250L, 250L, 500L, 500L, 500L, 900L, 1000L).map(2 -> _)
    // stage 3: a huge outlier, but only seven tasks of at least 200 ms
    val stage3 = (Seq.fill(6)(200L) :+ 100000L).map(3 -> _) ++ Seq(5L, 5L).map(3 -> _)
    assert(TaskStats.straggler(stage1 ++ stage2 ++ stage3) === 3.0)
    assert(TaskStats.straggler(stage2) === 2.0)
    assert(TaskStats.straggler(stage3) === 1.0)
    assert(TaskStats.straggler(Seq.empty) === 1.0)
  }
}
