package graft

import graft.harness.{Session, TaskStats, consume, cpus}

/** Dev profiler: warm wall time + job/stage counts for named declared
  * queries, without the bench harness's fresh-session/min-of-N machinery —
  * for fast A/B iteration during optimization rounds. Usage:
  * QProfile [sfDir] [q1,q2,...] [reps]. Not a measurement of record
  * (perfbench/run.py and BENCH_FULL.json are); numbers here are one warm
  * session, one sample.
  */
object QProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val only: Set[String] = if (args.length > 1) args(1).split(",").toSet else Set.empty
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = Session.profile(cpus)
    val qs = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only.contains(n) }
    qs.foreach { case (name, fn) =>
      consume(fn(spark, sfDir)) // warm
      val stats = TaskStats.attach(spark)
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        consume(fn(spark, sfDir))
        (System.nanoTime() - t0) / 1e9
      }
      println(f"$name%-28s min=${ts.min}%.3fs samples=${ts.map(t => f"$t%.3f").mkString(",")} " +
        s"jobs=${stats.jobs / reps} stages=${stats.stages / reps}")
      stats.detach()
    }
    spark.stop()
  }
}
