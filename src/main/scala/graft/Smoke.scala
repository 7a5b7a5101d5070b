package graft

import graft.harness.{Session, cpus}

/** Local smoke runner: replicates the driver's flagship check (rows > 0). */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Session.profile(cpus)
    val df = SparkEntry.entry(spark)
    val n = df.count()
    println(s"[smoke] flagship rows=$n")
    df.show(5, truncate = false)
    require(n > 0, "flagship returned zero rows")
    spark.stop()
  }
}
