package graft
import java.nio.file.{Files, Paths}

import graft.harness.{Record, Session, cpus}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Session.profile(cpus)
    // comma-separated query-name filter for local iteration (the driver
    // runs unfiltered); oracle_sql.json is always dumped in full
    val only = sys.env.get("GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    dumpOracleSql(outDir)
    spark.stop()
  }

  /** Write SparkEntry.oracleSql as oracle_sql.json, plus its
    * symmetrized-bench companion oracle_bench_sql.json (setup tables +
    * timed overrides), so tools/check.py --bench-sql can pin override ≡
    * original without a bench run and tools/oracle_bench.py never runs a
    * stale statement set. */
  def dumpOracleSql(outDir: String): Unit = {
    import Record.quote
    Files.createDirectories(Paths.get(outDir))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      Record.obj(SparkEntry.oracleSql.toSeq.sortBy(_._1).map { case (k, v) => k -> quote(v) }))
    val setup = SparkEntry.oracleSetupSql
      .map { case (t, sql) => s"[${quote(t)}, ${quote(sql)}]" }.mkString("[", ",", "]")
    val timed = Record.obj(SparkEntry.oracleBenchSql.toSeq.sortBy(_._1).map { case (k, v) => k -> quote(v) })
    Files.writeString(Paths.get(s"$outDir/oracle_bench_sql.json"),
      s"""{"setup": $setup, "timed": $timed}""")
    ()
  }
}
