package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.harness.Session

/** One shared local session for the whole forked test JVM: the engine
  * profile at a fixed 4 cores, so results do not depend on the machine. */
object TestSpark {
  lazy val spark: SparkSession = Session.profile(4, logLevel = "ERROR")

  def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet
}
