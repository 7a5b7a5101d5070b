package perfbench

import org.apache.spark.sql.SparkSession

/** Self-check of [[Digest]] on a local session; exits non-zero on the first
  * failed property. Run by `tests/test_digest.py`. */
object DigestCheck {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]").config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    var failed = 0
    def check(what: String, ok: Boolean): Unit = {
      println(s"${if (ok) "ok  " else "FAIL"} $what")
      if (!ok) failed += 1
    }
    // the same float sum added up in two orders differs in its last bits
    val xs = Seq(0.1, 0.2, 0.3)
    val fwd = xs.sum
    val rev = xs.reverse.sum
    check("the two sums differ bitwise", fwd != rev)
    check("reordered float sums digest equal",
      Digest.of(Seq((1, fwd)).toDF("k", "v")) == Digest.of(Seq((1, rev)).toDF("k", "v")))
    check("a change in the tenth significant digit is seen",
      Digest.of(Seq((1, 1.234567891)).toDF("k", "v")) != Digest.of(Seq((1, 1.234567892)).toDF("k", "v")))
    check("-0.0 and 0.0 digest equal",
      Digest.of(Seq((1, -0.0)).toDF("k", "v")) == Digest.of(Seq((1, 0.0)).toDF("k", "v")))
    check("float arrays are rounded element-wise",
      Digest.of(Seq((1, Seq(fwd, 2.0))).toDF("k", "v")) == Digest.of(Seq((1, Seq(rev, 2.0))).toDF("k", "v")))
    check("struct fields are rounded",
      Digest.of(Seq((1, fwd)).toDF("k", "v").selectExpr("named_struct('a', v) AS s")) ==
        Digest.of(Seq((1, rev)).toDF("k", "v").selectExpr("named_struct('a', v) AS s")))
    check("row order does not matter",
      Digest.of(Seq((1, "a"), (2, "b")).toDF("k", "v")) == Digest.of(Seq((2, "b"), (1, "a")).toDF("k", "v")))
    check("column order does not matter",
      Digest.of(Seq((1, "a")).toDF("k", "v")) == Digest.of(Seq(("a", 1)).toDF("v", "k")))
    check("duplicate rows count",
      Digest.of(Seq((1, "a")).toDF("k", "v")) != Digest.of(Seq((1, "a"), (1, "a")).toDF("k", "v")))
    check("null and the empty string digest differently",
      Digest.of(Seq((1, null: String)).toDF("k", "v")) != Digest.of(Seq((1, "")).toDF("k", "v")))
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
