package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent digest of a query result, consuming every column.
  *
  * Each value is rendered as a canonical string: floating-point values are
  * rounded to [[SigDigits]] significant digits (so a float sum added up in
  * another order reads the same), -0.0 becomes 0.0, nested arrays, maps and
  * structs are rendered element by element, and null is `\N`. A row hashes to
  * xxhash64 of its rendered columns; the digest is the row count, the exact
  * sum of the row hashes and their xor, so row order does not matter and
  * duplicate rows still count.
  */
object Digest {
  val SigDigits = 10

  private val Null = lit("\\N")

  def canon(c: Column, dt: DataType): Column = {
    val rendered = dt match {
      case FloatType | DoubleType =>
        format_string(s"%.${SigDigits - 1}e", c.cast(DoubleType) + lit(0.0))
      case BinaryType => hex(c)
      case ArrayType(et, _) =>
        concat(lit("["), array_join(transform(c, e => coalesce(canon(e, et), Null)), ","), lit("]"))
      case MapType(kt, vt, _) =>
        val entries = transform(map_entries(c), e =>
          concat(canon(e.getField("key"), kt), lit("="), coalesce(canon(e.getField("value"), vt), Null)))
        concat(lit("{"), array_join(array_sort(entries), ","), lit("}"))
      case StructType(fields) =>
        concat(lit("("), concat_ws(",", fields.toIndexedSeq.map(f =>
          coalesce(canon(c.getField(f.name), f.dataType), Null)): _*), lit(")"))
      case _ => c.cast(StringType)
    }
    when(c.isNull, Null).otherwise(rendered)
  }

  /** Columns rendered as canonical strings, in name order. */
  def canonical(df: DataFrame): DataFrame = {
    val fields = df.schema.fields.sortBy(_.name)
    df.select(fields.toIndexedSeq.map(f => canon(col(s"`${f.name}`"), f.dataType).as(f.name)): _*)
  }

  /** `rows:sum:xor` of the row hashes; runs one Spark action, traced as an
    * `action` span. */
  def of(df: DataFrame): String = Trace.span("action", "digest") {
    val c = canonical(df)
    val h = if (c.columns.isEmpty) lit(0L) else xxhash64(c.columns.toIndexedSeq.map(n => col(s"`$n`")): _*)
    val r = c.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(20, 0))), expr("bit_xor(h)"))
      .head()
    val total = if (r.isNullAt(1)) "0" else r.getDecimal(1).toPlainString
    val xor = if (r.isNullAt(2)) 0L else r.getLong(2)
    s"${r.getLong(0)}:$total:$xor"
  }
}
