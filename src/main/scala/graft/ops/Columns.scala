package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Column-shaping transforms (reference: simple_etl.py:258-288,
  * SURVEY.md §2.2 T6/T7). Narrow, codegen'd, zero-shuffle.
  */
object Columns {

  /** T6 — split a string column on a delimiter into `{col}_1..{col}_n`
    * (reference: simple_etl.py:258-273; final revision caps at 2 parts).
    *
    * Faithful caveat preserved (SURVEY.md §2.2 T6): the reference passes
    * the user's delimiter straight into `split()`, which treats it as a
    * REGEX — so `splitColumn(df, c, ".")` splits on any char, exactly as
    * the reference would. Use [[splitColumnLiteral]] for quoted-literal
    * splitting.
    */
  def splitColumn(df: DataFrame, column: String, delimRegex: String, parts: Int = 2): DataFrame = {
    val s = split(col(column), delimRegex)
    (0 until parts).foldLeft(df) { (acc, i) =>
      acc.withColumn(s"${column}_${i + 1}", s.getItem(i))
    }
  }

  /** T6 (literal variant) — delimiter taken literally via Pattern.quote. */
  def splitColumnLiteral(df: DataFrame, column: String, delim: String, parts: Int = 2): DataFrame =
    splitColumn(df, column, java.util.regex.Pattern.quote(delim), parts)

  /** T7 — merge columns with a separator into one new column
    * (reference: simple_etl.py:276-288). `concat_ws` skips nulls, same
    * as the reference's PySpark call.
    */
  def mergeColumns(df: DataFrame, newName: String, sep: String, cols: Seq[String]): DataFrame =
    df.withColumn(newName, concat_ws(sep, cols.map(col): _*))

  /** Projection helpers — the reference never drops columns
    * (SURVEY.md §2.4 "no explicit select"), but column pruning is the
    * single biggest scan saver at 100 TB, so the library exposes it.
    */
  def select(df: DataFrame, cols: Seq[String]): DataFrame = df.select(cols.map(col): _*)
  def rename(df: DataFrame, from: String, to: String): DataFrame = df.withColumnRenamed(from, to)
}
