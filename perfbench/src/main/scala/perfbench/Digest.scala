package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-invariant content digest of a result: xxhash64 over a canonical
  * rendering of each row, combined with bit_xor as in graft's
  * `Quality.contentChecksum`, plus a wrapping sum of the same hashes so
  * that a row present an even number of times does not cancel out.
  * Doubles render with 9 significant digits, so a different summation
  * order cannot change the digest.
  */
object Digest {
  final case class Result(rows: Long, digest: String)

  private def render(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => format_string("%.9g", c.cast(DoubleType))
    case ArrayType(DoubleType | FloatType, _) =>
      array_join(transform(c, x => format_string("%.9g", x.cast(DoubleType))), ",")
    case _: ArrayType | _: MapType | _: StructType => to_json(struct(c))
    case _ => c.cast(StringType)
  }

  /** Columns are addressed by position: some results repeat a name. */
  def of(df: DataFrame): Result = {
    val types = df.schema.fields.map(_.dataType)
    val d = df.toDF(types.indices.map(i => s"c$i"): _*)
    val canonical = concat_ws("\u0001", types.toSeq.zipWithIndex.map { case (t, i) =>
      coalesce(render(col(s"c$i"), t), lit("\\N"))
    }: _*)
    val r = d.select(xxhash64(canonical).as("h"))
      .agg(count(lit(1)), expr("bit_xor(h)"), sum(col("h")))
      .head()
    val n = r.getLong(0)
    val x = if (r.isNullAt(1)) 0L else r.getLong(1)
    val s = if (r.isNullAt(2)) 0L else r.getLong(2)
    Result(n, f"$x%016x$s%016x")
  }
}
