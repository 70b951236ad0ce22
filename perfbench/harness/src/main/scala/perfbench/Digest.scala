package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent digest of a query result.
  *
  * Every output column feeds one 64-bit row hash, so Catalyst cannot prune a
  * column away under the action the way it can under `count()`. The digest is
  * the row count plus the sum of the row hashes, which does not depend on row
  * order. Floating-point values are rendered to seven significant digits
  * first: partial aggregates may be combined in any order, which moves the
  * last bits of a sum. */
object Digest {

  def frame(df: DataFrame): DataFrame = {
    val fields = df.schema.fields
    val positional = df.toDF(fields.indices.map(i => s"c$i"): _*)
    val cols = fields.indices.map(i => canon(col(s"c$i"), fields(i).dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    positional.select(h.as("h"))
      .agg(count(lit(1)).as("rows"), coalesce(sum(col("h").cast(DecimalType(38, 0))), lit(0)).as("hsum"))
  }

  /** The digest string of `frame(df)`'s single row, prefixed by the schema. */
  def render(df: DataFrame, row: org.apache.spark.sql.Row): String =
    s"${schemaHash(df.schema)}:${row.getLong(0)}:${row.get(1)}"

  private def schemaHash(s: StructType): String =
    f"${s.fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",").hashCode}%08x"

  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => format_string("%.6e", c.cast(DoubleType) + lit(0.0))
    case _: DecimalType => c.cast(StringType)
    case ArrayType(e, _) => transform(c, x => canon(x, e))
    case MapType(k, v, _) =>
      array_sort(transform(map_entries(c), x => struct(canon(x.getField("key"), k), canon(x.getField("value"), v))))
    case StructType(fs) =>
      if (fs.isEmpty) lit(0) else struct(fs.map(f => canon(c.getField(f.name), f.dataType)): _*)
    case _ => c
  }
}
