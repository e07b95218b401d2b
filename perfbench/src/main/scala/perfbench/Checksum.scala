package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Row count plus an order-independent content checksum of a frame.
  *
  * Each row hashes (xxhash64) over all of its columns; the checksum is
  * the sum of the row hashes, kept as two 32-bit halves so the sums
  * cannot overflow. Row order and partitioning do not change it; a
  * changed, added or dropped row does. Floating-point columns are
  * rounded to six decimals first, and -0.0 folded into 0.0, so the
  * last-bit noise of a reordered floating sum does not read as a
  * changed result. Maps hash through their JSON text (xxhash64 takes
  * no maps).
  *
  * Computing the checksum is the op's action: every column feeds the
  * hash, so no column of the result can be pruned away, which makes it
  * as complete a materialization as a `noop` write.
  */
object Checksum {
  final case class Result(rows: Long, hash: String)

  private def normalized(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6) + lit(0.0)
    case ArrayType(DoubleType | FloatType, _) =>
      transform(c, x => round(x.cast(DoubleType), 6) + lit(0.0))
    case _: MapType => to_json(c)
    case _ => c
  }

  def of(df: DataFrame): Result = {
    // positional names: query outputs may repeat a column name
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map(f => normalized(col(f.name), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = named.select(h.as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h").bitwiseAND(0xffffffffL)), lit(0L)),
        coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L)))
      .head()
    Result(r.getLong(0), f"${r.getLong(1)}%x-${r.getLong(2)}%x")
  }
}
