package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** An order-insensitive digest of a frame that needs every output
  * column: row count, and the sum and xor of a 64-bit hash of each row.
  * Unlike `count()`, column pruning cannot skip an operator that makes a
  * column, so timing this action times what a user who reads the result
  * gets. Columns are hashed in name order with integral and float types
  * widened, so a streamed twin and its batch query compare by value (the
  * same comparison the DuckDB oracle makes). */
object Digest {
  final case class Value(rows: Long, digest: String)

  private def norm(c: Column, t: DataType): Column = t match {
    case ByteType | ShortType | IntegerType => c.cast(LongType)
    case FloatType => c.cast(DoubleType)
    case _: MapType => array_sort(map_entries(c))
    case _ => c
  }

  def of(df: DataFrame): Value = {
    val cols = df.schema.fields.sortBy(_.name).map(f => norm(col(s"`${f.name}`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols.toIndexedSeq: _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")), bit_xor(col("h")))
      .head()
    val rows = r.getLong(0)
    Value(rows, s"$rows:${Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")}:" +
      s"${if (r.isNullAt(2)) 0L else r.getLong(2)}")
  }
}
