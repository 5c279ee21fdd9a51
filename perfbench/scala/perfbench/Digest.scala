package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** Order-independent digest of a result: row count plus the exact
  * DECIMAL sum of a per-row xxhash64 over every column. Row order and
  * partitioning cannot change it; any changed cell, column order or
  * row multiplicity does. */
object Digest {
  def of(df: DataFrame): String = {
    // positional names: a result may carry two columns of one name
    val flat = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cells = flat.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: MapType => to_json(col(f.name)) // maps have no hash
        case _ => col(f.name)
      }
    }
    val h = if (cells.isEmpty) lit(0L) else xxhash64(cells: _*)
    val r = flat.select(h.cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(BigDecimal(0))))
      .head()
    s"${r.getLong(0)}:${r.getDecimal(1).toPlainString}"
  }

  /** Digest over name-sorted columns, for outputs whose column order
    * is not part of the contract (sink files read back from disk). */
  def byName(df: DataFrame): String =
    of(df.select(df.columns.sorted.map(col).toSeq: _*))
}
