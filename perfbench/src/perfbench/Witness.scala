package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** Output witness of a query: its row count and an order-independent
  * checksum over every column. Each row hashes all of its columns
  * (xxhash64); the checksum is the exact decimal sum of the row hashes, so
  * the same multiset of rows gives the same value in any order or
  * partitioning, and a duplicated or missing row changes it.
  */
object Witness {

  final case class Value(rows: Long, checksum: String)

  def of(df: DataFrame): Value = {
    // positional names: joins can leave duplicate column names behind
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols: Seq[Column] = named.schema.fields.toSeq.map { f =>
      f.dataType match {
        // map entries have no defined order; hash them sorted
        case _: MapType => array_sort(map_entries(col(f.name)))
        case _          => col(f.name)
      }
    }
    val r = named
      .select(xxhash64(cols: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h")))
      .head()
    Value(r.getLong(0),
      Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }
}
