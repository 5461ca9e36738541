package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Order-independent result fingerprint: row count plus the sum of a
  * 64-bit hash of each row's JSON rendering (every column, maps and
  * nested types included). Summed as an exact decimal, so row order,
  * partitioning and duplicates all count correctly. */
object Fingerprint {
  final case class Fp(rows: Long, hash: String) {
    def render: Map[String, Any] = Map("rows" -> rows, "hash" -> hash)
  }

  def of(df: DataFrame): Fp = {
    val cols = df.columns.map(c => col(s"`$c`"))
    val row = df
      .select(xxhash64(to_json(struct(cols.toIndexedSeq: _*))).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")))
      .head()
    Fp(row.getLong(0), Option(row.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }
}
