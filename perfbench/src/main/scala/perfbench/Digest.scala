package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Order-independent output digest: the row count plus the exact sum of a
 * 64-bit hash of every row over the span columns. */
final case class Digest(rows: Long, hash: BigDecimal) {
  override def toString: String = s"$rows:$hash"
}

object Digest {
  def of(df: DataFrame): Digest = {
    val h = xxhash64(Workloads.spanCols.map(col): _*).cast("decimal(38,0)")
    val r = df.agg(count(lit(1)), coalesce(sum(h), lit(BigDecimal(0)).cast("decimal(38,0)")))
      .head()
    Digest(r.getLong(0), BigDecimal(r.getDecimal(1)))
  }
}
