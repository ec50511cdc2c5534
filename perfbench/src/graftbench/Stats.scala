package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

object Stats {
  /** Median; the mean of the two middle values for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Task-time skew: the longest task over the median task (1.0 when the
    * sample is empty or the median is 0). */
  def skew(taskMs: Seq[Long]): Double =
    if (taskMs.isEmpty) 1.0
    else {
      val m = median(taskMs.map(_.toDouble))
      if (m <= 0) 1.0 else taskMs.max / m
    }
}

/** Order-independent result fingerprint: the row count plus the bit_xor and
  * the sum mod 2^31-1 of xxhash64 over every column of every row. Hashing
  * every column keeps Catalyst from pruning any output column, unlike
  * `count()`; the xor alone would cancel duplicate rows, the sum does not. */
final case class Fingerprint(rows: Long, xor: Long, sum: Long) {
  override def toString: String = s"$rows:$xor:$sum"
}

object Fingerprint {
  val Mod = 2147483647L

  def of(df: DataFrame): Fingerprint = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val h = if (named.columns.isEmpty) lit(0L) else xxhash64(named.columns.map(col).toSeq: _*)
    val r = named.select(h.as("h"))
      .agg(count(lit(1)), coalesce(bit_xor(col("h")), lit(0L)),
        coalesce(sum(pmod(col("h"), lit(Mod))), lit(0L)))
      .head()
    Fingerprint(r.getLong(0), r.getLong(1), r.getLong(2))
  }
}
