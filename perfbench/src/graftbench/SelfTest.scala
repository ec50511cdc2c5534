package graftbench

import org.apache.spark.sql.SparkSession

/** Tests of the harness's own statistics and fingerprint code; exits
  * non-zero on the first broken expectation.
  *
  *   graftbench.Main --selftest
  */
object SelfTest {
  private def expect(ok: Boolean, what: String): Unit =
    if (!ok) { System.err.println(s"selftest FAILED: $what"); sys.exit(1) }

  def main(args: Array[String]): Unit = {
    expect(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0, "median of an odd sample")
    expect(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5, "median of an even sample")
    expect(Stats.skew(Seq(10L, 10L, 40L)) == 4.0, "skew is max over median")
    expect(Stats.skew(Nil) == 1.0, "skew of no tasks")

    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val a = Seq((1L, "x", 1.5), (2L, "y", 2.5), (3L, "z", 3.5)).toDF("k", "s", "d")
    val fa = Fingerprint.of(a)
    expect(fa.rows == 3, "fingerprint counts rows")
    expect(Fingerprint.of(a.orderBy($"k".desc).repartition(3)) == fa,
      "fingerprint ignores row order and partitioning")
    expect(Fingerprint.of(a.withColumn("d", $"d" + 1)) != fa,
      "fingerprint sees a change in a column no key depends on")
    val dup = a.union(a.where($"k" === 1))
    val twice = a.union(a.where($"k" === 1)).union(a.where($"k" === 1))
    expect(Fingerprint.of(dup).sum != Fingerprint.of(a.union(a.where($"k" === 2))).sum,
      "fingerprint sum tells which row is duplicated")
    expect(Fingerprint.of(twice).xor == Fingerprint.of(a.where($"k" === 1).union(
      a.where($"k" =!= 1))).xor && Fingerprint.of(twice).rows == 5,
      "xor cancels a row pair while the count still sees it")
    expect(Fingerprint.of(a.select($"s".as("k"), $"s")).rows == 3,
      "fingerprint tolerates duplicate column names")
    expect(Fingerprint.of(a.where($"k" > 9)) == Fingerprint(0, 0, 0), "empty input")
    spark.stop()
    println("selftest OK")
  }
}
