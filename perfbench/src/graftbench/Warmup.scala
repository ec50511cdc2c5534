package graftbench

import org.apache.spark.sql.functions.col

/** A short run through the code paths both workloads load, made at build
  * time so the JVM can archive the loaded classes (class-data sharing);
  * runs that start from the archive skip most class loading.
  *
  *   graftbench.Main --warmup DIR
  */
object Warmup {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = graft.sql.GraftSession.builder("local[2]", 4)
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Gen.sfTables(spark, 1L, s"$dir/sf", 1)
    Fingerprint.of(graft.Queries.cellsZ12(spark, s"$dir/sf"))
    Fingerprint.of(graft.SparkEntry.queries("q46_ngram_jaccard")(spark, s"$dir/sf"))
    Gen.writeDumps(Gen.crawl(1L, 1, 60, 0, urls => urls.map(_ -> 1L).toMap, _ => false),
      s"$dir/crawl", 2)
    Fingerprint.of(graft.queries.QualityQueries.scoreDocs(
      graft.jobs.WarcPipeline.ingest(spark, s"$dir/crawl/day0")).select(col("score")))
    spark.stop()
  }
}
