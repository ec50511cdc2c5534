package graft.sql

import graft.model.{Pages, PolygonLayer}
import graft.ops.SpatialJoin
import graft.sql.{functions => G}
import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, Exchange}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastNestedLoopJoinExec,
  CartesianProductExec, ShuffledHashJoinExec}
import org.apache.spark.sql.functions._

/** Bucketing evidence (SURVEY.md §4 partitioning/shuffle): two layers
  * bucketed by the packed cell key join WITHOUT a shuffle — the co-located
  * cell-equi join that makes repeated layer×layer joins at 10^12 rows
  * affordable (bucket once, join many times). Also the executed plan
  * shapes of both `SpatialJoin` plans. */
class BucketedJoinSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  test("bucketed cell tables join with zero Exchange") {
    val pages = Pages.volumePages(spark, sf)
      .select(col("pid"), col("lon"), col("lat"),
        G.st_tile(col("lon"), col("lat"), 8).as("cell"))
    val a = pages.where(pmod(col("pid"), lit(2)) === 0)
    val b = pages.where(pmod(col("pid"), lit(2)) === 1)
    spark.sql("DROP TABLE IF EXISTS cells_a")
    spark.sql("DROP TABLE IF EXISTS cells_b")
    a.write.bucketBy(8, "cell").sortBy("cell").saveAsTable("cells_a")
    b.write.bucketBy(8, "cell").sortBy("cell").saveAsTable("cells_b")

    val ta = spark.table("cells_a")
    val tb = spark.table("cells_b")
    val joined = ta.join(tb.withColumnRenamed("pid", "pid_b")
        .withColumnRenamed("lon", "lon_b").withColumnRenamed("lat", "lat_b"),
      "cell")
      .groupBy("cell").agg(count(lit(1)).as("pairs"))
    // force a sort-merge join so the bucketing (not a broadcast) carries it
    val smjJoined = ta.hint("merge")
      .join(tb.withColumnRenamed("pid", "pid_b")
        .withColumnRenamed("lon", "lon_b").withColumnRenamed("lat", "lat_b"),
        "cell")
    // execute first so AQE finalizes the plan, then inspect it
    val got = smjJoined.count()
    val plan = smjJoined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan.take(600))
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join must not shuffle:\n${plan.take(900)}")
    assert(plan.contains("SelectedBucketsCount") || plan.contains("Bucketed: true"),
      plan.take(900))
    // correctness: same pairs as the unbucketed join
    val expected = a.join(b.select(col("cell"), col("pid").as("pid_b")), "cell").count()
    assert(got === expected)
    spark.sql("DROP TABLE cells_a")
    spark.sql("DROP TABLE cells_b")
  }

  test("q40 shuffle PIP: no BroadcastNestedLoopJoin; salted cell-equi shuffle plan (VERDICT r1 #6)") {
    // both users of SpatialJoin.shuffled: q40 over the 20k-box layer and
    // SpatialJoinJob's salted branch over the polygon layer
    for ((name, q) <- Seq(
        "q40" -> graft.queries.JoinQueries.shufflePip(spark, sf),
        "salted polygon layer" ->
          SpatialJoin.shuffled(Pages.volumePages(spark, sf), PolygonLayer.toDF(spark)))) {
      // collect() executes THIS DataFrame's QueryExecution (count() would
      // build a separate one and leave this plan unfinalized)
      assert(q.collect().nonEmpty, name)
      val plan = q.queryExecution.executedPlan
      val nodes = allPlanNodes(plan)
      assert(!nodes.exists(n => n.isInstanceOf[BroadcastNestedLoopJoinExec] ||
        n.isInstanceOf[CartesianProductExec]), s"$name: ${plan.toString.take(800)}")
      val joins = nodes.collect { case j: BaseJoinExec => j }
      assert(joins.nonEmpty && joins.forall {
        case j: ShuffledHashJoinExec =>
          Seq(j.leftKeys, j.rightKeys).forall(_.flatMap(_.references.map(_.name)) == Seq("cell8", "salt"))
        case _ => false
      }, s"$name: ${plan.toString.take(800)}")
    }
  }

  test("q02 PIP: polygon side is broadcast; no Exchange on the points side below the join") {
    val q = graft.SparkEntry.queries("q02_pip_join")(spark, sf)
    q.collect()
    val plan = q.queryExecution.executedPlan
    val joins = allPlanNodes(plan).collect { case j: BroadcastNestedLoopJoinExec => j }
    assert(joins.size === 1, plan.toString.take(800))
    val j = joins.head
    val (build, points) = if (j.buildSide == BuildRight) (j.right, j.left) else (j.left, j.right)
    assert(allPlanNodes(build).exists(_.isInstanceOf[BroadcastExchangeExec]), plan.toString.take(800))
    assert(!allPlanNodes(points).exists(_.isInstanceOf[Exchange]), plan.toString.take(800))
  }

  test("q32 anti join and the inner PIP join share one predicate (sf0.001)") {
    // every point is outside all polygons or inside at least one; pid is
    // not a row key (sf0.001 lineitem repeats (orderkey, linenumber)), so
    // count points by a per-row id
    val points = Pages.volumePages(spark, sf)
      .withColumn("rid", monotonically_increasing_id())
    val polys = PolygonLayer.toDF(spark)
    val outside = SpatialJoin.broadcast(points, polys, "left_anti").count()
    val inside = SpatialJoin.broadcast(points, polys).select("rid").distinct().count()
    assert(outside > 0 && inside > 0)
    assert(outside + inside === points.count())
  }

  test("round-2 query plans: every join is keyed — no cartesian, no nested-loop") {
    // q62 is excluded by design: its PIP join against the 6-row broadcast
    // polygon layer is an intentional BroadcastNestedLoopJoin (like q02)
    for (name <- Seq("q59_span_dedup", "q60_decontaminate", "q61_freq_quality",
        "q63_percentiles", "q64_contamination_report")) {
      val q = graft.SparkEntry.queries(name)(spark, sf)
      q.collect() // executes this QueryExecution so AQE finalizes it
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$name: ${plan.take(400)}")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$name: ${plan.take(400)}")
    }
  }
}
