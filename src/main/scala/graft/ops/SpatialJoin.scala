package graft.ops

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.functions._
import graft.sql.{functions => G}

/** The points × polygons join (SURVEY.md §2.4): a bbox prefilter, then the
  * exact `st_contains_xy` ray-cast refine. Points carry `pid`, `lon`, `lat`;
  * polygons carry `xmin/ymin/xmax/ymax` and a WKB `poly`. A layer without
  * `poly` is a box layer, for which the bbox test already is exact. Output
  * columns, aggregation and ordering stay with the caller. */
object SpatialJoin {

  /** Salt buckets every polygon cover cell is replicated into; a point
    * picks one by hash(pid), which splits a hot cell 8 ways. */
  val SaltBuckets = 8

  private def inside(polys: DataFrame): Column = {
    val bbox = col("lon") >= col("xmin") && col("lon") <= col("xmax") &&
      col("lat") >= col("ymin") && col("lat") <= col("ymax")
    if (polys.columns.contains("poly")) bbox && G.st_contains_xy(col("poly"), col("lon"), col("lat"))
    else bbox
  }

  /** Small polygon side: broadcast it, zero shuffle on the points side.
    * `how` is "inner" or "left_anti". Action-free, so it also runs under
    * `readStream`. */
  def broadcast(points: DataFrame, polys: DataFrame, how: String = "inner"): DataFrame =
    points.join(F.broadcast(polys), inside(polys), how)

  /** Large polygon side: z8 bbox cover cells × every salt bucket (an
    * explode, not a crossJoin, so no nested-loop join), points keyed on
    * their z8 cell and a hash(pid) salt, a shuffled hash join on
    * (cell8, salt), then the exact refine. */
  def shuffled(points: DataFrame, polys: DataFrame): DataFrame = {
    val salted = points
      .withColumn("cell8", G.tile_parent(G.st_tile(col("lon"), col("lat"), 12), lit(4)))
      .withColumn("salt", pmod(hash(col("pid")), lit(SaltBuckets)).cast("int"))
    val polyCells = polys
      .select(col("*"),
        G.tiles_for(G.st_makebbox(col("xmin"), col("ymin"), col("xmax"), col("ymax")),
          array(lit(8))).as(Seq("cell8", "x", "y", "z")))
      .withColumn("salt", explode(array((0 until SaltBuckets).map(s => lit(s)): _*)))
    salted.join(polyCells.hint("shuffle_hash"), Seq("cell8", "salt")).where(inside(polys))
  }
}
