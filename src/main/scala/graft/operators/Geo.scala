package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Spatial radius join — the 2-D generalization of [[RangeJoin]]'s
  * bucketing trick, for the reference's own domain (weather stations and
  * sensors carrying lat/lon; reference
  * terraform/modules/glue/main.tf:61-68, batch ingest lat/lon at
  * scripts/batch_ingest/lambda_function.py:61-66): "find every pair of
  * points within distance r".
  *
  * A naive theta join is O(A×B) distance evaluations. Grid bucketing
  * makes it an EQUI-join: snap each point to a ⌈cell = (⌊x/r⌋, ⌊y/r⌋)⌉
  * grid cell; any pair within r sits in the same or an adjacent cell, so
  * the left side replicates to its 3×3 neighborhood and joins on the
  * cell id — shuffle keyed on grid cells (uniform for spatially spread
  * data), quadratic work only within cells, exact distance recheck after.
  * This is the same cover-and-verify decomposition PostGIS' ST_DWithin
  * uses with its grid index, expressed as a Spark join.
  *
  * Distances are PLANAR (dx² + dy² on the given coordinates) — exact
  * IEEE arithmetic, reproducible across engines, and the right model for
  * local-scale sensor layouts; for geographic coordinates at continental
  * scale, project first (or swap the recheck for haversine and accept
  * libm variance).
  */
object Geo {

  /** Pairs (a, b) with planar distance ≤ `radius`, a.id < b.id (the
    * self-join dedup convention). Inputs carry (idCol, xCol, yCol);
    * output: a_id, b_id, dist2 (squared distance — no sqrt needed for a
    * threshold, and exact in both engines).
    */
  def radiusSelfJoin(points: DataFrame, idCol: String, xCol: String,
      yCol: String, radius: Double): DataFrame = {
    require(radius > 0, "radius must be positive")
    val p = points.select(col(idCol).as("__id"),
      col(xCol).cast("double").as("__x"), col(yCol).cast("double").as("__y"))
    val cellX = floor(col("__x") / radius).cast("long")
    val cellY = floor(col("__y") / radius).cast("long")
    // right side anchored to its own cell; left side replicated to the
    // 3×3 neighborhood — every ≤r pair lands in exactly one joined cell
    // of the (replicated-left, anchored-right) combination
    val b = p.select(col("__id").as("b_id"), col("__x").as("bx"), col("__y").as("by"),
      cellX.as("cx"), cellY.as("cy"))
    val offsets = for { dx <- -1 to 1; dy <- -1 to 1 } yield (dx, dy)
    val a = p.select(col("__id").as("a_id"), col("__x").as("ax"), col("__y").as("ay"),
        cellX.as("cx0"), cellY.as("cy0"))
      .withColumn("__off", explode(array(offsets.map { case (dx, dy) =>
        struct(lit(dx).as("dx"), lit(dy).as("dy")) }: _*)))
      .select(col("a_id"), col("ax"), col("ay"),
        (col("cx0") + col("__off.dx")).as("cx"),
        (col("cy0") + col("__off.dy")).as("cy"))
    val d2 = (col("ax") - col("bx")) * (col("ax") - col("bx")) +
      (col("ay") - col("by")) * (col("ay") - col("by"))
    a.join(b, Seq("cx", "cy"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("dist2", d2)
      .filter(col("dist2") <= radius * radius)
      .select("a_id", "b_id", "dist2")
  }
}
