package graft

import graft.operators.TextAnalysis
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Slow, obviously-correct formulations the specs compare the engine's
  * fast paths against. They live on the test side: nothing in the engine
  * calls them, and none is fit to run at scale.
  */
object Oracles {

  private def asDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Dot product via zip_with + aggregate — sequential left-to-right fold,
    * deterministic, no UDF.
    */
  private def dot(a: Column, b: Column): Column =
    aggregate(zip_with(asDouble(a), asDouble(b), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)

  private def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine via built-in higher-order functions — identical semantics to
    * `Similarity.cosine`, ~an order of magnitude slower (three
    * intermediate arrays + interpreted lambdas).
    */
  def cosineHof(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val n = norm(a) * norm(b)
    when(n === 0, lit(0.0)).otherwise(d / n)
  }

  /** `TextAnalysis.shingles` via built-in higher-order functions. */
  def shinglesHof(text: Column, k: Int): Column = {
    val toks = TextAnalysis.tokens(text)
    when(size(toks) < k, array().cast("array<string>"))
      .otherwise(array_distinct(transform(
        sequence(lit(1), size(toks) - lit(k - 1)),
        i => concat_ws(" ", slice(toks, i, lit(k))))))
  }

  /** The naive O(n²) theta-join form of `Geo.radiusSelfJoin`. */
  def radiusSelfJoinNaive(points: DataFrame, idCol: String, xCol: String,
      yCol: String, radius: Double): DataFrame = {
    val a = points.select(col(idCol).as("a_id"),
      col(xCol).cast("double").as("ax"), col(yCol).cast("double").as("ay"))
    val b = points.select(col(idCol).as("b_id"),
      col(xCol).cast("double").as("bx"), col(yCol).cast("double").as("by"))
    val d2 = (col("ax") - col("bx")) * (col("ax") - col("bx")) +
      (col("ay") - col("by")) * (col("ay") - col("by"))
    a.crossJoin(b).filter(col("a_id") < col("b_id"))
      .withColumn("dist2", d2)
      .filter(col("dist2") <= radius * radius)
      .select("a_id", "b_id", "dist2")
  }

  /** The naive O(I×P) theta-join form of `RangeJoin.intervalPointCount`. */
  def intervalPointCountNaive(intervals: DataFrame, idCol: String,
      points: DataFrame, tCol: String): DataFrame = {
    val p = points.select(col(tCol).as("__t"))
    intervals.join(p, col("__t") >= col("lo") && col("__t") < col("hi"), "left")
      .groupBy(col(idCol))
      .agg(sum(when(col("__t").isNotNull, 1L).otherwise(0L)).as("matches"))
  }

  /** LSH banding of a minhash signature as plain columns: `bands` rows of
    * `rowsPerBand` hashes each, band key xxhash64(band index, slice). The
    * fused `lsh_bands` expression must be bit-identical to it. Feeding it
    * a signature through an alias is a trap: CollapseProject inlines the
    * signature into every `element_at`.
    */
  def bandHashesColumns(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      xxhash64((lit(b) +: (0 until rowsPerBand).map(r =>
        element_at(sig, b * rowsPerBand + r + 1))): _*)
    }: _*)
}
