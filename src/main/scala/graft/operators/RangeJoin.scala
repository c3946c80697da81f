package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Interval-point range join. Spark has no native range-join operator: a
  * plain theta join `p.t >= i.lo AND p.t < i.hi` plans as a nested-loop
  * over every (interval, point) pair — O(I×P) comparisons, dead at scale.
  *
  * This is the bucketed reformulation (the same trick Databricks' range
  * join optimization and Flink's interval join use): pick a bucket width,
  * explode each interval into the buckets it covers, map each point to its
  * one bucket, equi-join on the bucket id, then re-check the exact bounds.
  * The join becomes a hash join whose shuffle is keyed on bucket — work is
  * O(I×(span/width) + P + matches), and the bucket key is uniform when
  * event time is, so it stays balanced. Width tuning: ~the median interval
  * span (too small → interval fan-out; too large → post-filter waste).
  */
object RangeJoin {

  /** Count points falling in each half-open interval [lo, hi).
    *
    * `intervals`: (idCol, lo, hi) with lo/hi non-negative longs (e.g.
    * epoch micros); `points`: (t) plus anything else. Returns every
    * interval row's id with its match count (zero-match intervals kept —
    * the left join is on the interval side).
    */
  def intervalPointCount(intervals: DataFrame, idCol: String,
      points: DataFrame, tCol: String, bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    // non-negative longs: `DIV` is true integer division == floor division.
    // (`col / w` would be DOUBLE division — its rounding can shift a bucket
    // id by one once values approach 2^53, silently dropping matches
    // because the exact recheck never sees the pair.)
    val ib = intervals.withColumn("__bucket",
      explode(sequence(expr(s"lo DIV $bucketWidth"), expr(s"(hi - 1) DIV $bucketWidth"))))
    val pb = points.select(expr(s"`$tCol` DIV $bucketWidth").as("__bucket"), col(tCol).as("__t"))
    val counts = ib.join(pb, "__bucket")
      .filter(col("__t") >= col("lo") && col("__t") < col("hi"))
      .groupBy(col(idCol)).agg(count(lit(1)).as("matches"))
    intervals.select(col(idCol))
      .join(counts, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("matches"), lit(0L)).as("matches"))
  }
}
