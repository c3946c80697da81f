package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Table profiling: one row of statistics per column — count, nulls,
  * exact distincts, numeric min/max — the data-quality report a lake
  * operator runs before trusting a new feed (and the manual face of the
  * ANALYZE statistics the CBO consumes; sources.Stats wires those).
  *
  * ONE aggregate pass computes every column's stats together (the
  * per-column sums/distincts all ride the same scan — profiling 100
  * columns costs one read, not 100); the driver reshapes the single
  * result row into the per-column report.
  *
  * AT SCALE, `approxDistinct = true` IS THE DEFAULT TO USE: exact
  * count(DISTINCT) keeps per-column O(distinct) aggregation state and
  * Spark plans multi-column exact distincts via an Expand (one input
  * row per distinct-column — a wide table multiplies the scan), while
  * HLL state is a few KB per column at ±5 % rsd. Reach for the exact
  * form only on bounded-cardinality tables or when the report feeds an
  * exactness-sensitive consumer; HistogramsSpec pins the approx-vs-
  * exact agreement bound so the switch is a measured trade, not a
  * guess.
  */
object Profile {

  def profile(df: DataFrame, approxDistinct: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val fields = df.schema.fields
    val aggCols = fields.flatMap { f =>
      val c = col(f.name)
      val numeric = f.dataType match {
        case _: NumericType => true
        case _ => false
      }
      Seq(
        sum(when(c.isNull, 1L).otherwise(0L)).as(s"nulls_${f.name}"),
        (if (approxDistinct) approx_count_distinct(c) else countDistinct(c))
          .as(s"nd_${f.name}"),
        (if (numeric) min(c).cast("double") else lit(null).cast("double"))
          .as(s"min_${f.name}"),
        (if (numeric) max(c).cast("double") else lit(null).cast("double"))
          .as(s"max_${f.name}"))
    }
    val row = df.agg(count(lit(1)).as("n"), aggCols.toIndexedSeq: _*).head()
    val n = row.getLong(0)
    val out = fields.zipWithIndex.map { case (f, i) =>
      val base = 1 + i * 4
      (f.name, n,
        if (row.isNullAt(base)) 0L else row.getLong(base),
        if (row.isNullAt(base + 1)) 0L else row.getLong(base + 1),
        if (row.isNullAt(base + 2)) None else Some(row.getDouble(base + 2)),
        if (row.isNullAt(base + 3)) None else Some(row.getDouble(base + 3)))
    }.toSeq
    out.toDF("col_name", "n", "n_nulls", "n_distinct", "min_val", "max_val")
  }

  /** Profile drift between two states of a relation (yesterday's feed vs
    * today's, pre- vs post-backfill): per-column deltas of the profile
    * statistics — the data-observability check that catches a silently
    * shrinking feed, a null explosion, or a cardinality collapse before
    * a consumer does. Columns missing from either side are reported with
    * null deltas (schema drift shows up as its own signal).
    */
  def drift(before: DataFrame, after: DataFrame): DataFrame = {
    val b = profile(before).select(col("col_name"), col("n").as("n_before"),
      col("n_nulls").as("nulls_before"), col("n_distinct").as("distinct_before"))
    val a = profile(after).select(col("col_name"), col("n").as("n_after"),
      col("n_nulls").as("nulls_after"), col("n_distinct").as("distinct_after"))
    b.join(a, Seq("col_name"), "full_outer")
      .select(col("col_name"),
        (col("n_after") - col("n_before")).as("n_delta"),
        (col("nulls_after") - col("nulls_before")).as("nulls_delta"),
        (col("distinct_after") - col("distinct_before")).as("distinct_delta"))
  }

  /** EXACT two-sample Kolmogorov–Smirnov statistic, distributed — the
    * distribution-drift test with an actual guarantee (PSI needs binning
    * choices; KS is binless: D = max over x of |F_a(x) − F_b(x)|).
    * Emitted fixed-point as ks_x1e6 = max|C_a·n_b − C_b·n_a|·10⁶ ∕
    * (n_a·n_b) over ×`scale` quantized values — pure integers, so the
    * statistic is reproducible anywhere and SQL-replayable.
    *
    * The cumulative counts are NOT a global window (one task): values
    * group to (v, c_a, c_b) first — state is O(distinct quantized
    * values), not O(rows) — then the family's distributed prefix sum
    * ([[Rank.bucketStats]]) builds C_a and C_b from one stats pass with
    * driver state O(buckets). Headroom: the C·n products need n_a·n_b < 2⁶³
    * (~3×10⁹ rows per side) and that bound is ENFORCED (require, not
    * silent wrap-around); the final ×10⁶ scaling runs in decimal(19,0)
    * so it cannot overflow inside the enforced range. Beyond the
    * bound, scale counts down or subsample one side (document the
    * trade; the statistic is scale-free in n).
    */
  def ksStatistic(a: DataFrame, b: DataFrame, valueCol: String,
      scale: Int = 100, numPartitions: Int = 0): DataFrame = {
    val spark = a.sparkSession
    import spark.implicits._
    def q(df: DataFrame, name: String) = df
      .filter(col(valueCol).isNotNull)
      .select(round(col(valueCol) * scale).cast("long").as("v"))
      .groupBy("v").agg(count(lit(1)).as(name))
    val merged = q(a, "ca").join(q(b, "cb"), Seq("v"), "full_outer")
      .na.fill(0L, Seq("ca", "cb"))
    val bk = Rank.bucketStats("ksStatistic", merged, "v", numPartitions,
      orderName = valueCol)(sum(col("ca")).as("ta"), sum(col("cb")).as("tb"))
    if (bk.rows.isEmpty) return Seq.empty[(Long, Long, Long)].toDF("n_a", "n_b", "ks_x1e6")
    val na = bk.rows.map(_.getLong(1)).sum
    val nb = bk.rows.map(_.getLong(2)).sum
    val nanb = BigInt(na) * BigInt(nb)
    require(nanb <= Long.MaxValue,
      s"ksStatistic: n_a*n_b = $nanb exceeds 2^63 — the C*n fixed-point " +
        "products would wrap silently; scale counts down or subsample one side")
    val local = org.apache.spark.sql.expressions.Window
      .partitionBy("__g").orderBy("v")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    bk.grouped
      .withColumn("__cA", bk.offsetExpr(0) + sum(col("ca")).over(local))
      .withColumn("__cB", bk.offsetExpr(1) + sum(col("cb")).over(local))
      .agg(max(abs(col("__cA") * nb - col("__cB") * na)).as("__d"))
      .select(lit(na).as("n_a"), lit(nb).as("n_b"),
        when(lit(na) === 0 || lit(nb) === 0, lit(null).cast("long"))
          .otherwise(expr(s"CAST(__d AS DECIMAL(19,0)) * 1000000 DIV ${nanb.toLong}L"))
          .as("ks_x1e6"))
  }

  /** Pearson correlation matrix of `cols` — the feature-redundancy /
    * leakage report (two near-perfectly-correlated columns mean a
    * duplicated signal; a label correlating with an id means a leak).
    * ONE [[graft.functions.GramAgg]] pass over the packed column vector
    * — d(d+1)/2 exact fixed-point longs per partition, one scan for the
    * whole matrix — plus the first-moment sums on the same aggregate.
    *
    * corr_ij = (n·S_ij − S_i·S_j) / √(n·S_ii − S_i²)·√(n·S_jj − S_j²)
    * over the floor-quantized values: the moments are EXACT integers
    * (BigInt driver math — n·S_ij overflows int64 at sf0.1 already), so
    * the only float ops are the final correctly-rounded casts, √, and
    * division — identical on any engine, rounded to 6 decimals. A
    * zero-variance column yields null against every other (a constant
    * has no correlation, and silently emitting 0 would read as
    * "uncorrelated").
    *
    * Driver holds d² longs — same bounded-reduction call as
    * [[Pca.topComponent]]. Rows with ANY null among `cols` are skipped
    * (pairwise-complete would make each cell a different population).
    */
  def correlationMatrix(df: DataFrame, cols: Seq[String],
      scale: Int = 100): DataFrame = {
    require(cols.size >= 2 && cols.size <= 64, "cols: 2..64")
    val spark = df.sparkSession
    import spark.implicits._
    val d = cols.size
    val complete = df.filter(cols.map(col(_).isNotNull).reduce(_ && _))
      .select(array(cols.map(col(_).cast("double")): _*).as("__v"))
    val gramCol = org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.GramAgg(
        org.apache.spark.sql.GraftSqlBridge.expression(col("__v")), d, scale)
        .toAggregateExpression())
    val sumCols = (0 until d).map(i =>
      sum(floor(element_at(col("__v"), i + 1) * scale).cast("long")).as(s"__s$i"))
    val aggCols = gramCol.as("__g") +: count(lit(1)).as("__n") +: sumCols
    val row = complete.agg(aggCols.head, aggCols.tail: _*).collect()(0)
    val g = row.getSeq[Long](0)
    val n = BigInt(row.getLong(1))
    if (n == 0) return Seq.empty[(Long, Long, Option[Double])].toDF("i", "j", "corr")
    val s = (0 until d).map(i => BigInt(row.getLong(2 + i)))
    val out = for (i <- 0 until d; j <- 0 until d) yield {
      val num = n * BigInt(g(i * d + j)) - s(i) * s(j)
      val di = n * BigInt(g(i * d + i)) - s(i) * s(i)
      val dj = n * BigInt(g(j * d + j)) - s(j) * s(j)
      val corr =
        if (di.signum <= 0 || dj.signum <= 0) Option.empty[Double]
        else Some(BigDecimal(
          num.toDouble / (math.sqrt(di.toDouble) * math.sqrt(dj.toDouble)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      (i.toLong, j.toLong, corr)
    }
    out.toDF("i", "j", "corr")
  }
}
