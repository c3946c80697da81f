package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DecimalType, IntegerType, LongType, StructField, StructType}

/** Distributed global ranking — `row_number() OVER (ORDER BY …)` without
  * the single-reducer sort that a bare unpartitioned window costs (Spark
  * warns "No Partition Defined for Window operation" and funnels the
  * whole relation through ONE task — the canonical 100 TB scale-killer).
  *
  * Every operator here, and the global-order operators of [[Packing]],
  * [[Sampling]] and [[Profile]], walks the global order through ONE
  * shared step, [[bucketStats]], whose doc states the family contract;
  * each operator keeps only its own aggregates, driver walk, window and
  * output columns.
  *
  * Consumers: Spearman rank correlation (stat4 — two rank assignments
  * joined per row), systematic sampling (samp10 — every k-th row of the
  * global order), any "position in corpus order" need that shuf1-style
  * hash order doesn't cover.
  */
object Rank {

  /** The family's walk of a global order — shared by the six operators
    * below, [[Packing.packByOffset]], [[Sampling.deterministicShuffle]],
    * [[Sampling.groupRunningCost]] and [[Profile.ksStatistic]]:
    *   1. refuse an input that already has a `__g` column ([[requireFree]]);
    *   2. `prepare` the input — the caller's own step, run only after that
    *      check so a refused input costs no job (the Rank operators pass
    *      [[pinOnce]]; the step itself never pins);
    *   3. range-bucket it by `orderCol` into `numPartitions` buckets
    *      (<= 0 ⇒ session default parallelism) with approx-quantile
    *      boundaries: a row's bucket is a deterministic pure function of
    *      its own value — unlike `spark_partition_id` after
    *      `repartitionByRange`, whose sampled bounds can differ between
    *      two actions on the same plan. A null order value gets a null
    *      bucket on EVERY path, the single-bucket ones included;
    *   4. ONE stats pass, `groupBy(seriesCols…, __g).agg(aggs…)`,
    *      collected: O(series × buckets) rows on the driver, laid out
    *      (series…, bucket, aggs…);
    *   5. fail fast on a null bucket (a null has no position in the global
    *      order) and on a null series value (the per-series offset join
    *      would drop the row), each message naming the operator and the
    *      caller's column — `orderName` when `orderCol` is derived from
    *      it, like Sampling's hash key.
    *
    * The BUCKETING may be approximate, the RESULT never is: buckets are
    * range-disjoint and ascending, and equal order values always share a
    * bucket, so an exclusive prefix offset over the smaller buckets
    * ([[Buckets.offsetExpr]], [[Buckets.offsetTable]]) plus an in-bucket
    * window composes to the exact global value whatever the boundaries
    * landed on, and a per-bucket check on the stats pass (duplicates,
    * null payloads) is complete for the whole order. Two passes over the
    * data, none of them a single-reducer window.
    */
  private[operators] def bucketStats(op: String, df: DataFrame,
      orderCol: String, numPartitions: Int, seriesCols: Seq[String] = Nil,
      orderName: String = "", prepare: DataFrame => DataFrame = identity)(
      aggs: Column*): Buckets = {
    requireFree(op, df, "__g", "range-bucket")
    val base = prepare(df)
    val parts = math.max(1,
      if (numPartitions > 0) numPartitions
      else df.sparkSession.sparkContext.defaultParallelism)
    val grouped = base.withColumn("__g",
      when(col(orderCol).isNotNull, rangeGroup(base, orderCol, parts)))
    val rows = grouped.groupBy((seriesCols :+ "__g").map(col): _*)
      .agg(aggs.head, aggs.tail: _*).collect()
    val g = seriesCols.length
    require(rows.forall(!_.isNullAt(g)),
      s"$op: null values in order column " +
        s"'${if (orderName.isEmpty) orderCol else orderName}' — filter them " +
        "explicitly first; a null has no position in the global order")
    require(rows.forall(r => (0 until g).forall(i => !r.isNullAt(i))),
      s"$op: null values in series column(s) ${seriesCols.mkString(", ")} " +
        "— filter or coalesce them first; the offset join would silently " +
        "drop those rows")
    new Buckets(grouped, rows, seriesCols.map(base.schema(_)))
  }

  /** The bucketed frame (`__g` added) and the collected stats rows of one
    * [[bucketStats]] call, with the offset and driver-table builders
    * every operator of the family shares.
    */
  private[operators] final class Buckets(val grouped: DataFrame,
      val rows: Array[Row], seriesFields: Seq[StructField]) {

    /** Index of the bucket id in a stats row; aggregate i sits at g + 1 + i. */
    val g: Int = seriesFields.length

    /** The stats rows of each series, in ascending bucket (= order) order. */
    def perSeries: Iterator[Array[Row]] =
      rows.groupBy(r => (0 until g).map(r.get).toSeq).valuesIterator
        .map(_.sortBy(_.getInt(g)))

    /** A driver-table row: the series values of stats row `r`, then
      * `more`. Each value stays its own type — a Seq(...) literal would
      * widen an Int bucket id to Long and break the IntegerType slot.
      */
    def row(r: Row, more: Any*): Row = Row.fromSeq((0 until g).map(r.get) ++ more)

    /** Exclusive prefix sums of aggregate `agg` (a long) over the smaller
      * buckets, as a literal lookup on `__g` — for a walk without series.
      * Absent buckets add 0; `element_at` is 1-based, hence the +1.
      */
    def offsetExpr(agg: Int): Column = {
      val sums = rows.map(r => r.getInt(0) -> r.getLong(1 + agg)).toMap
      val maxG = if (sums.isEmpty) 0 else sums.keys.max
      val offs = (0 to maxG).scanLeft(0L)((acc, b) => acc + sums.getOrElse(b, 0L))
      element_at(array(offs.take(maxG + 1).map(lit(_)): _*), col("__g") + 1)
    }

    /** Per-series exclusive prefix sums of aggregate `agg` (a long), as a
      * (series…, __g, __off) driver table to broadcast-join on
      * (series…, __g) — the general-key sibling of [[offsetExpr]].
      */
    def offsetTable(agg: Int): DataFrame =
      table(perSeries.flatMap { sorted =>
        sorted.zip(sorted.scanLeft(0L)((acc, r) => acc + r.getLong(g + 1 + agg)))
          .map { case (r, off) => row(r, r.getInt(g), off) }
      }.toSeq, bucketField, longField("__off"))

    /** A small driver-built table: the series columns (with their input
      * types), then `fields`.
      */
    def table(tableRows: Seq[Row], fields: StructField*): DataFrame =
      grouped.sparkSession.createDataFrame(java.util.Arrays.asList(tableRows: _*),
        StructType(seriesFields ++ fields))
  }

  private val bucketField = StructField("__g", IntegerType, nullable = false)

  private def longField(name: String): StructField =
    StructField(name, LongType, nullable = false)

  /** The family's internal-column fail-fast: `withColumn` would silently
    * OVERWRITE a caller column of the same name and drop it from the
    * output (for `__g`, first found live as an Integer-vs-STRING
    * converter error in the offset join three plans downstream).
    */
  private[operators] def requireFree(op: String, df: DataFrame, name: String,
      role: String): Unit =
    require(!df.columns.contains(name),
      s"$op: input already has a '$name' column — rename it; '$name' is " +
        s"this operator's internal $role name")

  /** Deterministic range-bucket id in [0, parts): the quantile bucket of
    * `orderCol`, ascending in `orderCol`. Degenerates to one constant
    * bucket when parts <= 1 or the boundary sample is empty.
    */
  private def rangeGroup(df: DataFrame, orderCol: String, parts: Int): Column =
    if (parts <= 1) lit(0)
    else {
      val probs = (1 until parts).map(_.toDouble / parts).toArray
      val bounds = df.stat.approxQuantile(orderCol, probs, 0.01).distinct.sorted
      if (bounds.isEmpty) lit(0)
      else graft.functions.QuantileBucket.bucket(col(orderCol).cast("double"), bounds)
    }

  /** The six Rank operators' `prepare`: they are multi-pass over their
    * input (boundary sample, stats collect, final windowed pass), so they
    * pin it once — otherwise the caller's upstream lineage re-executes
    * three times. Governed by graft.materialize.mode like every other
    * multi-consumer point; a one-shot use, safe under `off`. A frame the
    * CALLER already pinned is reused as-is — re-materializing it would
    * copy every block for nothing (Materialize.isPinned).
    */
  private def pinOnce(df: DataFrame): DataFrame =
    if (Materialize.isPinned(df)) df else Materialize(df)

  /** 1-based global rank of every row under
    * ORDER BY (orderCol, tieCols…) — exact, distributed, total iff the
    * tie columns complete a total order. Null order values fail fast
    * (piggybacked on the bucket-count pass — a null has no rank, and
    * silently dropping would shift every downstream position).
    */
  def globalRank(df: DataFrame, orderCol: String, tieCols: Seq[String],
      outCol: String = "rank_pos", numPartitions: Int = 0): DataFrame = {
    val b = bucketStats("globalRank", df, orderCol, numPartitions,
      prepare = pinOnce)(count(lit(1)).as("n"))
    val local = Window.partitionBy("__g")
      .orderBy((col(orderCol) +: tieCols.map(col)): _*)
    b.grouped
      .withColumn(outCol, b.offsetExpr(0) + row_number().over(local).cast("long"))
      .drop("__g")
  }

  /** INCLUSIVE running sum of `sumCol` (long) under ORDER BY `orderCol` —
    * [[globalRank]]'s weighted twin: per-bucket sums on the stats pass,
    * then per-bucket exclusive offsets + an in-bucket running-sum
    * window. No single-reducer global window at ANY cardinality — this
    * is the rank-map shape stat6 (Mann–Whitney) runs over its
    * distinct-value table, where a bare `Window.orderBy` would funnel
    * every distinct value through one task.
    *
    * `seriesCols` names columns that split the input into INDEPENDENT
    * series, each accumulating its own running sum (stat4 runs its two
    * rank maps — one per correlation axis — through ONE call this way:
    * the alternative is one full quantile-sample/count/window pass per
    * series, or a `Window.partitionBy(series)` that funnels each series
    * through one task — the same single-reducer shape with extra
    * steps). The bucket boundaries are sampled over ALL series at once
    * — within a series that is merely a finer range split, so
    * correctness is untouched; per-(series, bucket) offsets ride back
    * in one broadcast join. The offset table the driver holds is
    * O(|series| · buckets) — callers keep series cardinality bounded
    * (it is collected either way).
    *
    * Order values must be DISTINCT within a series — under ties the
    * per-row running sum depends on the tie rows' accumulation order,
    * which no total order pins down, so the output would silently vary
    * with partitioning. Like the siblings [[globalLag]]/[[globalSweep]],
    * duplicates FAIL FAST (checked per (series, bucket) on the existing
    * stats pass — equal order values within a series always share a
    * bucket, so the per-bucket check is complete); aggregate to distinct
    * order values first (stat4/stat6/ml2/ml4 all do). Null order and
    * null series values fail fast ([[bucketStats]]).
    *
    * `distinctOrders = true` states that the caller's table is
    * aggregated by exactly (series…, order) — a groupBy on those
    * columns built it, so a duplicate order value within a series is
    * structurally impossible. The flag skips the duplicate fail-fast's
    * `count_distinct` — NOT a free assertion: distinct-counting inside
    * a grouped aggregate plans as an Expand that doubles the rows into
    * a full-input-cardinality first-phase aggregation, measured at
    * ~0.85 s of a 594k-row pass's ~1.0 s (stat13 profile, sf0.1) —
    * while the null order/series fail-fasts stay. Callers that merely
    * BELIEVE their orders are unique (ids from upstream, file data)
    * must keep the check; the flag is for tables whose groupBy is in
    * the same expression.
    */
  def globalRunningSum(df: DataFrame, orderCol: String, sumCol: String,
      outCol: String = "run_sum", numPartitions: Int = 0,
      seriesCols: Seq[String] = Nil,
      distinctOrders: Boolean = false): DataFrame = {
    val statAggs = Seq(sum(col(sumCol).cast("long")).as("s"),
        count(lit(1)).as("n")) ++
      (if (distinctOrders) Nil
       else Seq(count_distinct(col(orderCol)).as("nd")))
    val b = bucketStats("globalRunningSum", df, orderCol, numPartitions,
      seriesCols, prepare = pinOnce)(statAggs: _*)
    // ties make the per-row running sum depend on an unspecified
    // accumulation order — a silent partitioning dependence
    if (!distinctOrders)
      require(b.rows.forall(r => r.getLong(b.g + 2) == r.getLong(b.g + 3)),
        s"globalRunningSum: duplicate values in order column '$orderCol'" +
          (if (seriesCols.isEmpty) "" else s" within a (${seriesCols.mkString(", ")}) series") +
          " — the running sum at a tied row is ambiguous; aggregate to " +
          "distinct order values first")
    val keyCols = seriesCols :+ "__g"
    val local = Window.partitionBy(keyCols.map(col): _*).orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val inBucket = sum(col(sumCol).cast("long")).over(local)
    if (seriesCols.isEmpty)
      b.grouped.withColumn(outCol, b.offsetExpr(0) + inBucket).drop("__g")
    else
      b.grouped.join(broadcast(b.offsetTable(0)), keyCols)
        .withColumn(outCol, col("__off") + inBucket)
        .drop("__g", "__off")
  }

  /** Exact weighted LOWER MEDIAN per series — the `orderCol` value at
    * weighted rank (W+1) DIV 2, W = Σ weights of the series — WITHOUT
    * materializing the full running-sum map. The
    * [[globalRunningSum]]-then-`filter(cum >= (W+1) DIV 2)` formulation
    * pays a full-table window pass, a totals scan, and a join, all to
    * keep ONE row per series; but the per-(series, bucket) weight sums
    * the family's stats pass already collects locate the target rank's
    * bucket on the driver, so the window only has to run over the rows
    * of ONE bucket per series (~1/parts of the table), pruned by an
    * inner broadcast join against the (series, target bucket,
    * exclusive offset, rank, total) table. Exactness is the family
    * invariant ([[bucketStats]]): exclusive offset + in-bucket inclusive
    * running sum = the exact global running sum on every surviving row —
    * the selected value is identical to the full-map formulation's,
    * whatever the approximate boundaries were.
    *
    * `rankOf` generalizes the selected order statistic: given the
    * series' total weight W it returns the 1-based target rank — the
    * default (W+1) DIV 2 is the lower median; ml15's conformal quantile
    * passes min(((W+1)·9+9) DIV 10, W) for the ceil(0.9·(n+1))-th
    * residual. A rank past the series' total weight FAILS FAST on the
    * driver walk (W > 0 only — W = 0 keeps the documented "rank 0,
    * every row qualifies, min wins" degenerate): the cum >= rank filter
    * would otherwise match nothing and the series would silently vanish
    * from the output. Everything else (bucket pruning, exactness, tie
    * invariance) is rank-agnostic.
    *
    * Unlike the running-sum siblings, DUPLICATE order values need no
    * fail-fast here: a tied row's own cum is accumulation-order-
    * dependent, but the median only asks "is some row of value v at or
    * past the rank" — the LAST tied row always carries the full
    * (deterministic) group sum, so v's membership in the `cum >= rank`
    * set, and therefore min(v), is partitioning-invariant. Null order
    * values and null series values fail fast ([[bucketStats]]). Null
    * weights contribute nothing (SUM semantics); callers feed
    * count/multiplicity columns.
    *
    * `pinInput = false` skips the operator's own [[Materialize]] pin for
    * callers whose input is a cheap SHUFFLE-FREE derivation of an
    * already-pinned frame (madSummary's deviation projection: a
    * broadcast join + abs() over the pinned count table) — the mba/d11
    * scale rule: re-running a map-side projection per pass costs less
    * than checkpointing a near-input-sized copy. The multi-pass
    * re-execution is then the CALLER's stated bargain.
    *
    * Returns a COLLECTED LocalRelation ([[Materialize.local]]) of one
    * row per series: (seriesCols…, totalOut = W, medianOut = median) —
    * O(series) driver state, the same class as the offset table the
    * stats pass already collected. Callers broadcast-join it; it plans
    * as a LocalTableScan and broadcasts in microseconds.
    *
    * Consumers: [[graft.operators.Stats.madSummary]] (median and MAD —
    * stat13), [[graft.operators.Stats.theilSen]] (slope and intercept
    * weighted medians — stat17).
    */
  def globalWeightedMedian(df: DataFrame, orderCol: String,
      weightCol: String, seriesCols: Seq[String] = Nil,
      totalOut: String = "total", medianOut: String = "median",
      numPartitions: Int = 0,
      rankOf: Long => Long = w => (w + 1L) / 2L,
      pinInput: Boolean = true): DataFrame = {
    val b = bucketStats("globalWeightedMedian", df, orderCol, numPartitions,
      seriesCols, prepare = if (pinInput) pinOnce else identity)(
      sum(col(weightCol).cast("long")).as("s"))
    val g = b.g
    def w(r: Row): Long = if (r.isNullAt(g + 1)) 0L else r.getLong(g + 1)
    // Driver-side target-bucket selection per series: walk the buckets
    // in range order accumulating weight until the rank (W+1) DIV 2
    // falls inside one; emit (series…, bucket, exclusive offset, rank,
    // W). W = 0 degenerates to rank 0 and the FIRST bucket — the same
    // "every row qualifies, min wins" semantics the full-map filter had.
    val tgtRows = b.perSeries.map { sorted =>
      val total = sorted.map(w).sum
      val rank = rankOf(total)
      // a rank outside [1, W] would make the cum >= rank filter match
      // nothing and the series vanish silently — fail fast here, where
      // the caller's rankOf hook ran (W = 0 keeps the documented
      // degenerate: rank 0, every row qualifies, min wins)
      require(total == 0L || (rank >= 1L && rank <= total),
        s"globalWeightedMedian: rankOf returned $rank for a series of " +
          s"total weight $total — the target rank must be in [1, W]; " +
          "fix the caller's rank function")
      var off = 0L
      var i = 0
      while (i < sorted.length - 1 && off + w(sorted(i)) < rank) {
        off += w(sorted(i)); i += 1
      }
      b.row(sorted(i), sorted(i).getInt(g), off, rank, total)
    }.toSeq
    val tgtDf = b.table(tgtRows, bucketField, longField("__off"),
      longField("__rank"), longField("__tot"))
    val keyCols = seriesCols :+ "__g"
    val local = Window.partitionBy(keyCols.map(col): _*).orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // coalesce(weight, 0), NOT bare SUM: an all-null-weight series has
    // W = 0 and must hit the documented "every row qualifies, min wins"
    // degenerate — but SUM over an all-null window is NULL, so the bare
    // form made cum NULL and the filter silently dropped the series.
    // For mixed null/non-null weights SUM already skips nulls, so the
    // coalesce changes nothing there.
    val med = b.grouped.join(broadcast(tgtDf), keyCols)
      .withColumn("__cum",
        col("__off") +
          sum(coalesce(col(weightCol).cast("long"), lit(0L))).over(local))
      .filter(col("__cum") >= col("__rank"))
      .groupBy(seriesCols.map(col): _*)
      .agg(min(col(orderCol)).as(medianOut), first(col("__tot")).as(totalOut))
      .select((seriesCols.map(col) :+ col(totalOut) :+ col(medianOut)): _*)
    Materialize.local(med)
  }

  /** Exact BANDED weighted sum per series — Σ orderValue · keptWeight
    * over the rows whose weighted-rank span intersects the inclusive
    * rank band [loOf(W), hiOf(W)] (W = the series' total weight), with
    * partial inclusion at the two band edges: a row of weight w whose
    * inclusive cumulative rank is c spans ranks [c−w+1, c] and keeps
    * max(0, min(c, hi) − max(c−w+1, lo) + 1) units. This is the trimmed
    * mean's kept-sum (stat11: band [k+1, n−k]) generalized from the
    * full-rank-map formulation to BUCKET PRUNING: a bucket whose rank
    * span lies entirely inside the band contributes its per-bucket
    * Σ value·weight — already collected on the stats pass as an exact
    * DECIMAL(38,0) — with no window at all; only the ≤ 2 band-edge
    * buckets per series are windowed. vs the full-map form (running sum
    * over every row + totals join + corpus-sized keep aggregate) the
    * windowed work drops from the whole table to ~2/parts of it.
    *
    * Exactness: the family invariant ([[bucketStats]]) plus integer band
    * arithmetic — the kept sum is an exact integer in DECIMAL(38,0) end
    * to end. Ties in the order column are fine for the SUM even though
    * individual tied rows' cum values are accumulation-order-dependent:
    * keep is rank-measure additive, so a tie group's total kept weight
    * is the overlap of the GROUP's (deterministic) rank span with the
    * band, and the payload multiplier (the shared order value) is
    * constant across the group — RankSpec pins partitioning invariance
    * under heavy ties. Null order/series values fail fast.
    *
    * Returns a COLLECTED LocalRelation of one row per series:
    * (seriesCols…, totalOut = W (long), sumOut = kept sum
    * (DECIMAL(38,0))) — O(series) driver state, like the median's.
    */
  def globalBandedSum(df: DataFrame, orderCol: String, weightCol: String,
      loOf: Long => Long, hiOf: Long => Long,
      seriesCols: Seq[String] = Nil,
      totalOut: String = "total", sumOut: String = "kept_sum",
      numPartitions: Int = 0): DataFrame = {
    val b = bucketStats("globalBandedSum", df, orderCol, numPartitions,
      seriesCols, prepare = pinOnce)(
      sum(col(weightCol).cast("long")).as("s"),
      sum(col(orderCol).cast("decimal(38,0)") *
        col(weightCol).cast("long")).as("sv"))
    val g = b.g
    def w(r: Row): Long = if (r.isNullAt(g + 1)) 0L else r.getLong(g + 1)
    // Driver walk: full-band buckets sum exactly (BigDecimal of the
    // collected DECIMAL sums); buckets straddling a band edge are
    // emitted for the windowed pass with their offset and the band.
    val fullRows = scala.collection.mutable.ArrayBuffer.empty[Row]
    val edgeRows = scala.collection.mutable.ArrayBuffer.empty[Row]
    b.perSeries.foreach { sorted =>
      val total = sorted.map(w).sum
      val lo = loOf(total)
      val hi = hiOf(total)
      var off = 0L
      var full = BigDecimal(0)
      sorted.foreach { r =>
        val s = w(r)
        val first = off + 1
        val last = off + s
        if (s > 0 && lo <= first && last <= hi) {
          if (!r.isNullAt(g + 2))
            full += BigDecimal(r.getDecimal(g + 2))
        } else if (s > 0 && first <= hi && last >= lo) {
          edgeRows += b.row(r, r.getInt(g), off, lo, hi)
        }
        off = last
      }
      fullRows += b.row(sorted.head, total, new java.math.BigDecimal(
        full.underlying.stripTrailingZeros.toPlainString))
    }
    val dec38 = DecimalType(38, 0)
    val fullDf = b.table(fullRows.toSeq, longField(totalOut),
      StructField("__full", dec38))
    val edgeDf = b.table(edgeRows.toSeq, bucketField, longField("__off"),
      longField("__lo"), longField("__hi"))
    val keyCols = seriesCols :+ "__g"
    val local = Window.partitionBy(keyCols.map(col): _*).orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wLong = col(weightCol).cast("long")
    val edgeSums = b.grouped.join(broadcast(edgeDf), keyCols)
      .withColumn("__cum", col("__off") + sum(wLong).over(local))
      .withColumn("__keep", greatest(
        least(col("__cum"), col("__hi")) -
          greatest(col("__cum") - wLong + 1L, col("__lo")) + 1L, lit(0L)))
      .groupBy(seriesCols.map(col): _*)
      .agg(sum(col(orderCol).cast("decimal(38,0)") * col("__keep"))
        .as("__edge"))
    val joined =
      if (seriesCols.isEmpty) fullDf.crossJoin(edgeSums)
      else fullDf.join(edgeSums, seriesCols, "left")
    Materialize.local(joined.select(
      (seriesCols.map(col) :+ col(totalOut) :+
        (coalesce(col("__full"), lit(0).cast(dec38)) +
          coalesce(col("__edge"), lit(0).cast(dec38)))
          .cast(dec38).as(sumOut)): _*))
  }

  /** Fusion of [[globalRunningSum]] + [[globalLag]]-of-the-order-column
    * for the sweep-line consumer: one bucketing, ONE stats collect
    * (per-bucket sum, row/distinct counts, last order value), one
    * windowed pass emitting BOTH the inclusive running sum of `sumCol`
    * (`runOut`) and the previous order value (`lagOut`). Chaining the
    * two standalone operators costs two materializations, two boundary
    * samples, two stats shuffles and two window passes over the same
    * table; a sweep needs both outputs on every row, so the fusion
    * halves the passes with identical results. Same contract as
    * [[globalLag]]: order values must be distinct and non-null (both
    * fail fast, checked on the single stats pass).
    *
    * Consumers: ivl2 (interval-union coverage: `run − delta > 0` over
    * the gap `order − prev`), global gap/idle-time detection, any
    * sweep over +1/−1 boundary deltas.
    */
  def globalSweep(df: DataFrame, orderCol: String, sumCol: String,
      runOut: String = "run_sum", lagOut: String = "prev_ord",
      numPartitions: Int = 0): DataFrame = {
    val b = bucketStats("globalSweep", df, orderCol, numPartitions,
      prepare = pinOnce)(
      count(lit(1)).as("n"),
      count_distinct(col(orderCol)).as("nd"),
      sum(col(sumCol).cast("long")).as("s"),
      max(col(orderCol)).as("last_o"),
      count(col(sumCol)).as("nn"))
    require(b.rows.forall(r => r.getLong(1) == r.getLong(2)),
      s"globalSweep: duplicate values in order column '$orderCol' — the " +
        "previous row is ambiguous under ties; aggregate to distinct " +
        "order values first")
    // Same fail-fast style as the order-column checks, and on the SAME
    // stats pass: a null delta has no defined contribution to a running
    // sum (SQL SUM skips it; a +1/−1 sweep would silently drop a
    // boundary), so surface it instead of letting getLong(3) NPE on an
    // all-null bucket or nulls vanish as zeros in a mixed one.
    require(b.rows.forall(r => r.getLong(1) == r.getLong(5)),
      s"globalSweep: null values in sum column '$sumCol' — coalesce or " +
        "filter them explicitly first; a null delta is ambiguous in a " +
        "running sum")
    val carryDf = carryTable(b, valueIdx = 4, b.grouped.schema(orderCol).dataType)
    val local = Window.partitionBy("__g").orderBy(orderCol)
    val inBucket = sum(col(sumCol).cast("long"))
      .over(local.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    b.grouped.join(broadcast(carryDf), Seq("__g"), "left")
      .withColumn(runOut, b.offsetExpr(2) + inBucket)
      .withColumn(lagOut,
        when(row_number().over(local) === 1, col("__carry"))
          .otherwise(lag(col(orderCol), 1).over(local)))
      .drop("__g", "__carry")
  }

  /** The (bucket → previous non-empty bucket's value) broadcast table
    * shared by [[globalLag]] and [[globalSweep]]: given the collected
    * per-bucket stats rows (bucket id at index 0, the carried value at
    * `valueIdx`), one Row per bucket AFTER the first, holding the
    * nearest lower bucket's value (every stats row is a non-empty
    * bucket — groupBy emits observed keys only). One definition so the
    * off-by-one surface (the sorted(i−1) lookup, the i > 0 guard that
    * leaves the FIRST bucket joining to null) is decided once.
    */
  private def carryTable(b: Buckets, valueIdx: Int, vType: DataType): DataFrame = {
    val sorted = b.rows.sortBy(_.getInt(0))
    b.table(sorted.indices.drop(1)
        .map(i => Row(sorted(i).getInt(0), sorted(i - 1).get(valueIdx))),
      bucketField, StructField("__carry", vType))
  }

  /** Previous row's `valueCol` under global ORDER BY `orderCol` —
    * `lag(value, 1) OVER (ORDER BY order)` without the single-reducer
    * sort, completing the distributed prefix family ([[globalRank]],
    * [[globalRunningSum]]): an in-bucket `lag` window, and for each
    * bucket's FIRST row the previous non-empty bucket's last value,
    * carried back as a tiny broadcast (bucket → value) table
    * (O(buckets) driver state). The global first row gets null, as
    * `lag` would.
    *
    * Order values must be DISTINCT — "the previous row" is ambiguous
    * under ties, and a tie straddling work would silently depend on
    * partitioning — so duplicates fail fast (checked on the same
    * bucket-stats pass that collects the carry values; equal order
    * values always share a bucket, so the per-bucket check is
    * complete). Aggregate to distinct order values first (the
    * interval-sweep consumer does). Null order values fail fast as in
    * [[globalRank]].
    *
    * Consumers: interval-union coverage (ivl2 — gap length between
    * consecutive sweep boundaries), global gap detection, any
    * "difference from the previous row of the WHOLE relation" need.
    */
  def globalLag(df: DataFrame, orderCol: String, valueCol: String,
      outCol: String = "lag_val", numPartitions: Int = 0): DataFrame = {
    val b = bucketStats("globalLag", df, orderCol, numPartitions,
      prepare = pinOnce)(
      count(lit(1)).as("n"),
      count_distinct(col(orderCol)).as("nd"),
      max_by(col(valueCol), col(orderCol)).as("last_v"))
    require(b.rows.forall(r => r.getLong(1) == r.getLong(2)),
      s"globalLag: duplicate values in order column '$orderCol' — the " +
        "previous row is ambiguous under ties; aggregate to distinct " +
        "order values first")
    val carryDf = carryTable(b, valueIdx = 3, b.grouped.schema(valueCol).dataType)
    val local = Window.partitionBy("__g").orderBy(orderCol)
    b.grouped.join(broadcast(carryDf), Seq("__g"), "left")
      .withColumn(outCol,
        when(row_number().over(local) === 1, col("__carry"))
          .otherwise(lag(col(valueCol), 1).over(local)))
      .drop("__g", "__carry")
  }
}
