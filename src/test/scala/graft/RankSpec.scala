package graft

import graft.operators.{Packing, Rank, Sampling}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Rank.globalRank: exact agreement with the single-sort row_number
  * reference, bucket-boundary ties, null fail-fast.
  */
class RankSpec extends SparkSpec {

  import spark.implicits._

  test("globalRank equals the single-sort row_number reference, with ties") {
    // Heavy ties (only 7 distinct order values over 10k rows) force many
    // rows per range bucket; the tie column completes the total order.
    val df = spark.range(10000).select(
      col("id"),
      pmod(xxhash64(col("id")), lit(7)).cast("double").as("v"))
    val got = Rank.globalRank(df.repartition(8), "v", Seq("id"), "pos")
      .select("id", "pos")
    val ref = df.select(col("id"),
      row_number().over(Window.orderBy("v", "id")).cast("long").as("pos"))
    assert(got.exceptAll(ref).count() == 0L && ref.exceptAll(got).count() == 0L)
  }

  test("explicit numPartitions does not change the assignment") {
    val df = spark.range(5000).select(col("id"),
      pmod(xxhash64(col("id"), lit(1)), lit(1000)).cast("double").as("v"))
    val a = Rank.globalRank(df, "v", Seq("id"), "pos", numPartitions = 3)
      .select("id", "pos")
    val b = Rank.globalRank(df, "v", Seq("id"), "pos", numPartitions = 17)
      .select("id", "pos")
    assert(a.exceptAll(b).count() == 0L && b.exceptAll(a).count() == 0L)
  }

  test("null order values fail fast") {
    val df = Seq((1L, Some(1.0)), (2L, None), (3L, Some(3.0)))
      .toDF("id", "v")
    val e = intercept[IllegalArgumentException] {
      Rank.globalRank(df, "v", Seq("id")).count()
    }
    assert(e.getMessage.contains("null"))
    // the check must survive rangeGroup's degenerate single-bucket paths:
    // explicit numPartitions = 1, and an ALL-null order column (empty
    // boundary sample) — both previously bypassed the null bucket
    val e1 = intercept[IllegalArgumentException] {
      Rank.globalRank(df, "v", Seq("id"), numPartitions = 1).count()
    }
    assert(e1.getMessage.contains("null"))
    val allNull = Seq((1L, None: Option[Double]), (2L, None)).toDF("id", "v")
    val e2 = intercept[IllegalArgumentException] {
      Rank.globalRank(allNull, "v", Seq("id")).count()
    }
    assert(e2.getMessage.contains("null"))
    // the family members outside Rank, at both kinds of width: one bucket
    // (where a null could be ranked first) and several (where a null
    // bucket id could reach the driver's offset lookup)
    val docs = ((1L to 40L).map(i => (Option(i), i % 3, 5L)) :+ ((None, 1L, 5L)))
      .toDF("doc_id", "src", "n")
    def msg(f: => Any): String =
      intercept[IllegalArgumentException](f).getMessage
    for (parts <- Seq(1, 4)) {
      for (m <- Seq(
          msg(Packing.packByOffset(docs, "n", "doc_id", 10L, numPartitions = parts)),
          msg(Sampling.deterministicShuffle(docs, "doc_id", numPartitions = parts)),
          msg(Sampling.groupRunningCost(docs, "src", "doc_id", "n",
            numPartitions = parts))))
        assert(m.contains("null") && m.contains("'doc_id'"), s"width $parts: $m")
    }
  }

  test("globalRunningSum equals the single-sort running-sum reference, at any width") {
    // skewed weights over distinct order values — the stat6 rank-map shape
    val df = spark.range(0, 3000).select(
      col("id").cast("double").as("v"),
      (pmod(xxhash64(col("id")), lit(50)) + 1).as("c"))
    val ref = df.select(col("v"),
      sum(col("c")).over(Window.orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("run"))
    for (parts <- Seq(1, 4, 23)) {
      val got = Rank.globalRunningSum(df.repartition(7), "v", "c", "run", parts)
        .select("v", "run")
      assert(got.exceptAll(ref).count() == 0L && ref.exceptAll(got).count() == 0L,
        s"numPartitions=$parts diverged from the single-sort reference")
    }
  }

  test("seriesCols runs independent per-series running sums in one call") {
    // two series with overlapping value domains but different weights —
    // each must accumulate exactly as its own single-series call would
    val df = spark.range(0, 2000).select(
      concat(lit("s"), pmod(col("id"), lit(3))).as("axis"),
      (col("id") / lit(3)).cast("double").as("v"),
      (pmod(xxhash64(col("id")), lit(50)) + 1).as("c"))
    val got = Rank.globalRunningSum(df.repartition(7), "v", "c", "run",
        numPartitions = 11, seriesCols = Seq("axis"))
      .select("axis", "v", "run")
    val ref = df.select(col("axis"), col("v"),
      sum(col("c")).over(Window.partitionBy("axis").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("run"))
    assert(got.exceptAll(ref).count() == 0L && ref.exceptAll(got).count() == 0L)
  }

  test("globalRunningSum null order values fail fast") {
    val df = Seq((Some(1.0), 2L), (None, 3L), (Some(2.0), 4L)).toDF("v", "c")
    val e = intercept[IllegalArgumentException] {
      Rank.globalRunningSum(df, "v", "c").count()
    }
    assert(e.getMessage.contains("null"))
  }

  test("globalRunningSum duplicate order values fail fast (siblings' contract)") {
    // a tied order value makes the per-row running sum depend on the
    // tie rows' accumulation order — must fail fast like globalLag /
    // globalSweep, not silently vary with partitioning (rank1's hazard)
    val df = Seq((1.0, 2L), (2.0, 3L), (2.0, 4L), (3.0, 5L)).toDF("v", "c")
    val e = intercept[IllegalArgumentException] {
      Rank.globalRunningSum(df.repartition(3), "v", "c").count()
    }
    assert(e.getMessage.contains("duplicate"))
    // degenerate single-bucket path must catch it too
    val e1 = intercept[IllegalArgumentException] {
      Rank.globalRunningSum(df, "v", "c", numPartitions = 1).count()
    }
    assert(e1.getMessage.contains("duplicate"))
  }

  test("globalRunningSum duplicate check is PER SERIES: cross-series repeats pass, in-series ties fail") {
    // the same order value in two different series is NOT a tie — each
    // series accumulates independently (this is ml4's melted shape)
    val ok = Seq(("a", 1.0, 2L), ("b", 1.0, 3L), ("a", 2.0, 4L), ("b", 2.0, 5L))
      .toDF("axis", "v", "c")
    val got = Rank.globalRunningSum(ok.repartition(3), "v", "c", "run",
        seriesCols = Seq("axis"))
      .orderBy("axis", "v").select("axis", "v", "run")
      .as[(String, Double, Long)].collect().toSeq
    assert(got == Seq(("a", 1.0, 2L), ("a", 2.0, 6L), ("b", 1.0, 3L), ("b", 2.0, 8L)))
    // but a repeat WITHIN one series is a genuine tie — fail fast
    val bad = ok.unionByName(Seq(("a", 2.0, 9L)).toDF("axis", "v", "c"))
    val e = intercept[IllegalArgumentException] {
      Rank.globalRunningSum(bad, "v", "c", seriesCols = Seq("axis")).count()
    }
    assert(e.getMessage.contains("duplicate") && e.getMessage.contains("series"))
  }

  test("globalLag equals the single-sort lag reference, at any width") {
    // distinct order values (the operator's contract); payload differs
    // from the order column so the carry path moves real values
    val df = spark.range(0, 4000).select(
      col("id").cast("double").as("v"),
      xxhash64(col("id")).as("p"))
    val ref = df.select(col("v"),
      lag(col("p"), 1).over(Window.orderBy("v")).as("prev"))
    for (parts <- Seq(1, 2, 13)) {
      val got = Rank.globalLag(df.repartition(5), "v", "p", "prev",
          numPartitions = parts)
        .select("v", "prev")
      assert(got.exceptAll(ref).count() == 0L && ref.exceptAll(got).count() == 0L,
        s"numPartitions=$parts diverged from the single-sort lag reference")
    }
    // exactly one row (the global first) has a null lag
    val one = Rank.globalLag(df, "v", "p", "prev", numPartitions = 7)
    assert(one.filter(col("prev").isNull).select("v").as[Double].collect()
      .toSeq == Seq(0.0))
  }

  test("globalRunningSum null series values fail fast (would vanish at the offset join)") {
    val df = Seq((Some("a"), 1.0, 1L), (None, 2.0, 1L), (Some("a"), 3.0, 1L))
      .toDF("axis", "v", "c")
    val e = intercept[IllegalArgumentException] {
      Rank.globalRunningSum(df, "v", "c", seriesCols = Seq("axis")).count()
    }
    assert(e.getMessage.contains("series"))
  }

  test("globalSweep equals the chained runningSum+lag reference, at any width") {
    // distinct order values; deltas mix signs like a real sweep's ±1
    val df = spark.range(0, 4000).select(
      col("id").cast("double").as("v"),
      (when(col("id") % 3 === 0, -1L).otherwise(1L)).as("d"))
    val w = Window.orderBy("v")
    val ref = df.select(col("v"),
      sum(col("d")).over(w.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)).as("run"),
      lag(col("v"), 1).over(w).as("prev"))
    for (parts <- Seq(1, 2, 13)) {
      val got = Rank.globalSweep(df.repartition(5), "v", "d",
          runOut = "run", lagOut = "prev", numPartitions = parts)
        .select("v", "run", "prev")
      assert(got.exceptAll(ref).count() == 0L && ref.exceptAll(got).count() == 0L,
        s"numPartitions=$parts diverged from the single-sort reference")
    }
  }

  test("globalSweep duplicate and null order values fail fast") {
    val dup = Seq((1.0, 1L), (2.0, 1L), (2.0, -1L)).toDF("v", "d")
    val e1 = intercept[IllegalArgumentException] {
      Rank.globalSweep(dup, "v", "d").count()
    }
    assert(e1.getMessage.contains("duplicate"))
    val nul = Seq((Some(1.0), 1L), (None, -1L)).toDF("v", "d")
    val e2 = intercept[IllegalArgumentException] {
      Rank.globalSweep(nul, "v", "d").count()
    }
    assert(e2.getMessage.contains("null"))
  }

  test("globalLag duplicate order values fail fast") {
    val df = Seq((1.0, 10L), (2.0, 20L), (2.0, 30L)).toDF("v", "p")
    val e = intercept[IllegalArgumentException] {
      Rank.globalLag(df, "v", "p").count()
    }
    assert(e.getMessage.contains("duplicate"))
  }

  test("globalLag null order values fail fast") {
    val df = Seq((Some(1.0), 10L), (None, 20L)).toDF("v", "p")
    val e = intercept[IllegalArgumentException] {
      Rank.globalLag(df, "v", "p").count()
    }
    assert(e.getMessage.contains("null"))
  }

  test("globalWeightedMedian: hand-computed lower medians and totals") {
    // W odd/even and weighted cases pin the (W+1) DIV 2 lower-median
    // rank against hand arithmetic
    val df = Seq(
      ("a", 1L, 1L), ("a", 2L, 1L), ("a", 3L, 1L), ("a", 4L, 1L), // W=4 r=2
      ("b", 10L, 1L), ("b", 20L, 2L),                             // W=3 r=2
      ("c", 7L, 5L)                                               // W=5 r=3
    ).toDF("g", "v", "c")
    val got = Rank.globalWeightedMedian(df, "v", "c",
        seriesCols = Seq("g"), totalOut = "n", medianOut = "med")
      .orderBy("g").as[(String, Long, Long)].collect().toSeq
    assert(got == Seq(("a", 4L, 2L), ("b", 3L, 20L), ("c", 5L, 7L)))
  }

  test("globalWeightedMedian equals the full-map gRS+filter formulation, at any width") {
    // the bucket-pruned select must reproduce the running-sum
    // formulation's value exactly, whatever the boundary sample did
    val df = spark.range(0, 3000).select(
      concat(lit("s"), pmod(col("id"), lit(3))).as("g"),
      (col("id") / lit(3)).cast("long").as("v"),
      (pmod(xxhash64(col("id")), lit(50)) + 1).as("c"))
    val rm = Rank.globalRunningSum(df, "v", "c", outCol = "cum",
      seriesCols = Seq("g"), distinctOrders = true)
    val tot = df.groupBy("g").agg(sum("c").as("n"))
    val ref = rm.join(broadcast(tot), "g")
      .filter(col("cum") >= expr("(n + 1) DIV 2"))
      .groupBy("g").agg(max(col("n")).as("n"), min(col("v")).as("med"))
      .orderBy("g").as[(String, Long, Long)].collect().toSeq
    for (parts <- Seq(1, 4, 23)) {
      val got = Rank.globalWeightedMedian(df.repartition(7), "v", "c",
          seriesCols = Seq("g"), totalOut = "n", medianOut = "med",
          numPartitions = parts)
        .orderBy("g").as[(String, Long, Long)].collect().toSeq
      assert(got == ref, s"numPartitions=$parts diverged from the full map")
    }
  }

  test("globalWeightedMedian rankOf selects arbitrary order statistics (ml15's ceil rank)") {
    // residuals 1..10, weight 1 each: ceil(0.9·(n+1)) = ceil(9.9) = 10
    // → the 10th smallest = 10; the median default would pick 5
    val df = spark.range(1, 11).select(lit("a").as("g"), col("id").as("r"),
      lit(1L).as("c"))
    val got = Rank.globalWeightedMedian(df, "r", "c", seriesCols = Seq("g"),
        totalOut = "n", medianOut = "q",
        rankOf = w => math.min(((w + 1L) * 9L + 9L) / 10L, w))
      .as[(String, Long, Long)].collect().toSeq
    assert(got == Seq(("a", 10L, 10L)))
    val med = Rank.globalWeightedMedian(df, "r", "c", seriesCols = Seq("g"),
        totalOut = "n", medianOut = "q")
      .as[(String, Long, Long)].collect().toSeq
    assert(med == Seq(("a", 10L, 5L)))
  }

  test("globalWeightedMedian tolerates duplicate order values (median is tie-invariant)") {
    // unlike the running-sum siblings, the median is well-defined under
    // ties: the last tied row always carries the full group sum, so
    // membership in the cum >= rank set is partitioning-invariant
    val df = Seq(("a", 2L, 1L), ("a", 2L, 1L), ("a", 1L, 1L), ("a", 3L, 1L))
      .toDF("g", "v", "c") // W=4, r=2 → values sorted 1,2,2,3 → median 2
    for (parts <- Seq(1, 3)) {
      val got = Rank.globalWeightedMedian(df.repartition(parts), "v", "c",
          seriesCols = Seq("g"), totalOut = "n", medianOut = "med")
        .as[(String, Long, Long)].collect().toSeq
      assert(got == Seq(("a", 4L, 2L)))
    }
  }

  test("globalWeightedMedian: out-of-range rankOf fails fast (r17 guard)") {
    val df = Seq(("a", 1L, 1L), ("a", 2L, 1L)).toDF("g", "v", "c") // W=2
    val e = intercept[IllegalArgumentException] {
      Rank.globalWeightedMedian(df, "v", "c", seriesCols = Seq("g"),
        rankOf = w => w + 1L) // rank 3 > W = 2 — would silently vanish
    }
    assert(e.getMessage.contains("rankOf"))
    val e2 = intercept[IllegalArgumentException] {
      Rank.globalWeightedMedian(df, "v", "c", seriesCols = Seq("g"),
        rankOf = _ => 0L) // rank 0 with W > 0 — every row matches, not a rank
    }
    assert(e2.getMessage.contains("rankOf"))
  }

  test("globalWeightedMedian: an all-null-weight series degenerates to min-wins, not a dropped row") {
    // W = 0 is documented as "rank 0, every row qualifies, min wins" —
    // but before the r17 coalesce the all-NULL-weight window sum made
    // cum NULL and the series silently vanished
    val df = Seq(("a", 5L, Some(1L)), ("a", 7L, Some(1L)),
      ("z", 3L, None), ("z", 9L, None)).toDF("g", "v", "c")
    val got = Rank.globalWeightedMedian(df, "v", "c", seriesCols = Seq("g"),
        totalOut = "n", medianOut = "med")
      .orderBy("g").as[(String, Long, Long)].collect().toSeq
    assert(got == Seq(("a", 2L, 5L), ("z", 0L, 3L)))
  }

  test("globalWeightedMedian: pinInput = false returns identical results (stat13's dev projection)") {
    val df = spark.range(0, 2000).select(
      concat(lit("s"), pmod(col("id"), lit(3))).as("g"),
      pmod(xxhash64(col("id")), lit(97)).as("v"),
      (pmod(xxhash64(col("id"), lit(1)), lit(5)) + 1).as("c"))
    val pinned = Rank.globalWeightedMedian(df, "v", "c",
        seriesCols = Seq("g"), totalOut = "n", medianOut = "med")
      .orderBy("g").as[(String, Long, Long)].collect().toSeq
    val unpinned = Rank.globalWeightedMedian(df, "v", "c",
        seriesCols = Seq("g"), totalOut = "n", medianOut = "med",
        pinInput = false)
      .orderBy("g").as[(String, Long, Long)].collect().toSeq
    assert(pinned == unpinned)
  }

  test("globalWeightedMedian null order and null series fail fast; empty-series select works") {
    val nullOrd = Seq(("a", Some(1L), 1L), ("a", None, 1L)).toDF("g", "v", "c")
    val e = intercept[IllegalArgumentException] {
      Rank.globalWeightedMedian(nullOrd, "v", "c", seriesCols = Seq("g"))
    }
    assert(e.getMessage.contains("null"))
    val nullSer = Seq((Some("a"), 1L, 1L), (None, 2L, 1L)).toDF("g", "v", "c")
    val e2 = intercept[IllegalArgumentException] {
      Rank.globalWeightedMedian(nullSer, "v", "c", seriesCols = Seq("g"))
    }
    assert(e2.getMessage.contains("null"))
    // no series: one global (total, median) row — theilSen's shape
    val glob = Rank.globalWeightedMedian(
        Seq((1.5, 1L), (2.5, 2L)).toDF("v", "c"), "v", "c")
      .as[(Long, Double)].collect().toSeq
    assert(glob == Seq((3L, 2.5)))
  }

  test("distinctOrders = true matches the checked path on an aggregated table") {
    val df = spark.range(0, 1000).select(
      concat(lit("s"), pmod(col("id"), lit(2))).as("axis"),
      (col("id") / lit(2)).cast("double").as("v"),
      (pmod(xxhash64(col("id")), lit(9)) + 1).as("c"))
    val checked = Rank.globalRunningSum(df, "v", "c", "run",
        seriesCols = Seq("axis")).select("axis", "v", "run")
    val flagged = Rank.globalRunningSum(df, "v", "c", "run",
        seriesCols = Seq("axis"), distinctOrders = true)
      .select("axis", "v", "run")
    assert(flagged.exceptAll(checked).count() == 0L &&
      checked.exceptAll(flagged).count() == 0L)
  }

  test("globalBandedSum equals the full-map keep formulation, with ties, at any width") {
    // heavy ties (7 distinct order values per series) exercise both the
    // tie-group sum invariance and the band-edge partial inclusion
    val df = spark.range(0, 4000).select(
      concat(lit("s"), pmod(col("id"), lit(3))).as("g"),
      pmod(xxhash64(col("id")), lit(7)).cast("long").as("v"),
      (pmod(xxhash64(col("id"), lit(1)), lit(5)) + 1).as("c"))
    val cnt = df.groupBy("g", "v").agg(sum("c").as("c"))
    // reference: full running-sum map + closed-form keep (stat11's old
    // formulation), band = 5%-trim [k+1, n-k]
    val rm = Rank.globalRunningSum(cnt, "v", "c", outCol = "cum",
      seriesCols = Seq("g"), distinctOrders = true)
    val tot = cnt.groupBy("g").agg(sum("c").as("n"),
      expr("sum(c) * 5 DIV 100").as("k"))
    val ref = rm.join(broadcast(tot), "g")
      .select(col("g"), col("n"), col("v").cast("decimal(38,0)").as("v"),
        greatest(least(col("cum"), col("n") - col("k")) -
          greatest(col("cum") - col("c") + 1, col("k") + 1) + 1,
          lit(0L)).as("keep"))
      .groupBy("g").agg(max("n").as("n"), sum(col("v") * col("keep")).as("ks"))
      .orderBy("g").as[(String, Long, java.math.BigDecimal)].collect()
      .toSeq.map(t => (t._1, t._2, t._3.longValueExact))
    for (parts <- Seq(1, 4, 23)) {
      val got = Rank.globalBandedSum(cnt.repartition(7), "v", "c",
          loOf = w => w * 5L / 100L + 1L, hiOf = w => w - w * 5L / 100L,
          seriesCols = Seq("g"), totalOut = "n", sumOut = "ks",
          numPartitions = parts)
        .orderBy("g").as[(String, Long, java.math.BigDecimal)].collect()
        .toSeq.map(t => (t._1, t._2, t._3.longValueExact))
      assert(got == ref, s"numPartitions=$parts diverged from the full map")
    }
    // un-aggregated ties (same v repeated) must give the same sums
    val got2 = Rank.globalBandedSum(df.repartition(5), "v", "c",
        loOf = w => w * 5L / 100L + 1L, hiOf = w => w - w * 5L / 100L,
        seriesCols = Seq("g"), totalOut = "n", sumOut = "ks")
      .orderBy("g").as[(String, Long, java.math.BigDecimal)].collect()
      .toSeq.map(t => (t._1, t._2, t._3.longValueExact))
    assert(got2 == ref)
  }

  test("globalBandedSum: empty band and whole-domain band degenerate correctly") {
    val df = Seq(("a", 1L, 1L), ("a", 2L, 1L), ("a", 3L, 1L)).toDF("g", "v", "c")
    // whole domain [1, W]: kept sum = plain weighted sum
    val all = Rank.globalBandedSum(df, "v", "c", loOf = _ => 1L, hiOf = w => w,
        seriesCols = Seq("g"), totalOut = "n", sumOut = "ks")
      .as[(String, Long, java.math.BigDecimal)].collect().toSeq
      .map(t => (t._1, t._2, t._3.longValueExact))
    assert(all == Seq(("a", 3L, 6L)))
    // inverted band (lo > hi): nothing kept
    val none = Rank.globalBandedSum(df, "v", "c", loOf = w => w + 1, hiOf = _ => 0L,
        seriesCols = Seq("g"), totalOut = "n", sumOut = "ks")
      .as[(String, Long, java.math.BigDecimal)].collect().toSeq
      .map(t => (t._1, t._2, t._3.longValueExact))
    assert(none == Seq(("a", 3L, 0L)))
  }

  test("a caller '__g' or '__k' column fails fast in every family entry point") {
    // withColumn would silently overwrite the caller's column with the
    // internal range bucket — every sibling must refuse it, not just
    // globalRunningSum (where the hazard was first found live)
    val df = Seq((1.0, 1L, "x"), (2.0, 1L, "y")).toDF("v", "c", "__g")
    def msg(f: => Any): String =
      intercept[IllegalArgumentException](f).getMessage
    assert(msg(Rank.globalRank(df, "v", Nil)).contains("__g"))
    assert(msg(Rank.globalRunningSum(df, "v", "c")).contains("__g"))
    assert(msg(Rank.globalSweep(df, "v", "c")).contains("__g"))
    assert(msg(Rank.globalLag(df, "v", "c")).contains("__g"))
    assert(msg(Rank.globalWeightedMedian(df, "v", "c")).contains("__g"))
    assert(msg(Rank.globalBandedSum(df, "v", "c", _ => 1L, w => w)).contains("__g"))
    // outside Rank the overwritten column would also vanish from the output
    assert(msg(Packing.packByOffset(df, "c", "v", 10L)).contains("__g"))
    assert(msg(Sampling.deterministicShuffle(df, "v")).contains("__g"))
    assert(msg(Sampling.groupRunningCost(df, "c", "v", "c")).contains("__g"))
    // the two hash-ordered walks add a '__k' key column the same way
    val dk = Seq((1.0, 1L, "x"), (2.0, 1L, "y")).toDF("v", "c", "__k")
    assert(msg(Sampling.deterministicShuffle(dk, "v")).contains("__k"))
    assert(msg(Sampling.groupRunningCost(dk, "c", "v", "c")).contains("__k"))
  }
}
