package graft

import graft.operators.Trainer
import org.apache.spark.sql.functions._

/** Trainer operators: logistic-regression fit/score semantics
  * (planted-boundary recovery, standardization fold-back, partition
  * invariance, fail-fasts) and Bradley–Terry strength MLE (planted-order
  * recovery, strength-ratio fidelity, Ford-condition fail-fasts).
  */
class TrainerSpec extends SparkSpec {

  import spark.implicits._

  private def planted(n: Int, margin: Double) = {
    // y = [x1 + 2·x2 > 0], margin band excluded — deterministic grid
    val rows = for {
      i <- 0 until n
      x1 = -5.0 + 10.0 * i / n
      x2 = math.sin(i * 2.39996) * 3.0 // deterministic spread
      z = x1 + 2.0 * x2
      if math.abs(z) > margin
    } yield (x1, x2, if (z > 0) 1.0 else 0.0)
    rows.toDF("x1", "x2", "y")
  }

  test("logisticFit separates planted margin data exactly and recovers the direction") {
    val df = planted(400, margin = 0.5)
    val model = Trainer.logisticFit(df, Seq("x1", "x2"), "y")
    val preds = df.select(col("y"),
      (Trainer.logisticScore(model) > 0.5).cast("double").as("p"))
    assert(preds.filter(col("y") =!= col("p")).isEmpty,
      "every margin-excluded point must classify correctly")
    // direction: w2/w1 ≈ 2 (the planted boundary normal), sign positive
    assert(model.weights(0) > 0 && model.weights(1) > 0)
    val ratio = model.weights(1) / model.weights(0)
    assert(math.abs(ratio - 2.0) < 0.4, s"w2/w1 = $ratio, expected ~2")
    // Newton converges in a handful of PASSES — the scale property GD
    // lacks (each pass is a full scan at 100 TB)
    assert(model.itersRun <= 15, s"IRLS took ${model.itersRun} rounds")
    assert(model.finalLogLoss < 0.2)
  }

  test("standardization folds back: a 1000x-rescaled feature yields the same predictions") {
    val df = planted(300, margin = 0.5)
    val scaled = df.select((col("x1") * 1000).as("x1"), col("x2"), col("y"))
    val m1 = Trainer.logisticFit(df, Seq("x1", "x2"), "y")
    val m2 = Trainer.logisticFit(scaled, Seq("x1", "x2"), "y")
    // fits run in standardized space, so the returned raw-space models
    // must agree after undoing the rescale: w1' == w1/1000 (to FP noise)
    assert(math.abs(m2.weights(0) * 1000 - m1.weights(0)) <
      1e-6 * math.abs(m1.weights(0)) + 1e-9)
    assert(math.abs(m2.weights(1) - m1.weights(1)) <
      1e-6 * math.abs(m1.weights(1)) + 1e-9)
    val p1 = df.select((Trainer.logisticScore(m1) > 0.5).as("p")).collect()
    val p2 = scaled.select((Trainer.logisticScore(m2) > 0.5).as("p")).collect()
    assert(p1.sameElements(p2))
  }

  test("logisticFit predictions are partition-invariant on margin data") {
    val df = planted(300, margin = 0.5)
    val preds = Seq(1, 7, 32).map { parts =>
      val m = Trainer.logisticFit(df.repartition(parts), Seq("x1", "x2"), "y",
        iters = 100)
      df.orderBy("x1", "x2")
        .select((Trainer.logisticScore(m) > 0.5).as("p")).collect().toSeq
    }
    assert(preds.distinct.size == 1,
      "margin-band classification must not depend on partitioning")
  }

  test("logisticFit fail-fasts: bad label, constant feature, empty input") {
    val bad = Seq((1.0, 2.0), (2.0, 0.5)).toDF("x1", "y")
    val e1 = intercept[IllegalArgumentException](
      Trainer.logisticFit(bad, Seq("x1"), "y", iters = 5))
    assert(e1.getMessage.contains("0/1"))
    val const = Seq((1.0, 3.0, 0.0), (2.0, 3.0, 1.0)).toDF("x1", "x2", "y")
    val e2 = intercept[IllegalArgumentException](
      Trainer.logisticFit(const, Seq("x1", "x2"), "y", iters = 5))
    assert(e2.getMessage.contains("zero-variance") && e2.getMessage.contains("x2"))
    val e3 = intercept[IllegalArgumentException](
      Trainer.logisticFit(bad.filter(lit(false)), Seq("x1"), "y", iters = 5))
    assert(e3.getMessage.contains("empty"))
    // a null FEATURE would silently drop its row from the Hessian /
    // gradient / loss sums while n still counts it (biased weights,
    // wrong reported loss) — same fail-fast pass as ridgeFit
    val nullFeat = Seq((Some(1.0), 2.0, 0.0), (None, 1.0, 1.0),
      (Some(3.0), 0.5, 1.0)).toDF("x1", "x2", "y")
    val e4 = intercept[IllegalArgumentException](
      Trainer.logisticFit(nullFeat, Seq("x1", "x2"), "y", iters = 5))
    assert(e4.getMessage.contains("non-null"))
  }

  test("poissonFit recovers a planted log-linear count model; fail-fasts on bad input") {
    // y EXACTLY exp(0.4 + 0.3·x1 − 0.2·x2): the unpenalized Poisson
    // score equations are solved by the planted coefficients, so the
    // fit must recover them (and the fitted means the label) to solver
    // noise under any partitioning
    val df = (0 until 600).map { i =>
      val x1 = (i % 20).toDouble / 2.0
      val x2 = ((i / 20) % 15).toDouble
      (x1, x2, math.exp(0.4 + 0.3 * x1 - 0.2 * x2))
    }.toDF("x1", "x2", "y")
    val m = Trainer.poissonFit(df.repartition(7), Seq("x1", "x2"), "y")
    assert(math.abs(m.weights(0) - 0.3) < 1e-7, s"w1 = ${m.weights(0)}")
    assert(math.abs(m.weights(1) + 0.2) < 1e-7, s"w2 = ${m.weights(1)}")
    assert(math.abs(m.bias - 0.4) < 1e-7, s"b = ${m.bias}")
    assert(m.itersRun <= 20, s"IRLS took ${m.itersRun} rounds")
    assert(m.meanDeviance < 1e-12, s"deviance ${m.meanDeviance}")
    val worst = df.agg(max(abs(Trainer.poissonScore(m) / col("y") - 1.0)))
      .head().getDouble(0)
    assert(worst < 1e-8, s"fitted means must reproduce the label, err $worst")
    // zero counts are legal (the y=0 deviance branch): a thinned copy
    val zeros = df.withColumn("y",
      when(col("x2") > 10.0, 0.0).otherwise(col("y")))
    val mz = Trainer.poissonFit(zeros, Seq("x1", "x2"), "y", iters = 40)
    assert(mz.weights(1) < -0.2, "zeros must pull the x2 effect further down")
    // fail-fasts: negative label, null feature, constant feature, empty
    val neg = Seq((1.0, 2.0, -1.0), (2.0, 1.0, 3.0)).toDF("x1", "x2", "y")
    val e1 = intercept[IllegalArgumentException](
      Trainer.poissonFit(neg, Seq("x1", "x2"), "y", iters = 3))
    assert(e1.getMessage.contains(">= 0"))
    val nulls = Seq((Some(1.0), 2.0, 1.0), (None, 1.0, 2.0)).toDF("x1", "x2", "y")
    val e2 = intercept[IllegalArgumentException](
      Trainer.poissonFit(nulls, Seq("x1", "x2"), "y", iters = 3))
    assert(e2.getMessage.contains("non-null"))
    val const = Seq((1.0, 3.0, 1.0), (2.0, 3.0, 2.0)).toDF("x1", "x2", "y")
    val e3 = intercept[IllegalArgumentException](
      Trainer.poissonFit(const, Seq("x1", "x2"), "y", iters = 3))
    assert(e3.getMessage.contains("zero-variance") && e3.getMessage.contains("x2"))
    val e4 = intercept[IllegalArgumentException](
      Trainer.poissonFit(df.filter(lit(false)), Seq("x1", "x2"), "y", iters = 3))
    assert(e4.getMessage.contains("empty"))
  }

  test("boostStumps: exact recovery of step targets, early stop, determinism, fail-fasts") {
    import graft.operators.Trainer.boostStumps
    // single step: ONE round recovers it exactly, round 2's zero gain
    // early-stops the fit
    val one = (0 to 20).flatMap(x => Seq.fill(3)((x.toDouble, if (x > 10) 6.0 else 1.0)))
      .toDF("x1", "y")
    val m1 = boostStumps(one, Seq("x1"), "y", rounds = 5)
    assert(m1.roundsRun == 1, s"single step must fit in 1 round, ran ${m1.roundsRun}")
    val e1 = one.agg(max(abs(m1.score - col("y")))).head().getDouble(0)
    assert(e1 < 1e-12, s"single-step recovery err $e1")
    assert(m1.stumps.head.threshold > 10.0 && m1.stumps.head.threshold <= 11.0,
      s"split must isolate x1 > 10, got ${m1.stumps.head.threshold}")
    // additive steps on a BALANCED grid: independence makes round 1's
    // residual exactly the second step — 2 rounds, exact
    val grid = (for { a <- 0 until 16; b <- 0 until 16 }
      yield (a.toDouble, b.toDouble,
        10.0 + (if (a > 7) 4.0 else 0.0) + (if (b > 3) 2.0 else 0.0)))
      .toDF("x1", "x2", "y")
    val m2 = boostStumps(grid.repartition(7), Seq("x1", "x2"), "y", rounds = 10)
    assert(m2.roundsRun == 2, s"balanced additive steps fit in 2 rounds, ran ${m2.roundsRun}")
    val e2 = grid.agg(max(abs(m2.score - col("y")))).head().getDouble(0)
    assert(e2 < 1e-12, s"additive recovery err $e2")
    // deterministic across partitionings (integer-exact bin counts;
    // residual sums reorder only within FP noise, far under the gains)
    val m2b = boostStumps(grid.repartition(2), Seq("x1", "x2"), "y", rounds = 10)
    assert(m2.stumps.map(s => (s.feature, s.splitBin)) ==
      m2b.stumps.map(s => (s.feature, s.splitBin)))
    // fail-fasts
    val e3 = intercept[IllegalArgumentException](
      boostStumps(one.filter(lit(false)), Seq("x1"), "y"))
    assert(e3.getMessage.contains("empty"))
    val const = Seq((1.0, 3.0, 1.0), (2.0, 3.0, 2.0)).toDF("x1", "x2", "y")
    val e4 = intercept[IllegalArgumentException](
      boostStumps(const, Seq("x1", "x2"), "y"))
    assert(e4.getMessage.contains("zero-variance") && e4.getMessage.contains("x2"))
    val nulls = Seq((Some(1.0), 2.0), (None, 3.0)).toDF("x1", "y")
    val e5 = intercept[IllegalArgumentException](
      boostStumps(nulls, Seq("x1"), "y"))
    assert(e5.getMessage.contains("non-null"))
  }

  test("boostStumps tol is a minimum SSE REDUCTION: exhausted residuals stop, huge tol fits nothing") {
    import graft.operators.Trainer.boostStumps
    // EXHAUSTED-RESIDUAL fixture (all-dyadic, every step exact): x
    // separates {0,2} from {10,12}; stump 1 fits the group means
    // (leaves ∓5), leaving residual ±1 INSIDE each bin — label variance
    // no bin split can see. Round 2's best split has sL = −1+1 = 0 on
    // every boundary, so the best SSE reduction is exactly 0 < tol and
    // the fit must stop at ONE stump, not burn the remaining 9 rounds
    // re-adding zero-value stumps.
    val ex = Seq((0.0, 0.0), (0.0, 2.0), (1.0, 10.0), (1.0, 12.0))
      .toDF("x1", "y")
    val m = boostStumps(ex, Seq("x1"), "y", rounds = 10)
    assert(m.roundsRun == 1 && m.stumps.length == 1,
      s"exhausted residual must stop after 1 stump, ran ${m.roundsRun}")
    val worst = ex.agg(max(abs(m.score - col("y")))).head().getDouble(0)
    assert(worst == 1.0, s"residual ±1 is unreachable by bin splits, got $worst")
    // tol far above any achievable reduction: ZERO stumps, score = base
    // mean — pins that tol thresholds the reduction itself (the no-split
    // term T²/nT subtracted), not the raw L²/nL + R²/nR sweep value
    val m0 = boostStumps(ex, Seq("x1"), "y", rounds = 10, tol = 1e12)
    assert(m0.roundsRun == 0 && m0.stumps.isEmpty,
      s"tol above every reduction must fit nothing, ran ${m0.roundsRun}")
    assert(ex.select(m0.score).distinct().as[Double].collect().toSeq == Seq(6.0))
  }

  test("boostStumps on a non-dyadic fixture matches the slow recompute-residual booster") {
    import graft.operators.Trainer.boostStumps
    // 17×17 integer grid, x3 a deterministic mix of x1 and x2 (so the
    // features are NOT independent and boosting keeps finding splits);
    // bins = 16 puts every integer in its own bin (15 and 16 share the
    // last), so no two split candidates cut the same partition. The
    // step heights are non-dyadic: the operator's folded residual
    // ((y − base) − d1) − d2 … and the reference's y − (base + Σ d)
    // round differently, and the stump sequence must not care. Every
    // round's winning gain beats the runner-up candidate by at least
    // 0.019 (round 8: 0.0910 vs 0.0719; round 1: 94.2 vs 77.6) — eleven
    // orders of magnitude above the FP-sum noise of gains this size.
    val rows = for { a <- 0 to 16; b <- 0 to 16 } yield {
      val c = (3 * a + 5 * b) % 17
      val y = 1.1 * (if (a > 4) 1 else 0) + 0.7 * (if (b > 10) 1 else 0) +
        0.37 * (if (a > 11) 1 else 0) + 0.23 * (if (c > 7) 1 else 0) +
        0.13 * (if (b > 2 && c < 5) 1 else 0)
      (a.toDouble, b.toDouble, c.toDouble, y)
    }
    val df = rows.toDF("x1", "x2", "x3", "y")
    val rounds = 8
    val got = boostStumps(df.repartition(3), Seq("x1", "x2", "x3"), "y",
      rounds = rounds, bins = 16)
    val ref = Oracles.boostStumpsSlow(
      rows.map { case (a, b, c, y) => (y, Array(a, b, c)) }, rounds, bins = 16)
    assert(ref.forall(s => s.gain - s.runnerUp > 0.01), s"gain gaps ${
      ref.map(s => s.gain - s.runnerUp)}")
    assert(ref.size == rounds && got.roundsRun == rounds)
    assert(got.stumps.map(s => (s.feature, s.splitBin)) ==
      ref.map(s => (s.feature, s.splitBin)))
    got.stumps.zip(ref).foreach { case (g, r) =>
      assert(math.abs(g.leftValue - r.left) < 1e-9 &&
        math.abs(g.rightValue - r.right) < 1e-9, s"leaves $g vs $r")
    }
  }

  test("the four round-loop trainers leave no persistent RDD behind, fit or fail-fast") {
    def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    def noLeak(what: String)(body: => Unit): Unit = {
      val before = persisted
      body
      assert((persisted -- before).isEmpty, s"$what leaked ${persisted -- before}")
    }
    def failsWith(msg: String)(fit: => Any): Unit = {
      val e = intercept[IllegalArgumentException](fit)
      assert(e.getMessage.contains(msg), e.getMessage)
    }
    val df = planted(200, margin = 0.5)
    val counts = (0 until 60).map(i => (i % 6 * 0.5, i / 6 * 1.0,
      math.exp(0.2 + 0.1 * (i % 6) - 0.05 * (i / 6)))).toDF("x1", "x2", "y")
    // an exact duplicate feature with l2 = 0 makes the Newton system
    // singular: the fit fails INSIDE its first round, after the pin
    val dup = df.withColumn("x1b", col("x1"))
    val const = df.withColumn("c", lit(3.0))
    noLeak("logisticFit")(Trainer.logisticFit(df, Seq("x1", "x2"), "y"))
    noLeak("logisticFit fail-fast")(failsWith("zero-variance")(
      Trainer.logisticFit(const, Seq("x1", "c"), "y")))
    noLeak("logisticFit round failure")(failsWith("singular")(
      Trainer.logisticFit(dup, Seq("x1", "x1b"), "y", l2 = 0.0)))
    noLeak("poissonFit")(Trainer.poissonFit(counts, Seq("x1", "x2"), "y"))
    noLeak("poissonFit fail-fast")(failsWith(">= 0")(
      Trainer.poissonFit(counts.withColumn("y", col("y") - 10.0), Seq("x1", "x2"), "y")))
    noLeak("poissonFit round failure")(failsWith("singular")(
      Trainer.poissonFit(counts.withColumn("x1b", col("x1")), Seq("x1", "x1b"), "y",
        l2 = 0.0)))
    val grouped = df.withColumn("g", (col("x1") > 0).cast("int"))
    noLeak("logisticFitPerGroup")(Trainer.logisticFitPerGroup(grouped, "g",
      Seq("x1", "x2"), "y").collect())
    noLeak("logisticFitPerGroup fail-fast")(failsWith("zero-variance")(
      Trainer.logisticFitPerGroup(grouped.withColumn("c", lit(1.0)), "g",
        Seq("x1", "c"), "y")))
    noLeak("logisticFitPerGroup round failure")(failsWith("singular")(
      Trainer.logisticFitPerGroup(grouped.withColumn("x1b", col("x1")), "g",
        Seq("x1", "x1b"), "y", l2 = 0.0)))
    noLeak("boostStumps")(Trainer.boostStumps(df, Seq("x1", "x2"), "y", rounds = 5))
    noLeak("boostStumps fail-fast")(failsWith("zero-variance")(
      Trainer.boostStumps(const, Seq("x1", "c"), "y")))
  }

  test("crossValidateRidgeScored: OOF rows = input rows, folds match kFold, leak-free predictions recover the plant") {
    import graft.operators.{Sampling, Trainer}
    val df = (0 until 400).map { i =>
      val x1 = (i % 13).toDouble; val x2 = (i % 7).toDouble
      (i.toLong, x1, x2, 2.0 * x1 - 3.0 * x2 + 5.0)
    }.toDF("id", "x1", "x2", "y")
    val scored = Trainer.crossValidateRidgeScored(df, Seq("x1", "x2"), "y",
      "id", k = 4)
    val rows = scored.join(df.select(col("id"), col("y")), "id").collect()
    assert(rows.length == 400, "every row must be scored exactly once")
    // fold column is the same pure md5 function kFold assigns
    val folds = Sampling.kFold(df, "id", 4).select("id", "fold")
      .as[(Long, Int)].collect().toMap
    assert(rows.forall(r => r.getLong(1) == folds(r.getLong(0)).toLong))
    // noiseless plant: each held-out prediction reproduces y to solver
    // noise even though its own row never entered that fold's fit
    val worst = rows.map(r => math.abs(r.getDouble(2) - r.getDouble(3))).max
    assert(worst < 1e-6, s"OOF recovery err $worst")
    graft.operators.Materialize.sweep()
    val e = intercept[IllegalArgumentException](
      Trainer.crossValidateRidgeScored(df.limit(2), Seq("x1"), "y", "id",
        k = 400))
    assert(e.getMessage.contains("holds no rows"))
    graft.operators.Materialize.sweep()
  }

  test("ridgeFit recovers a noiseless planted linear model exactly in one pass") {
    val df = (0 until 500).map { i =>
      val x1 = i * 0.37 % 11.0; val x2 = math.cos(i * 1.7) * 4.0
      (x1, x2, 2.5 * x1 - 1.25 * x2 + 7.0)
    }.toDF("x1", "x2", "y")
    val m = Trainer.ridgeFit(df, Seq("x1", "x2"), "y")
    assert(math.abs(m.weights(0) - 2.5) < 1e-6, s"w1 = ${m.weights(0)}")
    assert(math.abs(m.weights(1) + 1.25) < 1e-6, s"w2 = ${m.weights(1)}")
    assert(math.abs(m.bias - 7.0) < 1e-6, s"b = ${m.bias}")
    assert(m.n == 500)
    val worst = df.select(max(abs(Trainer.linearScore(m) - col("y"))))
      .collect()(0).getDouble(0)
    assert(worst < 1e-6, s"worst residual $worst")
  }

  test("ridgeFit is partition-invariant to FP noise and fail-fasts on bad input") {
    val df = (0 until 300).map { i =>
      val x = i / 10.0; (x, 3.0 * x - 2.0 + (i % 7) * 0.01)
    }.toDF("x1", "y")
    val fits = Seq(1, 8).map(p =>
      Trainer.ridgeFit(df.repartition(p), Seq("x1"), "y"))
    assert(math.abs(fits(0).weights(0) - fits(1).weights(0)) < 1e-9)
    assert(math.abs(fits(0).bias - fits(1).bias) < 1e-9)
    val e1 = intercept[IllegalArgumentException](
      Trainer.ridgeFit(df.filter(lit(false)), Seq("x1"), "y"))
    assert(e1.getMessage.contains("empty"))
    val const = Seq((1.0, 2.0, 1.0), (1.0, 3.0, 2.0)).toDF("x1", "x2", "y")
    val e2 = intercept[IllegalArgumentException](
      Trainer.ridgeFit(const, Seq("x1", "x2"), "y"))
    assert(e2.getMessage.contains("zero-variance") && e2.getMessage.contains("x1"))
    val nulls = Seq((Some(1.0), 2.0), (None, 3.0)).toDF("x1", "y")
    val e3 = intercept[IllegalArgumentException](
      Trainer.ridgeFit(nulls, Seq("x1"), "y"))
    assert(e3.getMessage.contains("null"))
  }

  test("isotonicFit pools exactly the violating blocks, in exact integer arithmetic") {
    // per-score (count, positives): means 0.2, 0.6, 0.4, 0.8 — PAV pools
    // the middle violation into (3+2)/(5+5) = 0.5, leaves the ends alone
    val rows = Seq.tabulate(5)(i => (1.0, if (i < 1) 1 else 0)) ++
      Seq.tabulate(5)(i => (2.0, if (i < 3) 1 else 0)) ++
      Seq.tabulate(5)(i => (3.0, if (i < 2) 1 else 0)) ++
      Seq.tabulate(5)(i => (4.0, if (i < 4) 1 else 0))
    val df = rows.toDF("score", "y")
    val m = Trainer.isotonicFit(df, "score", "y")
    assert(m.knots.toSeq == Seq(1.0, 2.0, 3.0, 4.0))
    assert(m.calibratedX1e9.toSeq ==
      Seq(200000000L, 500000000L, 500000000L, 800000000L),
      s"got ${m.calibratedX1e9.toSeq}")
    // already-monotone input is untouched
    val mono = Seq((1.0, 0), (1.0, 0), (2.0, 1), (2.0, 0), (3.0, 1), (3.0, 1))
      .toDF("score", "y")
    val m2 = Trainer.isotonicFit(mono, "score", "y")
    assert(m2.calibratedX1e9.toSeq == Seq(0L, 500000000L, 1000000000L))
    // exact partition invariance: integer counts in, integer knots out
    val m3 = Trainer.isotonicFit(df.repartition(7), "score", "y")
    assert(m3.calibratedX1e9.toSeq == m.calibratedX1e9.toSeq)
    // mass preservation: pooled numerators sum to the total positives
    assert(m.num.zip(m.den).distinct.map(_._1).sum == 10L)
  }

  test("calibrate maps every score through the step function, clamping the ends") {
    val df = Seq((1.0, 0), (2.0, 1), (2.0, 1), (3.0, 1)).toDF("score", "y")
    val m = Trainer.isotonicFit(df, "score", "y")
    val probe = Seq(0.5, 1.0, 1.7, 2.0, 2.9, 3.0, 99.0).toDF("score")
    val out = Trainer.calibrate(probe, "score", m)
      .orderBy("score").select("calibrated_x1e9").as[Long].collect()
    // knots 1→0, 2→1, 3→1; intervals clamp: below 1 → 0, [1,2) → 0,
    // [2,3) → 1e9, [3,∞) → 1e9
    assert(out.toSeq == Seq(0L, 0L, 0L, 1000000000L, 1000000000L,
      1000000000L, 1000000000L))
  }

  test("isotonicFit fail-fasts: too many knots, null score, non-0/1 label, empty") {
    val wide = spark.range(200).selectExpr("CAST(id AS DOUBLE) AS score",
      "CAST(id % 2 AS INT) AS y")
    val e1 = intercept[IllegalArgumentException](
      Trainer.isotonicFit(wide, "score", "y", maxKnots = 100))
    assert(e1.getMessage.contains("distinct scores"))
    val e2 = intercept[IllegalArgumentException](
      Trainer.isotonicFit(Seq((Option.empty[Double], 1), (Some(1.0), 0))
        .toDF("score", "y"), "score", "y"))
    assert(e2.getMessage.contains("null values in score"))
    val e3 = intercept[IllegalArgumentException](
      Trainer.isotonicFit(Seq((1.0, 2), (2.0, 0)).toDF("score", "y"), "score", "y"))
    assert(e3.getMessage.contains("0/1"))
    val e4 = intercept[IllegalArgumentException](
      Trainer.isotonicFit(wide.filter(lit(false)), "score", "y"))
    assert(e4.getMessage.contains("empty"))
  }

  private def plantedComparisons(strengths: Seq[Double], matches: Int) = {
    val rows = for {
      i <- strengths.indices
      j <- (i + 1) until strengths.size
      wi = math.round(matches * strengths(i) / (strengths(i) + strengths(j))).toInt
      (w, l) <- Seq.fill(wi)((i.toLong, j.toLong)) ++
        Seq.fill(matches - wi)((j.toLong, i.toLong))
    } yield (w, l)
    rows.toDF("winner", "loser")
  }

  test("bradleyTerryFit recovers planted order and approximate strength ratios") {
    val planted = Seq(1.0, 2.0, 4.0, 8.0)
    val fit = Trainer.bradleyTerryFit(
      plantedComparisons(planted, matches = 200), "winner", "loser", rounds = 25)
      .orderBy("item").collect()
    assert(fit.map(_.getLong(0)).sameElements(Array(0L, 1L, 2L, 3L)))
    val s = fit.map(_.getDouble(1))
    assert(s.sliding(2).forall(p => p(0) < p(1)), s"order: ${s.mkString(",")}")
    // balanced design at the expected win split → MLE ≈ planted (up to
    // the integer rounding of win counts): each consecutive ratio ~2
    for (i <- 0 until 3) {
      val r = s(i + 1) / s(i)
      assert(r > 1.6 && r < 2.5, s"ratio ${i + 1}/${i} = $r, planted 2.0")
    }
    // wins/comparisons bookkeeping: 3 opponents x 200 matches each
    assert(fit.map(_.getLong(3)).forall(_ == 600L))
  }

  test("bradleyTerryFit is invariant to the partitioning of the comparison log") {
    val comps = plantedComparisons(Seq(1.0, 3.0, 9.0), matches = 100)
    val ranks = Seq(1, 8).map { p =>
      Trainer.bradleyTerryFit(comps.repartition(p), "winner", "loser", rounds = 15)
        .orderBy(col("strength").desc).select("item").as[Long].collect().toSeq
    }
    assert(ranks.distinct.size == 1 && ranks.head == Seq(2L, 1L, 0L))
  }

  test("bradleyTerryFit early-stops under tol with the identical ranking (and fewer rounds)") {
    // MM converges LINEARLY (probed on this design: ~10× more movement
    // precision per ~10 rounds — 1e-3 at 22, 1e-6 at 51), so the test
    // pins a (cap, tol) pair with real slack on both sides: tol=1e-3
    // fires around round 22, far under the 60 cap, far over round 1
    val comps = plantedComparisons(Seq(1.0, 3.0, 9.0, 27.0), matches = 150)
    val fixed = Trainer.bradleyTerryFit(comps, "winner", "loser", rounds = 60)
      .orderBy(col("strength").desc).select("item").as[Long].collect().toSeq
    assert(Trainer.btRoundsRun.get() == 60)
    val early = Trainer.bradleyTerryFit(comps, "winner", "loser", rounds = 60,
        tol = 1e-3)
      .orderBy(col("strength").desc).select("item").as[Long].collect().toSeq
    val ran = Trainer.btRoundsRun.get()
    assert(ran > 5 && ran < 60,
      s"tol=1e-3 should converge after a real fit but before the 60-round cap, ran $ran")
    assert(early == fixed, s"early-stopped ranking $early != fixed-round $fixed")
  }

  test("bradleyTerryFit checkConnectivity fail-fasts on two disconnected cliques") {
    // items {0,1} and {10,11} each play internally but never across —
    // each component's strengths are on an arbitrary private scale, so
    // a cross-component ranking would be meaningless
    val twoCliques = Seq((0L, 1L), (1L, 0L), (0L, 1L),
        (10L, 11L), (11L, 10L), (10L, 11L))
      .toDF("winner", "loser")
    val e = intercept[IllegalArgumentException](
      Trainer.bradleyTerryFit(twoCliques, "winner", "loser", rounds = 3,
        checkConnectivity = true))
    assert(e.getMessage.contains("2 connected components"))
    // without the flag the (documented) caller contract applies — it fits
    val unflagged = Trainer.bradleyTerryFit(twoCliques, "winner", "loser",
      rounds = 3)
    assert(unflagged.count() == 4L)
    // and a CONNECTED graph passes the flag untouched
    val connected = plantedComparisons(Seq(1.0, 2.0, 4.0), matches = 50)
    val ok = Trainer.bradleyTerryFit(connected, "winner", "loser", rounds = 5,
      checkConnectivity = true)
    assert(ok.count() == 3L)
  }

  test("crossValidateRidge: held-out error at solver noise on a planted line, folds partition") {
    val df = (0 until 2000).map { i =>
      val x1 = i * 0.37 % 11.0; val x2 = math.cos(i * 1.7) * 4.0
      (i.toLong, x1, x2, 2.5 * x1 - 1.25 * x2 + 7.0)
    }.toDF("id", "x1", "x2", "y")
    val cv = Trainer.crossValidateRidge(df.repartition(7), Seq("x1", "x2"),
      "y", "id", k = 4).orderBy("fold").collect()
    assert(cv.length == 4)
    assert(cv.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L, 3L))
    // folds partition the input exactly
    assert(cv.map(_.getLong(1)).sum == 2000L)
    assert(cv.forall(_.getLong(1) > 300L), "md5 folds should be near-balanced")
    // noiseless planted label → every held-out error is solver noise
    assert(cv.forall(_.getDouble(2) < 1e-6),
      s"held-out errors: ${cv.map(_.getDouble(2)).mkString(",")}")
    // fold assignment is a pure id function → identical across widths
    val cv2 = Trainer.crossValidateRidge(df.repartition(2), Seq("x1", "x2"),
      "y", "id", k = 4).orderBy("fold").collect()
    assert(cv.map(_.getLong(1)).toSeq == cv2.map(_.getLong(1)).toSeq)
    // k larger than the row count leaves an empty fold → descriptive error
    val tiny = df.limit(2)
    val e = intercept[IllegalArgumentException](
      Trainer.crossValidateRidge(tiny, Seq("x1", "x2"), "y", "id", k = 5))
    assert(e.getMessage.contains("fold"))
  }

  test("ridgeFitPerGroup: per-group planted lines recovered; group-naming fail-fasts") {
    // three groups, each its OWN noiseless line — a global fit cannot
    // satisfy all three, so exact per-group recovery proves the models
    // are genuinely independent
    val df = (0 until 900).map { i =>
      val g = s"g${i % 3}"; val x1 = i * 0.37 % 11.0; val x2 = (i % 7).toDouble
      val (a, b, c) = (2.0 + (i % 3), -3.0 + (i % 3), 10.0 * (i % 3))
      (i.toLong, g, x1, x2, a * x1 + b * x2 + c)
    }.toDF("id", "g", "x1", "x2", "y")
    val model = Trainer.ridgeFitPerGroup(df.repartition(7), "g",
      Seq("x1", "x2"), "y")
    assert(model.count() == 3)
    val scored = Trainer.scorePerGroup(df, model, "g", Seq("x1", "x2"))
    val maxErr = scored.agg(max(abs(col("pred") - col("y")))).head().getDouble(0)
    assert(maxErr < 1e-8, s"per-group planted lines must fit exactly, err $maxErr")
    // weights are per group: g0 slope 2.0, g2 slope 4.0
    val w = model.orderBy("g").collect()
      .map(r => r.getString(0) -> r.getSeq[Double](3)).toMap
    assert(math.abs(w("g0")(0) - 2.0) < 1e-6 && math.abs(w("g2")(0) - 4.0) < 1e-6)
    // fail-fasts NAME the group: zero variance in one group only
    val flat = df.withColumn("x2",
      when(col("g") === "g1", lit(5.0)).otherwise(col("x2")))
    val e1 = intercept[IllegalArgumentException](
      Trainer.ridgeFitPerGroup(flat, "g", Seq("x1", "x2"), "y"))
    assert(e1.getMessage.contains("x2") && e1.getMessage.contains("g1"))
    // nulls in one group only
    val holey = df.withColumn("x1",
      when(col("g") === "g2" && col("id") % 50 === 0, lit(null)).otherwise(col("x1")))
    val e2 = intercept[IllegalArgumentException](
      Trainer.ridgeFitPerGroup(holey, "g", Seq("x1", "x2"), "y"))
    assert(e2.getMessage.contains("g2"))
    // null group key would vanish at the scoring join
    val nullG = df.withColumn("g",
      when(col("id") === 13, lit(null)).otherwise(col("g")))
    val e3 = intercept[IllegalArgumentException](
      Trainer.ridgeFitPerGroup(nullG, "g", Seq("x1", "x2"), "y"))
    assert(e3.getMessage.contains("null"))
    // maxGroups contract
    val e4 = intercept[IllegalArgumentException](
      Trainer.ridgeFitPerGroup(df, "id", Seq("x1", "x2"), "y", maxGroups = 10))
    assert(e4.getMessage.contains("maxGroups") || e4.getMessage.contains("10"))
  }

  test("logisticFitPerGroup: per-group boundaries recovered where one global fit cannot") {
    // three groups, three DIFFERENT planted separators (slope 2/5/9 with
    // an empty margin band): per-group fits must classify every row
    // right; a single global boundary cannot satisfy all three
    val rows = for {
      i <- 0 until 1200
      g = i % 3
      x1 = (i % 40).toDouble + 1.0
      x2 = ((i / 3) % 25).toDouble + 1.0
      slope = Seq(2.0, 5.0, 9.0)(g)
      // per-group offset keeps BOTH classes populated on the x1/x2 grid
      z = x1 - slope * x2 + Seq(20.0, 60.0, 100.0)(g)
      if math.abs(z) > 4.0
    } yield (s"g$g", x1, x2, if (z > 0) 1.0 else 0.0)
    val df = rows.toDF("g", "x1", "x2", "y")
    // both classes present per group (otherwise the test is vacuous)
    val classes = df.groupBy("g").agg(count_distinct(col("y"))).collect()
    assert(classes.forall(_.getLong(1) == 2L), "need both classes per group")
    val model = Trainer.logisticFitPerGroup(df.repartition(7), "g",
      Seq("x1", "x2"), "y", iters = 30, l2 = 1e-6)
    assert(model.count() == 3)
    val scored = Trainer.scorePerGroup(df, model, "g", Seq("x1", "x2"))
    val worst = scored
      .agg(min((lit(2.0) * col("y") - 1.0) * col("pred"))).head().getDouble(0)
    assert(worst > 0.0, s"every group must separate its band, min margin $worst")
    // a single GLOBAL fit on the same data cannot separate all groups
    val global = Trainer.logisticFit(df, Seq("x1", "x2"), "y",
      iters = 30, l2 = 1e-6)
    val gScored = df.withColumn("p", Trainer.logisticScore(global))
    val gBad = gScored.filter(((col("p") > 0.5) && col("y") === 0.0) ||
      ((col("p") <= 0.5) && col("y") === 1.0)).count()
    assert(gBad > 0, "global fit unexpectedly separates all three slopes — strengthen the plant")
    // iters_run recorded per group, within the cap
    val iters = model.select("iters_run").as[Int].collect()
    assert(iters.forall(i => i > 0 && i <= 30))
    // fail-fasts name the group
    val badLabel = df.withColumn("y",
      when(col("g") === "g1" && col("x1") === 1.0, 0.5).otherwise(col("y")))
    val e = intercept[IllegalArgumentException](
      Trainer.logisticFitPerGroup(badLabel, "g", Seq("x1", "x2"), "y"))
    assert(e.getMessage.contains("g1"))
  }

  test("winRateLeaderboard: exact rates, Wilson floor demotes the lucky 2/2") {
    // item 1 beats item 0 seventy of 100 times; item 9 "wins" both of
    // its only two comparisons (vs 0) — raw rate ranks 9 first, the
    // Wilson lower bound must rank the well-measured 70% item above it
    val comps =
      (Seq.fill(70)((1L, 0L)) ++ Seq.fill(30)((0L, 1L)) ++
        Seq.fill(2)((9L, 0L))).toDF("winner", "loser")
    val out = Trainer.winRateLeaderboard(comps.repartition(5), "winner", "loser")
      .orderBy("item").collect()
    val byItem = out.map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(byItem(0L)._1 == 30L && byItem(0L)._2 == 102L)
    assert(byItem(1L) == ((70L, 100L, 700000L, byItem(1L)._4)))
    assert(byItem(9L) == ((2L, 2L, 1000000L, byItem(9L)._4)))
    // driver-side Wilson ground truth (the operator's documented op order)
    def wilson(w: Long, n: Long, z: Double = 1.96): Double = {
      val nd = n.toDouble; val p = w.toDouble / nd; val z2 = z * z
      (p + z2 / (2.0 * nd) - z * math.sqrt(p * (1.0 - p) / nd + z2 / (4.0 * nd * nd))) /
        (1.0 + z2 / nd)
    }
    for ((i, (w, n, _, lo)) <- byItem)
      assert(math.abs(lo - wilson(w, n)) < 1e-12, s"item $i wilson $lo")
    // the motivating inversion: 70/100 outranks 2/2 on the floor
    assert(byItem(1L)._4 > byItem(9L)._4,
      s"well-measured 70% (${byItem(1L)._4}) must outrank lucky 2/2 (${byItem(9L)._4})")
    assert(byItem(9L)._4 < 0.66 && byItem(1L)._4 > 0.60)
  }

  test("logisticFitPerGroup flags straggler groups instead of emitting them as converged") {
    // group "easy": labels perfectly balanced at every feature value →
    // the optimum is β = 0, Newton's very first gradient is already 0
    // and the group converges in round 1. Group "hard": perfectly
    // SEPARABLE with l2 ≈ 0 — IRLS pushes the margin out forever (the
    // pathological straggler), so at a 5-round cap it MUST come back
    // converged = false with iters_run == 5, never silently "done".
    val easy = for { x <- 1 to 12; y <- Seq(0.0, 1.0) } yield ("easy", x.toDouble, y)
    val hard = (1 to 24).map(x => ("hard", x.toDouble, if (x > 12) 1.0 else 0.0))
    val df = (easy ++ hard).toDF("g", "x1", "y")
    val model = Trainer.logisticFitPerGroup(df.repartition(5), "g", Seq("x1"),
      "y", iters = 5, l2 = 1e-12, tol = 1e-8)
      .collect().map(r => r.getString(0) -> ((r.getInt(2), r.getBoolean(3)))).toMap
    assert(model("easy")._2, "balanced group must converge inside the cap")
    assert(model("easy")._1 < 5, s"easy group ran ${model("easy")._1} rounds")
    assert(!model("hard")._2,
      "separable straggler must be FLAGGED unconverged at the round cap")
    assert(model("hard")._1 == 5,
      s"straggler must run to the cap, ran ${model("hard")._1}")
  }

  test("crossValidateRidge names the fold when the TRAIN side is empty (constant id)") {
    // a constant id hashes every row into ONE fold: that fold's train
    // side is empty — the error must say so with fold context, not
    // surface as ridgeFit's generic 'empty input'. Pick an id that
    // lands in fold 0 so the TRAIN-side check (not fold 1's test-side
    // emptiness) is the one that fires.
    val id0 = graft.operators.Sampling.kFold(
        spark.range(50).toDF("id"), "id", 2)
      .filter(col("fold") === 0).select("id").as[Long].head()
    val df = (0 until 100).map { i =>
      val x = i / 10.0; (id0, x, 3.0 * x - 2.0)
    }.toDF("id", "x1", "y")
    val e = intercept[IllegalArgumentException](
      Trainer.crossValidateRidge(df, Seq("x1"), "y", "id", k = 2))
    assert(e.getMessage.contains("fold") && e.getMessage.contains("train"),
      s"train-side emptiness must be named with fold context: ${e.getMessage}")
  }

  test("winRateLeaderboard fail-fasts on null and non-numeric item ids") {
    def chain(t: Throwable): String =
      if (t == null) "" else t.getMessage + "\n" + chain(t.getCause)
    // null loser id
    val nullId = Seq((Some(1L), Some(2L)), (Some(2L), None))
      .toDF("winner", "loser")
    val e1 = intercept[Exception](
      Trainer.winRateLeaderboard(nullId, "winner", "loser").collect())
    assert(chain(e1).contains("loser"),
      s"null id must fail fast naming the column:\n${chain(e1)}")
    // a non-numeric STRING id casts to null — same silent-collapse
    // hazard, same fail-fast
    val strId = Seq(("1", "2"), ("itemA", "1")).toDF("winner", "loser")
    val e2 = intercept[Exception](
      Trainer.winRateLeaderboard(strId, "winner", "loser").collect())
    assert(chain(e2).contains("winner") && chain(e2).contains("itemA"),
      s"non-numeric id must fail fast naming the value:\n${chain(e2)}")
  }

  test("scorePerGroup survives input frames that already carry bias/weights columns") {
    // the model's columns ride reserved __-names through the join, so a
    // user frame with its own 'bias'/'weights' is neither ambiguous nor
    // silently dropped
    val df = (0 until 300).map { i =>
      val g = s"g${i % 2}"; val x = i * 0.37 % 11.0
      (g, x, 2.0 * x + (if (g == "g0") 1.0 else 5.0),
        99.0, Seq(1.0, 2.0))
    }.toDF("g", "x1", "y", "bias", "weights")
    val model = Trainer.ridgeFitPerGroup(df, "g", Seq("x1"), "y")
    val scored = Trainer.scorePerGroup(df, model, "g", Seq("x1"))
    val maxErr = scored.agg(max(abs(col("pred") - col("y")))).head().getDouble(0)
    assert(maxErr < 1e-8, s"per-group fit must score exactly, err $maxErr")
    // the USER's columns survive untouched
    assert(scored.columns.count(_ == "bias") == 1)
    assert(scored.select("bias").distinct().as[Double].collect().toSeq == Seq(99.0))
  }

  test("btRoundsRun is thread-local: another thread never sees this thread's fit") {
    val comps = plantedComparisons(Seq(1.0, 2.0, 4.0), matches = 50)
    Trainer.bradleyTerryFit(comps, "winner", "loser", rounds = 4).collect()
    assert(Trainer.btRoundsRun.get() == 4)
    @volatile var other = -1
    val t = new Thread(() => { other = Trainer.btRoundsRun.get() })
    t.start(); t.join()
    assert(other == 0,
      s"a fresh thread must see its own initial 0, not this thread's fit: $other")
  }

  test("bradleyTerryFit fail-fasts: undefeated item, self-comparison") {
    // item 2 never loses → MLE diverges → descriptive require
    val undefeated = Seq((2L, 0L), (2L, 1L), (0L, 1L), (1L, 0L))
      .toDF("winner", "loser")
    val e1 = intercept[IllegalArgumentException](
      Trainer.bradleyTerryFit(undefeated, "winner", "loser", rounds = 3))
    assert(e1.getMessage.contains("zero wins or zero losses"))
    val self = Seq((1L, 1L), (0L, 1L), (1L, 0L)).toDF("winner", "loser")
    val e2 = intercept[IllegalArgumentException](
      Trainer.bradleyTerryFit(self, "winner", "loser", rounds = 3))
    assert(e2.getMessage.contains("self-comparisons"))
  }

  test("aucPerGroup: hand-computed slices, ties averaged, degenerate slice NULL") {
    // slice a: perfect separation -> AUC 1.0
    //   neg scores {1, 2}, pos scores {3, 4}
    // slice b: one tie straddling the classes -> U = 2*2 + 0.5 (avg-rank tie)
    //   neg {1, 5}, pos {5, 9}: pairs (5>1)+(9>1)+(9>5)=3 wins, (5,5) tie=0.5
    //   AUC = 3.5/4 = 0.875
    // slice c: single-class (all positive) -> NULL auc, still emitted
    val df = Seq(
      ("a", 0L, 1.0), ("a", 0L, 2.0), ("a", 1L, 3.0), ("a", 1L, 4.0),
      ("b", 0L, 1.0), ("b", 0L, 5.0), ("b", 1L, 5.0), ("b", 1L, 9.0),
      ("c", 1L, 2.0), ("c", 1L, 7.0)
    ).toDF("g", "y", "sc")
    val out = Trainer.aucPerGroup(df, "g", "y", "sc")
      .orderBy("g").collect()
    assert(out.map(_.getString(0)).toSeq == Seq("a", "b", "c"))
    assert(out(0).getLong(3) == 1000000000L) // 1.0
    assert(out(1).getLong(3) == 875000000L)  // 0.875
    assert(out(2).isNullAt(3) && out(2).getLong(1) == 2 && out(2).getLong(2) == 0)
    // partition invariance: same numbers from a shuffled 7-partition layout
    val shuffled = Trainer.aucPerGroup(df.repartition(7), "g", "y", "sc")
      .orderBy("g").collect()
    assert(shuffled.map(r => (r.getString(0), r.get(3))).toSeq ==
      out.map(r => (r.getString(0), r.get(3))).toSeq)
  }

  test("isotonicFitPerGroup: per-group poolings a global fit provably cannot produce") {
    // group "inc": rates 0/2, 1/2, 2/2 over knots 1..3 — already
    // monotone, PAV is the identity. Group "dec": rates 1, 1/2, 0 —
    // fully reversed, PAV pools EVERYTHING to the grand mean 3/6.
    val rows = Seq(
      ("inc", 1.0, 0L), ("inc", 1.0, 0L), ("inc", 2.0, 0L), ("inc", 2.0, 1L),
      ("inc", 3.0, 1L), ("inc", 3.0, 1L),
      ("dec", 1.0, 1L), ("dec", 1.0, 1L), ("dec", 2.0, 0L), ("dec", 2.0, 1L),
      ("dec", 3.0, 0L), ("dec", 3.0, 0L)
    ).toDF("g", "sc", "y")
    val got = Trainer.isotonicFitPerGroup(rows.repartition(5), "g", "sc", "y")
      .orderBy("g", "knot")
      .as[(String, Double, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("dec", 1.0, 2L, 500000000L), ("dec", 2.0, 2L, 500000000L),
      ("dec", 3.0, 2L, 500000000L),
      ("inc", 1.0, 2L, 0L), ("inc", 2.0, 2L, 500000000L),
      ("inc", 3.0, 2L, 1000000000L)))
    // the single GLOBAL fit cannot reproduce both slices: at knot 1 it
    // pools inc's 0/2 with dec's 2/2 and lands strictly between them
    val global = Trainer.isotonicFit(rows, "sc", "y")
    assert(global.calibratedX1e9(0) != 0L &&
      global.calibratedX1e9(0) != 1000000000L)
  }

  test("isotonicFitPerGroup fail-fasts: knot bound, null group") {
    val many = spark.range(0, 50).selectExpr(
      "CAST(id % 2 AS STRING) AS g", "CAST(id AS DOUBLE) AS sc",
      "CAST(id % 2 AS LONG) AS y")
    val e1 = intercept[IllegalArgumentException](
      Trainer.isotonicFitPerGroup(many, "g", "sc", "y", maxTotalKnots = 10))
    assert(e1.getMessage.contains("more than 10"))
    val nullG = Seq((Option("a"), 1.0, 1L), (Option.empty[String], 2.0, 0L))
      .toDF("g", "sc", "y")
    val e2 = intercept[IllegalArgumentException](
      Trainer.isotonicFitPerGroup(nullG, "g", "sc", "y"))
    assert(e2.getMessage.contains("null values in group column"))
  }

  test("preferencePairs: extremes, tie-break, margin floor, singleton drop") {
    val df = Seq(
      (1L, 10L, 5L), (1L, 11L, 9L), (1L, 12L, 9L), // tie at 9 -> chosen = 12
      (2L, 20L, 7L),                               // singleton -> dropped
      (3L, 30L, 4L), (3L, 31L, 4L),                // zero margin -> dropped
      (4L, 40L, 2L), (4L, 41L, 8L), (4L, 42L, 5L)
    ).toDF("prompt", "resp", "sc")
    val out = Trainer.preferencePairs(df, "prompt", "resp", "sc")
      .orderBy("prompt").as[(Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq((1L, 12L, 10L, 4L), (4L, 41L, 40L, 6L)))
    // partition invariance
    val shuffled = Trainer.preferencePairs(df.repartition(5), "prompt", "resp", "sc")
      .orderBy("prompt").as[(Long, Long, Long, Long)].collect().toSeq
    assert(shuffled == out)
    // null response fails fast, naming the column
    val withNull = Seq((1L, Option(10L), 5L), (1L, Option.empty[Long], 9L))
      .toDF("prompt", "resp", "sc")
    val e = intercept[Exception](
      Trainer.preferencePairs(withNull, "prompt", "resp", "sc").collect())
    assert(e.getMessage.contains("null value in column 'resp'"))
  }

  test("aucPerGroup fail-fasts: null score, non-binary label") {
    val nullSc = Seq(("a", 1L, Option(1.0)), ("a", 0L, None))
      .toDF("g", "y", "sc")
    val e1 = intercept[Exception](
      Trainer.aucPerGroup(nullSc, "g", "y", "sc").collect())
    assert(e1.getMessage.contains("null value in column 'sc'"))
    val badY = Seq(("a", 2L, 1.0), ("a", 0L, 2.0)).toDF("g", "y", "sc")
    val e2 = intercept[Exception](
      Trainer.aucPerGroup(badY, "g", "y", "sc").collect())
    assert(e2.getMessage.contains("must be 0/1"))
  }
}
