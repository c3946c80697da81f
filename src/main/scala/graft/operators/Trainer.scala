package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Model TRAINING over the lake — the step the ml1–ml5 eval family
  * grades but nothing produced until now. Four fits a training-data
  * pipeline actually runs, each at its cheapest distributed shape:
  *
  *  - [[ridgeFit]]: least squares in ONE aggregation pass (moment
  *    matrix to the driver, closed-form solve) — the floor every other
  *    trainer is measured against.
  *  - [[logisticFit]]: the quality-classifier trainer (the CCNet /
  *    GPT-3-style "train a linear filter on labeled docs, score the
  *    corpus" shape). IRLS/Newton: each round is ONE distributed
  *    aggregation of the (d+1)² Hessian triangle + gradient — O(d²)
  *    driver state, 5–10 passes where gradient descent needs hundreds.
  *    At 100 TB the intended use is fit-on-sample → [[logisticScore]]
  *    the corpus (a map-only codegen'd expression); the trainer itself
  *    still scales — each pass is a partial-aggregated scan.
  *  - [[isotonicFit]]: monotone (PAV) calibration of a fitted score,
  *    exact integer pooling over one per-knot aggregation; applied back
  *    as a broadcast range join ([[calibrate]]).
  *  - [[bradleyTerryFit]]: preference-strength MLE over pairwise
  *    comparisons (the RLHF preference-data / arena-ranking operator)
  *    via the Hunter (2004) MM iteration. State (per-item strengths)
  *    stays DISTRIBUTED — items can be millions, so strengths live in a
  *    DataFrame, each round is two joins + one aggregation over the
  *    aggregated pair-count table, and the loop pins rounds with
  *    [[Materialize]] / releaseSuperseded like kCore/pageRank. Driver
  *    state is O(1) (the normalization constant).
  */
object Trainer {

  /** Fitted logistic model in RAW feature space: score = sigmoid(bias +
    * w·x) applies directly to unstandardized columns (standardization
    * happens inside the fit and is folded back into the weights).
    */
  final case class LogisticModel(featCols: Seq[String], weights: Array[Double],
      bias: Double, itersRun: Int, finalLogLoss: Double)

  /** Full-batch logistic regression by IRLS (iteratively reweighted
    * least squares — Newton's method on the L2-penalized mean log-loss).
    *
    * One stats pass standardizes features (mean/std folded into the
    * iteration EXPRESSIONS — the raw frame is scanned each round, never
    * copied), then each Newton round is ONE distributed aggregation of
    * the (d+1)×(d+1) Hessian upper triangle Σ p(1−p)·xₐx_b, the gradient
    * Σ (y−p)·xₐ, and the log-loss — O(d²) doubles to the driver, which
    * solves the tiny normal system (Gaussian elimination, partial
    * pivoting) and steps. Quadratic convergence: typical fits finish in
    * 5–10 PASSES where gradient descent needs hundreds — at 100 TB the
    * pass count IS the cost, which is why Newton, not GD, is the right
    * distributed shape for d up to a few hundred. Early-stops when the
    * max-abs gradient or step falls under `tol`.
    *
    * `l2` (default 1e-4, mean-loss scale, intercept unpenalized) keeps
    * the optimum finite and the Hessian invertible on SEPARABLE data,
    * where the unpenalized MLE diverges. Labels must be non-null 0/1 and
    * features non-null (a null feature would silently drop its row from
    * every Hessian/gradient/loss sum while n still counts it — biased
    * weights and a wrong reported loss); constant features fail fast (a
    * silent divide-by-zero std would NaN every weight).
    *
    * Determinism note: floating-point partial sums reorder across
    * partitionings, so weights are reproducible to FP noise, not
    * bitwise — consumers that need an exact oracle should state a
    * margin-robust property (see ml6), not weight values.
    */
  def logisticFit(df: DataFrame, featCols: Seq[String], labelCol: String,
      iters: Int = 25, l2: Double = 1e-4, tol: Double = 1e-8): LogisticModel = {
    // bad rows = non-0/1-or-null label OR any null feature (same check
    // ridgeFit runs): a null feature nulls the whole row's margin, so the
    // row would silently DROP from every Hessian / gradient / loss sum
    // while n still counts it — biased weights and a wrong reported
    // log-loss, or an NPE on an all-null column.
    val (w, b, it, loss) = glmFit(df, featCols, labelCol, "logisticFit",
      col("__y").isNull || (col("__y") =!= 0.0 && col("__y") =!= 1.0),
      "non-null 0/1", iters, l2, tol, Double.PositiveInfinity, _ => 0.0,
      logisticTerms)
    LogisticModel(featCols, w, b, it, loss)
  }

  /** Per-row logistic terms, replicating the SQL expressions op for op:
    * p = 1/(1+e^−m), weight p·(1−p), residual y − p, and the stable
    * log-loss ln(1+e^m) − y·m with the ±30 saturation branches.
    */
  private val logisticTerms: (Double, Double) => (Double, Double, Double) =
    (mg, y) => {
      val p = 1.0 / (1.0 + math.exp(-mg))
      val ll = (if (mg > 30) mg
        else if (mg < -30) 0.0
        else math.log(1.0 + math.exp(mg))) - y * mg
      (p * (1.0 - p), y - p, ll)
    }

  /** The `(__y, __x0, __x1, …)` projection every trainer fits on. */
  private def labelAndFeatures(labelCol: String, featCols: Seq[String]): Seq[Column] =
    col(labelCol).cast("double").as("__y") +:
      featCols.zipWithIndex.map { case (c, i) => col(c).cast("double").as(s"__x$i") }

  /** Standardization stats over a [[labelAndFeatures]] projection: n,
    * the count of rows failing `badLabel` or carrying a null feature,
    * and per-feature mean and population std.
    */
  private def standardStats(d: Int, badLabel: Column): Seq[Column] = {
    val anyBad = (0 until d).map(i => col(s"__x$i").isNull).foldLeft(badLabel)(_ || _)
    Seq(count(lit(1)).as("n"), sum(when(anyBad, 1).otherwise(0)).as("bad"),
      array((0 until d).map(i => avg(col(s"__x$i"))): _*).as("mu"),
      array((0 until d).map(i => stddev_pop(col(s"__x$i"))): _*).as("sd"))
  }

  /** Fold standardization back: β·(x−μ)/σ + b = (β/σ)·x + (b − Σ βμ/σ). */
  private def foldBack(beta: Array[Double], mu: Array[Double],
      sd: Array[Double]): (Array[Double], Double) = {
    val d = mu.length
    (Array.tabulate(d)(i => beta(i + 1) / sd(i)),
      beta(0) - (0 until d).map(i => beta(i + 1) * mu(i) / sd(i)).sum)
  }

  /** Size of a Newton round's accumulator for m = d+1 coefficients:
    * [Hessian upper triangle (m(m+1)/2) | gradient (m) | loss sum (1)].
    */
  private def newtonAccSize(m: Int): Int = m * (m + 1) / 2 + m + 1

  /** The per-row Newton kernel: standardize (z = (x−μ)/σ), left-fold the
    * margin ((β₀ + β₁·z₀) + …, the SQL expression's exact association),
    * hand (margin, y) to `rowFn` for the loss-specific (weight,
    * residual, loss) triple, and add the upper-triangle Hessian
    * (w·xa)·xb, the gradient resid·xa and the loss into `acc` (layout
    * [[newtonAccSize]]) — bit-for-bit the per-row arithmetic the old
    * SQL aggregation ran.
    */
  private def newtonRow(acc: Array[Double], y: Double, xs: Array[Double],
      mu: Array[Double], sd: Array[Double], beta: Array[Double],
      rowFn: (Double, Double) => (Double, Double, Double)): Unit = {
    val d = xs.length
    val z = new Array[Double](d)
    var i = 0
    while (i < d) { z(i) = (xs(i) - mu(i)) / sd(i); i += 1 }
    var mg = beta(0)
    i = 0
    while (i < d) { mg += beta(i + 1) * z(i); i += 1 }
    val (w, resid, loss) = rowFn(mg, y)
    val gAt = (d + 1) * (d + 2) / 2
    var k = 0
    var a = 0
    while (a <= d) {
      val xa = if (a == 0) 1.0 else z(a - 1)
      acc(gAt + a) += resid * xa
      var b = a
      while (b <= d) {
        val xb = if (b == 0) 1.0 else z(b - 1)
        acc(k) += w * xa * xb
        k += 1; b += 1
      }
      a += 1
    }
    acc(gAt + d + 1) += loss
  }

  /** `a += b` element-wise: the merge of every trainer round's fold. */
  private def addInto(a: Array[Double], b: Array[Double]): Array[Double] = {
    var k = 0
    while (k < a.length) { a(k) += b(k); k += 1 }
    a
  }

  /** One penalized Newton step on the MEAN objective from a round's
    * accumulator over `n` rows:
    *   (H/n + l2·I_feat) Δ = g/n − l2·β_feat    (intercept unpenalized)
    * solved, scaled down so no coordinate moves more than `stepCap`, and
    * added to `beta` in place. True once the max-abs penalized gradient
    * or the max-abs step falls under `tol`.
    */
  private def newtonStep(acc: Array[Double], n: Long, beta: Array[Double],
      l2: Double, tol: Double, stepCap: Double): Boolean = {
    val m = beta.length
    val gAt = m * (m + 1) / 2
    val h = Array.ofDim[Double](m, m)
    var k = 0
    for { a <- 0 until m; b <- a until m } {
      h(a)(b) = acc(k) / n; h(b)(a) = h(a)(b); k += 1
    }
    val rhs = new Array[Double](m)
    var maxG = 0.0
    for (a <- 0 until m) {
      val pen = if (a == 0) 0.0 else l2
      h(a)(a) += pen
      rhs(a) = acc(gAt + a) / n - pen * beta(a)
      if (math.abs(rhs(a)) > maxG) maxG = math.abs(rhs(a))
    }
    val delta = solve(h, rhs)
    var rawMax = 0.0
    for (a <- 0 until m)
      if (math.abs(delta(a)) > rawMax) rawMax = math.abs(delta(a))
    val scale = if (rawMax > stepCap) stepCap / rawMax else 1.0
    var maxStep = 0.0
    for (a <- 0 until m) {
      val step = delta(a) * scale
      beta(a) += step
      if (math.abs(step) > maxStep) maxStep = math.abs(step)
    }
    maxG < tol || maxStep < tol
  }

  /** The shared IRLS driver of [[logisticFit]] and [[poissonFit]]: one
    * stats pass over the pinned projection (fail-fasts named after
    * `name`; `badLabel` flags invalid labels, `labelRule` says what a
    * valid one is), intercept started at `beta0(ȳ)`, then [[Rounds.pinned]]
    * Newton rounds with per-row terms from `rowFn`. Returns the raw-space
    * (weights, bias), the rounds run and the last round's mean loss.
    */
  private def glmFit(df: DataFrame, featCols: Seq[String], labelCol: String,
      name: String, badLabel: Column, labelRule: String, iters: Int,
      l2: Double, tol: Double, stepCap: Double, beta0: Double => Double,
      rowFn: (Double, Double) => (Double, Double, Double))
      : (Array[Double], Double, Int, Double) = {
    require(featCols.nonEmpty, s"$name: no feature columns")
    val d = featCols.size
    // One narrow projection, pinned: the stats pass and the round pin read it.
    val data = Materialize(df.select(labelAndFeatures(labelCol, featCols): _*))
    try {
      val stats = standardStats(d, badLabel) :+ avg(col("__y")).as("ybar")
      val statsRow = data.agg(stats.head, stats.tail: _*).collect()(0)
      val n = statsRow.getLong(0)
      require(n > 0, s"$name: empty input")
      require(statsRow.getLong(1) == 0,
        s"$name: label column '$labelCol' must be $labelRule and " +
          "feature columns non-null — filter or impute first")
      val mu = statsRow.getSeq[Double](2).toArray
      val sd = statsRow.getSeq[Double](3).toArray
      val flat = featCols.zip(sd).collect { case (c, s) if s == 0.0 => c }
      require(flat.isEmpty,
        s"$name: zero-variance feature(s) ${flat.mkString(", ")} — " +
          "drop constants before fitting")
      // beta(0) = intercept, beta(i+1) = standardized feature i
      val beta = new Array[Double](d + 1)
      beta(0) = beta0(statsRow.getDouble(4))
      var loss = Double.NaN
      var it = 0
      var converged = false
      val rows = data.rdd.map(r =>
        (r.getDouble(0), Array.tabulate(d)(i => r.getDouble(i + 1))))
      Rounds.pinned(rows, n) { loop =>
        while (it < iters && !converged) {
          val b = beta.clone()
          val sums = loop.fold(new Array[Double](newtonAccSize(d + 1)))(
            { case (acc, (y, xs)) => newtonRow(acc, y, xs, mu, sd, b, rowFn); acc },
            addInto)
          loss = sums(sums.length - 1) / n
          converged = newtonStep(sums, n, beta, l2, tol, stepCap)
          it += 1
        }
      }
      val (w, bias) = foldBack(beta, mu, sd)
      (w, bias, it, loss)
    } finally Materialize.releaseSuperseded(data)
  }

  /** Fitted linear model in raw feature space: prediction = bias + w·x. */
  final case class LinearModel(featCols: Seq[String], weights: Array[Double],
      bias: Double, n: Long)

  /** Closed-form ridge regression in ONE distributed pass — the shape
    * every trainer here aspires to: a single aggregation collects the
    * raw moment matrix (Σxₐx_b upper triangle, Σxₐy, Σxₐ, Σy, n —
    * O(d²) doubles), the driver centers it (Cov = Σxx/n − μμᵀ, far
    * better conditioned than raw normal equations), solves the tiny
    * (Cov + l2·I)w = cov(x,y) system, and back-solves the intercept
    * b = ȳ − w·μ. No iterations, no second scan: 100 TB costs exactly
    * one partial-aggregated pass. Use it for linear quality scores,
    * trend fits, and as the least-squares building block; logistic
    * (non-quadratic loss) needs [[logisticFit]]'s Newton rounds.
    *
    * Zero-variance features fail fast (the centered system is singular
    * in that direction regardless of l2's tie-break); labels/features
    * must be non-null (same fail-fast pass).
    */
  def ridgeFit(df: DataFrame, featCols: Seq[String], labelCol: String,
      l2: Double = 1e-9): LinearModel = {
    require(featCols.nonEmpty, "ridgeFit: no feature columns")
    val moments = momentAggs(featCols.size)
    val row = df.select(labelAndFeatures(labelCol, featCols): _*)
      .agg(moments.head, moments.tail: _*).collect()(0)
    val n = row.getLong(0)
    require(n > 0, "ridgeFit: empty input")
    require(row.getLong(1) == 0,
      s"ridgeFit: null feature/label values — filter or impute first")
    val (w, bias) = ridgeSolve(row, 0, featCols, l2)(flat =>
      s"ridgeFit: zero-variance feature(s) $flat — drop constants before fitting")
    LinearModel(featCols, w, bias, n)
  }

  /** Ridge moment aggregation over a [[labelAndFeatures]] projection:
    * n, the null-row count, and the raw moments Σxₐx_b (upper
    * triangle), Σxₐy, Σxₐ and Σy.
    */
  private def momentAggs(d: Int): Seq[Column] = {
    val x = Array.tabulate(d)(i => col(s"__x$i"))
    val upper = for { a <- 0 until d; b <- a until d } yield (a, b)
    Seq(count(lit(1)).as("n"),
      sum(when(x.map(_.isNull).foldLeft(col("__y").isNull)(_ || _), 1)
        .otherwise(0)).as("bad"),
      array(upper.map { case (a, b) => sum(x(a) * x(b)) }: _*).as("xx"),
      array((0 until d).map(a => sum(x(a) * col("__y"))): _*).as("xy"),
      array((0 until d).map(a => sum(x(a))): _*).as("sx"),
      sum(col("__y")).as("sy"))
  }

  /** The centered ridge solve from one [[momentAggs]] row whose `n`
    * column sits at `at`: Cov = Σxx/n − μμᵀ, (Cov + l2·I)w = cov(x,y),
    * b = ȳ − w·μ. Zero-variance features fail fast with
    * `flatMsg(names)`. Returns (w, b).
    */
  private def ridgeSolve(r: Row, at: Int, featCols: Seq[String], l2: Double)(
      flatMsg: String => String): (Array[Double], Double) = {
    val d = featCols.size
    val n = r.getLong(at)
    val xx = r.getSeq[Double](at + 2).toArray
    val xy = r.getSeq[Double](at + 3).toArray
    val mu = r.getSeq[Double](at + 4).toArray.map(_ / n)
    val ybar = r.getDouble(at + 5) / n
    // centered second moments: cov(a,b) = Σxaxb/n − μaμb
    val h = Array.ofDim[Double](d, d)
    var k = 0
    for { a <- 0 until d; b <- a until d } {
      h(a)(b) = xx(k) / n - mu(a) * mu(b); h(b)(a) = h(a)(b); k += 1
    }
    val flat = (0 until d).collect { case a if h(a)(a) <= 0.0 => featCols(a) }
    require(flat.isEmpty, flatMsg(flat.mkString(", ")))
    val rhs = Array.tabulate(d)(a => xy(a) / n - mu(a) * ybar)
    for (a <- 0 until d) h(a)(a) += l2
    val w = solve(h, rhs)
    (w, ybar - (0 until d).map(a => w(a) * mu(a)).sum)
  }

  /** Map-only prediction column: bias + w·x over raw feature columns. */
  def linearScore(model: LinearModel): Column =
    model.featCols.zip(model.weights)
      .map { case (c, wi) => col(c).cast("double") * lit(wi) }
      .foldLeft(lit(model.bias): Column)(_ + _)

  /** Isotonic (PAV) calibration model: step function over score knots.
    * Calibrated values are exact RATIONALS (pooled label-sum / count) —
    * PAV runs on the collected per-knot integer counts, so the model is
    * bit-identical under any partitioning, and `x1e9` fixed-point export
    * keeps the engine-exact discipline of the query board.
    */
  final case class IsotonicModel(knots: Array[Double], num: Array[Long],
      den: Array[Long]) {
    def calibratedX1e9: Array[Long] = Array.tabulate(knots.length)(i =>
      (BigInt(num(i)) * 1000000000L / BigInt(den(i))).toLong)
  }

  /** Isotonic-regression calibration (pool-adjacent-violators) of a
    * 0/1 label against a score — the monotone calibrator a quality
    * classifier's raw score goes through before its threshold means
    * anything (the non-parametric sibling of ml3's fixed-bin
    * calibration).
    *
    * Scale shape: ONE distributed aggregation to per-DISTINCT-SCORE
    * (count, label-sum) pairs — the caller bins continuous scores first
    * (quantile or fixed-width; a training pipeline calibrates a binned
    * score anyway), and `maxKnots` fail-fasts when the score column is
    * effectively continuous, because O(knots) is the driver state this
    * operator is allowed. PAV itself is the textbook stack pass over
    * the sorted knots, in integer arithmetic (pool when the previous
    * block's mean EXCEEDS the next's, compared by cross-multiplication —
    * no FP ties). Apply with [[calibrate]]: a broadcast RANGE join of
    * the step function, map-side only — scoring 100 TB costs a scan.
    *
    * Nulls in score or label, and labels outside {0,1}, fail fast on
    * the same aggregation pass.
    */
  def isotonicFit(df: DataFrame, scoreCol: String, labelCol: String,
      maxKnots: Int = 100000): IsotonicModel = {
    val rows = df.groupBy(col(scoreCol).cast("double").as("__s"))
      .agg(count(lit(1)).as("n"), sum(col(labelCol).cast("long")).as("w"),
        sum(when(col(labelCol).isNull ||
          (col(labelCol) =!= 0 && col(labelCol) =!= 1), 1).otherwise(0)).as("bad"))
      .limit(maxKnots + 1)
      .collect()
    require(rows.nonEmpty, "isotonicFit: empty input")
    require(rows.length <= maxKnots,
      s"isotonicFit: more than $maxKnots distinct scores — bin the score " +
        "first (quantile or fixed-width); per-knot state lives on the driver")
    require(rows.forall(r => !r.isNullAt(0)),
      s"isotonicFit: null values in score column '$scoreCol'")
    require(rows.forall(_.getLong(3) == 0),
      s"isotonicFit: label column '$labelCol' must be non-null 0/1")
    val sorted = rows.sortBy(_.getDouble(0))
    // agg row layout: __s at 0, n (count) at 1, w (label sum) at 2
    val (num, den) = pavPool(sorted.map(r => (r.getLong(2), r.getLong(1))))
    IsotonicModel(sorted.map(_.getDouble(0)), num, den)
  }

  /** The PAV stack pass over score-sorted (label-sum, count) knot pairs:
    * pool while the previous block's mean exceeds the next's, compared
    * by exact cross-multiplication — no FP ties. Shared by the global
    * [[isotonicFit]] and the many-models [[isotonicFitPerGroup]].
    */
  private def pavPool(sorted: Array[(Long, Long)]): (Array[Long], Array[Long]) = {
    val stack = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
    for (((w, n), i) <- sorted.zipWithIndex) {
      stack += ((i, w, n))
      while (stack.length >= 2 && {
        val (_, n1, d1) = stack(stack.length - 2)
        val (_, n2, d2) = stack(stack.length - 1)
        BigInt(n1) * d2 > BigInt(n2) * d1 // prev mean > cur mean → violation
      }) {
        val (i2, n2, d2) = stack.remove(stack.length - 1)
        val (i1, n1, d1) = stack.remove(stack.length - 1)
        val _ = i2
        stack += ((i1, n1 + n2, d1 + d2))
      }
    }
    val num = new Array[Long](sorted.length)
    val den = new Array[Long](sorted.length)
    for (b <- stack.indices) {
      val (start, n, d) = stack(b)
      val end = if (b + 1 < stack.length) stack(b + 1)._1 else sorted.length
      for (i <- start until end) { num(i) = n; den(i) = d }
    }
    (num, den)
  }

  /** MANY-MODELS isotonic calibration — one independent PAV fit per
    * group key (per language, per source, per model version) without
    * one job per group: the per-group calibrator a quality pipeline
    * actually serves, because a single global step function is wrong
    * the moment score scales differ across slices (the [[ridgeFitPerGroup]]
    * motivation, calibration-shaped).
    *
    * Scale shape: ONE distributed aggregation to per-(group, distinct
    * score) integer (count, label-sum) knots; the PAV stack pass runs
    * per group on the collected knot table — O(total knots) driver
    * state behind the explicit `maxTotalKnots` fail-fast (enforced with
    * limit(max+1), the bpeTrain/isotonicFit contract; bin continuous
    * scores first). Same in-expression fail-fasts as the global fit:
    * null group / null score / non-0/1 labels, each naming its column.
    *
    * Returns the model TABLE (groupCol, knot, n, calibrated_x1e9) —
    * knots ascending per group, calibrated values exact pooled
    * rationals ×10⁹ — ready for a group-keyed broadcast range join, and
    * bit-identical under any partitioning.
    */
  def isotonicFitPerGroup(df: DataFrame, groupCol: String, scoreCol: String,
      labelCol: String, maxTotalKnots: Int = 100000): DataFrame = {
    val spark = df.sparkSession
    val rows = df.groupBy(col(groupCol).as("__g"),
        col(scoreCol).cast("double").as("__s"))
      .agg(count(lit(1)).as("n"), sum(col(labelCol).cast("long")).as("w"),
        sum(when(col(labelCol).isNull ||
          (col(labelCol) =!= 0 && col(labelCol) =!= 1), 1).otherwise(0)).as("bad"))
      .limit(maxTotalKnots + 1)
      .collect()
    require(rows.nonEmpty, "isotonicFitPerGroup: empty input")
    require(rows.length <= maxTotalKnots,
      s"isotonicFitPerGroup: more than $maxTotalKnots total (group, score) " +
        "knots — bin the score first; per-knot state lives on the driver")
    require(rows.forall(r => !r.isNullAt(0)),
      s"isotonicFitPerGroup: null values in group column '$groupCol'")
    require(rows.forall(r => !r.isNullAt(1)),
      s"isotonicFitPerGroup: null values in score column '$scoreCol'")
    require(rows.forall(_.getLong(4) == 0),
      s"isotonicFitPerGroup: label column '$labelCol' must be non-null 0/1")
    val out = rows.groupBy(_.get(0)).toSeq
      .flatMap { case (g, knotRows) =>
        val sorted = knotRows.sortBy(_.getDouble(1))
        val (num, den) = pavPool(sorted.map(r => (r.getLong(3), r.getLong(2))))
        sorted.zipWithIndex.map { case (r, i) =>
          Row(g, r.getDouble(1), r.getLong(2),
            (BigInt(num(i)) * 1000000000L / BigInt(den(i))).toLong)
        }
      }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      df.schema(groupCol).copy(name = groupCol),
      org.apache.spark.sql.types.StructField("knot",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("n",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("calibrated_x1e9",
        org.apache.spark.sql.types.LongType, nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(out, 1), schema)
  }

  /** Apply an isotonic model as a broadcast RANGE join: each knot owns
    * the half-open interval up to the next knot, the first/last clamp to
    * ±∞ (sklearn's clip behavior), so every score maps and the join is
    * map-side only. Adds `outCol` = calibrated probability ×10⁹ (long).
    *
    * Cost note: a non-equi broadcast join is a nested-loop compare —
    * O(rows × knots) predicate evaluations. Calibration step functions
    * are tens-to-hundreds of knots (the [[isotonicFit]] contract is a
    * pre-binned score), where that is cheaper than any shuffle; for a
    * pathological knot count, re-bin the score rather than widening
    * `maxKnots`.
    *
    * NULL scores have no position on the step function and DROP OUT of
    * the inner join — the apply-side face of [[isotonicFit]]'s
    * null-score fail-fast. Filter or impute nulls first if they must
    * survive calibration.
    */
  def calibrate(df: DataFrame, scoreCol: String, model: IsotonicModel,
      outCol: String = "calibrated_x1e9"): DataFrame = {
    val spark = df.sparkSession
    val cal = model.calibratedX1e9
    val rows = model.knots.indices.map { i =>
      Row(
        if (i == 0) Double.NegativeInfinity else model.knots(i),
        if (i + 1 < model.knots.length) model.knots(i + 1)
        else Double.PositiveInfinity,
        cal(i))
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("__lo",
        org.apache.spark.sql.types.DoubleType, nullable = false),
      org.apache.spark.sql.types.StructField("__hi",
        org.apache.spark.sql.types.DoubleType, nullable = false),
      org.apache.spark.sql.types.StructField(outCol,
        org.apache.spark.sql.types.LongType, nullable = false)))
    val knotDf = spark.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava, schema)
    df.join(broadcast(knotDf),
        col(scoreCol).cast("double") >= col("__lo") &&
          col(scoreCol).cast("double") < col("__hi"))
      .drop("__lo", "__hi")
  }

  /** "Many models": an independent ridge regression PER GROUP (per
    * source, per sensor, per store — the fit-a-model-per-key pattern),
    * still in ONE distributed aggregation pass: the per-group raw moment
    * matrices (Σxₐx_b triangle, Σxₐy, Σxₐ, Σy, n — O(d²) doubles per
    * group) partial-aggregate in a single groupBy shuffle, and the
    * driver centers + solves each group's tiny system exactly as
    * [[ridgeFit]] does. Driver state is O(groups·d²), made explicit by
    * `maxGroups` with a fail-fast (the [[isotonicFit]] maxKnots
    * discipline) — group-wise model state is collected either way, so
    * the bound is the contract, not a limitation. 100 TB and a million
    * sensors is still ONE scan; only the solve loop is driver-side.
    *
    * Same fail-fasts as the single-model fit, per group and NAMING the
    * group: empty never occurs (groupBy emits observed keys), nulls in
    * label/features, zero-variance features. Null GROUP keys fail fast
    * — the model row would silently never join back (null ≠ null) at
    * scoring time.
    *
    * Returns one model row per group: (groupCol, n, bias, weights) —
    * apply with [[scorePerGroup]] (broadcast join + dot product:
    * scoring 100 TB is map-side).
    */
  def ridgeFitPerGroup(df: DataFrame, groupCol: String, featCols: Seq[String],
      labelCol: String, l2: Double = 1e-9,
      maxGroups: Int = 100000): DataFrame = {
    require(featCols.nonEmpty, "ridgeFitPerGroup: no feature columns")
    val spark = df.sparkSession
    val data = df.select(col(groupCol).as("__g") +: labelAndFeatures(labelCol, featCols): _*)
    val moments = momentAggs(featCols.size)
    val rows = data.groupBy("__g").agg(moments.head, moments.tail: _*)
      .limit(maxGroups + 1)
      .collect()
    require(rows.nonEmpty, "ridgeFitPerGroup: empty input")
    require(rows.length <= maxGroups,
      s"ridgeFitPerGroup: more than $maxGroups groups — per-group model " +
        "state lives on the driver; raise maxGroups deliberately or " +
        "coarsen the group key")
    require(rows.forall(!_.isNullAt(0)),
      s"ridgeFitPerGroup: null values in group column '$groupCol' — the " +
        "model row could never join back at scoring time (null ≠ null); " +
        "filter or coalesce them first")
    val badGroups = rows.filter(_.getLong(2) != 0).map(_.get(0)).take(3)
    require(badGroups.isEmpty,
      s"ridgeFitPerGroup: null feature/label values in group(s) " +
        s"${badGroups.mkString(", ")} — filter or impute first")
    val modelRows = rows.map { r =>
      val (w, bias) = ridgeSolve(r, 1, featCols, l2)(flat =>
        s"ridgeFitPerGroup: zero-variance feature(s) $flat in group " +
          s"${r.get(0)} — drop constants (or that group) before fitting")
      Row(r.get(0), r.getLong(1), bias, w.toSeq)
    }.toSeq
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(groupCol, data.schema("__g").dataType),
      org.apache.spark.sql.types.StructField("n",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("bias",
        org.apache.spark.sql.types.DoubleType, nullable = false),
      org.apache.spark.sql.types.StructField("weights",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType, containsNull = false),
        nullable = false)))
    spark.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(modelRows).asJava, schema)
  }

  /** "Many models", logistic edition: an independent IRLS logistic
    * regression PER GROUP — the per-source / per-language quality-filter
    * trainer — with every round still ONE distributed pass for ALL
    * unconverged groups at once. Per round: the driver's per-group
    * state (standardization μ/σ and current β, O(d) doubles each) ships
    * as a broadcast map keyed by the group value; one [[Rounds.pinned]]
    * fold over the pinned (group, label, features) rows looks each
    * row's group up in it and accumulates that group's Hessian triangle
    * and gradient into a per-group accumulator (merged per key across
    * partitions); the driver solves each group's tiny Newton system.
    * Groups that converge LEAVE the broadcast map, so their rows skip
    * the accumulation in later rounds — the work shrinks as the easy
    * groups finish. Total: 1 stats pass + (max rounds) folds,
    * regardless of group count; driver state O(groups·d²) behind the
    * explicit `maxGroups` fail-fast.
    *
    * Same per-group fail-fasts as [[ridgeFitPerGroup]] (named group:
    * label/feature nulls, non-0/1 labels, zero variance; null group
    * keys rejected). Same determinism note as [[logisticFit]]: weights
    * are FP-reproducible, not bitwise — consumers state margin-robust
    * properties.
    *
    * STRAGGLER contract: one pathological group (near-separable data —
    * slow IRLS) holds every round's full-corpus pass hostage after the
    * other 99% converge, until the `iters` cap cuts it off. Groups still
    * unconverged at the cap are FLAGGED — `converged = false` in the
    * model table — never silently emitted as done: their β is whatever
    * round `iters` left, fine for triage, not for trusting. Consumers
    * decide per flagged group (refit with more rounds, drop, or accept);
    * the table makes the decision visible instead of implicit.
    *
    * Returns (groupCol, n, itersRun, converged, bias, weights) in RAW
    * feature space; apply with [[scorePerGroup]] (+ sigmoid for
    * probabilities).
    */
  def logisticFitPerGroup(df: DataFrame, groupCol: String,
      featCols: Seq[String], labelCol: String, iters: Int = 25,
      l2: Double = 1e-4, tol: Double = 1e-8,
      maxGroups: Int = 100000): DataFrame = {
    require(featCols.nonEmpty, "logisticFitPerGroup: no feature columns")
    val spark = df.sparkSession
    val d = featCols.size
    val m = d + 1
    val data = Materialize(df.select(
      col(groupCol).as("__g") +: labelAndFeatures(labelCol, featCols): _*))
    try {
      val statCols = standardStats(d,
        col("__y").isNull || (col("__y") =!= 0.0 && col("__y") =!= 1.0))
      val stats = data.groupBy("__g").agg(statCols.head, statCols.tail: _*)
        .limit(maxGroups + 1)
        .collect()
      require(stats.nonEmpty, "logisticFitPerGroup: empty input")
      require(stats.length <= maxGroups,
        s"logisticFitPerGroup: more than $maxGroups groups — per-group " +
          "model state lives on the driver; raise maxGroups deliberately " +
          "or coarsen the group key")
      require(stats.forall(!_.isNullAt(0)),
        s"logisticFitPerGroup: null values in group column '$groupCol' — " +
          "the model row could never join back at scoring time; filter " +
          "or coalesce them first")
      val badGroups = stats.filter(_.getLong(2) != 0).map(_.get(0)).take(3)
      require(badGroups.isEmpty,
        s"logisticFitPerGroup: non-0/1-or-null labels or null features in " +
          s"group(s) ${badGroups.mkString(", ")} — filter or impute first")
      stats.foreach { r =>
        val sd = r.getSeq[Double](4)
        val flat = featCols.zip(sd).collect { case (c, s) if s == 0.0 => c }
        require(flat.isEmpty,
          s"logisticFitPerGroup: zero-variance feature(s) ${flat.mkString(", ")} " +
            s"in group ${r.get(0)} — drop constants (or that group) before fitting")
      }

      // driver state, keyed by the group VALUE
      final case class G(key: Any, n: Long, mu: Array[Double], sd: Array[Double],
        beta: Array[Double], var itersRun: Int, var converged: Boolean)
      val state = stats.map(r => G(r.get(0), r.getLong(1),
        r.getSeq[Double](3).toArray, r.getSeq[Double](4).toArray,
        new Array[Double](m), 0, false)).toSeq
      var active = state
      val gType = data.schema("__g").dataType
      var it = 0
      val rows = data.rdd.map(r =>
        (r.get(0), r.getDouble(1), Array.tabulate(d)(i => r.getDouble(i + 2))))
      val size = newtonAccSize(m)
      val rowFn = logisticTerms // its loss sum is unused here
      Rounds.pinned(rows, stats.map(_.getLong(1)).sum) { loop =>
        while (it < iters && active.nonEmpty) {
          // broadcast map: group key → (μ, σ, β); converged groups are
          // absent, so their rows drop out here and later rounds shrink
          val bc = spark.sparkContext.broadcast(
            active.map(g => g.key -> ((g.mu, g.sd, g.beta))).toMap)
          val sums = loop.fold(scala.collection.mutable.HashMap.empty[Any, Array[Double]])(
            { case (acc, (key, y, xs)) =>
              bc.value.get(key).foreach { case (mu, sd, beta) =>
                newtonRow(acc.getOrElseUpdate(key, new Array[Double](size)),
                  y, xs, mu, sd, beta, rowFn)
              }
              acc
            },
            { (x, yv) =>
              yv.foreach { case (key, a) =>
                x.get(key) match {
                  case Some(b) => addInto(b, a)
                  case None => x.put(key, a)
                }
              }
              x
            })
          bc.destroy()
          for (g <- active) {
            g.itersRun += 1
            g.converged = newtonStep(sums(g.key), g.n, g.beta, l2, tol,
              Double.PositiveInfinity)
          }
          active = active.filterNot(_.converged)
          it += 1
        }
      }
      val modelRows = state.map { g =>
        val (rawW, rawB) = foldBack(g.beta, g.mu, g.sd)
        Row(g.key, g.n, g.itersRun, g.converged, rawB, rawW.toSeq)
      }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(groupCol, gType),
        org.apache.spark.sql.types.StructField("n",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("iters_run",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("converged",
          org.apache.spark.sql.types.BooleanType, nullable = false),
        org.apache.spark.sql.types.StructField("bias",
          org.apache.spark.sql.types.DoubleType, nullable = false),
        org.apache.spark.sql.types.StructField("weights",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType, containsNull = false),
          nullable = false)))
      spark.createDataFrame(
        scala.jdk.CollectionConverters.SeqHasAsJava(modelRows).asJava, schema)
    } finally Materialize.releaseSuperseded(data)
  }

  /** Apply a [[ridgeFitPerGroup]] model table: broadcast equi-join on
    * the group key + per-row dot product — map-side only, scoring
    * 100 TB costs a scan. Rows whose group has no model DROP OUT of the
    * inner join (the apply-side face of the fit's null-group fail-fast);
    * left-join + coalesce yourself if unmatched groups must survive.
    */
  def scorePerGroup(df: DataFrame, model: DataFrame, groupCol: String,
      featCols: Seq[String], outCol: String = "pred"): DataFrame = {
    // model columns ride under reserved __-names (the Trainer-wide
    // convention): joining bare 'bias'/'weights' would be ambiguous —
    // or silently drop the user's column — whenever df carries either name
    val dot = featCols.zipWithIndex.foldLeft(col("__bias")) {
      case (acc, (c, i)) =>
        acc + col(c).cast("double") * element_at(col("__weights"), i + 1)
    }
    df.join(broadcast(model.select(col(groupCol), col("bias").as("__bias"),
        col("weights").as("__weights"))), groupCol)
      .withColumn(outCol, dot)
      .drop("__bias", "__weights")
  }

  /** K-fold cross-validated ridge evaluation — the held-out-error loop a
    * training pipeline runs before trusting a fitted quality score.
    * Folds come from [[Sampling.kFold]] (md5(id‖salt) mod k — a pure
    * function of the id, so the SAME rows land in the same fold under
    * any partitioning, engine, or re-run: CV results are reproducible
    * and leakage-auditable at corpus scale).
    *
    * Scale shape: ONE narrow projection pinned once (the loop re-scans
    * it 2k times), then one O(k) fold-count pass that fail-fasts BOTH
    * empty-fold directions with fold context — an empty TEST fold would
    * make max() silently null, and an empty TRAIN side (k−1 folds empty:
    * a near-constant id hashing everything into one fold) would
    * otherwise surface as ridgeFit's generic 'empty input' with no fold
    * named — then per fold one [[ridgeFit]] aggregation over the k−1
    * training folds and one test aggregation (max abs error) over the
    * held-out fold — 2k+1 partial-aggregated passes total, O(k·d²)
    * driver state, no shuffle beyond the aggregations.
    *
    * Returns one row per fold: (fold, n_test, max_abs_err).
    */
  def crossValidateRidge(df: DataFrame, featCols: Seq[String],
      labelCol: String, idCol: String, k: Int = 5,
      l2: Double = 1e-9): DataFrame = {
    val spark = df.sparkSession
    val folded = Materialize(Sampling.kFold(
      df.select((col(idCol) +: col(labelCol) +: featCols.map(col)): _*), idCol, k))
    try {
      val foldN = cvFoldChecks(folded, k, "crossValidateRidge")
      val rows = (0 until k).map { f =>
        val train = folded.filter(col("fold") =!= f)
        val test = folded.filter(col("fold") === f)
        val model = ridgeFit(train, featCols, labelCol, l2)
        val r = test.agg(
          max(abs(linearScore(model) - col(labelCol).cast("double"))).as("err"))
          .collect()(0)
        Row(f.toLong, foldN(f.toLong), r.getDouble(0))
      }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("fold",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("n_test",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("max_abs_err",
          org.apache.spark.sql.types.DoubleType, nullable = false)))
      spark.createDataFrame(
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava, schema)
    } finally Materialize.releaseSuperseded(folded)
  }

  /** Shared fold-integrity gate for the two CV faces: per-fold counts
    * off one O(k) pass, failing fast on BOTH empty-fold directions with
    * the fold named (an empty TEST fold would make max()/the union
    * silently thin; an empty TRAIN side would surface as ridgeFit's
    * generic 'empty input' with no fold context).
    */
  private def cvFoldChecks(folded: DataFrame, k: Int,
      caller: String): Map[Long, Long] = {
    val foldN: Map[Long, Long] = folded
      .groupBy(col("fold").cast("long").as("fold"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val total = foldN.values.sum
    (0 until k).foreach { f =>
      val test = foldN.getOrElse(f.toLong, 0L)
      require(test > 0,
        s"$caller: fold $f holds no rows — k=$k is too large " +
          "for this input (or the id column is near-constant)")
      require(total - test > 0,
        s"$caller: fold $f holds ALL $total rows, leaving an " +
          "empty train side — the id column is (near-)constant; use a " +
          "higher-cardinality id or fewer folds")
    }
    foldN
  }

  /** OUT-OF-FOLD predictions — the stacking face of
    * [[crossValidateRidge]]: same md5 folds, same per-fold ridge fits,
    * but instead of a per-fold error summary it returns EVERY row
    * scored by the model that never saw it (idCol, fold, pred). OOF
    * predictions are the leak-free derived feature a stacked ensemble
    * or a downstream calibration stage ([[isotonicFit]]) trains on —
    * scoring rows with a model fitted on them would leak the label.
    *
    * Scale shape: the narrow folded projection pinned ONCE; per fold
    * one [[ridgeFit]] moment aggregation over the k−1 training folds
    * (the fits run eagerly here — ridgeFit collects O(d²)) plus one
    * MAP-SIDE scoring projection of the held-out fold; the k
    * projections union into one plan. No shuffle beyond the fits'
    * aggregations. NOTE: the returned plan still reads the pin, so it
    * is NOT released here — the Verify/Bench harness sweeps pins at
    * query boundaries, and ad-hoc callers use Materialize.sweep()
    * (the ml15/stat11 lifetime contract).
    */
  def crossValidateRidgeScored(df: DataFrame, featCols: Seq[String],
      labelCol: String, idCol: String, k: Int = 5,
      l2: Double = 1e-9): DataFrame = {
    val folded = Materialize(Sampling.kFold(
      df.select((col(idCol) +: col(labelCol) +: featCols.map(col)): _*), idCol, k))
    try {
      cvFoldChecks(folded, k, "crossValidateRidgeScored")
      (0 until k).map { f =>
        val model = ridgeFit(folded.filter(col("fold") =!= f), featCols,
          labelCol, l2)
        folded.filter(col("fold") === f)
          .select(col(idCol), col("fold").cast("long").as("fold"),
            linearScore(model).as("pred"))
      }.reduce(_ unionAll _)
      // success: the pin stays — the returned plan reads it (harness
      // sweeps at query boundaries); only the FAILURE path frees it here
    } catch { case t: Throwable =>
      Materialize.releaseSuperseded(folded); throw t
    }
  }

  /** Fitted Poisson GLM in RAW feature space: expected count =
    * exp(bias + w·x).
    */
  final case class PoissonModel(featCols: Seq[String], weights: Array[Double],
      bias: Double, itersRun: Int, meanDeviance: Double)

  /** Poisson regression (log-link GLM) by IRLS — the COUNT-data trainer
    * the lake actually needs for rates and volumes (events per user per
    * day, tokens per document, clicks per impression), where a squared-
    * loss line fitted to counts gets both the variance structure and the
    * non-negativity wrong. Same distributed shape as [[logisticFit]]:
    * one stats pass standardizes features (folded into the round
    * EXPRESSIONS — the raw frame is scanned, never copied), then each
    * Newton round is ONE aggregation of the (d+1)² weighted-Hessian
    * triangle Σ μ·xₐx_b, the score Σ (y−μ)·xₐ, and the deviance —
    * O(d²) doubles to the driver, 5–15 passes at 100 TB where gradient
    * descent needs hundreds. The linear predictor is clamped at 30
    * inside exp (μ ≤ e³⁰ ≈ 10¹³) so an early overshooting Newton step
    * cannot overflow the aggregation; converged fits sit far inside the
    * clamp.
    *
    * Labels must be non-null and ≥ 0 (real-valued rates are fine — the
    * quasi-Poisson score equations don't need integers); features
    * non-null; constant features fail fast. `l2` (mean-scale, intercept
    * unpenalized) keeps the Hessian invertible when a feature separates
    * zero counts. Same determinism note as [[logisticFit]]: weights are
    * FP-reproducible, not bitwise — consumers state property-robust
    * oracles (ml12 plants an exactly-log-linear target, where the MLE's
    * fitted means reproduce the label to solver noise).
    */
  def poissonFit(df: DataFrame, featCols: Seq[String], labelCol: String,
      iters: Int = 25, l2: Double = 1e-10, tol: Double = 1e-9): PoissonModel = {
    // null-model start (the standard GLM init): intercept = log(ȳ) puts
    // the first μ at the label's own scale — from β = 0 the first Newton
    // step on wide-range counts overshoots into the exp clamp and
    // oscillates instead of converging (observed, caught by ml12's
    // honesty assert at sf0.001). Damped Newton: the standardized step is
    // capped at 2 per coordinate — the log link amplifies an overshoot
    // exponentially, and a too-eager early step otherwise bounces off the
    // exp clamp; near the optimum steps are tiny so damping never
    // activates there.
    val (w, b, it, dev) = glmFit(df, featCols, labelCol, "poissonFit",
      col("__y").isNull || col("__y") < 0.0, "non-null and >= 0", iters, l2,
      tol, 2.0, ybar => math.log(math.max(ybar, 1e-12)),
      // per-row terms, replicating the SQL expressions op for op:
      // μ̂ = e^min(η,30), resid = y − μ̂, and the unit deviance
      // 2·(y·(ln y − min(η,30)) − resid), y = 0 term → 2μ̂
      (eta, y) => {
        val etaC = if (eta < 30.0) eta else 30.0
        val muHat = math.exp(etaC)
        val resid = y - muHat
        val devRow = (if (y > 0) y * (math.log(y) - etaC) - resid
          else muHat) * 2.0
        (muHat, resid, devRow)
      })
    PoissonModel(featCols, w, b, it, dev)
  }

  /** Map-only expected-count column: exp(bias + w·x) over raw feature
    * columns — codegen'd built-ins, scores 100 TB at scan speed.
    */
  def poissonScore(model: PoissonModel): Column = {
    val eta = model.featCols.zip(model.weights)
      .map { case (c, wi) => col(c).cast("double") * lit(wi) }
      .foldLeft(lit(model.bias): Column)(_ + _)
    exp(eta)
  }

  /** One learned stump: split feature index, inclusive upper BIN of the
    * left branch, the raw threshold that bin edge denotes, and the two
    * leaf values (learning rate already folded in).
    */
  final case class Stump(feature: Int, splitBin: Int, threshold: Double,
      leftValue: Double, rightValue: Double)

  /** Fitted stump ensemble. [[score]] builds the map-only prediction
    * column (base + Σ stump whens — codegen'd, scores 100 TB at scan
    * speed).
    */
  final case class BoostModel(featCols: Seq[String], mins: Array[Double],
      widths: Array[Double], bins: Int, base: Double, stumps: Seq[Stump],
      roundsRun: Int) {
    private def binExpr(i: Int): Column =
      least(floor((col(featCols(i)).cast("double") - lit(mins(i))) / lit(widths(i))),
        lit(bins - 1)).cast("int")
    def score: Column = stumps.foldLeft(lit(base): Column) { (acc, s) =>
      acc + when(binExpr(s.feature) <= s.splitBin, s.leftValue)
        .otherwise(s.rightValue)
    }
  }

  /** Histogram gradient-boosted STUMPS (squared loss) — the
    * LightGBM-shaped distributed trainer: the model that picks up where
    * linear fits stop (thresholds, interactions-by-addition,
    * piecewise structure) while every boosting round still costs ONE
    * partial-aggregated scan.
    *
    * The histogram trick is the whole scale story: features are binned
    * ONCE into `bins` fixed-width buckets (one min/max stats pass — the
    * binning every histogram GBM performs), and the loop re-scans only
    * the PINNED (label, bin indices) projection. Each round aggregates
    * the d·bins per-bin RESIDUAL SUMS — O(d·bins) doubles to the
    * driver, never a sort, never a per-split scan; per-bin row counts
    * never change, so they ride along round 1's aggregation rather than
    * paying their own pass. The driver sweeps prefix sums over each
    * feature's bins to pick the split maximizing the SSE reduction
    * L²/nL + R²/nR − T²/nT (the no-split term T²/nT subtracted, so
    * the swept gain IS the reduction — after the base/leaf fits the
    * residual total T is ~0, making the subtraction FP dust in the
    * argmax, but it is what gives `tol` its stated meaning), with a
    * DETERMINISTIC tie-break (lowest feature index, then lowest bin) so
    * training is reproducible across partitionings up to FP-sum noise.
    * Leaf values are the residual means scaled by `lr`; the evolving
    * RESIDUAL lives in DATA (each round subtracts its one new stump's
    * delta and re-pins the narrow (residual, bins) projection), so the
    * d·bins aggregation plan is bit-identical every round — analyzed
    * and codegen-compiled once, not once per round — and per-row work
    * is one subtract per round instead of re-evaluating the whole
    * k-stump prediction (O(rounds·n) total, was O(rounds²·n)).
    *
    * Early-stops when the best achievable SSE REDUCTION falls under
    * `tol` — `tol` is a minimum-gain threshold in squared-label units
    * (boosting on an exhausted residual buys nothing), and fail-fasts
    * nulls and zero-variance features on the stats pass like every
    * sibling. Squared loss deliberately: it keeps leaf values
    * closed-form one-pass exact; logistic boosting would need a
    * Newton leaf step per round (see [[logisticFit]] for that loss).
    */
  def boostStumps(df: DataFrame, featCols: Seq[String], labelCol: String,
      rounds: Int = 30, lr: Double = 1.0, bins: Int = 64,
      tol: Double = 1e-12): BoostModel = {
    require(featCols.nonEmpty, "boostStumps: no feature columns")
    require(rounds >= 1 && bins >= 2, "boostStumps: rounds >= 1, bins >= 2")
    val d = featCols.size
    // no pin for the raw projection: it is scanned exactly twice (the
    // stats pass and the binned pin below) — checkpointing a
    // corpus-sized frame to save ONE re-scan is a net loss at scale
    val data = df.select(labelAndFeatures(labelCol, featCols): _*)
    val anyBad = (0 until d).map(i => col(s"__x$i").isNull)
      .foldLeft(col("__y").isNull)(_ || _)
    val stats = data.agg(
      count(lit(1)).as("n"),
      sum(when(anyBad, 1).otherwise(0)).as("bad"),
      array((0 until d).map(i => min(col(s"__x$i"))): _*).as("lo"),
      array((0 until d).map(i => max(col(s"__x$i"))): _*).as("hi"),
      avg(col("__y")).as("ybar")).collect()(0)
    val n = stats.getLong(0)
    require(n > 0, "boostStumps: empty input")
    require(stats.getLong(1) == 0,
      s"boostStumps: label column '$labelCol' and features must be " +
        "non-null — filter or impute first")
    val lo = stats.getSeq[Double](2).toArray
    val hi = stats.getSeq[Double](3).toArray
    val flat = (0 until d).collect { case i if hi(i) == lo(i) => featCols(i) }
    require(flat.isEmpty,
      s"boostStumps: zero-variance feature(s) ${flat.mkString(", ")} — " +
        "drop constants before fitting")
    val base = stats.getDouble(4)
    val widths = Array.tabulate(d)(i => (hi(i) - lo(i)) / bins)
    // Rounds.pinned folds over the (residual, bins) rows: per row, d
    // histogram increments instead of d·bins predicate evals, and the
    // residual lives in DATA — each round maps one subtract (the old
    // growing y − (base + Σ deltas) expression made round k's per-row
    // work O(k), O(rounds²·n) total)
    val binned = data.select(
      ((col("__y") - lit(base)).as("__r") +: (0 until d).map(i =>
        least(floor((col(s"__x$i") - lit(lo(i))) / lit(widths(i))),
          lit(bins - 1)).cast("int").as(s"__b$i"))): _*)
    val rows = binned.rdd.map(row =>
      (row.getDouble(0), Array.tabulate(d)(i => row.getInt(i + 1))))
    Rounds.pinned(rows, n) { loop =>
      // per-bin counts never change — they ride ALONG round 1's
      // aggregation instead of paying their own pass, as doubles after
      // the d·bins residual sums (exact integers below 2⁵³ rows)
      var cnt: Array[Array[Long]] = null
      val stumps = scala.collection.mutable.ArrayBuffer.empty[Stump]
      var r = 0
      var done = false
      while (r < rounds && !done) {
        val dB = d * bins; val withCnt = cnt == null
        val rs = loop.fold(new Array[Double](if (withCnt) 2 * dB else dB))(
          { case (acc, (res, bs)) =>
            var i = 0
            while (i < d) {
              val k = i * bins + bs(i)
              acc(k) += res
              if (withCnt) acc(dB + k) += 1.0
              i += 1
            }
            acc
          },
          addInto)
        if (withCnt)
          cnt = Array.tabulate(d, bins)((i, b) => rs(dB + i * bins + b).toLong)
        // driver sweep: best (gain, feature, splitBin), deterministic order
        var bestGain = 0.0
        var bestF = -1
        var bestB = -1
        var bestL = 0.0
        var bestR = 0.0
        for (i <- 0 until d) {
          var nL = 0L; var sL = 0.0
          val nTot = cnt(i).sum
          val sTot = (0 until bins).map(b => rs(i * bins + b)).sum
          // the no-split SSE term: subtracting it makes `gain` the true
          // SSE reduction, so the `tol` early-stop means "minimum gain"
          // (per-feature because sTot's summation order is per-feature;
          // T ~ 0 after the fits, so this never moves the argmax beyond
          // existing FP-sum noise)
          val noSplit = sTot * sTot / nTot
          for (b <- 0 until bins - 1) {
            nL += cnt(i)(b); sL += rs(i * bins + b)
            val nR = nTot - nL
            if (nL > 0 && nR > 0) {
              val sR = sTot - sL
              val gain = sL * sL / nL + sR * sR / nR - noSplit
              if (gain > bestGain + 1e-15) {
                bestGain = gain; bestF = i; bestB = b
                bestL = lr * sL / nL; bestR = lr * sR / nR
              }
            }
          }
        }
        if (bestF < 0 || bestGain < tol) done = true
        else {
          val thr = lo(bestF) + widths(bestF) * (bestB + 1)
          stumps += Stump(bestF, bestB, thr, bestL, bestR)
          r += 1
          // fold the new stump's delta into the residual DATA — skipped
          // when no further round will read it (last round)
          if (r < rounds) {
            val (f, b, l, rv) = (bestF, bestB, bestL, bestR)
            loop.advance { case (res, bs) => (res - (if (bs(f) <= b) l else rv), bs) }
          }
        }
      }
      BoostModel(featCols, lo, widths, bins, base, stumps.toSeq, r)
    }
  }

  /** Arena-style pairwise win-rate leaderboard with the Wilson score
    * LOWER bound — the ranking a preference pipeline publishes when a
    * full [[bradleyTerryFit]] is overkill or its preconditions (Ford,
    * connectivity) don't hold: an item's rank is its rate's
    * conservative confidence floor, so sparsely-compared items can't
    * top the board on a lucky 2/2.
    *
    * One pass: the comparison log unions into (item, win?) rows and
    * partial-aggregates to per-item totals — no iteration, no joins.
    * `win_rate_x1e6` is exact fixed point with the DECIMAL(38,0)
    * product discipline (wins·10⁶ would wrap a long past ~9.2·10¹²
    * wins — reachable for a popular item at 100 TB of comparisons).
    * `wilson_lo` is double math in a FIXED operation order
    *   (p + z²/2n − z·√(p(1−p)/n + z²/4n²)) / (1 + z²/n)
    * so an oracle restating the same order reproduces it bit-for-bit
    * (+,·,/ and √ are all IEEE-exact); consumers round for display.
    *
    * Null item ids — including non-numeric strings the long cast nulls —
    * FAIL FAST (the ridgeFitPerGroup null-group discipline: they would
    * otherwise collapse into one silent null 'item' row). The check is a
    * raise_error folded into the cast expression, not a driver count:
    * this operator's whole contract is ONE pass with no collect, and the
    * expression fires on the same scan the totals aggregate.
    */
  def winRateLeaderboard(comparisons: DataFrame, winnerCol: String,
      loserCol: String, z: Double = 1.96): DataFrame = {
    def reqId(c: String): Column = {
      // try_cast, not cast: ANSI mode would throw its own (column-less)
      // error on a malformed string before this check could name it
      val cast = expr(s"try_cast(`$c` AS BIGINT)")
      when(cast.isNull, raise_error(concat(
        lit(s"winRateLeaderboard: null or non-numeric id in column '$c' "),
        lit("(value "), coalesce(col(c).cast("string"), lit("NULL")),
        lit(") — null items would collapse into one silent row; filter first"))))
        .otherwise(cast)
    }
    val raw = comparisons.select(reqId(winnerCol).as("__w"),
      reqId(loserCol).as("__l"))
    val totals = raw.select(col("__w").as("item"), lit(1L).as("w"))
      .unionByName(raw.select(col("__l").as("item"), lit(0L).as("w")))
      .groupBy("item")
      .agg(sum(col("w")).as("wins"), count(lit(1)).as("comparisons"))
    val n = col("comparisons").cast("double")
    val p = col("wins").cast("double") / n
    val z2 = lit(z * z)
    val num = p + z2 / (lit(2.0) * n) -
      lit(z) * sqrt(p * (lit(1.0) - p) / n + z2 / (lit(4.0) * n * n))
    totals.select(col("item"), col("wins"), col("comparisons"),
      expr("CAST(CAST(wins AS DECIMAL(38,0)) * 1000000 div comparisons AS BIGINT)")
        .as("win_rate_x1e6"),
      (num / (lit(1.0) + z2 / n)).as("wilson_lo"))
  }

  /** Per-slice ROC AUC — the many-models EVAL face that pairs with the
    * [[ridgeFitPerGroup]]/[[logisticFitPerGroup]] many-models trainers:
    * one AUC per group (per language, per source, per experiment arm)
    * without one job per group, the slice report an eval pipeline
    * publishes next to the global ml2 number (a model can hold 0.9
    * global AUC while a minority slice sits at chance — the global
    * number cannot see it).
    *
    * Same exact doubled-rank-sum identity as the global ml2_auc /
    * stat6_mannwhitney family, per series: with per-(group, score)
    * counts c and positives, the doubled average rank of every row
    * sharing score v is rv = 2·(cum−c) + c + 1 (cum = running count in
    * ascending score order WITHIN the group), and
    *   auc_x1e9 = (Σ_v pos_v·rv − n₁(n₁+1)) · 10⁹ div (2·n₁·n₀)
    * — all-integer DECIMAL(38,0) fixed point (Σ pos·rv ≤ n₁·2n ≤ 2·10²⁴
    * at a trillion rows; ·10⁹ stays inside 38 digits), numerator ≥ 0
    * (minimized when every positive ranks lowest), so DIV and a
    * floor-division oracle agree: engine- and partitioning-exact.
    *
    * Scale shape: ONE partial-aggregated pass melts the corpus to the
    * O(distinct (group, score)) count table; the per-group running
    * count rides ONE multi-series [[Rank.globalRunningSum]] over that
    * table (never a per-group single-task window — a 100 TB slice
    * would funnel through one reducer); the final readout is an O(rv
    * rows) aggregate. No driver collect, no join back to the corpus.
    *
    * Single-class slices (n₁ = 0 or n₀ = 0) emit a NULL auc_x1e9 — a
    * slice report must SHOW degenerate slices, not drop them. Null
    * group / label / score values and labels outside {0,1} FAIL FAST
    * via raise_error folded into the melt pass (the
    * [[winRateLeaderboard]] discipline: no extra scan, and a null
    * would otherwise form a silent null-keyed slice).
    */
  def aucPerGroup(df: DataFrame, groupCol: String, labelCol: String,
      scoreCol: String): DataFrame = {
    def reqNotNull(c: String): Column =
      when(col(c).isNull, raise_error(lit(
        s"aucPerGroup: null value in column '$c' — nulls would form a " +
          "silent null-keyed slice; filter or impute first")))
        .otherwise(col(c))
    val y = {
      val cast = col(labelCol).cast("long")
      when(cast.isNull || (cast =!= 0L && cast =!= 1L), raise_error(concat(
        lit(s"aucPerGroup: label column '$labelCol' must be 0/1, got "),
        coalesce(col(labelCol).cast("string"), lit("NULL")))))
        .otherwise(cast)
    }
    val cnt = df.select(reqNotNull(groupCol).as("__grp"),
        reqNotNull(scoreCol).as("__sc"), y.as("__y"))
      .groupBy("__grp", "__sc")
      .agg(count(lit(1)).as("__c"), sum(col("__y")).as("__pos"))
    val rm = Rank.globalRunningSum(cnt, "__sc", "__c", outCol = "__cum",
      seriesCols = Seq("__grp"), distinctOrders = true)
    val d38 = (c: Column) => c.cast("decimal(38,0)")
    rm.select(col("__grp"), col("__pos"),
        (lit(2) * (col("__cum") - col("__c")) + col("__c") + lit(1)).as("__rv"),
        col("__c"))
      .groupBy("__grp")
      .agg(sum(col("__pos")).as("__np"),
        (sum(col("__c")) - sum(col("__pos"))).as("__nn"),
        sum(d38(col("__pos")) * col("__rv")).as("__r1x2"))
      .select(col("__grp").as(groupCol),
        col("__np").cast("long").as("n_pos"),
        col("__nn").cast("long").as("n_neg"),
        when(col("__np") === 0 || col("__nn") === 0, lit(null))
          .otherwise(expr("""CAST(((__r1x2 - CAST(__np AS DECIMAL(38,0)) * (__np + 1))
                 | * 1000000000) DIV (2 * CAST(__np AS DECIMAL(38,0)) * __nn)
                 | AS BIGINT)""".stripMargin.replace("\n", " ")))
          .cast("long").as("auc_x1e9"))
  }

  /** Preference-pair construction — the DPO/RLHF data-mining shape: for
    * every prompt with at least two scored responses, pair the BEST
    * response (chosen) against the WORST (rejected), dropping prompts
    * whose score spread is under `minMargin` (zero-margin pairs carry no
    * preference signal and RLHF pipelines discard them).
    *
    * Scale shape: ONE partial-aggregated groupBy — argmax and argmin
    * ride `max(struct(score, response))` / `min(struct(...))`, so the
    * per-prompt extremes combine map-side and NO window function (a
    * per-prompt row_number would sort every group) and no second scan
    * exist. Tie-break is the struct's lexicographic order: equal scores
    * resolve to the largest (chosen) / smallest (rejected) response id —
    * deterministic under any partitioning, and exactly restatable as
    * ORDER BY (score DESC, response DESC) / (score ASC, response ASC).
    * `minMargin` ≥ 1 (with integer scores) also guarantees
    * chosen ≠ rejected. Null prompt/response/score FAIL FAST in-
    * expression (the [[aucPerGroup]] discipline — a null would form a
    * silent null-keyed prompt group or a null extreme).
    *
    * Returns (promptCol, chosen, rejected, margin); `margin` in the
    * integer score's own unit.
    */
  def preferencePairs(df: DataFrame, promptCol: String, responseCol: String,
      scoreCol: String, minMargin: Long = 1L): DataFrame = {
    require(minMargin >= 1, s"preferencePairs: minMargin must be >= 1 " +
      s"(zero-margin pairs carry no preference signal), got $minMargin")
    def reqNotNull(c: String): Column =
      when(col(c).isNull, raise_error(lit(
        s"preferencePairs: null value in column '$c' — filter or impute " +
          "first (a null would form a silent null prompt group or extreme)")))
        .otherwise(col(c))
    val b = df.select(reqNotNull(promptCol).as("__p"),
      reqNotNull(responseCol).as("__resp"),
      reqNotNull(scoreCol).cast("long").as("__s"))
    b.groupBy("__p")
      .agg(max(struct(col("__s"), col("__resp"))).as("__mx"),
        min(struct(col("__s"), col("__resp"))).as("__mn"),
        count(lit(1)).as("__n"))
      .filter(col("__n") >= 2 &&
        (col("__mx.__s") - col("__mn.__s")) >= minMargin)
      .select(col("__p").as(promptCol),
        col("__mx.__resp").as("chosen"),
        col("__mn.__resp").as("rejected"),
        (col("__mx.__s") - col("__mn.__s")).as("margin"))
  }

  /** Solve the m×m system h·x = rhs in place — Gaussian elimination with
    * partial pivoting. m = features+1, so this is driver-side microwork;
    * singularity (which l2 > 0 prevents) fails fast.
    */
  private def solve(h: Array[Array[Double]], rhs: Array[Double]): Array[Double] = {
    val m = rhs.length
    val a = Array.tabulate(m)(i => h(i).clone())
    val b = rhs.clone()
    for (colIdx <- 0 until m) {
      var piv = colIdx
      for (r <- colIdx + 1 until m)
        if (math.abs(a(r)(colIdx)) > math.abs(a(piv)(colIdx))) piv = r
      require(math.abs(a(piv)(colIdx)) > 1e-300,
        "Trainer: singular normal system — increase l2")
      if (piv != colIdx) {
        val t = a(piv); a(piv) = a(colIdx); a(colIdx) = t
        val tb = b(piv); b(piv) = b(colIdx); b(colIdx) = tb
      }
      for (r <- colIdx + 1 until m) {
        val f = a(r)(colIdx) / a(colIdx)(colIdx)
        if (f != 0.0) {
          for (c <- colIdx until m) a(r)(c) -= f * a(colIdx)(c)
          b(r) -= f * b(colIdx)
        }
      }
    }
    val x = new Array[Double](m)
    for (r <- (m - 1) to 0 by -1) {
      var s = b(r)
      for (c <- r + 1 until m) s -= a(r)(c) * x(c)
      x(r) = s / a(r)(r)
    }
    x
  }

  /** Map-only scoring column: σ(bias + w·x) over raw feature columns —
    * codegen'd built-ins only, the shape that scores 100 TB at scan
    * speed after a sampled fit.
    */
  def logisticScore(model: LogisticModel): Column = {
    val margin = model.featCols.zip(model.weights)
      .map { case (c, wi) => col(c).cast("double") * lit(wi) }
      .foldLeft(lit(model.bias): Column)(_ + _)
    lit(1.0) / (lit(1.0) + exp(-margin))
  }

  /** Bradley–Terry strength MLE over raw pairwise outcomes
    * (`winnerCol`, `loserCol` item ids per comparison row) via the
    * Hunter (2004) MM update
    *   wᵢ ← Wᵢ / Σ_j nᵢⱼ / (wᵢ + wⱼ),
    * normalized each round to geometric mean 1 (the likelihood is
    * scale-invariant; without renormalizing, strengths drift).
    *
    * Scale shape: comparisons aggregate ONCE to unordered pair counts
    * (the only pass over the raw log — billions of comparisons become
    * O(observed pairs) rows); each MM round is then two broadcast-or-
    * shuffle joins of the pair table against the current strengths and
    * one per-item aggregation — state stays distributed (items can be
    * millions), rounds pinned via [[Materialize]] and released with
    * releaseSuperseded like kCore/pageRank. Driver state: one double
    * (the geometric-mean normalizer).
    *
    * MLE existence (Ford 1957) needs every item to both win and lose at
    * least once — items violating that send wᵢ to 0/∞, so they FAIL
    * FAST with a descriptive message (checked on the pair-count pass).
    * CONNECTIVITY of the comparison graph is by default the caller's
    * contract (a disconnected graph fits each component on its own
    * arbitrary scale — cross-component comparisons are meaningless);
    * pass `checkConnectivity = true` to verify it up front with a
    * [[Dedup.connectedComponents]] run over the pair table (one extra
    * bounded pass; worth it whenever the comparison design is not known
    * by construction) — a disconnected graph then fails fast naming the
    * component count instead of silently fitting per-component scales.
    *
    * `tol` > 0 enables EARLY STOPPING: the fit ends once no item's
    * normalized log-strength moved more than `tol` in a round (MM
    * converges linearly, so a fixed `rounds` either under-iterates a
    * hard fit or buys precision nothing reads on an easy one — and each
    * round is a full pin+join+agg pass, the real cost at scale). The
    * movement check rides the existing per-round normalizer aggregation
    * — same pass count, two extra scalars: max/min of
    * log(s_new/s_old) over a join of the round's pin against the
    * previous one, recentred by the normalizer shift. `tol = 0`
    * (default) keeps the exact fixed-`rounds` behavior. The rounds
    * actually run land in [[btRoundsRun]] (driver-side diagnostic).
    *
    * Returns (item, strength, wins, comparisons).
    */
  /** MM rounds the last [[bradleyTerryFit]] ON THIS THREAD actually ran
    * (driver-side diagnostic for specs/ops dashboards — early-stopped
    * fits report fewer than their `rounds` cap). Thread-local so
    * concurrent fits (a multi-session driver, parallel test suites)
    * can't clobber each other's diagnostic; a fit's count is readable
    * only from the thread that ran it. Not part of the result contract —
    * consumers that need rounds durably should early-stop via `tol` and
    * log this immediately after the fit returns.
    */
  val btRoundsRun: ThreadLocal[Integer] =
    ThreadLocal.withInitial[Integer](() => Integer.valueOf(0))

  def bradleyTerryFit(comparisons: DataFrame, winnerCol: String,
      loserCol: String, rounds: Int = 30, tol: Double = 0.0,
      checkConnectivity: Boolean = false): DataFrame = {
    val raw = comparisons.select(col(winnerCol).cast("long").as("__w"),
      col(loserCol).cast("long").as("__l"))
    // One pass: unordered pair counts with per-side win splits.
    val pairs = Materialize(raw
      .select(least(col("__w"), col("__l")).as("i"),
        greatest(col("__w"), col("__l")).as("j"),
        when(col("__w") < col("__l"), 1L).otherwise(0L).as("wi"))
      .groupBy("i", "j")
      .agg(count(lit(1)).as("nij"), sum(col("wi")).as("wins_i")))
    try {
      require(pairs.filter(col("i") === col("j")).isEmpty,
        "bradleyTerryFit: self-comparisons (winner == loser) are undefined")
      // Per-item totals — also the Ford-condition fail-fast pass.
      val totals = Materialize(
        pairs.select(col("i").as("item"), col("wins_i").as("w"), (col("nij") - col("wins_i")).as("l"))
          .unionByName(pairs.select(col("j").as("item"),
            (col("nij") - col("wins_i")).as("w"), col("wins_i").as("l")))
          .groupBy("item")
          .agg(sum("w").as("wins"), sum("l").as("losses"),
            (sum("w") + sum("l")).as("comparisons")))
      val degenerate = totals.filter(col("wins") === 0 || col("losses") === 0)
      require(degenerate.isEmpty,
        "bradleyTerryFit: item(s) with zero wins or zero losses — the MLE " +
          s"diverges (Ford 1957); first offenders: ${degenerate.limit(3).collect().mkString(", ")}")
      if (checkConnectivity) {
        val nComp = Dedup.connectedComponents(
            pairs.select(col("i").as("a_id"), col("j").as("b_id")),
            totals.select(col("item")), idCol = "item")
          .agg(count_distinct(col("comp"))).collect()(0).getLong(0)
        require(nComp <= 1L,
          s"bradleyTerryFit: comparison graph has $nComp connected " +
            "components — strengths across components share no scale " +
            "(each component's likelihood is invariant to its own " +
            "multiplier); fit per component, or add bridging comparisons")
      }

      // UN-normalized strengths are pinned each round; the geometric-mean
      // division rides as a lazy projection over the pin, so the round's
      // join chain is evaluated ONCE (the pin) and the normalizer agg
      // reads the 4-to-millions cached rows, never the joins again.
      var pin = Materialize(totals.select(col("item"), lit(1.0).as("s")))
      var strengths: DataFrame = pin
      var prevPin: Option[DataFrame] = None
      var r = 0
      var lmPrev = 0.0 // avg log of the CURRENT pin (all-ones → 0)
      var converged = false
      while (r < rounds && !converged) {
        val si = strengths.select(col("item").as("i"), col("s").as("s_i"))
        val sj = strengths.select(col("item").as("j"), col("s").as("s_j"))
        val contrib = pairs.join(si, "i").join(sj, "j")
          .select(col("i"), col("j"),
            (col("nij").cast("double") / (col("s_i") + col("s_j"))).as("c"))
        val denom = contrib.select(col("i").as("item"), col("c"))
          .unionByName(contrib.select(col("j").as("item"), col("c")))
          .groupBy("item").agg(sum("c").as("denom"))
        val next = Materialize(totals.join(denom, "item")
          .select(col("item"), (col("wins").cast("double") / col("denom")).as("s")))
        // geometric-mean renormalization (the likelihood is scale-
        // invariant; without it strengths drift): one tiny agg on the pin.
        // With tol > 0 the SAME pass also measures convergence: join the
        // new pin against the previous one and take max/min of
        // d = log(s_new/s_old); in normalized space each item moved
        // d − (lmNext − lmPrev), so max-abs movement over ALL items is
        // max(maxD − shift, shift − minD) — two extra scalars, no extra
        // round trip.
        val logMean =
          if (tol > 0) {
            val d = log(col("s")) - log(col("s_old"))
            val row = next
              .join(pin.select(col("item"), col("s").as("s_old")), "item")
              .agg(avg(log(col("s"))), max(d), min(d)).collect()(0)
            val lmNext = row.getDouble(0)
            val shift = lmNext - lmPrev
            val move = math.max(row.getDouble(1) - shift, shift - row.getDouble(2))
            converged = move < tol
            lmNext
          } else next.agg(avg(log(col("s")))).collect()(0).getDouble(0)
        prevPin.foreach(Materialize.releaseSuperseded)
        prevPin = Some(pin)
        pin = next
        lmPrev = logMean
        strengths = next.select(col("item"),
          (col("s") / lit(math.exp(logMean))).as("s"))
        r += 1
      }
      btRoundsRun.set(r)
      prevPin.foreach(Materialize.releaseSuperseded)
      strengths.join(totals.select("item", "wins", "comparisons"), "item")
        .select(col("item"), col("s").as("strength"), col("wins"),
          col("comparisons"))
    } finally Materialize.releaseSuperseded(pairs)
  }
}
