package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling and split assignment for training-data
  * pipelines. `df.sample`/`rand(seed)` are partitioning-dependent — the
  * same row can land in different samples after a repartition or AQE
  * re-plan. These operators hash the row's stable id instead: the sample
  * is a pure function of (id, salt), reproducible across runs, engines,
  * cluster sizes, and re-partitioning — which is what makes a train/val
  * split auditable at 100 TB. Map-only, no shuffle.
  */
object Sampling {

  /** Stable 32-bit hash value from md5(id || salt) — md5 (not xxhash64) so
    * external systems (and the DuckDB oracle) can reproduce it exactly.
    */
  def hashValue(id: Column, salt: String): Column =
    conv(substring(md5(concat(id.cast("string"), lit(salt))), 1, 8), 16, 10)
      .cast("long")

  /** Stable bucket in [0, buckets) from md5(id || salt). */
  def hashBucket(id: Column, salt: String, buckets: Int = 100): Column =
    hashValue(id, salt) % buckets

  /** Assign train/val/test split labels by hash bucket:
    * [0,trainPct) → train, [trainPct,trainPct+valPct) → val, rest → test.
    */
  def assignSplit(df: DataFrame, idCol: String, trainPct: Int, valPct: Int,
      salt: String = "graft"): DataFrame = {
    val b = hashBucket(col(idCol), salt)
    df.withColumn("split",
      when(b < trainPct, "train")
        .when(b < trainPct + valPct, "val")
        .otherwise("test"))
  }

  /** Leakage-safe split: [[assignSplit]] keyed on the NEAR-DUP CLUSTER
    * representative instead of the row id, so every member of a
    * connected near-duplicate family lands in the same split. A plain
    * id-hash split leaks: a doc in train and its near-copy in test
    * inflates eval. Feed `edges` from any of the pair generators
    * (MinHash/LSH, SimHash, n-gram Jaccard); docs untouched by any edge
    * are their own singleton cluster. Split membership stays a pure
    * function of (cluster representative, salt) — reproducible across
    * runs and partitionings, auditable via the emitted `comp` column.
    *
    * Cost = the connected-components pass (driver union-find under the
    * documented edge gate, label propagation above it) + one broadcast
    * join of the touched-vertex labels; the split itself is map-only.
    */
  def leakageSafeSplit(df: DataFrame, idCol: String, edges: DataFrame,
      trainPct: Int, valPct: Int, salt: String = "graft"): DataFrame = {
    require(trainPct >= 0 && valPct >= 0 && trainPct + valPct <= 100,
      "percentages must be within [0, 100]")
    val comp = Dedup.connectedComponents(edges, df.select(col(idCol).as("doc_id")))
      .select(col("doc_id").as("__id"), col("comp"))
    val b = hashBucket(col("comp"), salt)
    df.join(comp, col(idCol) === col("__id"), "left")
      .withColumn("comp", coalesce(col("comp"), col(idCol)))
      .drop("__id")
      .withColumn("split",
        when(b < trainPct, "train")
          .when(b < trainPct + valPct, "val")
          .otherwise("test"))
  }

  /** Stratified deterministic sample: a different keep-percentage per
    * stratum (e.g. downsample boilerplate-heavy sources hard, keep rare
    * ones whole — the standard training-mixture operation). Membership
    * is still a pure function of (id, salt): map-only, no shuffle,
    * reproducible anywhere; strata missing from `pctByStratum` keep
    * `defaultPct`.
    */
  def stratifiedSample(df: DataFrame, stratumCol: String, idCol: String,
      pctByStratum: Map[String, Int], defaultPct: Int,
      salt: String = "graft"): DataFrame = {
    val pct = pctByStratum.foldLeft(lit(defaultPct)) { case (acc, (s, p)) =>
      when(col(stratumCol) === s, lit(p)).otherwise(acc)
    }
    df.filter(hashBucket(col(idCol), salt) < pct)
  }

  /** Deterministic k-fold cross-validation assignment: fold =
    * md5(id || salt) mod k — a pure function of the id, so fold
    * membership survives any repartitioning, engine, or re-run (the
    * property that makes CV results reproducible and leakage-auditable
    * at corpus scale). Map-only. Stratification comes free: hashing is
    * independent of any stratum column, so folds are balanced within
    * every stratum in expectation.
    */
  def kFold(df: DataFrame, idCol: String, k: Int,
      salt: String = "graft"): DataFrame = {
    require(k >= 2, "need at least 2 folds")
    df.withColumn("fold", (hashValue(col(idCol), salt) % k).cast("int"))
  }

  /** Deterministic "reservoir" of `n` rows per group: the n rows with the
    * smallest md5(id || salt) — equivalent in distribution to uniform
    * sampling without replacement, but a pure function of the ids, so the
    * same rows are chosen under any partitioning, engine, or cluster size.
    * Runs on the bounded-heap top-k (map-side partial), never a window
    * sort over the full group.
    */
  def reservoirPerGroup(df: DataFrame, groupCol: String, idCol: String,
      n: Int, salt: String = "graft"): DataFrame = {
    // smallest hash wins → negate for the keep-the-highest heap
    val score = -hashValue(col(idCol), salt).cast("double")
    capPerGroup(df, groupCol, score, idCol, n)
  }

  /** Keep at most `n` rows per group, preferring the highest `scoreCol`
    * (ties → smallest `idCol`). Runs on the bounded-heap top-k aggregate —
    * map-side partial top-k, never a per-partition window sort — then
    * semi-joins the surviving ids back to recover full rows.
    *
    * `idCol` must be integral (the heap keys on long, and the semi-join
    * equates the long back to the original column): a non-numeric id would
    * cast to null and silently drop every row, so it is rejected here.
    */
  def capPerGroup(df: DataFrame, groupCol: String, scoreCol: Column,
      idCol: String, n: Int): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    require(Set[org.apache.spark.sql.types.DataType](ByteType, ShortType, IntegerType, LongType)
      .contains(df.schema(idCol).dataType),
      s"capPerGroup requires an integral id column; '$idCol' is ${df.schema(idCol).dataType.sql}")
    val keep = Similarity.topKPerKey(
      df.select(col(groupCol), scoreCol.cast("double").as("__score"),
        col(idCol).cast("long").as("__id")),
      groupCol, col("__score"), col("__id"), n)
      .select(col(groupCol), col("id").as(idCol))
    df.join(keep, Seq(groupCol, idCol), "left_semi")
      .select(df.columns.map(col).toIndexedSeq: _*)
  }

  /** Deterministic source-mixture sampling — the training-mixture
    * operation stated as TARGET PROPORTIONS instead of per-source rates:
    * given weights (e.g. web 0.5 / books 0.3 / wiki 0.2), downsample each
    * source so the output follows the weights exactly in expectation,
    * keeping as much data as feasible — the binding source (smallest
    * nₛ/wₛ) is kept whole and every other source is thinned to match.
    *
    * Sources absent from `weights` are dropped; weighted sources absent
    * from the data are ignored (the mixture re-normalizes over what
    * exists). Membership is a pure function of (id, salt) like every
    * sampler here.
    *
    * Scale shape: one partial-aggregated count per source (a few rows to
    * the driver), then the corpus scan is MAP-ONLY — per-source keep
    * rates ride the plan as literals; no join, no second shuffle.
    */
  def mixtureSample(df: DataFrame, sourceCol: String, idCol: String,
      weights: Map[String, Double], salt: String = "graft"): DataFrame = {
    require(weights.nonEmpty, "mixture weights must be non-empty")
    require(weights.values.forall(_ > 0.0), "mixture weights must be positive")
    require(df.schema(sourceCol).dataType == org.apache.spark.sql.types.StringType,
      s"mixture source column must be string; '$sourceCol' is ${df.schema(sourceCol).dataType.sql}")
    val counts = df.filter(col(sourceCol).isin(weights.keys.toSeq: _*))
      .groupBy(sourceCol).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val present = weights.filter { case (s, _) => counts.getOrElse(s, 0L) > 0L }
    if (present.isEmpty) return df.filter(lit(false))
    // max feasible total preserving the proportions: T = min nₛ/wₛ;
    // keep rate per source = wₛ·T/nₛ (exactly 1 for the binding source)
    val feasibleTotal = present.map { case (s, w) => counts(s).toDouble / w }.min
    val rate = present.foldLeft(lit(Double.NaN)) { case (acc, (s, w)) =>
      when(col(sourceCol) === s, lit(w * feasibleTotal / counts(s))).otherwise(acc)
    }
    // u ∈ [0,1) with 2⁻³² granularity — rate 1.0 keeps every row
    val u = hashValue(col(idCol), salt).cast("double") / lit(4294967296.0)
    df.filter(col(sourceCol).isin(present.keys.toSeq: _*) && u < rate)
  }

  /** Deterministic weighted reservoir of `n` rows per group
    * (Efraimidis–Spirakis A-ES): each row draws u = md5-uniform(0, 1]
    * from its id and competes with key u^(1/weight); the n largest keys
    * win, so inclusion probability is proportional to weight, without
    * replacement. Like [[reservoirPerGroup]] this is a pure function of
    * (id, salt): the same rows are chosen under any partitioning, engine,
    * or cluster size, and it runs on the bounded-heap top-k aggregate
    * (map-side partial) — never a window sort over the group.
    *
    * `weightCol` must be strictly positive.
    */
  def weightedReservoirPerGroup(df: DataFrame, groupCol: String,
      idCol: String, weightCol: Column, n: Int,
      salt: String = "graft"): DataFrame = {
    // +1 keeps u away from 0 (u = 0 would give key 0^(1/w) for every
    // weight — a deterministic loser, biasing against that id)
    val u = (hashValue(col(idCol), salt) + lit(1L)).cast("double") /
      lit(4294967296.0)
    capPerGroup(df, groupCol, pow(u, lit(1.0) / weightCol.cast("double")),
      idCol, n)
  }

  /** Poisson(1) CDF breakpoints for the inverse-CDF draw below
    * (package-visible so the oracle SQL is generated from the SAME
    * doubles — constants can't drift between engine and oracle).
    */
  private[graft] val poissonCdf1: Seq[Double] = {
    // cumulative e^-1 * sum(1/i!) for i = 0..7; beyond 8 occurrences the
    // tail mass is ~1e-6 and the draw saturates at 8
    val e1 = math.exp(-1.0)
    Seq.iterate((e1, e1, 1.0, 0), 8) { case (cum, term, fact, i) =>
      val f = fact * (i + 1); (cum + e1 / f, e1 / f, f, i + 1)
    }.map(_._1)
  }

  /** Deterministic Poisson(1) bootstrap multiplicity of a row in
    * replicate `r`. The online/Poisson bootstrap: resampling n rows WITH
    * replacement ≈ giving each row an independent Poisson(1) count —
    * the formulation that needs no global n, no sort, no shuffle
    * (Chamandy et al. 2012, "Estimating Uncertainty for Massive Data
    * Streams"). The draw is inverse-CDF on u = md5(id‖salt‖r)/2³² — a
    * pure function of the id like every sampler here, so replicate
    * membership is partitioning-invariant and external engines (the
    * DuckDB oracle included) reproduce it bit-exactly: u is an exact
    * power-of-two division and both engines compare against the same
    * 17-digit CDF literals.
    */
  def bootstrapCount(id: Column, replicate: Int, salt: String = "graft"): Column = {
    val u = hashValue(id, s"$salt:boot$replicate").cast("double") /
      lit(4294967296.0)
    poissonCdf1.zipWithIndex.foldRight(lit(8): Column) { case ((c, i), acc) =>
      when(u < lit(c), lit(i)).otherwise(acc)
    }
  }

  /** Explode `reps` bootstrap replicates: one row per (input row,
    * replicate) with its multiplicity `m` (zero-count pairs dropped —
    * they contribute nothing to any weighted aggregate). Map-only; the
    * output is ~`reps` × input size, which is why bootstrap aggregates
    * should reduce per replicate immediately after this.
    *
    * The uniform draw is materialized in its OWN projection before the
    * CASE chain: inlining it would re-evaluate the md5 pipeline once per
    * CASE arm (9× per replicate — measured 2.4× slower end to end);
    * keeping `u` a separate non-cheap alias stops CollapseProject from
    * duplicating it.
    */
  def bootstrapReplicates(df: DataFrame, idCol: String, reps: Int,
      salt: String = "graft"): DataFrame = {
    require(reps >= 1, "need at least 1 replicate")
    val u = conv(substring(md5(concat(col(idCol).cast("string"),
      lit(s"$salt:boot"), col("replicate").cast("string"))), 1, 8), 16, 10)
      .cast("long").cast("double") / lit(4294967296.0)
    val m = poissonCdf1.zipWithIndex.foldRight(lit(8): Column) { case ((c, i), acc) =>
      when(col("u") < lit(c), lit(i)).otherwise(acc)
    }
    // reps × (md5 + base-conv) per input row is the heaviest map in the
    // sampling family — floor its parallelism at the core count when the
    // input arrives as fewer splits (single-row-group files); a no-op,
    // and no added exchange, on real multi-split inputs (Rounds.widen)
    Rounds.widen(df)
      .withColumn("replicate", explode(array((0 until reps).map(r => lit(r)): _*)))
      .withColumn("u", u)
      .withColumn("m", m)
      .filter(col("m") > 0)
      .drop("u")
  }

  /** Deterministic per-group cost-budget selection: within each group,
    * walk the rows in shuffled-but-reproducible order (md5 hash of id,
    * ties by id) and keep rows while the running `costCol` total stays
    * within `budget` — "sample ~N tokens per domain", the data-mixing
    * primitive (a fixed per-domain RATE can't hit a token target when
    * domain sizes skew; a budget walk does, and stays auditable because
    * the kept set is a pure function of ids).
    *
    * A row whose cost would cross the budget is dropped and, because the
    * walk order is a hash shuffle (not size order), everything after it
    * in that group is dropped too — the kept set is a strict prefix of
    * the group's shuffled order, so re-runs with a LARGER budget only
    * ever add rows (monotone, the property that makes budget sweeps
    * comparable).
    *
    * Scale shape: the running sum is NOT one window per group (a single
    * reducer per domain at 100 TB) but the family's distributed prefix
    * sum ([[Rank.bucketStats]]) with the group as its series: the hash
    * key is range-segmented, and the window runs within (group,
    * segment). Emits `budget_run` (the inclusive running cost) so the
    * selection is self-auditing.
    */
  def budgetPerGroup(df: DataFrame, groupCol: String, idCol: String,
      costCol: String, budget: Long, salt: String = "graft",
      numPartitions: Int = 0): DataFrame =
    groupRunningCost(df, groupCol, idCol, costCol, salt, numPartitions)
      .filter(col("budget_run") <= budget)

  /** The walk underneath [[budgetPerGroup]], unfiltered: every row with
    * its inclusive running `costCol` total (`budget_run`) along the
    * group's deterministic hash order. Also the building block for
    * per-group positions: cost 1 makes `budget_run` a 1-based
    * row number computed by distributed prefix-sum instead of one
    * window per group.
    *
    * Null discipline: a null group key, a null id or a null/uncastable
    * cost FAILS FAST (IllegalArgumentException in the same aggregation
    * pass that builds the segment totals — no extra scan). Silently dropping such
    * rows would corrupt the budget semantics (the kept set must be a
    * pure function of the full input); callers with legitimately
    * optional groups filter explicitly first.
    */
  def groupRunningCost(df: DataFrame, groupCol: String, idCol: String,
      costCol: String, salt: String = "graft",
      numPartitions: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val op = "groupRunningCost"
    val b = Rank.bucketStats(op, hashKeyed(op, df, idCol, salt), "__k",
      numPartitions, Seq(groupCol), orderName = idCol)(
      sum(col(costCol).cast("long")).as("t"),
      count(when(col(costCol).isNull || col(costCol).cast("long").isNull,
        lit(1))).as("__badCost"))
    require(b.rows.forall(_.getLong(3) == 0L),
      s"groupRunningCost: null or uncastable values in cost column '$costCol' " +
        "— filter or repair them explicitly first")
    val offDf = b.offsetTable(0).toDF("__grp", "__g2", "__off")
    val local = Window.partitionBy(col(groupCol), col("__g"))
      .orderBy(col("__k"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    b.grouped
      .join(broadcast(offDf),
        col(groupCol) === col("__grp") && col("__g") === col("__g2"))
      .withColumn("budget_run",
        col("__off") + sum(col(costCol).cast("long")).over(local))
      .drop("__k", "__g", "__grp", "__g2", "__off")
  }

  /** Probability-proportional-to-size SYSTEMATIC sampling (Madow 1949
    * — the πps design survey statisticians and data-curation pipelines
    * use when big documents should be sampled proportionally more
    * often, with the low variance of systematic spacing): arrange
    * units in the id order, accumulate integer weights, and select the
    * unit covering each skip point offset + i·step (step = W DIV k).
    * A unit whose weight spans several points is drawn with
    * MULTIPLICITY (`copies` — exactly the Madow design; weights larger
    * than step make first-order inclusion probabilities cap at 1 with
    * the remainder carried by copies). Every step is integer
    * arithmetic — the skip-point count inside a unit's cumulative
    * interval (lo, hi] is (hi−o+step) DIV step − (lo−o+step) DIV step,
    * kept non-negative on both operands (offset ≤ step, enforced) so
    * DIV == floor == an oracle's `//` — making the drawn sample
    * engine- and partitioning-exact, not merely equal in expectation
    * (the hash-Bernoulli samplers' weaker guarantee).
    *
    * Scale shape: ONE [[Rank.globalRunningSum]] over the id order (the
    * two-pass distributed prefix sum — no single-reducer window), the
    * (W, step) totals as a one-row broadcast, then a map-only select.
    * Weights must be ≥ 1 (null/zero/negative fail fast — a zero-weight
    * unit has no interval and a negative one corrupts every cumsum
    * after it); W < k fails fast (step would be 0).
    *
    * Output: (id, weight, cum, copies) for selected units only;
    * Σ copies == (W − offset) DIV step + 1 exactly (spec-pinned).
    */
  def ppsSystematic(df: DataFrame, idCol: String, weightCol: String,
      k: Int, offset: Long = 1L): DataFrame = {
    require(k >= 1, s"ppsSystematic: k must be >= 1, got $k")
    require(offset >= 1L,
      s"ppsSystematic: offset must be >= 1, got $offset")
    val w = when(col(weightCol).isNull || col(weightCol) < 1L,
      raise_error(concat(lit(s"ppsSystematic: weight '$weightCol' must " +
        "be a positive integer, got "),
        coalesce(col(weightCol).cast("string"), lit("NULL")))))
      .otherwise(col(weightCol).cast("long"))
    val base = df.select(col(idCol).as("__id"), w.as("__w"))
    val cum = Rank.globalRunningSum(base, "__id", "__w", outCol = "__cum")
    val tot = base.groupBy().agg(sum(col("__w")).as("__tw"))
      .select(col("__tw"),
        when(col("__tw") < lit(k.toLong), raise_error(lit(
          s"ppsSystematic: total weight below k = $k — step would be 0; " +
            "fewer units than draws")))
          .otherwise(expr(s"__tw DIV $k")).as("__step"))
      .select(col("__tw"), col("__step"),
        when(lit(offset) > col("__step"), raise_error(lit(
          s"ppsSystematic: offset $offset exceeds step — the first " +
            "skip point would fall outside the first interval; use " +
            "offset in [1, step]")))
          .otherwise(lit(offset)).as("__o"))
    cum.crossJoin(broadcast(tot))
      .withColumn("copies",
        expr("(__cum - __o + __step) DIV __step - " +
          "(__cum - __w - __o + __step) DIV __step"))
      .filter(col("copies") > 0L)
      .select(col("__id").as(idCol), col("__w").as("weight"),
        col("__cum").as("cum"), col("copies"))
  }

  /** Deterministic global corpus shuffle: add `shuffle_pos` — the row's
    * 0-based position in ascending (md5(id ‖ salt), id) order — the
    * "shuffle the corpus once, read it sequentially" step before
    * training. Because the key is a pure function of the id, the
    * permutation is identical under any partitioning, engine, or re-run
    * (a `rand(seed)`-keyed sort is not: seeds are per-partition), and an
    * external reader can verify it from the ids alone.
    *
    * The position is NOT a global window (single task at scale) but the
    * family's distributed prefix sum ([[Rank.bucketStats]]) over the hash
    * key (uniform, so buckets balance): per-bucket counts, exclusive
    * offsets, row_number within each bucket. A null id fails fast. To
    * MATERIALIZE the shuffled corpus at 100 TB, write with
    * `.repartitionByRange(col("shuffle_pos"))` + sortWithinPartitions —
    * sorted files, no single-task stage anywhere.
    *
    * Hash ties (32-bit key space) are broken by id, so the order is
    * total for unique ids.
    */
  def deterministicShuffle(df: DataFrame, idCol: String,
      salt: String = "graft", numPartitions: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val op = "deterministicShuffle"
    val b = Rank.bucketStats(op, hashKeyed(op, df, idCol, salt), "__k",
      numPartitions, orderName = idCol)(count(lit(1)).as("n"))
    val local = Window.partitionBy("__g").orderBy(col("__k"), col(idCol))
    b.grouped
      .withColumn("shuffle_pos",
        b.offsetExpr(0) + row_number().over(local).cast("long") - 1L)
      .drop("__k", "__g")
  }

  /** The frame the two hash-ordered walks ([[deterministicShuffle]],
    * [[groupRunningCost]]) bucket on: `__k` = [[hashValue]] of the id,
    * null iff the id is null. A caller `__k` column would be silently
    * overwritten, so it fails fast like `__g` ([[Rank.requireFree]]).
    */
  private def hashKeyed(op: String, df: DataFrame, idCol: String,
      salt: String): DataFrame = {
    Rank.requireFree(op, df, "__k", "hash-key")
    df.withColumn("__k", hashValue(col(idCol), salt))
  }

  /** Temperature-scaled source mixture at α = 1/2 (the UnifiedQA /
    * multilingual-LM "T = 2" recipe): per-source quotas proportional to
    * `sqrt(Σ cost)` — between proportional sampling (α = 1, big sources
    * dominate) and uniform (α = 0, tail sources oversampled to noise).
    * Where [[mixtureSample]] needs the weights handed in, this derives
    * them FROM the corpus: quotaₛ = ⌊targetN · sₛ / Σ s⌋ with
    * sₛ = ⌊√(Σ costₛ)⌋ — floor of an IEEE sqrt, which is exact for any
    * integer < 2⁵², so the quotas (and therefore the kept set) are
    * engine- and partitioning-exact with no float boundary.
    *
    * Selection is the first `quotaₛ` docs of each source's deterministic
    * md5 walk, via [[groupRunningCost]] at cost 1 — the distributed
    * prefix-sum, NOT one window per source (a single reducer per domain
    * at 100 TB). Per-source totals and quotas are a |sources|-row
    * broadcast. Monotone in targetN: a larger budget only adds rows.
    * Emits `mix_pos` (1-based position in the walk) so the pick is
    * self-auditing.
    */
  def temperatureSample(df: DataFrame, sourceCol: String, idCol: String,
      costCol: String, targetN: Long, salt: String = "graft"): DataFrame = {
    require(targetN > 0, "targetN must be positive")
    val stats = df.groupBy(sourceCol)
      .agg(sum(col(costCol).cast("long")).as("__cost"),
        count(when(col(costCol).isNull || col(costCol).cast("long").isNull,
          lit(1))).as("__badCost"))
      .withColumn("__s", floor(sqrt(col("__cost").cast("double"))).cast("long"))
    // Degenerate cost input must FAIL, not silently return an empty or
    // skewed sample (groupRunningCost's null discipline — its own check
    // never fires here because the walk runs on a synthetic cost of 1):
    // null/uncastable costs would occupy walk positions while adding no
    // quota mass; zero total mass would null every quota via div.
    val statRows = stats.collect()
    require(statRows.forall(_.getLong(2) == 0L),
      s"temperatureSample: null or uncastable values in cost column '$costCol' " +
        "— filter or repair them explicitly first")
    require(statRows.forall(r => !r.isNullAt(1) && r.getLong(1) >= 0L),
      s"temperatureSample: cost column '$costCol' must be non-negative per source")
    require(statRows.map(r =>
        math.sqrt(r.getLong(1).toDouble).toLong).sum > 0L,
      "temperatureSample: total sqrt cost mass is zero — no quota can be assigned")
    // Quotas come straight from the ALREADY-collected |sources|-row stats:
    // the aggregate runs exactly once. (The previous shape re-ran the
    // same groupBy twice more as separate jobs — once for Σs, once for
    // the quota projection.) BigInt division: targetN·s would overflow
    // BIGINT for petascale budgets and, under ANSI-off, silently null
    // the quota; driver-side 128-bit math has no such edge.
    val stot = statRows.map(_.getLong(3)).sum
    val srcField = stats.schema.head
    val quotaRows: Seq[org.apache.spark.sql.Row] = statRows.toSeq.map { r =>
      org.apache.spark.sql.Row(r.get(0),
        (BigInt(targetN) * r.getLong(3) / stot).toLong)
    }
    val quota = df.sparkSession.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(quotaRows).asJava,
      org.apache.spark.sql.types.StructType(Seq(srcField,
        org.apache.spark.sql.types.StructField("__quota",
          org.apache.spark.sql.types.LongType, nullable = false))))
    groupRunningCost(df.withColumn("__one", lit(1L)), sourceCol, idCol,
        "__one", salt)
      .withColumnRenamed("budget_run", "mix_pos")
      .join(broadcast(quota), Seq(sourceCol))
      .filter(col("mix_pos") <= col("__quota"))
      .drop("__one", "__quota")
  }
}
