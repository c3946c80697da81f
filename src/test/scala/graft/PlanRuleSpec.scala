package graft

import graft.operators.TextAnalysis
import org.apache.spark.sql.functions._

/** The injected optimizer rules (JaccardPrefilterRule, RangeJoinRule),
  * as GraftExtensions installs them in the shared session: threshold
  * predicates over provably-distinct shingle sets gain a size-ratio
  * prefilter; opaque columns and OR-nested predicates do not.
  */
class PlanRuleSpec extends SparkSpec {

  import spark.implicits._

  // parquet-backed (a local Seq would be folded to a LocalRelation by
  // ConvertToLocalRelation before the plan can be inspected)
  private lazy val docs = graft.sources.Tables
    .load(spark, "/root/testdata/sf0.001", "documents")
    .select(col("doc_id").as("id"), col("text").as("ta"),
      concat(col("text"), lit(" zz qq")).as("tb"))

  private def jaccardFilter = docs.filter(
    graft.functions.SketchFunctions.jaccard_sim(
      TextAnalysis.shingles(col("ta"), 2),
      TextAnalysis.shingles(col("tb"), 2)) >= 0.5)

  test("rule injects size bounds for distinct-by-construction inputs; results unchanged") {
    // rule-OFF baseline: the session carries the rule, so exclude it by name
    val excluded = "spark.sql.optimizer.excludedRules"
    spark.conf.set(excluded, graft.plans.JaccardPrefilterRule.ruleName)
    val without = try {
      val plan = jaccardFilter.queryExecution.optimizedPlan.toString
      assert(!plan.contains("size("), s"baseline must not carry the prefilter:\n$plan")
      jaccardFilter.select("id").as[Long].collect().toSet
    } finally spark.conf.unset(excluded)
    val plan = jaccardFilter.queryExecution.optimizedPlan.toString
    assert(plan.contains("size("), s"expected size prefilter in:\n$plan")
    // idempotent under the fixed-point batch: exactly 2 bounds, not 4+
    assert("size\\(".r.findAllIn(plan).size == 4, // 2 bounds x 2 size() each
      s"bounds duplicated (rule not idempotent?):\n$plan")
    val withR = jaccardFilter.select("id").as[Long].collect().toSet
    assert(withR == without)
  }

  test("range-join rule: theta join becomes a bucketed hash join, results identical") {
    import graft.plans.RangeJoinRule
    val intervals = graft.sources.Tables
      .load(spark, "/root/testdata/sf0.001", "orders")
      .select(col("o_orderkey").as("iid"),
        (col("o_custkey") * 100).as("lo"), (col("o_custkey") * 100 + 250).as("hi"))
    val points = graft.sources.Tables
      .load(spark, "/root/testdata/sf0.001", "events")
      .select(col("event_id").as("pid"), (col("user_id") * 7 % 20000).as("t"))
    // def, not val: QueryExecution caches its optimized plan, so each
    // inspection needs a freshly-built DataFrame to see conf changes
    def theta = points.join(intervals,
      col("t") >= col("lo") && col("t") < col("hi"))
    val expected = theta.select("pid", "iid").as[(Long, Long)].collect().toSet

    // default (conf unset): untouched — still a nested loop
    assert(theta.queryExecution.executedPlan.toString.contains("NestedLoop"),
      "precondition: theta join should nested-loop without the rule")
    spark.conf.set(RangeJoinRule.ConfKey, "256")
    try {
      val plan = theta.queryExecution.executedPlan.toString
      assert(!plan.contains("NestedLoop"),
        s"rule must eliminate the nested loop:\n$plan")
      assert(plan.contains("HashJoin"), s"expected a hash join:\n$plan")
      val got = theta.select("pid", "iid").as[(Long, Long)].collect().toSet
      assert(got == expected)
      // inclusive-upper variant and negative coordinates
      val negP = points.select(col("pid"), (col("t") - 10000).as("t"))
      val negI = intervals.select(col("iid"),
        (col("lo") - 10000).as("lo"), (col("hi") - 10000).as("hi"))
      val inclusive = negP.join(negI,
        col("t") >= col("lo") && col("t") <= col("hi"))
      val gotN = inclusive.select("pid", "iid").as[(Long, Long)].collect().toSet
      spark.conf.unset(RangeJoinRule.ConfKey)
      val expN = inclusive.select("pid", "iid").as[(Long, Long)].collect().toSet
      assert(gotN == expN, "negative-coordinate / inclusive-upper mismatch")
    } finally spark.conf.unset(RangeJoinRule.ConfKey)
  }

  test("range-join rule: inverted intervals (lo > hi) explode to zero buckets, not a descending range") {
    import graft.plans.RangeJoinRule
    import spark.implicits._
    // one sane interval, one empty (lo == hi, exclusive upper), one wildly
    // inverted (lo >> hi — the OOM shape the guard exists for: an
    // unguarded Sequence would generate |lo-hi|/width descending buckets)
    val intervals = Seq((1L, 0L, 250L), (2L, 500L, 500L), (3L, 5000000000L, 0L))
      .toDF("iid", "lo", "hi")
    val points = Seq((10L, 100L), (11L, 200L), (12L, 500L)).toDF("pid", "t")
    def theta = points.join(intervals, col("t") >= col("lo") && col("t") < col("hi"))
    val expected = theta.select("pid", "iid").as[(Long, Long)].collect().toSet
    assert(expected == Set((10L, 1L), (11L, 1L)), "precondition: only interval 1 matches")
    spark.conf.set(RangeJoinRule.ConfKey, "64")
    try {
      val plan = theta.queryExecution.executedPlan.toString
      assert(!plan.contains("NestedLoop"), s"rule must fire:\n$plan")
      assert(theta.select("pid", "iid").as[(Long, Long)].collect().toSet == expected)
    } finally spark.conf.unset(RangeJoinRule.ConfKey)
  }

  test("range-join rule leaves equi-keyed and outer joins alone") {
    import graft.plans.RangeJoinRule
    val a = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "events")
      .select(col("event_id").as("pid"), col("user_id").as("k"), col("user_id").as("t"))
    val b = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "orders")
      .select(col("o_orderkey").as("iid"), col("o_custkey").as("k2"),
        col("o_custkey").as("lo"), (col("o_custkey") + 10).as("hi"))
    spark.conf.set(RangeJoinRule.ConfKey, "64")
    try {
      // equi key present: Spark hash-joins already; the rule must not touch it
      val equi = a.join(b, col("k") === col("k2") &&
        col("t") >= col("lo") && col("t") < col("hi"))
      assert(!equi.queryExecution.optimizedPlan.toString.contains("__graft"),
        "equi-keyed join must not be rewritten")
      // outer join: never rewritten
      val outer = a.join(b, col("t") >= col("lo") && col("t") < col("hi"), "left")
      assert(!outer.queryExecution.optimizedPlan.toString.contains("__graft"),
        "outer join must not be rewritten")
    } finally spark.conf.unset(RangeJoinRule.ConfKey)
  }

  test("rule leaves opaque columns and OR-nested predicates alone") {
    // opaque column: distinctness not provable -> no rewrite
    val sh = docs.select(col("id"),
      TextAnalysis.shingles(col("ta"), 2).as("sa"),
      TextAnalysis.shingles(col("tb"), 2).as("sb"))
    val opaque = sh.filter(
      graft.functions.SketchFunctions.jaccard_sim(col("sa"), col("sb")) >= 0.5)
    // CollapseProject may reinline the shingle exprs (making them
    // provable again) — materialize the columns through a local limit
    // barrier-free checkpointless shape: an aggregate breaks inlining
    val grouped = sh.groupBy("id").agg(first("sa").as("sa"), first("sb").as("sb"))
      .filter(graft.functions.SketchFunctions.jaccard_sim(col("sa"), col("sb")) >= 0.5)
    val planG = grouped.queryExecution.optimizedPlan.toString
    assert(!planG.contains("size("), s"opaque columns must not be rewritten:\n$planG")

    // OR-nested: no top-level bound may appear
    val orPlan = docs.filter(
      graft.functions.SketchFunctions.jaccard_sim(
        TextAnalysis.shingles(col("ta"), 2),
        TextAnalysis.shingles(col("tb"), 2)) >= 0.5 || col("id") === 2L)
      .queryExecution.optimizedPlan.toString
    assert(!orPlan.contains("size("), s"OR-nested predicate must not be strengthened:\n$orPlan")
    assert(opaque.count() >= 0) // exercised
  }
}
