package graft

import org.apache.spark.sql.functions._

/** Physical-plan regression guards: the scale-critical plan properties
  * (pushdown, pruning, broadcast, partial aggregation, top-k without full
  * sort) asserted against the actual optimized plans, so a refactor that
  * silently loses one fails the build.
  */
class PlanSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private def q(name: String) = SparkEntry.queries(name)(spark, sfDir)

  test("range filter reaches the parquet scan as a pushed filter") {
    val plan = q("p2_range_filter").queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [Or(LessThan(l_quantity,5.0),GreaterThan(l_quantity,45.0))]"),
      s"missing pushdown in:\n$plan")
  }

  test("q6 pushes every predicate to the scan and reads only 4 columns") {
    val exec = q("q6_forecast_revenue").queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    // plan.toString elides long PushedFilters lists; read the scan's
    // untruncated metadata instead
    val scan = exec.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    val pushed = scan.metadata("PushedFilters")
    for (f <- Seq("GreaterThanOrEqual(l_shipdate", "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount,0.05)", "LessThanOrEqual(l_discount,0.07)",
        "LessThan(l_quantity,24.0)"))
      assert(pushed.contains(f), s"filter $f not pushed in: $pushed")
    assert(scan.metadata("ReadSchema").startsWith(
      "struct<l_quantity:double,l_extendedprice:double,l_discount:double"),
      s"scan not pruned to the referenced columns: ${scan.metadata("ReadSchema")}")
    val plan = exec.toString
    assert(plan.contains("partial_sum"), s"missing map-side combine in:\n$plan")
    assert(!plan.contains("Join"), s"q6 must be scan+agg only:\n$plan")
  }

  test("distributed prefix-sum queries plan NO unpartitioned window") {
    // stat6's rank map and rank1's running total claim the two-pass
    // globalRunningSum shape, stat10/w16's revenue ranks the globalRank
    // one; an unpartitioned WindowExec (empty partition spec = every
    // row through ONE task) anywhere in their plans means the claim
    // silently regressed
    // ml2/ml4 ride globalRunningSum for their rank/threshold margins,
    // ivl2 the fused globalSweep — same claim, same pin
    // ml14/ml15/stat11 ride the MULTI-series globalRunningSum for their
    // per-group ranks / order statistics / trim boundaries — same claim
    // stat12/stat13/stat14 melt to count tables and ride multi-series
    // running counts; exp5's battery rank rides globalRank — same claim
    // stat17's two weighted medians ride globalRunningSum prefix sums
    for (name <- Seq("stat6_mannwhitney", "rank1_running_revenue",
        "stat10_gini", "w16_lorenz_deciles", "ml2_auc", "ml4_pr_curve",
        "ivl2_interval_coverage", "ml14_per_group_auc", "ml15_conformal",
        "stat11_trimmed_mean", "stat12_ks_2samp", "stat13_mad_outliers",
        "stat14_wilcoxon_signed", "exp5_bh_fdr", "stat16_cvm_2samp",
        "stat17_theil_sen", "stat19_ad_2samp")) {
      val exec = q(name).queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.inputPlan
        case p => p
      }
      val bad = exec.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
      }
      assert(bad.isEmpty,
        s"$name plans an unpartitioned window (single-reducer sort):\n${bad.headOption}")
    }
  }

  test("bounded dominance joins (kendall, theil-sen) broadcast the cell table — no cartesian, no SMJ") {
    // the O(cells²) compares must run as a broadcast nested-loop over
    // the bounded cell table (~550 / ~1.6k cells), never a corpus-sized
    // cartesian or a sort-merge join of the melted corpus
    for (name <- Seq("stat15_kendall_tau", "stat17_theil_sen",
        "stat18_jonckheere")) {
      val exec = q(name).queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.inputPlan
        case p => p
      }
      val s = exec.toString
      assert(s.contains("BroadcastNestedLoopJoin"),
        s"$name dominance join not broadcast:\n$s")
      assert(!s.contains("CartesianProduct"), s"$name cartesian in:\n$s")
      assert(!s.contains("SortMergeJoin"), s"$name sort-merge join in:\n$s")
    }
  }

  test("projection prunes the scan schema to selected columns") {
    val plan = q("f1_pseudonymize").queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<c_custkey:bigint,c_name:string>"),
      s"scan not pruned in:\n$plan")
  }

  test("dimension joins broadcast; no shuffle join appears") {
    val plan = q("j1_broadcast_dim_join").queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(plan).size == 2, s"expected 2 BHJ in:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"dim join must not SMJ:\n$plan")
  }

  test("aggregation is partial+final (map-side combine present)") {
    val plan = q("q1_pricing_summary").queryExecution.executedPlan.toString
    assert(plan.contains("partial_sum"), s"missing partial aggregation in:\n$plan")
  }

  test("global top-k plans TakeOrderedAndProject, not a full sort") {
    val plan = q("s1_topk").queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"expected TakeOrderedAndProject in:\n$plan")
  }

  test("knn top-k uses the bounded-heap aggregate, not a window sort") {
    val plan = q("v1_knn_brute").queryExecution.executedPlan.toString
    assert(plan.contains("top_k"), s"expected top_k aggregate in:\n$plan")
    assert(!plan.contains("row_number"), s"knn must not rank via window in:\n$plan")
  }

  test("bucketed range join plans a hash join, never a nested loop") {
    val plan = q("r1_range_join").queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop"), s"range join fell back to NLJ in:\n$plan")
    assert(plan.contains("Join") || plan.contains("HashJoin"), s"no join found in:\n$plan")
  }

  test("string/date function queries are scan+project only (no shuffle)") {
    for (name <- Seq("f10_string_funcs", "f11_date_funcs")) {
      // ignore the final presentation ORDER BY's exchange: check up to Sort
      val plan = q(name).queryExecution.optimizedPlan.toString
      assert(!plan.contains("Join") && !plan.contains("Aggregate"),
        s"$name should be a pure projection in:\n$plan")
    }
  }

  test("label centroids aggregate partially map-side") {
    val plan = q("v3_label_centroids").queryExecution.executedPlan.toString
    assert(plan.contains("partial_sum"), s"missing partial aggregation in:\n$plan")
  }

  test("GramAgg plans a partial ObjectHashAggregate (matrix merges map-side)") {
    import spark.implicits._
    val df = (0 until 50).map(i => (i.toLong,
      Array.fill(4)((i % 7).toFloat / 7f))).toDF("vec_id", "embedding")
    val agg = org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.GramAgg(
        org.apache.spark.sql.GraftSqlBridge.expression(col("embedding")), 4, 100)
        .toAggregateExpression())
    val plan = df.repartition(4).agg(agg.as("g"))
      .queryExecution.executedPlan.toString
    // typed-imperative aggregates plan as ObjectHashAggregate with a
    // partial stage: each mapper ships one d(d+1)/2-long buffer, not rows
    assert(plan.contains("ObjectHashAggregate"), s"no object agg in:\n$plan")
    assert(plan.contains("partial_gram_matrix"), s"no partial stage in:\n$plan")
  }

  test("partition-pruned catalog scan only lists matching partitions") {
    q("s7_catalog_table").collect() // materializes table + repair
    val pruned = spark.table("graft_events_cat")
      .filter(col("date") === "2024-01-05")
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(date"), s"no partition filter in:\n$scan")
  }

  test("connected components small path broadcasts labels onto the corpus") {
    val plan = q("c1_dedup_clusters").queryExecution.executedPlan.toString
    assert("BroadcastHashJoin \\[[^\\]]*\\], \\[[^\\]]*\\], LeftOuter, BuildRight".r
      .findFirstIn(plan).isDefined,
      s"label join must broadcast in:\n$plan")
  }

  test("upsert anti-join broadcasts a small change set") {
    val plan = q("l1_upsert").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"expected broadcast anti-join in:\n$plan")
  }

  test("per-group model scoring joins the model table by broadcast") {
    // ml10's scorePerGroup: the fitted model table is O(groups) rows —
    // a shuffle join here would move the full corpus for a dictionary
    val plan = q("ml10_per_group_ridge").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"model application must broadcast, not shuffle:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"model application regressed to a sort-merge join:\n$plan")
  }

  test("collocations top-k plans TakeOrderedAndProject; unigram joins stay keyed") {
    val df = q("t17_collocations")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"collocations must take a distributed top-k, not a global sort:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"the scalar-T cross join must broadcast a single row:\n$plan")
    // The two unigram joins re-key the pruned bigram table against the
    // vocab-sized unigram table. The INTENDED plan is AQE-decides (see
    // the collocations scaladoc): equi hash joins that broadcast while
    // the unigram table fits the threshold and degrade to a shuffle join
    // — never a nested loop — when a 100 TB corpus's vocabulary doesn't.
    // At this SF the vocabulary is KBs, so the right call is broadcast:
    // pin that AQE actually makes it (final plan, post-collect).
    df.collect()
    // the AQE string prints Final AND Initial sections — count joins in
    // the final one only
    val finalPlan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert("BroadcastHashJoin".r.findAllIn(finalPlan).size >= 2,
      s"both unigram joins must broadcast at dictionary scale:\n$finalPlan")
    assert(!finalPlan.contains("SortMergeJoin"),
      s"unigram joins must stay keyed broadcast joins at this SF:\n$finalPlan")
    // exactly ONE nested-loop join is legitimate: the 1-row scalar-T
    // broadcast; a second would mean a unigram join degenerated
    assert("BroadcastNestedLoopJoin".r.findAllIn(finalPlan).size == 1,
      s"only the scalar-T cross join may nested-loop:\n$finalPlan")
  }

  test("conformal passes broadcast the per-flag model and threshold tables") {
    // ml15's model (O(flags) rows) and q (O(flags) rows) tables join the
    // pinned corpus three times — each must broadcast; a shuffle join
    // would move the corpus for a 3-row dictionary
    val plan = q("ml15_conformal").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"model/threshold joins must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"a conformal dictionary join regressed to sort-merge:\n$plan")
  }

  test("textrank top-k plans TakeOrderedAndProject over the rank table") {
    val plan = q("t18_textrank").queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"keyword top-k must be distributed top-k, not a global sort:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"the scalar node-count/dangling joins must broadcast:\n$plan")
  }

  test("ml11 returns its PINNED honesty frame: hashing the result re-runs no scoring pass") {
    // the separating-property assert already evaluated the scoring
    // aggregation (corpus scan + broadcast model join + agg) once; the
    // returned frame must read those 20 pinned rows, not recompute the
    // pass when the driver hashes it
    val plan = q("ml11_per_group_logreg").queryExecution.optimizedPlan.toString
    assert(plan.contains("LogicalRDD") || plan.contains("ExistingRDD"),
      s"ml11's result must sit on the Materialize pin:\n$plan")
    assert(!plan.contains("Join") && !plan.contains("Relation"),
      s"hashing ml11 must not re-run the scoring scan/join:\n$plan")
  }

  test("quality-model scoring adds no hash exchange (map-only before the sort)") {
    val plan = q("t6_quality_model").queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"model scoring must not shuffle:\n$plan")
  }

  test("vocab coverage joins the vocabulary by broadcast, never a shuffle join") {
    val plan = q("t7_vocab_coverage").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"vocabulary must broadcast-semi-join in:\n$plan")
  }

  test("mixture sampling scans map-only (rates are literals, no join)") {
    val plan = q("samp6_source_mixture").queryExecution.optimizedPlan.toString
    assert(!plan.contains("Join"), s"mixture sample must not join:\n$plan")
    val phys = q("samp6_source_mixture").queryExecution.executedPlan.toString
    assert(!phys.contains("Exchange hashpartitioning"),
      s"mixture sample must not hash-shuffle:\n$phys")
  }

  test("bloom decontamination is a map-only filter (no join in the probe pass)") {
    // the registry query now wraps the probe in a containment audit (which
    // joins); the scale property belongs to the probe operator itself
    val docs = graft.sources.Tables.load(spark, sfDir, "documents")
    val kept = graft.operators.Dedup.decontaminateBloom(
      docs.filter(col("doc_id") % 17 =!= 3),
      docs.filter(col("doc_id") % 17 === 3), k = 8, fpp = 0.001)
    val plan = kept.queryExecution.optimizedPlan.toString
    assert(!plan.contains("Join"), s"bloom probe must not join:\n$plan")
  }

  test("Q5 star join: dims broadcast, date filter pushed to the orders scan") {
    val qe = q("q5_star_join").queryExecution
    val plan = qe.executedPlan.toString
    // region→nation→supplier ride broadcast joins; only the fact joins
    // may shuffle
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 3,
      s"expected >=3 broadcast joins in:\n$plan")
    assert(plan.contains("PushedFilters: [IsNotNull(o_orderdate)"),
      s"date filter not pushed to orders scan in:\n$plan")
    assert(plan.contains("partial_sum"), s"revenue must aggregate partially:\n$plan")
  }

  test("interval overlap join plans a keyed cell join, never a cartesian") {
    val plan = q("ivl4_overlap_join").queryExecution.executedPlan.toString
    assert(!plan.contains("Cartesian") && !plan.contains("NestedLoop"),
      s"overlap join must not be quadratic:\n$plan")
    assert(plan.contains("Generate"), s"expected the cell explode in:\n$plan")
    assert(plan.contains("Join"), s"no join found in:\n$plan")
  }

  test("spatial radius join plans a hash join on grid cells, never a cartesian") {
    val plan = q("geo1_radius_join").queryExecution.executedPlan.toString
    assert(!plan.contains("Cartesian") && !plan.contains("NestedLoop"),
      s"radius join must not be quadratic:\n$plan")
    assert(plan.contains("Join"), s"no join found in:\n$plan")
  }

  test("dynamic partition pruning injects a runtime subquery into the fact scan") {
    val plan = q("dpp1_dynamic_pruning").queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"expected a dynamic pruning subquery in the fact scan:\n$plan")
  }

  test("AQE coalesces over-provisioned shuffle partitions at runtime") {
    // the engine deliberately leans on AQE for runtime re-planning: a
    // small aggregate under a wide static shuffle width must coalesce
    // instead of scheduling empty reducers
    val df = q("a2_groupby_count")
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
    assert(finalPlan.contains("AQEShuffleRead") || finalPlan.contains("coalesced"),
      s"expected AQE shuffle coalescing in final plan:\n$finalPlan")
  }

  test("survivorship argmax is a partial-aggregated max, never a Window") {
    val plan = q("er3_survivorship").queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"argmax must not plan a window sort:\n$plan")
    assert(plan.contains("partial_max"), s"expected map-side partial max in:\n$plan")
  }

  test("equi-depth histogram buckets by literal boundaries; no sort/window/join") {
    // exact path: boundaries are computed by the constant-state
    // refinement and land in-plan as literals — the bucketing pass is a
    // pure scan + aggregate, with no join node left at all
    val plan = q("h2_equidepth").queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"bucketing must not use ntile/window:\n$plan")
    assert(!plan.contains("Join"), s"literal boundaries need no join:\n$plan")
    assert(plan.contains("partial_count"), s"missing map-side combine in:\n$plan")
    // approx path (h3): the t-digest boundary row still broadcasts
    val plan3 = q("h3_equidepth_tdigest").queryExecution.executedPlan.toString
    assert(!plan3.contains("Window"), s"h3 must not use ntile/window:\n$plan3")
    assert(plan3.contains("BroadcastNestedLoopJoin") || plan3.contains("BroadcastExchange"),
      s"t-digest boundary row must broadcast in:\n$plan3")
  }

  test("basket pair generation scans lineitem once, never a fact self-join") {
    val plan = q("mba1_lift").queryExecution.executedPlan.toString
    // the pair stage is groupBy(order)+explode: exactly one SortMergeJoin/
    // ShuffledHashJoin would betray a fact-fact self-join (the broadcast
    // joins for item counts and n_orders are expected)
    assert(!plan.contains("SortMergeJoin"), s"pair stage must not self-join:\n$plan")
    assert(plan.contains("Generate"), s"expected basket explode (Generate) in:\n$plan")
  }

  test("winsorize clips map-only after a broadcast of the percentile row") {
    val plan = q("p10_winsorize").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"percentiles must broadcast in:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"clip join must not shuffle the fact:\n$plan")
  }

  test("Q7-shape nation-pair volume broadcasts all three dimension roles") {
    val plan = q("q7_nation_volume").queryExecution.executedPlan.toString
    // supplier + nation×2 broadcast; only the fact-fact joins
    // (lineitem⋈orders⋈customer) may shuffle
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 3,
      s"expected >= 3 broadcast dim joins in:\n$plan")
    assert(plan.contains("partial_sum"), s"volume agg must map-side combine:\n$plan")
  }

  test("Q18-shape big orders: HAVING agg shrinks before join, top-k never full-sorts") {
    val plan = q("q18_big_orders").queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-100 must plan TakeOrderedAndProject in:\n$plan")
    assert(plan.contains("partial_sum"),
      s"quantity agg must map-side combine in:\n$plan")
  }

  test("Q4-shape correlated EXISTS plans a semi join, never a full join + distinct") {
    val plan = q("q4_order_priority").queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), s"EXISTS must plan LeftSemi in:\n$plan")
    assert(!plan.contains("HashAggregate(keys=[o_orderkey"),
      s"EXISTS must not dedup via aggregate in:\n$plan")
  }

  test("Q8-shape snowflake broadcasts every dimension arm") {
    val plan = q("q8_market_share").queryExecution.executedPlan.toString
    // part-slice, customer, both nation roles, region, supplier — only
    // lineitem ⋈ orders may shuffle
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 5,
      s"expected >= 5 broadcast dim joins in:\n$plan")
    assert("SortMergeJoin".r.findAllIn(plan).size <= 1,
      s"only the fact-fact join may SMJ in:\n$plan")
  }

  test("Q15-shape scalar max joins back as a broadcast, not a shuffle") {
    val plan = q("q15_top_supplier").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"the 1-row max must broadcast in:\n$plan")
    assert(plan.contains("partial_sum"),
      s"revenue view must map-side combine in:\n$plan")
  }

  test("Q17-shape correlated average joins fact-to-agg on the same key (co-partitioned)") {
    val plan = q("q17_small_qty_revenue").queryExecution.executedPlan.toString
    assert(plan.contains("partial_sum"), s"per-part agg must map-side combine in:\n$plan")
    // brand slice of part must broadcast into the fact scan
    assert(plan.contains("BroadcastHashJoin"), s"brand slice must broadcast in:\n$plan")
  }

  test("Q22-shape NOT EXISTS plans a left-anti join; corpus scalar broadcasts") {
    val plan = q("q22_dormant_customers").queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"), s"NOT EXISTS must plan LeftAnti in:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"the 1-row corpus aggregate must broadcast in:\n$plan")
  }

  test("chi-square/t-closeness grids broadcast; margins combine map-side; no cartesian") {
    for (name <- Seq("stat5_chi_square", "priv3_tcloseness")) {
      val plan = q(name).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name grid must come from broadcast cross joins, not a cartesian:\n$plan")
      assert(plan.contains("BroadcastNestedLoopJoin"),
        s"$name dims × values grid must broadcast:\n$plan")
      assert(plan.contains("partial_count"),
        s"$name margin counts must map-side combine:\n$plan")
    }
  }

  test("attribution runs ONE window pass then a partial-agg rollup") {
    val plan = q("w13_attribution").queryExecution.executedPlan.toString
    assert("Window".r.findAllIn(plan).size == 1,
      s"exactly one window carry expected in:\n$plan")
    assert(plan.contains("partial_count"),
      s"daily rollup must map-side combine in:\n$plan")
  }

  test("count-min sketch plans a partial ObjectHashAggregate (2KB per mapper)") {
    val plan = q("a16_cms_counts").queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), s"no object agg in:\n$plan")
    assert(plan.contains("partial_count_min"), s"no partial sketch stage in:\n$plan")
  }

  test("rrf fusion bounds output with TakeOrderedAndProject; bm25 stats broadcast") {
    val plan = q("ret3_rrf_fusion").queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"fused top-k must not full-sort in:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"corpus stats row must broadcast in:\n$plan")
  }

  test("rrf fusion ranks its bm25 top-k without an unpartitioned window") {
    val exec = q("ret3_rrf_fusion").queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    val bare = exec.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(bare.isEmpty, s"bm25 ranks must come from the top-k list in:\n$exec")
  }

  test("autocorrelation windows run over the aggregated series, not the event log") {
    val df = q("ts1_autocorr")
    val plan = df.queryExecution.executedPlan.toString
    // the hourly partial agg must sit BELOW the window: partial_count
    // appears, and the window's child exchange is keyed on event_type
    assert(plan.contains("partial_count"),
      s"hourly collapse must map-side combine in:\n$plan")
    assert("Window".r.findAllIn(plan).size == 1,
      s"exactly one lag window expected in:\n$plan")
  }
}
