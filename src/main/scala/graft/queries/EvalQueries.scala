package graft.queries

import graft.operators.{Materialize, Rank}
import graft.operators.TextAnalysis
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Model-evaluation and sweep analytics — the metrics a training-data
  * pipeline runs over its own filter models: per-class precision/recall/F1
  * for the language-ID heuristic, rank-sum AUC for the quality filter,
  * calibration bins for its score, interval-union coverage of the event
  * stream, and the degree profile of the supplier↔part graph.
  *
  * Same discipline as every family: exact integer / fixed-point
  * arithmetic on both sides (all numerators non-negative, so DuckDB's
  * floor `//` and Spark's truncating `DIV` agree), identical column
  * names, total ORDER BY. The quality "model" is the t6 broadcast linear
  * score with all-POSITIVE weights so scores (and every division
  * numerator) stay non-negative.
  */
object EvalQueries {

  import QueryDef.t
  import TextQueries.{duckToks, duckHits, duckLangCase, langs}

  /** Positive-weight quality score (the AUC/calibration subject): all
    * signals are non-negative counts, so the score is too — integer,
    * map-only, engine-exact. Overflow headroom: score ≤ 2·n_tokens +
    * punct + 50·stopword_hits ≲ 100·n_chars, far inside long for any
    * real document.
    */
  private val qualityWeights =
    Map("n_tokens" -> 2L, "punct_count" -> 1L, "stopword_hits" -> 50L)

  private def score(c: Column): Column =
    TextAnalysis.qualityModelScore(c, qualityWeights, bias = 0L)

  /** DuckDB twin of [[score]] over the `tok` CTE's (text, toks). */
  private val duckScore: String =
    "CAST(2*len(toks) + (length(text) - length(regexp_replace(text, " +
      s"'[[:punct:]]', '', 'g'))) + 50*(${duckHits("en")}) AS BIGINT)"

  /** Shared (label, score) projection: positive class = lang 'en'. */
  private def scored(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      when(col("lang") === "en", 1L).otherwise(0L).as("y"),
      score(col("text")).as("sc"))

  /** Shared confusion-cell table for the langid evaluations (ml1, ml5):
    * one corpus pass (langId is one native `lang_id` kernel call a row:
    * a single loop over the tokens counts every language's hits), ONE
    * partial-agg shuffle to the O(|langs|²) (actual, predicted, o)
    * table, pinned — every margin both consumers need re-aggregates
    * the tiny cell table, never the corpus.
    */
  private def langCells(s: SparkSession, dir: String): DataFrame =
    Materialize(t(s, dir, "documents")
      .select(col("lang").as("actual"),
        TextAnalysis.langId(col("text")).as("predicted"))
      .groupBy("actual", "predicted").agg(count(lit(1)).as("o")))

  /** DuckDB twin of [[langCells]] (the `cells` CTE and its inputs). */
  private val duckCells: String =
    s"""tok AS (SELECT lang AS actual, $duckToks AS toks FROM documents),
       |h AS (SELECT actual, ${langs.map(l => s"${duckHits(l)} AS h_$l").mkString(", ")} FROM tok),
       |p AS (SELECT actual, $duckLangCase AS predicted FROM h),
       |cells AS (SELECT actual, predicted, count(*) AS o FROM p GROUP BY 1, 2)"""
      .stripMargin.replace("\n", " ")

  private val duckScored =
    s"""tok AS (SELECT lang, text, $duckToks AS toks FROM documents),
       |b AS (SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
       |  $duckScore AS sc FROM tok)""".stripMargin.replace("\n", " ")

  val all: Seq[QueryDef] = Seq(

    // Language-ID evaluation: confusion-matrix margins → per-true-class
    // precision / recall / F1 in exact ×1e6 fixed point (tp·1e6 and
    // 2·tp·1e6 fit BIGINT up to ~4.6e12 true positives — beyond any
    // 100 TB corpus's document count; numerators non-negative so DIV
    // and // agree). Plan: one map pass (the langId argmax is the
    // one-loop native `lang_id` kernel), ONE partial-agg shuffle to the
    // (actual × predicted) cell table — O(|langs|²) rows, pinned once —
    // then all three margins re-aggregate the tiny cell table, never
    // the corpus. Precision is NULL for a class never predicted (0/0),
    // mirrored CASE in the oracle.
    QueryDef("ml1_langid_eval",
      (s, dir) => {
        val cells = langCells(s, dir)
        val ac = cells.groupBy("actual").agg(sum("o").as("support"))
        val pc = cells.groupBy("predicted").agg(sum("o").as("predicted_n"))
        val tp = cells.filter(col("actual") === col("predicted"))
          .select(col("actual"), col("o").as("tp"))
        ac.join(pc, ac("actual") === pc("predicted"), "left")
          .join(tp, Seq("actual"), "left")
          .select(col("actual").as("lang"),
            coalesce(col("tp"), lit(0L)).as("tp"),
            col("support").cast("long").as("support"),
            coalesce(col("predicted_n"), lit(0L)).cast("long")
              .as("predicted_n"))
          .withColumn("precision_x1e6", expr(
            "CASE WHEN predicted_n > 0 THEN CAST((tp * 1000000) DIV predicted_n AS BIGINT) END"))
          .withColumn("recall_x1e6",
            expr("CAST((tp * 1000000) DIV support AS BIGINT)"))
          .withColumn("f1_x1e6", expr(
            "CAST((2 * tp * 1000000) DIV (support + predicted_n) AS BIGINT)"))
          .orderBy("lang")
      },
      Some(s"""WITH $duckCells,
              |ac AS (SELECT actual, sum(o) AS support FROM cells GROUP BY 1),
              |pc AS (SELECT predicted, sum(o) AS predicted_n FROM cells GROUP BY 1),
              |tp AS (SELECT actual, o AS tp FROM cells WHERE actual = predicted)
              |SELECT ac.actual AS lang, CAST(coalesce(tp.tp, 0) AS BIGINT) AS tp,
              |CAST(ac.support AS BIGINT) AS support,
              |CAST(coalesce(pc.predicted_n, 0) AS BIGINT) AS predicted_n,
              |CASE WHEN coalesce(pc.predicted_n, 0) > 0
              |  THEN CAST((coalesce(tp.tp, 0) * 1000000) // pc.predicted_n AS BIGINT) END AS precision_x1e6,
              |CAST((coalesce(tp.tp, 0) * 1000000) // ac.support AS BIGINT) AS recall_x1e6,
              |CAST((2 * coalesce(tp.tp, 0) * 1000000) // (ac.support + coalesce(pc.predicted_n, 0)) AS BIGINT) AS f1_x1e6
              |FROM ac LEFT JOIN pc ON ac.actual = pc.predicted
              |LEFT JOIN tp ON ac.actual = tp.actual
              |ORDER BY lang""".stripMargin.replace("\n", " "))),

    // Cohen's kappa of the langid heuristic against the labeled lang —
    // chance-corrected agreement from the same O(|langs|²) cell table
    // as ml1: κ = (N·Σtp − Σ r_k·c_k) / (N² − Σ r_k·c_k) over the
    // marginal products of classes observed on BOTH sides. One corpus
    // pass; every re-aggregation runs over the pinned cells. The
    // marginal-product sum stays EXACT in DECIMAL(38,0) (Σ r·c ≤ N²
    // — inside 38 digits to N = 10¹⁹ rows; each product is cast
    // before multiplying so no intermediate exceeds it either); only
    // the final κ leaves integers, as SCALAR double ops in an
    // identical operation order on both engines (a float SUM would be
    // partial-agg-order-dependent — the sums here are all integer).
    QueryDef("ml5_cohens_kappa",
      (s, dir) => {
        val cells = langCells(s, dir)
        val rm = cells.groupBy("actual").agg(sum("o").as("r"))
        val cm = cells.groupBy("predicted").agg(sum("o").as("c"))
        val rc = rm.join(cm, rm("actual") === cm("predicted"))
          .agg(sum(col("r").cast("decimal(19,0)") * col("c")).as("__rc"))
        val tot = cells.agg(sum("o").as("__n"),
          sum(when(col("actual") === col("predicted"), col("o"))
            .otherwise(lit(0L))).as("__agree"))
        // κ is undefined when chance agreement is total (Σr·c = N² —
        // a single-class corpus): emit NULL on BOTH engines via an
        // EXACT integer guard — left to the double division, Spark
        // would produce Infinity/NaN where DuckDB nulls out
        tot.crossJoin(rc).select(
          col("__n").cast("long").as("n"),
          col("__agree").cast("long").as("agree"),
          col("__rc").cast("double").as("chance_pairs"),
          expr("""CASE WHEN CAST(__n AS DECIMAL(38,0)) * __n = __rc THEN NULL
                 | ELSE (CAST(__n AS DOUBLE) * CAST(__agree AS DOUBLE)
                 |  - CAST(__rc AS DOUBLE))
                 | / (CAST(__n AS DOUBLE) * CAST(__n AS DOUBLE)
                 |  - CAST(__rc AS DOUBLE)) END""".stripMargin.replace("\n", " "))
            .as("kappa"))
      },
      Some(s"""WITH $duckCells,
              |rm AS (SELECT actual, sum(o) AS r FROM cells GROUP BY 1),
              |cm AS (SELECT predicted, sum(o) AS c FROM cells GROUP BY 1),
              |rc AS (SELECT sum(CAST(r AS HUGEINT) * c) AS rc
              |  FROM rm JOIN cm ON rm.actual = cm.predicted),
              |tot AS (SELECT sum(o) AS n,
              |  sum(CASE WHEN actual = predicted THEN o ELSE 0 END) AS agree
              |  FROM cells)
              |SELECT CAST(n AS BIGINT) AS n, CAST(agree AS BIGINT) AS agree,
              |CAST(rc AS DOUBLE) AS chance_pairs,
              |CASE WHEN CAST(n AS HUGEINT) * n = rc THEN NULL
              | ELSE (CAST(n AS DOUBLE) * CAST(agree AS DOUBLE) - CAST(rc AS DOUBLE))
              | / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - CAST(rc AS DOUBLE)) END AS kappa
              |FROM tot, rc""".stripMargin.replace("\n", " "))),

    // AUC of the quality score against the en/non-en label, by the
    // rank-sum identity AUC = U1/(n1·n0) with stat6's tie-aware DOUBLED
    // average ranks: auc·2·n1·n0 = Σ_pos rv − n1(n1+1), all exact
    // integers, emitted as ×1e9 fixed point via 128-bit floor division
    // (numerator = 2·U1 ≥ 0 by the minimum-rank-sum bound, so the
    // engines' division semantics agree). The rank map rides
    // Rank.globalRunningSum over the DISTINCT-score table — never a
    // single-reducer global window — and broadcasts back (scores are
    // small ints, O(distinct) ≪ corpus). Headroom: Σrv ≤ 2n², ×1e9
    // inside DECIMAL(38,0) up to n ≈ 5·10¹³ rows. Degenerate corpus
    // (single-class → n_pos·n_neg = 0): NULL on BOTH engines — Spark's
    // ANSI-off DIV and this DuckDB's integer // both null out a zero
    // divisor (probed), so parity holds where AUC is undefined.
    QueryDef("ml2_auc",
      (s, dir) => {
        val b = Materialize(scored(s, dir))
        val cnt = b.groupBy("sc").agg(count(lit(1)).as("c"))
        val rm = Rank.globalRunningSum(cnt, "sc", "c", outCol = "__run",
          distinctOrders = true)
          .select(col("sc"),
            (lit(2) * (col("__run") - col("c")) + col("c") + lit(1)).as("rv"))
        val d38 = (c: Column) => c.cast("decimal(38,0)")
        b.join(broadcast(rm), "sc")
          .agg(sum(col("y")).as("n_pos"),
            sum(lit(1L) - col("y")).as("n_neg"),
            sum(when(col("y") === 1, d38(col("rv"))).otherwise(lit(0)))
              .as("__r1x2"))
          .select(col("n_pos").cast("long").as("n_pos"),
            col("n_neg").cast("long").as("n_neg"),
            expr("""CAST(((__r1x2 - CAST(n_pos AS DECIMAL(38,0)) * (n_pos + 1))
                   | * 1000000000) DIV (2 * CAST(n_pos AS DECIMAL(38,0)) * n_neg)
                   | AS BIGINT)""".stripMargin.replace("\n", " "))
              .as("auc_x1e9"))
      },
      Some(s"""WITH $duckScored,
              |rm AS (SELECT sc, 2 * (sum(c) OVER (ORDER BY sc ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c) + c + 1 AS rv
              |  FROM (SELECT sc, count(*) AS c FROM b GROUP BY sc)),
              |a AS (SELECT sum(y) AS n_pos, sum(1 - y) AS n_neg,
              |  sum(CASE WHEN y = 1 THEN CAST(rv AS HUGEINT) ELSE 0 END) AS r1x2
              |  FROM b JOIN rm USING (sc))
              |SELECT CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg,
              |CAST(((r1x2 - CAST(n_pos AS HUGEINT) * (n_pos + 1)) * 1000000000)
              |  // (2 * CAST(n_pos AS HUGEINT) * n_neg) AS BIGINT) AS auc_x1e9
              |FROM a""".stripMargin.replace("\n", " "))),

    // Precision/recall curve of the quality score: at every distinct
    // score threshold t, precision and recall of "predict positive iff
    // score ≥ t" — the threshold-sweep companion of ml2's single-number
    // AUC. Both cumulative margins (rows ≥ t, positives ≥ t) ride ONE
    // multi-series Rank.globalRunningSum call over the melted
    // O(distinct-scores) count table (series = margin kind, order =
    // negated score so the ascending prefix sum accumulates from the
    // top) — never a single-reducer window, and the corpus is touched
    // exactly once (the groupBy). All-integer ×1e6 fixed point,
    // non-negative numerators, so DIV and // agree. Headroom:
    // cum_pos·1e6 ≤ n·1e6 fits BIGINT to n ≈ 9·10¹² documents — an
    // order beyond any 100 TB corpus's document count.
    QueryDef("ml4_pr_curve",
      (s, dir) => {
        val b = scored(s, dir)
        val cnt = b.groupBy("sc")
          .agg(count(lit(1)).as("n"), sum("y").as("npos"))
        val melted = cnt.select(col("sc"), (-col("sc")).as("__negsc"),
          explode(map(lit("n"), col("n"), lit("p"), col("npos")))
            .as(Seq("kind", "v")))
        val run = Rank.globalRunningSum(melted, "__negsc", "v",
          outCol = "cum", seriesCols = Seq("kind"), distinctOrders = true)
        val wide = run.groupBy("sc").agg(
          max(when(col("kind") === "n", col("cum"))).as("cum_n"),
          max(when(col("kind") === "p", col("cum"))).as("cum_pos"))
        // total positives = the positives margin at the lowest threshold
        // — read it off the run table (whose input globalRunningSum
        // pinned) instead of re-aggregating cnt, which would replay the
        // corpus scan+score+groupBy a second time
        wide.crossJoin(broadcast(
            wide.agg(max("cum_pos").as("__tot_pos"))))
          .select(col("sc").as("score"), col("cum_n"), col("cum_pos"),
            expr("CAST((cum_pos * 1000000) DIV cum_n AS BIGINT)")
              .as("precision_x1e6"),
            expr("CAST((cum_pos * 1000000) DIV __tot_pos AS BIGINT)")
              .as("recall_x1e6"))
          .orderBy("score")
      },
      Some(s"""WITH $duckScored,
              |cnt AS (SELECT sc, count(*) AS n, sum(y) AS npos FROM b GROUP BY sc),
              |r AS (SELECT sc,
              |  sum(n) OVER (ORDER BY sc DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n,
              |  sum(npos) OVER (ORDER BY sc DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pos
              |  FROM cnt),
              |tot AS (SELECT sum(npos) AS tp FROM cnt)
              |SELECT sc AS score, CAST(cum_n AS BIGINT) AS cum_n,
              |CAST(cum_pos AS BIGINT) AS cum_pos,
              |CAST((cum_pos * 1000000) // cum_n AS BIGINT) AS precision_x1e6,
              |CAST((cum_pos * 1000000) // tp AS BIGINT) AS recall_x1e6
              |FROM r, tot ORDER BY score""".stripMargin.replace("\n", " "))),

    // Calibration / reliability bins for the quality score: 10
    // equi-WIDTH bins over the observed [min, max] score range (the
    // +1 denominator puts the max in bin 9 without a clamp), per-bin
    // count, positive count, and exact ×1e6 positive rate. The range
    // scalars ride the plan as a broadcast 1-row cross join — no
    // collect — then ONE partial-agg shuffle of 10 groups. Bin ids,
    // rates: all non-negative integer arithmetic, engine-exact.
    QueryDef("ml3_calibration",
      (s, dir) => {
        val b = Materialize(scored(s, dir))
        val ext = b.crossJoin(broadcast(
          b.agg(min("sc").as("__smin"), max("sc").as("__smax"))))
        ext
          .withColumn("bin", expr(
            """CAST(CASE WHEN __smax = __smin THEN 0
              | ELSE ((sc - __smin) * 10) DIV (__smax - __smin + 1)
              | END AS BIGINT)""".stripMargin.replace("\n", " ")))
          .groupBy("bin")
          .agg(count(lit(1)).as("n"), sum("y").as("n_pos"),
            min("sc").as("min_score"), max("sc").as("max_score"))
          .select(col("bin"), col("n"), col("n_pos").cast("long").as("n_pos"),
            expr("CAST((n_pos * 1000000) DIV n AS BIGINT)")
              .as("pos_rate_x1e6"),
            col("min_score"), col("max_score"))
          .orderBy("bin")
      },
      Some(s"""WITH $duckScored,
              |r AS (SELECT min(sc) AS smin, max(sc) AS smax FROM b),
              |binned AS (SELECT y, sc,
              |  CASE WHEN r.smax = r.smin THEN 0
              |    ELSE ((sc - r.smin) * 10) // (r.smax - r.smin + 1) END AS bin
              |  FROM b CROSS JOIN r)
              |SELECT CAST(bin AS BIGINT) AS bin, count(*) AS n,
              |CAST(sum(y) AS BIGINT) AS n_pos,
              |CAST((sum(y) * 1000000) // count(*) AS BIGINT) AS pos_rate_x1e6,
              |min(sc) AS min_score, max(sc) AS max_score
              |FROM binned GROUP BY 1 ORDER BY bin""".stripMargin.replace("\n", " "))),

    // Interval-union coverage: total micros of the timeline covered by
    // ≥1 of the [ts, ts+10min) event intervals — the classic sweep-line
    // (+1/−1 boundary deltas, running count, sum the gaps where the
    // count is positive), with BOTH global passes fused into ONE
    // distributed Rank.globalSweep (running count + previous-boundary
    // time from a single bucketing/stats/window pass) — no
    // single-reducer window at any cardinality (the boundary table is
    // O(2·distinct ts); a bare Window.orderBy would funnel it through
    // one task). Exact long microseconds end to end; the run at the
    // PREVIOUS boundary is recovered as run − delta (the running sum is
    // inclusive), so no second lag is needed.
    QueryDef("ivl2_interval_coverage",
      (s, dir) => {
        // Boundary generation as a union of two single-column projections
        // of the pruned scan (ts only, ~8 B/row each pass) feeding ONE
        // map-side-combined shuffle on bt. Rejected alternatives, both
        // benched no faster here: explode(array(struct,struct)) trades
        // the second pruned-column pass for per-row Generate allocation;
        // pre-aggregating on t0 first adds a same-size shuffle whenever
        // timestamps are near-unique, as event-stream micros are.
        val ev = t(s, dir, "events").select(unix_micros(col("ts")).as("t0"))
        val bounds = ev.select(col("t0").as("bt"), lit(1L).as("d"))
          .unionByName(
            ev.select((col("t0") + 600000000L).as("bt"), lit(-1L).as("d")))
        val agg = bounds.groupBy("bt").agg(sum("d").as("delta"))
        val sw = Rank.globalSweep(agg, "bt", "delta",
          runOut = "run", lagOut = "prev_t")
        sw.agg(
          sum(when(col("prev_t").isNotNull && (col("run") - col("delta")) > 0,
            col("bt") - col("prev_t")).otherwise(0L)).as("covered_us"),
          count(lit(1)).as("n_boundaries"))
      },
      Some("""WITH b AS (SELECT epoch_us(ts) AS bt, 1 AS d FROM events
             |  UNION ALL SELECT epoch_us(ts) + 600000000, -1 FROM events),
             |a AS (SELECT bt, sum(d) AS delta FROM b GROUP BY bt),
             |w AS (SELECT bt, delta,
             |  sum(delta) OVER (ORDER BY bt ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run,
             |  lag(bt) OVER (ORDER BY bt) AS prev_t FROM a)
             |SELECT CAST(sum(CASE WHEN prev_t IS NOT NULL AND run - delta > 0
             |  THEN bt - prev_t ELSE 0 END) AS BIGINT) AS covered_us,
             |count(*) AS n_boundaries FROM w""".stripMargin.replace("\n", " "))),

    // Largest idle gaps in the event stream: the k longest stretches
    // between consecutive DISTINCT event timestamps — Rank.globalLag's
    // standalone oracle consumer (global gap detection; ivl2 rides the
    // fused sweep instead). Distinct-ts aggregation first (globalLag's
    // contract AND one map-side-combined shuffle over the fact table),
    // the lag itself never single-reducer, then a native
    // TakeOrderedAndProject top-k — total order by (gap DESC, start
    // ASC). Exact long microseconds.
    QueryDef("ivl3_largest_gaps",
      (s, dir) => {
        val ts = t(s, dir, "events")
          .select(unix_micros(col("ts")).as("t0")).distinct()
        Rank.globalLag(ts, "t0", "t0", outCol = "prev_t")
          .filter(col("prev_t").isNotNull)
          .select(col("prev_t").as("gap_start_us"),
            col("t0").as("gap_end_us"),
            (col("t0") - col("prev_t")).as("gap_us"))
          .orderBy(col("gap_us").desc, col("gap_start_us"))
          .limit(5)
      },
      Some("""WITH d AS (SELECT DISTINCT epoch_us(ts) AS t0 FROM events),
             |w AS (SELECT lag(t0) OVER (ORDER BY t0) AS gap_start_us,
             |  t0 AS gap_end_us FROM d)
             |SELECT gap_start_us, gap_end_us,
             |gap_end_us - gap_start_us AS gap_us FROM w
             |WHERE gap_start_us IS NOT NULL
             |ORDER BY gap_us DESC, gap_start_us LIMIT 5"""
        .stripMargin.replace("\n", " "))),

    // Interval-×-interval OVERLAP join via grid bucketing — the join
    // shape neither an equi-join nor r1's point-in-window range join
    // covers: signup activity windows [ts, ts+30 min) against click
    // windows [ts, ts+5 min). The naive form is a cartesian; the
    // operator explodes each interval to 10-min grid cells, equi-joins
    // on the cell, and keeps each true pair ONLY in the first cell both
    // sides share (the max(start) cell) — exactly-once pairs with no
    // distinct. Left join back preserves zero-overlap signups. Exact
    // long-micros arithmetic end to end.
    QueryDef("ivl4_overlap_join",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val a = ev.filter(col("event_type") === "signup")
          .select(col("event_id").as("a_id"), unix_micros(col("ts")).as("a_s"))
          .withColumn("a_e", col("a_s") + lit(1800000000L))
        val b = ev.filter(col("event_type") === "click")
          .select(unix_micros(col("ts")).as("b_s"))
          .withColumn("b_e", col("b_s") + lit(300000000L))
        val pairs = graft.operators.Intervals.overlapJoin(
          a, "a_s", "a_e", b, "b_s", "b_e", bucketWidthUs = 600000000L)
        a.select("a_id")
          .join(pairs.groupBy("a_id").agg(count(lit(1)).as("n_overlap")),
            Seq("a_id"), "left")
          .select(col("a_id"),
            coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
          .orderBy("a_id")
      },
      Some("""WITH a AS (SELECT event_id AS a_id, epoch_us(ts) AS s FROM events WHERE event_type = 'signup'),
             |b AS (SELECT epoch_us(ts) AS s FROM events WHERE event_type = 'click')
             |SELECT a_id, CAST(count(b.s) AS BIGINT) AS n_overlap
             |FROM a LEFT JOIN b ON a.s < b.s + 300000000 AND b.s < a.s + 1800000000
             |GROUP BY a_id ORDER BY a_id""".stripMargin.replace("\n", " "))),

    // Degree distribution of the supplier↔part bipartite graph (the
    // edge set graph1–graph4 analyze): distinct observed pairs, degree
    // = incident distinct edges per node, histogram over degrees. Three
    // partial-agg shuffles, each smaller than the last — the profile
    // you check BEFORE running pagerank/k-core to see whether the graph
    // has the celebrity-core skew the iterative operators salt for.
    QueryDef("graph5_degree_dist",
      (s, dir) => {
        // parity-encode the two node sets (2k parts, 2k+1 suppliers) —
        // collision-free at ANY scale factor, unlike a fixed offset,
        // which l_partkey outgrows at SF ≥ 5 (200k parts per SF)
        val pairs = t(s, dir, "lineitem")
          .select((col("l_suppkey") * 2L + 1L).cast("long").as("a"),
            (col("l_partkey") * 2L).cast("long").as("b"))
          .distinct()
        pairs.select(col("a").as("node"))
          .unionByName(pairs.select(col("b").as("node")))
          .groupBy("node").agg(count(lit(1)).as("degree"))
          .groupBy("degree").agg(count(lit(1)).as("n_nodes"))
          .orderBy("degree")
      },
      Some("""WITH pairs AS (SELECT DISTINCT CAST(l_suppkey AS BIGINT) * 2 + 1 AS a,
             |  CAST(l_partkey AS BIGINT) * 2 AS b FROM lineitem),
             |nodes AS (SELECT a AS node FROM pairs UNION ALL SELECT b FROM pairs),
             |deg AS (SELECT node, count(*) AS degree FROM nodes GROUP BY 1)
             |SELECT degree, count(*) AS n_nodes FROM deg
             |GROUP BY 1 ORDER BY degree""".stripMargin.replace("\n", " "))),

    // Quality-classifier TRAINING (the step ml1-ml5 only evaluate): a
    // distributed full-batch logistic regression on two closed-form doc
    // features (n_chars, word count), labeled by a linear rule with a
    // MARGIN BAND EXCLUDED (|n_chars − 5.5·words| > 5). The band makes
    // the oracle EMPIRICALLY robust, not partitioning-proof: a
    // regularized 25-iteration IRLS fit only APPROACHES the max-margin
    // separator, and with f_chars/f_words nearly collinear a slightly
    // tilted near-optimal boundary could in principle clip a band-edge
    // doc. So the query asserts the separating property EXPLICITLY —
    // min over training docs of the signed fit margin (2y−1)·(b + w·x)
    // must be > 0 — and FAILS FAST with the measured margin if a fit
    // ever lands non-separating (a descriptive error on the board, not
    // a silent hash mismatch). DuckDB cannot restate IRLS; it CAN
    // restate the asserted property — and since separation pins every
    // kept doc's PREDICTED CLASS to its planted side of the boundary,
    // the emission is the model's own per-doc prediction (VALUE-
    // CARRYING, the ml13 pattern: a tilted fit flips emitted values,
    // not just an engine-side assert), which the oracle recomputes
    // from the planted rule. Weight-level semantics (convergence,
    // standardization fold-back, fail-fasts) are pinned in TrainerSpec.
    QueryDef("ml6_logreg_train",
      (s, dir) => {
        val words = expr("length(text) - length(replace(text, ' ', '')) + 1")
        val z = col("n_chars").cast("double") - lit(5.5) * words.cast("double")
        val train = t(s, dir, "documents")
          .filter(abs(z) > 5.0)
          .select(col("doc_id"), col("n_chars").cast("double").as("f_chars"),
            words.cast("double").as("f_words"),
            when(z > 0, 1.0).otherwise(0.0).as("y"))
        val model = graft.operators.Trainer.logisticFit(train,
          Seq("f_chars", "f_words"), "y")
        val marginOf = model.featCols.zip(model.weights)
          .map { case (c, wi) => col(c) * lit(wi) }
          .foldLeft(lit(model.bias): Column)(_ + _)
        val minMargin = train
          .agg(min((lit(2.0) * col("y") - 1.0) * marginOf)).head().getDouble(0)
        require(minMargin > 0.0,
          f"ml6: fitted boundary does not separate the banded training " +
            f"set (min signed margin $minMargin%.6g) — near-collinear " +
            "features tilted the regularized optimum; widen the band or " +
            "lower l2")
        train.select(col("doc_id"),
            when(graft.operators.Trainer.logisticScore(model) > 0.5, 1L)
              .otherwise(0L).as("pred_class"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, CAST(CASE WHEN CAST(n_chars AS DOUBLE)
             |  - 5.5*(length(text) - length(replace(text, ' ', '')) + 1) > 5
             |  THEN 1 ELSE 0 END AS BIGINT) AS pred_class FROM documents
             |WHERE abs(CAST(n_chars AS DOUBLE)
             |  - 5.5*(length(text) - length(replace(text, ' ', '')) + 1)) > 5
             |ORDER BY doc_id""".stripMargin.replace("\n", " "))),

    // Closed-form ridge regression in ONE distributed pass (moment
    // matrix + driver solve — no iterations, the cheapest trainer shape
    // at 100 TB). PLANTED EXACT-FIT, VALUE-CARRYING ORACLE (the ml13
    // pattern): the label is a noiseless linear function of the two
    // INTEGER features (y = 2·chars − 3·words + 5, so y·10 is an exact
    // integer the oracle recomputes), and the emission is the model's
    // own prediction quantized ×10 — round(pred·10) — behind an
    // explicit worst-error assert at 1e-3, fifty times inside the 0.05
    // rounding boundary (solver residual is ~1e-10; the assert is the
    // honesty floor, the quantum the safety margin). Any model drift
    // ≥ 0.05 flips emitted values. Weight-level semantics in TrainerSpec.
    QueryDef("ml7_ridge_fit",
      (s, dir) => {
        val words = expr("length(text) - length(replace(text, ' ', '')) + 1")
        val train = t(s, dir, "documents")
          .select(col("doc_id"), col("n_chars").cast("double").as("f_chars"),
            words.cast("double").as("f_words"))
          .withColumn("y", lit(2.0) * col("f_chars") - lit(3.0) * col("f_words") + lit(5.0))
        val model = graft.operators.Trainer.ridgeFit(train,
          Seq("f_chars", "f_words"), "y")
        val scored = train.select(col("doc_id"), col("y"),
          graft.operators.Trainer.linearScore(model).as("pred"))
        val worst = scored.agg(max(abs(col("pred") - col("y"))))
          .head().getDouble(0)
        require(worst < 1e-3,
          f"ml7: ridge must reproduce the planted noiseless linear " +
            f"label (worst abs error $worst%.3g)")
        scored.select(col("doc_id"),
            round(col("pred") * 10, 0).cast("long").as("pred_x10"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, CAST(10 * (2 * n_chars
             |  - 3 * (length(text) - length(replace(text, ' ', '')) + 1)
             |  + 5) AS BIGINT) AS pred_x10 FROM documents
             |ORDER BY doc_id""".stripMargin.replace("\n", " "))),

    // Isotonic (PAV) calibration of a quality-ish score — the
    // non-parametric sibling of ml3's fixed-bin calibration. Exact
    // integer PAV on per-knot (count, label-sum) pairs → bit-identical
    // model under any partitioning; applied back via a broadcast RANGE
    // join (map-side scoring — the emitted calibrated_x1e9 rides
    // THROUGH `calibrate`, so the range-join path is on the hash too).
    // VALUE-CARRYING ORACLE via the PAV minimax identity (see ml16 —
    // iso(i) = max_{j≤i} min_{k≥i} avg(j..k); floor commutes with
    // min/max, so the O(knots³)-pair DuckDB self-join reproduces the
    // engine's floor-quantized pooled rationals bit-exactly).
    QueryDef("ml8_isotonic_calibration",
      (s, dir) => {
        val score = expr(
          "CAST((length(text) - length(replace(text, ' ', '')) + 1) DIV 10 AS BIGINT)")
        val scored = t(s, dir, "documents").select(col("doc_id"),
          score.as("score"),
          when(col("n_chars") % 100 < least(score * 17, lit(100)), 1)
            .otherwise(0).as("y"))
        val model = graft.operators.Trainer.isotonicFit(scored, "score", "y")
        val knots = scored.groupBy("score").agg(count(lit(1)).as("n"))
        graft.operators.Trainer.calibrate(knots, "score", model)
          .select(col("score"), col("n"), col("calibrated_x1e9"))
          .orderBy("score")
      },
      Some("""WITH b AS (SELECT n_chars,
             |  (length(text) - length(replace(text, ' ', '')) + 1) // 10 AS score
             |  FROM documents),
             |k AS (SELECT score, count(*) AS n,
             |  sum(CASE WHEN n_chars % 100 < least(score * 17, 100) THEN 1 ELSE 0 END) AS w
             |  FROM b GROUP BY 1),
             |c AS (SELECT score, n, w,
             |  sum(n) OVER (ORDER BY score) AS cn,
             |  sum(w) OVER (ORDER BY score) AS cw FROM k),
             |r AS (SELECT i.score AS score, lo.score AS lo_s,
             |  (CAST(hi.cw - (lo.cw - lo.w) AS HUGEINT) * 1000000000)
             |    // CAST(hi.cn - (lo.cn - lo.n) AS HUGEINT) AS q
             |  FROM c i
             |  JOIN c lo ON lo.score <= i.score
             |  JOIN c hi ON hi.score >= i.score),
             |m AS (SELECT score, lo_s, min(q) AS mn FROM r GROUP BY 1, 2),
             |cal AS (SELECT score, max(mn) AS cal FROM m GROUP BY 1)
             |SELECT k.score, k.n, CAST(cal.cal AS BIGINT) AS calibrated_x1e9
             |FROM k JOIN cal ON k.score = cal.score
             |ORDER BY k.score""".stripMargin.replace("\n", " "))),

    // Preference-strength ranking (the RLHF preference-data / arena
    // operator): Bradley–Terry MLE via the Hunter (2004) MM iteration,
    // strengths kept DISTRIBUTED (two joins + one agg per round over the
    // once-aggregated pair counts — items can be millions). PLANTED
    // ORACLE: 8 items with strengths 1.6^i, every pair plays 40 matches
    // with the win split at its closed-form expectation, so the fitted
    // ranking must reproduce the planted order exactly — rank k-i for
    // item i. Strength values themselves are FP and engine-internal;
    // the recovered ORDER is the invariant (TrainerSpec pins strength
    // ratios and the Ford fail-fasts).
    QueryDef("pref1_bradley_terry",
      (s, dir) => {
        import s.implicits._
        val k = 8
        val pairIdx = (for { i <- 0 until k; j <- (i + 1) until k }
          yield (i.toLong, j.toLong)).toDF("i", "j")
        val si = pow(lit(1.6), col("i")); val sj = pow(lit(1.6), col("j"))
        val winsI = round(lit(40) * si / (si + sj)).cast("long")
        val comps = pairIdx.select(col("i"), col("j"), winsI.as("wi"))
          .select(explode(concat(
            transform(sequence(lit(1L), col("wi")),
              _ => struct(col("i").as("w"), col("j").as("l"))),
            transform(sequence(lit(1L), lit(40L) - col("wi")),
              _ => struct(col("j").as("w"), col("i").as("l"))))).as("m"))
          .select(col("m.w").as("winner"), col("m.l").as("loser"))
        // 6-round cap: for this balanced planted design at expected win
        // splits the recovered RANKING (the oracle's whole subject) is
        // correct from MM round 1 (probed through round 6 — identical),
        // so 6 rounds is a 6× margin and each round is a full
        // pin+join+agg pass, the query's entire cost; strength VALUES
        // keep converging for ~26 rounds, but nothing here reads them.
        // tol=1e-3 is the trainer's general early-stop — inert under
        // this cap (movement stays > 1e-3 through round 6), it guards
        // any future cap raise from buying precision the oracle can't see
        graft.operators.Trainer.bradleyTerryFit(comps, "winner", "loser",
          rounds = 6, tol = 1e-3)
          .select(col("item"),
            row_number().over(org.apache.spark.sql.expressions.Window
              .orderBy(col("strength").desc, col("item"))).cast("long").as("rank"))
          .orderBy("item")
      },
      Some("""SELECT r AS item, CAST(8 - r AS BIGINT) AS rank
             |FROM range(0, 8) t(r) ORDER BY item""".stripMargin.replace("\n", " "))),

    // K-fold cross-validated ridge, OUT-OF-FOLD face — every doc scored
    // by the model that never saw it (crossValidateRidgeScored, the
    // stacking primitive). Folds are a pure md5(id) function (samp7's
    // formula — reproducible under any partitioning); the label is the
    // same noiseless planted INTEGER line as ml7, so each fold's
    // held-out predictions must reproduce it to solver noise.
    // VALUE-CARRYING ORACLE (the ml7/ml13 pattern): emits the per-doc
    // OOF fold AND prediction quantized ×10 behind an explicit 1e-3
    // worst-error assert (50× inside the rounding boundary); the
    // oracle recomputes the fold assignment and the planted integers
    // closed-form. The k-fits-plus-k-scoring-projections loop is what
    // the engine is graded on; the per-fold error summary face stays
    // spec-pinned (TrainerSpec).
    QueryDef("ml9_cv_ridge",
      (s, dir) => {
        val words = expr("length(text) - length(replace(text, ' ', '')) + 1")
        val train = t(s, dir, "documents")
          .select(col("doc_id"), col("n_chars").cast("double").as("f_chars"),
            words.cast("double").as("f_words"))
          .withColumn("y",
            lit(2.0) * col("f_chars") - lit(3.0) * col("f_words") + lit(5.0))
        val scored = graft.operators.Trainer.crossValidateRidgeScored(train,
          Seq("f_chars", "f_words"), "y", "doc_id", k = 5)
        val joined = scored.join(
          train.select(col("doc_id"), col("y")), "doc_id")
        val worst = joined.agg(max(abs(col("pred") - col("y"))))
          .head().getDouble(0)
        require(worst < 1e-3,
          f"ml9: every fold's held-out predictions must reproduce the " +
            f"planted noiseless line (worst abs error $worst%.3g)")
        scored.select(col("doc_id"), col("fold"),
            round(col("pred") * 10, 0).cast("long").as("pred_x10"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'graft'), 1, 8))::UBIGINT % 5 AS BIGINT) AS fold,
             |CAST(10 * (2 * n_chars
             |  - 3 * (length(text) - length(replace(text, ' ', '')) + 1)
             |  + 5) AS BIGINT) AS pred_x10
             |FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " "))),

    // "Many models" — an independent ridge fit PER SOURCE in ONE
    // aggregation pass (per-group moment matrices partial-aggregate in
    // a single groupBy shuffle; the driver solves each tiny system),
    // scored back through a broadcast join + dot product. PLANTED
    // per-group oracle: each source's label is a DIFFERENT noiseless
    // linear function (slope and intercept depend on the source index),
    // so a single global fit CANNOT satisfy it — only genuinely
    // separate per-group models do. Features chosen non-collinear
    // (word count, doc_id mod 7) so every group's centered system is
    // well-conditioned at any SF. VALUE-CARRYING ORACLE (the ml7
    // pattern, per group): every planted label is an INTEGER (integer
    // slope × integer feature + integer shift), so the emission is the
    // model's own per-doc prediction quantized ×10 behind an explicit
    // 1e-3 worst-error assert (50× inside the rounding boundary), and
    // the oracle recomputes each group's closed form — a fit that
    // collapses to one global model flips emitted values, not a flag.
    QueryDef("ml10_per_group_ridge",
      (s, dir) => {
        val words = expr("length(text) - length(replace(text, ' ', '')) + 1")
        val idx = expr("CAST(substring(source, 4) AS DOUBLE)")
        val dfl = t(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            words.cast("double").as("f_words"),
            expr("CAST(doc_id % 7 AS DOUBLE)").as("f_mod"))
          .withColumn("y",
            (lit(2.0) + idx) * col("f_words") - lit(3.0) * col("f_mod") +
              lit(10.0) * idx)
        val model = graft.operators.Trainer.ridgeFitPerGroup(dfl, "source",
          Seq("f_words", "f_mod"), "y")
        // NO pin (the ml12/ml13 rationale): the honesty assert pays one
        // extra map-only scoring pass (scan + broadcast join over a
        // tiny doc table) so the SERVED plan stays auditable — PlanSpec
        // pins the broadcast model join on this query's executed plan,
        // which a Materialize pin would hide behind a Scan ExistingRDD
        val scored = graft.operators.Trainer.scorePerGroup(dfl, model,
          "source", Seq("f_words", "f_mod"))
        val worst = scored.agg(max(abs(col("pred") - col("y"))))
          .head().getDouble(0)
        require(worst < 1e-3,
          f"ml10: per-group ridge must reproduce the planted per-source " +
            f"linear labels (worst abs error $worst%.3g)")
        scored.select(col("doc_id"), col("source"),
            round(col("pred") * 10, 0).cast("long").as("pred_x10"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, source, CAST(10 * (
             |  (2 + CAST(substring(source, 4) AS BIGINT))
             |    * (length(text) - length(replace(text, ' ', '')) + 1)
             |  - 3 * (doc_id % 7)
             |  + 10 * CAST(substring(source, 4) AS BIGINT)) AS BIGINT) AS pred_x10
             |FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " "))),

    // "Many models", logistic edition: an independent IRLS quality
    // classifier PER SOURCE, every Newton round still ONE distributed
    // pass for all unconverged groups (per-group μ/σ/β ride a broadcast
    // parameter map into one RDD fold; converged groups leave it, so
    // later rounds shrink). PLANTED per-group oracle: each source's
    // label rule has a DIFFERENT slope (4 + idx mod 4) with a margin
    // band excluded, so
    // one global boundary cannot classify every group — only genuinely
    // per-group fits can. Same honesty contract as ml6: the query
    // ASSERTS the per-group separating property (min signed fit margin
    // > 0 across all groups) and fails fast with the measured margin —
    // and, since separation pins every banded doc's PREDICTED CLASS,
    // the emission is the model's own per-doc prediction (the ml6
    // value-carrying upgrade, per group), recomputed by the oracle
    // from each group's planted rule.
    QueryDef("ml11_per_group_logreg",
      (s, dir) => {
        val words = expr("length(text) - length(replace(text, ' ', '')) + 1")
        val slope = lit(4.0) +
          expr("CAST(substring(source, 4) AS BIGINT) % 4").cast("double")
        val z = col("n_chars").cast("double") - slope * words.cast("double")
        val train = t(s, dir, "documents")
          .filter(abs(z) > 5.0)
          .select(col("doc_id"), col("source"),
            col("n_chars").cast("double").as("f_chars"),
            words.cast("double").as("f_words"),
            when(z > 0, 1.0).otherwise(0.0).as("y"))
        // l2 well under the default: groups whose planted slope sits far
        // from the corpus's natural chars/words ratio are heavily class-
        // imbalanced, and at 1e-4 the regularizer pulls the boundary into
        // the band (observed at sf0.1: min margin −3.9 on one source —
        // caught by the fail-fast below, not a silent red); at 1e-7 the
        // optimum tracks the max-margin separator closely enough to clear
        // the band on every group at every SF
        val model = graft.operators.Trainer.logisticFitPerGroup(train,
          "source", Seq("f_chars", "f_words"), "y", iters = 40, l2 = 1e-7)
        // the scoring pass (corpus scan + broadcast join) runs ONCE:
        // pinned via Materialize, the honesty assert reads the pin and
        // the returned frame re-reads the same cached rows when the
        // driver hashes it — not the whole pass again (the banded doc
        // table is small at every SF: 10³-10⁴ rows). No release here:
        // the frame must stay readable until the batch driver's
        // query-boundary sweep frees the pin.
        val scored = graft.operators.Materialize(
          graft.operators.Trainer.scorePerGroup(train, model,
            "source", Seq("f_chars", "f_words")))
        val worst = scored
          .agg(min((lit(2.0) * col("y") - 1.0) * col("pred")))
          .head().getDouble(0)
        require(worst > 0.0,
          f"ml11: some group's fitted boundary does not separate its " +
            f"banded training set (min signed margin $worst%.6g)")
        scored.select(col("doc_id"), col("source"),
            when(col("pred") > 0, 1L).otherwise(0L).as("pred_class"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, source, CAST(CASE WHEN CAST(n_chars AS DOUBLE)
             |  - (4 + CAST(substring(source, 4) AS BIGINT) % 4)
             |    * (length(text) - length(replace(text, ' ', '')) + 1) > 5
             |  THEN 1 ELSE 0 END AS BIGINT) AS pred_class FROM documents
             |WHERE abs(CAST(n_chars AS DOUBLE) - (4 + CAST(substring(source, 4) AS BIGINT) % 4)
             |  * (length(text) - length(replace(text, ' ', '')) + 1)) > 5
             |ORDER BY doc_id""".stripMargin.replace("\n", " "))),

    // Arena-style win-rate leaderboard with the Wilson lower bound — the
    // preference ranking published when a full BT fit is overkill or
    // its Ford/connectivity preconditions don't hold. Comparisons are
    // derived closed-form from the event log (items = user_id digits
    // base 8; the winner rule biases toward the higher item id, so
    // rates spread), so the whole pipeline — derivation, one-pass
    // totals, DECIMAL(38,0) fixed-point rate, Wilson interval in a
    // FIXED double operation order — is SQL-stateable; both engines
    // round the interval to 6 decimals (the stat1/er2 float contract).
    QueryDef("pref2_wilson_leaderboard",
      (s, dir) => {
        val c = t(s, dir, "events")
          .filter(col("user_id").isNotNull)
          .select(pmod(col("user_id"), lit(8)).as("a"),
            pmod(expr("user_id DIV 8"), lit(8)).as("b"),
            pmod(col("event_id"), lit(100)).as("r"))
          .filter(col("a") =!= col("b"))
        val comps = c.select(
          when(col("r") < lit(50) + lit(7) * (col("a") - col("b")),
            col("a")).otherwise(col("b")).as("winner"),
          when(col("r") < lit(50) + lit(7) * (col("a") - col("b")),
            col("b")).otherwise(col("a")).as("loser"))
        graft.operators.Trainer.winRateLeaderboard(comps, "winner", "loser")
          .select(col("item"), col("wins"), col("comparisons"),
            col("win_rate_x1e6"), round(col("wilson_lo"), 6).as("wilson_lo"))
          .orderBy("item")
      },
      Some("""WITH c AS (SELECT user_id % 8 AS a, (user_id // 8) % 8 AS b, event_id % 100 AS r
             |  FROM events WHERE user_id IS NOT NULL),
             |p AS (SELECT CASE WHEN r < 50 + 7*(a-b) THEN a ELSE b END AS winner,
             |  CASE WHEN r < 50 + 7*(a-b) THEN b ELSE a END AS loser FROM c WHERE a <> b),
             |u AS (SELECT winner AS item, 1 AS w FROM p UNION ALL SELECT loser, 0 FROM p),
             |tt AS (SELECT item, CAST(sum(w) AS BIGINT) AS wins, count(*) AS comparisons FROM u GROUP BY 1),
             |x AS (SELECT item, wins, comparisons,
             |  CAST(wins AS DOUBLE) / CAST(comparisons AS DOUBLE) AS pd,
             |  CAST(comparisons AS DOUBLE) AS nd FROM tt)
             |SELECT item, wins, comparisons,
             |CAST(CAST(wins AS HUGEINT) * 1000000 // comparisons AS BIGINT) AS win_rate_x1e6,
             |round((pd + (1.96*1.96)/(2.0*nd) - 1.96*sqrt(pd*(1.0 - pd)/nd + (1.96*1.96)/(4.0*nd*nd))) / (1.0 + (1.96*1.96)/nd), 6) AS wilson_lo
             |FROM x ORDER BY item""".stripMargin.replace("\n", " "))),

    // Poisson GLM (log link) by IRLS — the COUNT-data trainer (events
    // per user, tokens per doc): one aggregation per Newton round, the
    // ml6/ml7 family's third loss. PLANTED EXACT-MLE ORACLE: the label
    // is EXACTLY log-linear in the features (y = exp(1 + 0.01·chars −
    // 0.02·words), y ∈ [~0.6, ~550] on this table), so the unpenalized
    // Poisson score equations Σ(y−μ)x = 0 are solved by the planted
    // coefficients EXACTLY — the fitted means must reproduce the label
    // to solver noise at any SF and any partitioning (the ml7 property
    // pattern; weight-level semantics live in TrainerSpec). The query
    // ASSERTS the recovery explicitly (ml6's honesty contract) so a
    // regression fails fast with the measured error, never a silent
    // hash red.
    QueryDef("ml12_poisson_glm",
      (s, dir) => {
        val words = expr("length(text) - length(replace(text, ' ', '')) + 1")
        val train = t(s, dir, "documents")
          .select(col("doc_id"), col("n_chars").cast("double").as("f_chars"),
            words.cast("double").as("f_words"))
          .withColumn("y", exp(lit(1.0) + lit(0.01) * col("f_chars")
            - lit(0.02) * col("f_words")))
        val model = graft.operators.Trainer.poissonFit(train,
          Seq("f_chars", "f_words"), "y")
        // scored is CORPUS-sized (unlike ml11's 20-row per-group frame),
        // so the assert deliberately costs one extra map-only scan
        // rather than pinning the whole corpus to save it
        val scored = train.select(col("doc_id"), col("y"),
          graft.operators.Trainer.poissonScore(model).as("pred"))
        val worst = scored.agg(max(abs(col("pred") / col("y") - 1.0)))
          .head().getDouble(0)
        require(worst < 1e-6,
          f"ml12: fitted means must reproduce the exactly-log-linear " +
            f"label (worst relative error $worst%.3g)")
        // VALUE-CARRYING EMISSION (the ml13 pattern, through the log
        // link): ln(pred) must equal the planted linear predictor
        // 1 + 0.01·chars − 0.02·words to ~1e-6, and THAT ×1000 is an
        // exact integer (1000 + 10·chars − 20·words) the oracle
        // recomputes — round(ln(pred)·1000) sits within ~1e-3 of it,
        // 500× inside the rounding boundary
        scored.select(col("doc_id"),
            round(log(col("pred")) * 1000, 0).cast("long")
              .as("pred_eta_x1e3"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, CAST(1000 + 10 * n_chars
             |  - 20 * (length(text) - length(replace(text, ' ', '')) + 1)
             |  AS BIGINT) AS pred_eta_x1e3 FROM documents
             |ORDER BY doc_id""".stripMargin.replace("\n", " "))),

    // Histogram gradient-boosted stumps (squared loss) — the
    // LightGBM-shaped trainer: features binned once, every boosting
    // round ONE partial-aggregated scan of d·64 residual sums, driver
    // sweeps the bins for the best split. PLANTED ADDITIVE-STEP ORACLE:
    // the label is a sum of two step functions on (near-)independent
    // integer features (n_chars DIV 10 and doc_id % 7 — independence is
    // what makes greedy stumps contract at corr² per pair of rounds),
    // each jump sitting on an integer and the feature ranges < 64 so
    // every jump is exactly a bin boundary. Boosting must reproduce the
    // label below 1e-6 everywhere — asserted explicitly (the ml6/ml12
    // honesty contract). VALUE-CARRYING ORACLE (not a TRUE flag): the
    // emitted column is the model's OWN per-doc prediction quantized at
    // ×10³ — round(pred·1000) — and the oracle recomputes the planted
    // label's exact ×10³ integer independently. The quantum is chosen
    // 500× above the asserted convergence bound (|pred − y| < 1e-6 ⇒
    // pred·1000 sits within 1e-3 of the integer y·1000, far from the
    // 0.5 rounding boundary, so HALF_UP/HALF_EVEN agree and the hash
    // pins the actual model output: any model drift ≥ 0.5e-3 flips
    // values, not just an engine-side assert).
    QueryDef("ml13_boosted_stumps",
      (s, dir) => {
        val train = t(s, dir, "documents")
          .select(col("doc_id"),
            expr("CAST(n_chars DIV 10 AS DOUBLE)").as("f_cb"),
            expr("CAST(doc_id % 7 AS DOUBLE)").as("f_mod"))
          .withColumn("y", lit(2.0)
            + when(col("f_cb") > 30.0, 8.0).otherwise(0.0)
            + when(col("f_mod") > 3.0, 3.0).otherwise(0.0))
        val model = graft.operators.Trainer.boostStumps(train,
          Seq("f_cb", "f_mod"), "y", rounds = 60)
        // corpus-sized scored frame: the assert costs one map-only scan,
        // not a pin (the ml12 rationale)
        val scored = train.select(col("doc_id"), col("y"),
          model.score.as("pred"))
        val worst = scored.agg(max(abs(col("pred") - col("y"))))
          .head().getDouble(0)
        require(worst < 1e-6,
          f"ml13: boosted stumps must reproduce the planted additive " +
            f"steps (worst abs error $worst%.3g after ${model.roundsRun} rounds)")
        scored.select(col("doc_id"),
            round(col("pred") * 1000, 0).cast("long").as("pred_x1e3"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, CAST(2000
             |+ CASE WHEN n_chars // 10 > 30 THEN 8000 ELSE 0 END
             |+ CASE WHEN doc_id % 7 > 3 THEN 3000 ELSE 0 END AS BIGINT) AS pred_x1e3
             |FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " "))),

    // Per-slice AUC — the many-models EVAL face pairing the ml10/ml11
    // many-models trainers: one AUC per event_type without one job per
    // slice (a model can hold a strong global ml2 number while one
    // slice sits at chance). Trainer.aucPerGroup: ONE corpus pass to
    // the O(distinct (slice, score)) count table, per-slice doubled
    // avg-ranks via ONE multi-series Rank.globalRunningSum (never a
    // per-slice single-task window), all-integer DECIMAL(38,0)
    // rank-sum identity — engine/partitioning-exact. Label = user_id
    // parity (deterministic synthetic), score = the raw metric value.
    QueryDef("ml14_per_group_auc",
      (s, dir) => {
        val b = t(s, dir, "events")
          .filter(col("user_id").isNotNull && col("value").isNotNull)
          .select(col("event_type").as("g"),
            pmod(col("user_id"), lit(2)).as("y"), col("value").as("sc"))
        graft.operators.Trainer.aucPerGroup(b, "g", "y", "sc")
          .orderBy("g")
      },
      Some("""WITH b AS (SELECT event_type AS g, user_id % 2 AS y, value AS sc
             |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
             |cnt AS (SELECT g, sc, count(*) AS c, sum(y) AS pos FROM b GROUP BY g, sc),
             |rm AS (SELECT g, pos, c, 2 * (sum(c) OVER (PARTITION BY g ORDER BY sc
             |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c) + c + 1 AS rv FROM cnt),
             |a AS (SELECT g, sum(pos) AS n_pos, sum(c) - sum(pos) AS n_neg,
             |  sum(CAST(pos AS HUGEINT) * rv) AS r1x2 FROM rm GROUP BY g)
             |SELECT g, CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg,
             |CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL ELSE
             |  CAST(((r1x2 - CAST(n_pos AS HUGEINT) * (n_pos + 1)) * 1000000000)
             |    // (2 * CAST(n_pos AS HUGEINT) * n_neg) AS BIGINT) END AS auc_x1e9
             |FROM a ORDER BY g""".stripMargin.replace("\n", " "))),

    // Split-conformal calibration (Vovk et al.; the distribution-free
    // prediction-interval recipe): train a per-flag price model on the
    // TRAIN split, take the ceil((n_cal+1)·0.9)-th smallest absolute
    // residual on the CALIBRATION split as the interval half-width q
    // — a true CEILING, ((n_cal+1)·9 + 9) DIV 10, capped at n_cal:
    // floor would sit one rank low whenever (n_cal+1)·9 % 10 ≠ 0 and
    // quietly void the finite-sample guarantee (e.g. n_cal = 10 needs
    // rank 10, floor picks 9) —
    // report q and the achieved coverage on the held-out TEST split —
    // the finite-sample ≥90% guarantee a serving pipeline audits.
    // Everything integer-exact: the model is the floored per-flag mean
    // in cents (sum DIV n — one integer floor, identical both engines),
    // residuals are cents, q is a true ORDER STATISTIC (the k-th
    // smallest of a multiset — no interpolation, engine-independent)
    // found via per-flag running counts over the O(distinct (flag,
    // residual)) table on ONE multi-series Rank.globalRunningSum —
    // never a per-flag single-task window. Splits by l_orderkey % 10
    // (6/2/2), disjoint by construction. The lineitem base is pinned
    // once (Materialize) — model, calibration, and test passes share it.
    QueryDef("ml15_conformal",
      (s, dir) => {
        val dec = (c: Column) => c.cast("decimal(18,2)")
        val d38 = (c: Column) => c.cast("decimal(38,0)")
        // pinned for the model/calibration/test passes; released by the
        // harness's query-boundary sweep (NOT here — the returned plan
        // is lazy, so an eager release would drop the blocks before the
        // consumer ever runs it)
        val base = Materialize(t(s, dir, "lineitem")
          .select(col("l_returnflag").as("g"),
            (dec(col("l_extendedprice")) * 100).cast("long").as("cents"),
            pmod(col("l_orderkey"), lit(10)).as("s")))
        val model = base.filter(col("s") < 6).groupBy("g")
          .agg(sum(d38(col("cents"))).as("__sum"), count(lit(1)).as("__n"))
          .select(col("g"), expr("CAST(__sum DIV __n AS BIGINT)").as("mu"))
        val cal = base.filter(col("s").isin(6, 7))
          .join(broadcast(model), "g")
          .select(col("g"), abs(col("cents") - col("mu")).as("r"))
        // the ceil-rank order statistic rides the bucket-pruned
        // Rank.globalWeightedMedian with the conformal rank function:
        // n_cal comes off its stats pass (no separate totals pass), and
        // the residual window runs over ONE target bucket per flag
        // instead of the whole distinct-residual table
        val cnt = cal.groupBy("g", "r").agg(count(lit(1)).as("c"))
        val q = Rank.globalWeightedMedian(cnt, "r", "c",
          seriesCols = Seq("g"), totalOut = "n_cal", medianOut = "q_cents",
          rankOf = w => math.min(((w + 1L) * 9L + 9L) / 10L, w))
        val cov = base.filter(col("s").isin(8, 9))
          .join(broadcast(model), "g")
          .join(broadcast(q), "g")
          .groupBy("g").agg(
            max(col("n_cal")).as("n_cal"),
            max(col("q_cents")).as("q_cents"),
            count(lit(1)).as("n_test"),
            sum(when(abs(col("cents") - col("mu")) <= col("q_cents"), 1L)
              .otherwise(0L)).as("__cov"))
        cov.select(col("g"), col("n_cal"), col("n_test"), col("q_cents"),
            expr("CAST(CAST(__cov AS DECIMAL(38,0)) * 1000000 DIV n_test AS BIGINT)")
              .as("coverage_x1e6"))
          .orderBy("g")
      },
      Some("""WITH base AS (SELECT l_returnflag AS g,
             |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
             |  l_orderkey % 10 AS s FROM lineitem),
             |model AS (SELECT g, sum(CAST(cents AS HUGEINT)) // count(*) AS mu
             |  FROM base WHERE s < 6 GROUP BY g),
             |cal AS (SELECT base.g, abs(cents - mu) AS r FROM base JOIN model ON base.g = model.g
             |  WHERE s IN (6, 7)),
             |nc AS (SELECT g, count(*) AS n_cal FROM cal GROUP BY g),
             |cnt AS (SELECT g, r, count(*) AS c FROM cal GROUP BY g, r),
             |rm AS (SELECT g, r, sum(c) OVER (PARTITION BY g ORDER BY r
             |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM cnt),
             |q AS (SELECT rm.g, min(r) AS q_cents, max(n_cal) AS n_cal
             |  FROM rm JOIN nc ON rm.g = nc.g
             |  WHERE cum >= least(((n_cal + 1) * 9 + 9) // 10, n_cal) GROUP BY rm.g),
             |fin AS (SELECT base.g AS g, max(q.n_cal) AS n_cal, count(*) AS n_test,
             |  CAST(max(q_cents) AS BIGINT) AS q_cents,
             |  CAST(sum(CASE WHEN abs(cents - mu) <= q_cents THEN 1 ELSE 0 END)
             |    * CAST(1000000 AS HUGEINT) // count(*) AS BIGINT) AS coverage_x1e6
             |  FROM base JOIN model ON base.g = model.g JOIN q ON base.g = q.g
             |  WHERE s IN (8, 9) GROUP BY base.g)
             |SELECT g, n_cal, n_test, q_cents, coverage_x1e6 FROM fin
             |ORDER BY g""".stripMargin.replace("\n", " "))),

    // DPO/RLHF preference-pair mining: per prompt (user), the best
    // scored response (chosen) against the worst (rejected), prompts
    // with ≥2 responses and a positive score spread only.
    // Trainer.preferencePairs: ONE partial-aggregated groupBy — argmax/
    // argmin ride max/min(struct(score, response)), so extremes combine
    // map-side, no window, no second scan; tie-break is the struct's
    // lexicographic order, restated in the oracle as ORDER BY (sc DESC,
    // e DESC) / (sc ASC, e ASC). Scores are exact value-cents.
    QueryDef("pref3_dpo_pairs",
      (s, dir) => {
        val b = t(s, dir, "events")
          .filter(col("user_id").isNotNull && col("value").isNotNull)
          .select(col("user_id"), col("event_id"),
            (col("value").cast("decimal(18,2)") * 100).cast("long").as("sc"))
        graft.operators.Trainer.preferencePairs(b, "user_id", "event_id", "sc")
          .orderBy("user_id")
      },
      Some("""WITH b AS (SELECT user_id AS u, event_id AS e,
             |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS sc
             |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
             |mx AS (SELECT u, e AS chosen, sc AS smax FROM
             |  (SELECT u, e, sc, row_number() OVER (PARTITION BY u ORDER BY sc DESC, e DESC) AS rn FROM b)
             |  WHERE rn = 1),
             |mn AS (SELECT u, e AS rejected, sc AS smin FROM
             |  (SELECT u, e, sc, row_number() OVER (PARTITION BY u ORDER BY sc ASC, e ASC) AS rn FROM b)
             |  WHERE rn = 1),
             |n AS (SELECT u, count(*) AS c FROM b GROUP BY u)
             |SELECT mx.u AS user_id, chosen, rejected, smax - smin AS margin
             |FROM mx JOIN mn ON mx.u = mn.u JOIN n ON mx.u = n.u
             |WHERE c >= 2 AND smax - smin >= 1
             |ORDER BY user_id""".stripMargin.replace("\n", " "))),

    // MANY-MODELS isotonic calibration: one PAV step function per
    // source (the per-slice calibrator a quality pipeline serves when
    // score scales differ across slices), fitted from ONE aggregation
    // to per-(source, score) integer knots — the ml8 contract, grouped.
    // VALUE-CARRYING ORACLE via the PAV MINIMAX IDENTITY: the isotonic
    // solution at knot i is max_{j≤i} min_{k≥i} avg(y over knots j..k)
    // (Barlow et al. 1972, the standard minimax characterization), and
    // because floor is monotone it COMMUTES with min and max — so
    // max_j min_k ((P(j,k)·10⁹) // N(j,k)) equals the engine's
    // floor-quantized pooled rational exactly. DuckDB recomputes every
    // calibrated_x1e9 from raw data with an O(knots³)-pair self-join —
    // trivial on the O(knots) table (knots = distinct word-decile
    // scores per source) even at sf0.1, and bit-exact: both sides are
    // pure integer arithmetic end to end.
    QueryDef("ml16_per_group_isotonic",
      (s, dir) => {
        val score = expr(
          "CAST((length(text) - length(replace(text, ' ', '')) + 1) DIV 10 AS BIGINT)")
        val scored = t(s, dir, "documents").select(col("source"),
          score.as("score"),
          when(col("n_chars") % 100 < least(score * 17, lit(100)), 1)
            .otherwise(0).as("y"))
        graft.operators.Trainer.isotonicFitPerGroup(
            scored, "source", "score", "y")
          .select(col("source"), col("knot").cast("long").as("score"),
            col("n"), col("calibrated_x1e9"))
          .orderBy("source", "score")
      },
      Some("""WITH b AS (SELECT source, n_chars,
             |  (length(text) - length(replace(text, ' ', '')) + 1) // 10 AS score
             |  FROM documents),
             |k AS (SELECT source, score, count(*) AS n,
             |  sum(CASE WHEN n_chars % 100 < least(score * 17, 100) THEN 1 ELSE 0 END) AS w
             |  FROM b GROUP BY 1, 2),
             |c AS (SELECT source, score, n, w,
             |  sum(n) OVER (PARTITION BY source ORDER BY score) AS cn,
             |  sum(w) OVER (PARTITION BY source ORDER BY score) AS cw FROM k),
             |r AS (SELECT i.source AS source, i.score AS score, lo.score AS lo_s,
             |  (CAST(hi.cw - (lo.cw - lo.w) AS HUGEINT) * 1000000000)
             |    // CAST(hi.cn - (lo.cn - lo.n) AS HUGEINT) AS q
             |  FROM c i
             |  JOIN c lo ON lo.source = i.source AND lo.score <= i.score
             |  JOIN c hi ON hi.source = i.source AND hi.score >= i.score),
             |m AS (SELECT source, score, lo_s, min(q) AS mn FROM r GROUP BY 1, 2, 3),
             |cal AS (SELECT source, score, max(mn) AS cal FROM m GROUP BY 1, 2)
             |SELECT k.source, CAST(k.score AS BIGINT) AS score, k.n,
             |  CAST(cal.cal AS BIGINT) AS calibrated_x1e9
             |FROM k JOIN cal ON k.source = cal.source AND k.score = cal.score
             |ORDER BY k.source, k.score""".stripMargin.replace("\n", " "))))
}
