package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed graph analytics over relational edge lists.
  *
  * Triangle counting is the canonical "naive SQL blows up at scale" graph
  * operator: the textbook 3-way self-join enumerates every WEDGE (path of
  * length 2), and wedge count grows with the square of the max degree — a
  * single celebrity vertex with 10⁶ neighbors yields 10¹² wedges. The
  * degree-orientation algorithm (Cohen 2009 / Suri-Vassilvitskii 2011
  * "Counting Triangles and the Curse of the Last Reducer") bounds this:
  * orient every edge from its lower-(degree, id) endpoint to the higher,
  * making the graph a DAG in which each vertex's out-degree is O(√|E|),
  * so wedges generated per vertex are O(|E|) total regardless of skew.
  * Same three shuffles as the naive join, strictly fewer intermediate
  * rows — the 100 TB-safe formulation.
  */
object Graph {

  /** Co-occurrence pairs from (group, item) rows: one output row (pa, pb)
    * with pa < pb for EVERY group containing both items. The naive form is
    * a self-join on the group key — two scans plus a shuffle each side;
    * this form aggregates each group's distinct items into one sorted
    * array (one shuffle) and emits the pairs map-side with the dedup
    * family's in-list pair step. Sound because pair count per group is
    * bounded by basket size² (baskets are small — orders, sessions,
    * sentences), NOT corpus²; for degenerate giant groups, cap the
    * basket upstream.
    *
    * The item column must be integral: a lossy cast (string SKUs, doubles)
    * would silently null-drop rows, so non-integral inputs are rejected up
    * front — hash string item ids to long upstream (e.g. `xxhash64`) if
    * needed.
    */
  def cooccurrencePairs(df: DataFrame, groupCol: String, itemCol: String): DataFrame =
    basketPairs(basketSets(df, groupCol, itemCol), "basket")

  /** The basket half of [[cooccurrencePairs]]: one row per group with its
    * sorted DISTINCT item array (collect_set dedups, so feeding the raw
    * fact table is identical to pre-distincting (group, item) — and one
    * shuffle cheaper; the old callers that did `.distinct()` first paid a
    * full (group, item) exchange that this aggregation subsumes).
    * Exposed separately (round-17) so market-basket consumers can pin
    * THIS O(groups) relation once and derive singleton counts / basket
    * totals from it instead of re-scanning the corpus per consumer —
    * the basket array is strictly smaller than its source and its
    * recompute crosses a shuffle, exactly the profile the mba/d11 pin
    * rule says to pin.
    */
  def basketSets(df: DataFrame, groupCol: String, itemCol: String): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, DataType, ShortType, IntegerType, LongType}
    val dt = df.schema(itemCol).dataType
    require(Set[DataType](ByteType, ShortType, IntegerType, LongType).contains(dt),
      s"cooccurrencePairs: item column '$itemCol' must be an integral type, " +
        s"got ${dt.simpleString}; hash non-numeric ids to long upstream (xxhash64)")
    df.select(col(groupCol).as("g"), col(itemCol).cast("long").as("it"))
      .filter(col("it").isNotNull)
      .groupBy("g").agg(sort_array(collect_set(col("it"))).as("basket"))
  }

  /** The pair-explosion half of [[cooccurrencePairs]] over a prebuilt
    * (sorted, distinct) basket-array relation — map-side, through the
    * dedup family's in-list pair step ([[Dedup.inListPairs]]), so per-row
    * memory stays O(basket) instead of an O(basket²) pair array. The
    * step renames the basket column before emitting, so its working
    * columns cannot collide with a basket column named `i` or `a`.
    */
  def basketPairs(baskets: DataFrame, basketCol: String): DataFrame =
    Dedup.inListPairs(baskets, basketCol).select(col("a").as("pa"), col("b").as("pb"))

  /** Canonical undirected edge list: (u < v), loops dropped, duplicates
    * collapsed. Input columns may list either endpoint first.
    */
  def canonicalEdges(edges: DataFrame, src: String, dst: String): DataFrame =
    edges.select(
      least(col(src), col(dst)).cast("long").as("u"),
      greatest(col(src), col(dst)).cast("long").as("v"))
      .filter(col("u") =!= col("v") && col("u").isNotNull && col("v").isNotNull)
      .distinct()

  /** Fixed-round k-core pruning: repeatedly drop vertices of degree < k
    * (with their edges) from the canonical undirected edge set — the
    * dense-core extractor (strip the long tail of a near-dup cluster
    * graph or a co-occurrence graph down to its stable community;
    * degree-1 noise vanishes in round one). Output: every vertex still
    * carrying an edge after `rounds` prunes, with its degree in that
    * surviving subgraph.
    *
    * ROUNDS ARE FIXED, not run-to-fixpoint, and that is the semantics
    * (documented, spec-pinned): each round is pure integer counting, so
    * a bounded unrolling is exactly SQL-expressible for the oracle, and
    * on real graphs the prune converges in a handful of rounds. A
    * non-converged prune is NOT silent: every output row carries a
    * `converged` boolean — true iff every surviving vertex has degree
    * ≥ k in the surviving subgraph, i.e. one more round would be a
    * no-op. It costs one scalar aggregate broadcast over the final
    * degrees (no extra prune round), and it is itself SQL-stateable
    * (min(deg) >= k over the oracle's final CTE), so the oracle pin
    * covers it. At scale: if `converged` reads false, re-run with more
    * rounds. Each round: one partial-aggregated degree count + two semi
    * joins keyed on the endpoint (broadcast once the survivor set is
    * small), with the edge set re-materialized per round through
    * [[Materialize]] (lineage would otherwise double per round).
    */
  def kCore(edges: DataFrame, src: String, dst: String, k: Int,
      rounds: Int = 5): DataFrame = {
    require(k >= 1 && rounds >= 1, "k and rounds must be >= 1")
    def degrees(e: DataFrame): DataFrame =
      e.select(col("u").as("id")).unionByName(e.select(col("v").as("id")))
        .groupBy("id").agg(count(lit(1)).as("deg"))
    // round 1 references the canonical edge set twice (degree count +
    // the semi joins), so pin it like every later round's survivor set
    var e = Materialize(canonicalEdges(edges, src, dst))
    var r = 0
    var prevMat: Option[DataFrame] = Some(e)
    while (r < rounds) {
      val keep = degrees(e).filter(col("deg") >= k).select("id")
      e = Materialize(
        e.join(keep.withColumnRenamed("id", "u"), Seq("u"), "left_semi")
          .join(keep.withColumnRenamed("id", "v"), Seq("v"), "left_semi")
          .select("u", "v"))
      // the previous round's blocks are superseded the moment this
      // round is pinned — release them or persist-mode storage grows
      // linearly with rounds
      prevMat.foreach(Materialize.releaseSuperseded)
      prevMat = Some(e)
      r += 1
    }
    val fin = degrees(e)
    // converged ⟺ the next prune would remove nothing ⟺ no surviving
    // vertex is below k. One broadcast scalar, in-plan — no driver action.
    fin.crossJoin(broadcast(fin.agg(min(col("deg")).as("__mindeg"))))
      .select(col("id"), col("deg"), (col("__mindeg") >= k).as("converged"))
  }

  /** Fixed-iteration PageRank over a directed edge list, in FIXED-POINT
    * integer arithmetic: ranks are longs scaled by `scale` (default 1e9),
    * every step is integer multiply/divide/sum, so the result is EXACTLY
    * reproducible under any partitioning, executor count, or engine — a
    * float PageRank's per-vertex sums depend on reduction order and drift
    * across runs, which makes authority-weighted corpus curation (rank web
    * domains by link authority, weight crawl samples by it) unauditable.
    * Truncation error per step is < 1/scale per vertex, immaterial for
    * ranking at scale = 1e9.
    *
    * Semantics per iteration (damping d = 0.85 as integer 85/100 math,
    * dangling mass redistributed uniformly):
    *   r'(v) = (15·(scale div n) + 85·(Σ_{u→v} r(u) div outdeg(u)
    *            + dangling div n)) div 100
    *
    * Scale design: each iteration is ONE shuffle — the inflow groupBy on
    * dst (sum is associative, so map-side partial aggregation bounds hub
    * in-degree skew) — plus a broadcast of the two scalar aggregates
    * (node count, dangling mass). The contribution join shuffles edges and
    * ranks on src with the SAME key every iteration, so a pre-partitioned
    * or bucketed edge list reuses its exchange across iterations. Node
    * count and dangling mass stay in-plan (crossJoin(broadcast(...))) —
    * no driver collect. The edge set is pinned once up front (see the
    * body comment — unpinned, the rank tree's two references per
    * iteration replay the source scan + distinct O(2^iterations) times;
    * profiled −47% on graph2 at sf0.1). For deep iteration counts,
    * `materializeEvery` additionally routes `ranks` through
    * [[Materialize]] every N iterations to truncate the
    * otherwise-doubling lineage (0 = off, the default: at 3 iterations
    * the replayed joins run over pinned inputs and small rank tables,
    * cheaper than per-round pins). Materialization is semantics-neutral
    * — the arithmetic is all fixed-point integer, so GraphSpec asserts
    * bit-identical ranks with and without it at 6 iterations.
    */
  def pageRank(edges: DataFrame, src: String, dst: String,
      iterations: Int = 3, scale: Long = 1000000000L,
      materializeEvery: Int = 0, materializeEdges: Boolean = true): DataFrame =
    pageRankOnEdges(edges
        .select(col(src).cast("long").as("src"), col(dst).cast("long").as("dst")),
      iterations, scale, materializeEvery, materializeEdges)

  /** [[pageRank]] over vertices of ANY key type (strings for a word /
    * domain graph, structs for composite keys) — identical fixed-point
    * arithmetic; only the vertex key stays as given instead of the long
    * cast the numeric-id fast path applies. The long cast is a real
    * narrowing for numeric graphs (8-byte shuffle keys), so it stays the
    * default; this entry point is for graphs whose natural key IS the
    * payload (TextRank's word nodes — t18 — rank web domains, authors).
    */
  def pageRankKeyed(edges: DataFrame, src: String, dst: String,
      iterations: Int = 3, scale: Long = 1000000000L,
      materializeEvery: Int = 0, materializeEdges: Boolean = true): DataFrame =
    pageRankOnEdges(edges.select(col(src).as("src"), col(dst).as("dst")),
      iterations, scale, materializeEvery, materializeEdges)

  private def pageRankOnEdges(normalized: DataFrame, iterations: Int,
      scale: Long, materializeEvery: Int, materializeEdges: Boolean): DataFrame = {
    require(iterations >= 1, s"pageRank: iterations must be >= 1, got $iterations")
    require(materializeEvery >= 0, "materializeEvery must be >= 0 (0 = off)")
    // The edge set is pinned ONCE up front (default): without
    // materializeEvery the rank plan references its predecessor twice
    // per iteration (dangling + inflow), so the UNPINNED edge pipeline —
    // source scan + distinct shuffle — is replayed O(2^iterations)
    // times as the tree bottoms out. Pinning |E| rows of two keys
    // converts every replay into an in-memory scan; the remaining
    // replayed joins run over the small rank/degree tables. Profiled at
    // sf0.1 (graph2, 3 iters): −47%, dominated by exactly these
    // repeated source scans. `materializeEdges = false` is for callers
    // whose edge relation is a src-BUCKETED table: the pin would replace
    // the bucketed scan with an RDD scan, and the bucket layout already
    // makes every replay an exchange-free columnar read
    // (BucketingSpec pins that plan shape).
    val ePlan = normalized
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
    val e = if (materializeEdges) Materialize(ePlan) else ePlan
    val nodes = e.select(col("src").as("id")).union(e.select(col("dst").as("id")))
      .distinct()
    val nn = nodes.agg(count(lit(1)).as("nn"))
    val outDeg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    var ranks = nodes.crossJoin(broadcast(nn))
      .select(col("id"), expr(s"${scale}L div nn").as("r"))
    var prevRanksMat: Option[DataFrame] = None
    for (iter <- 1 to iterations) {
      // dangling mass: total rank parked on vertices with no out-edges
      val dangling = ranks
        .join(outDeg.select(col("src").as("id")), Seq("id"), "left_anti")
        .agg(coalesce(sum(col("r")), lit(0L)).as("dang"))
      val inflow = e
        .join(ranks.withColumnRenamed("id", "src"), "src")
        .join(outDeg, "src")
        .select(col("dst").as("id"), expr("r div deg").as("c"))
        .groupBy("id").agg(sum(col("c")).as("inflow"))
      ranks = nodes
        .join(inflow, Seq("id"), "left")
        .crossJoin(broadcast(nn))
        .crossJoin(broadcast(dangling))
        .select(col("id"),
          expr(s"(15 * (${scale}L div nn) + 85 * (coalesce(inflow, 0L) + dang div nn)) div 100")
            .as("r"))
      if (materializeEvery > 0 && iter % materializeEvery == 0 && iter < iterations) {
        ranks = Materialize(ranks)
        prevRanksMat.foreach(Materialize.releaseSuperseded)
        prevRanksMat = Some(ranks)
      }
    }
    ranks.select(col("id"), col("r").as("rank_scaled"))
  }

  /** Multi-source BFS: shortest hop count (≤ `maxHops`) from any source
    * vertex, over a DIRECTED edge list (union the reversed edges upstream
    * for undirected semantics). Output: (id, hops) for every vertex
    * reachable within the bound — sources themselves at hops = 0.
    *
    * The hop bound is part of the SEMANTICS, not a convergence heuristic:
    * reachability radius queries ("within 3 links of a seed domain",
    * "2-hop citation neighborhood") want the bound, and a bounded
    * unrolling is exactly what a recursive-CTE oracle can state. Unlike
    * float label propagation, hop counts are pure integers — identical
    * under any partitioning.
    *
    * Scale design: per hop, ONE semi join of the edge list against the
    * frontier (keyed on src every round, so a bucketed/pre-partitioned
    * edge list reuses its exchange — same invariant [[pageRank]] proves
    * in PlanSpec) + a distinct on the discovered endpoints + an anti
    * join against the visited set keyed on id. The frontier — not the
    * full visited set — drives the edge join, so expansion cost tracks
    * the wavefront; each frontier is pinned via [[Materialize]] (the
    * visited union would otherwise re-derive every prior round twice per
    * new round). Frontiers never route through the driver.
    */
  def bfsHops(edges: DataFrame, src: String, dst: String,
      sources: DataFrame, idCol: String, maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"bfsHops: maxHops must be >= 0, got $maxHops")
    // pinned for the same reason as pageRank's edge set: every hop's
    // semi join scans it, and unpinned that is maxHops replays of the
    // source scan + distinct shuffle
    val e = Materialize(
      edges.select(col(src).cast("long").as("src"), col(dst).cast("long").as("dst"))
        .filter(col("src").isNotNull && col("dst").isNotNull)
        .distinct())
    var frontier = Materialize(
      sources.select(col(idCol).cast("long").as("id"))
        .filter(col("id").isNotNull).distinct())
    var visited = frontier.withColumn("hops", lit(0L))
    var h = 1
    while (h <= maxHops) {
      frontier = Materialize(
        e.join(frontier.select(col("id").as("src")), Seq("src"), "left_semi")
          .select(col("dst").as("id")).distinct()
          .join(visited.select("id"), Seq("id"), "left_anti"))
      visited = visited.unionByName(frontier.withColumn("hops", lit(h.toLong)))
      h += 1
    }
    visited
  }

  /** Exact triangle count via degree orientation. Result: one row
    * (n_triangles). The count is orientation-invariant, so it equals the
    * naive u<v<w 3-way self-join — which is what the DuckDB oracle states.
    */
  def triangleCount(edges: DataFrame, src: String, dst: String,
      materializeOriented: Boolean = false): DataFrame = {
    // The canonical edge set appears three times in this ONE plan (both
    // degree projections + the orientation join) but needs no pin:
    // within a single physical plan Spark's exchange reuse dedups the
    // identical distinct subtree (measured: pinning it changed nothing
    // at sf0.1). Contrast pageRank/bfsHops, whose replays span SEPARATE
    // jobs where no reuse applies — those pin.
    val e = canonicalEdges(edges, src, dst)
    // degree per vertex (over the canonical edge set)
    val deg = e.select(col("u").as("id")).unionAll(e.select(col("v").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    // orient each edge from lower (deg, id) to higher — a total order, so
    // the oriented graph is a DAG with out-degree O(sqrt(|E|))
    val withDeg = e
      .join(deg.withColumnRenamed("id", "u").withColumnRenamed("deg", "du"), "u")
      .join(deg.withColumnRenamed("id", "v").withColumnRenamed("deg", "dv"), "v")
    // Materialize the oriented edges: they feed THREE join inputs below,
    // each shuffled on a DIFFERENT key (m, s, (s,d)), so ReuseExchange
    // can never dedup them and the canonicalize+degree+join pipeline
    // would run three times. |E| rows of two longs is far cheaper to pin
    // (MEMORY_AND_DISK, spillable) than to recompute twice more.
    val orientedPlan = withDeg.select(
      when(col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")),
        struct(col("u").as("s"), col("v").as("d")))
        .otherwise(struct(col("v").as("s"), col("u").as("d"))).as("e"))
      .select(col("e.s").as("s"), col("e.d").as("d"))
    // Mode (localCheckpoint vs fault-tolerant persist vs off) is the
    // graft.materialize.mode conf — see [[Materialize]].
    val oriented =
      if (materializeOriented) Materialize(orientedPlan) else orientedPlan
    // Packed wedge key (round-17, guide §2.3 — shuffle fewer bytes):
    // the closing semi join is keyed on the wedge's TWO endpoint longs
    // (start a, end c); when every vertex id fits an unsigned 32-bit
    // slot the pair packs into ONE long (a << 32 | c) — injective in
    // range, so the count is provably identical — halving the wedge
    // shuffle's key bytes and making hash/compare single-word. The
    // bounds check is one cheap scan of the PINNED oriented edges; on
    // the unpinned path the check itself would re-run the whole
    // canonicalize+degree+orient pipeline, costing more than the
    // packing saves, so that path keeps the two-column join (GraphSpec
    // pins count equality of both paths, wide ids included).
    val packed = materializeOriented && {
      val b = oriented.agg(min(least(col("s"), col("d"))).as("lo"),
        max(greatest(col("s"), col("d"))).as("hi")).head()
      !b.isNullAt(0) && b.getLong(0) >= 0L && b.getLong(1) < (1L << 32)
    }
    if (packed) {
      val okeys = oriented.select(
        shiftleft(col("s"), 32).bitwiseOR(col("d")).as("k"))
      oriented.as("o1").join(oriented.as("o2"), col("o1.d") === col("o2.s"))
        .select(shiftleft(col("o1.s"), 32).bitwiseOR(col("o2.d")).as("k"))
        .join(okeys, Seq("k"), "left_semi")
        .agg(count(lit(1)).as("n_triangles"))
    } else {
      // wedges s→m→t closed by oriented edge s→t; each triangle has
      // exactly one lowest-rank vertex, so it is counted exactly once
      val wedges = oriented.as("o1").join(oriented.as("o2"), col("o1.d") === col("o2.s"))
        .select(col("o1.s").as("a"), col("o1.d").as("b"), col("o2.d").as("c"))
      wedges.join(oriented.as("o3"),
          col("a") === col("o3.s") && col("c") === col("o3.d"), "left_semi")
        .agg(count(lit(1)).as("n_triangles"))
    }
  }
}
