package graft

import graft.operators.{Curation, Dedup, Graph, Pca, Retrieval, Selection, Similarity, Timeseries}
import graft.sources.{IO, Lakehouse, Layout, SkipIndex}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.Tag

/** `Slow` tag: these probes generate 10⁵–10⁶-row corpora and take
  * minutes on the local[4] test session. NOTE: scalatest tags only
  * filter when runner args ask them to, and the build configures none —
  * plain `sbt test` RUNS these probes (verified: the full suite's
  * output carries every probe line). The tag exists for selective runs:
  * `sbt "testOnly graft.ScaleProbeSpec -- -n Slow"` for the probes
  * alone, or `-l Slow` to exclude them when iterating. (Beware
  * combining `-n` with `-z` — the intersection silently selects the
  * wrong set; use `-z "<name>"` alone to pick single tests.)
  */
object Slow extends Tag("Slow")

/** The scale probes' counts, promoted from printed diagnostics to
  * asserted regression gates. This spec drives the probes' deterministic
  * generators at a reduced-but-still-2-orders-above-bench size and
  * asserts the COUNTS (never the seconds), so silent semantic
  * drift in the scale paths — a changed hash, a lost pair strategy, an
  * audit miscount — fails a test instead of quietly shifting a printed
  * number nobody diffs.
  *
  * Two kinds of assertion:
  *  - EQUIVALENCES that must hold at any size (group-pairs == self-join,
  *    oriented == naive triangle count, single-pass == eager-audit ==
  *    observed curation counts, index-pruned scan == full scan+filter);
  *  - PINNED EXACT COUNTS for the fixed spec sizes (every generator is
  *    xxhash64-derived — bit-stable across runs, partitionings, and
  *    rounds).
  */
class ScaleProbeSpec extends SparkSpec {

  import spark.implicits._

  // --- the dedup probe's corpus (groups of 5 sharing a mutated template) ---
  private def dedupCorpus(nDocs: Long, dupPct: Int): DataFrame = spark.range(nDocs)
    .select(col("id").as("doc_id"),
      concat_ws(" ", transform(sequence(lit(0), lit(99)), i => {
        val rawGroup = expr("doc_id DIV 5")
        val group = when(pmod(xxhash64(rawGroup, lit(7)), lit(100)) < dupPct, rawGroup)
          .otherwise(col("doc_id") + nDocs)
        val base = concat(lit("w"), pmod(xxhash64(group, i), lit(5000)))
        val mutated = concat(lit("m"), pmod(xxhash64(col("doc_id"), i, lit(1)), lit(100000)))
        when(pmod(xxhash64(col("doc_id"), i), lit(20)) === 0, mutated).otherwise(base)
      })).as("text"))

  private val nDedupDocs = 100000L

  test("dedup probe: exact fingerprints and LSH/winnowing strategy equivalence", Slow) {
    dedupCorpus(nDedupDocs, dupPct = 100).write.mode("overwrite")
      .parquet("target/probe_spec_dedup")
    val mat = spark.read.parquet("target/probe_spec_dedup")

    // NOT 100000: P(a doc takes zero of its ~5% mutations) = (19/20)^100
    // ≈ 0.6%, so a few same-group doc pairs collide to identical text —
    // 7 of them at this size, pinned (the generator is xxhash64-pure).
    val distinctFp = Dedup.exactByFingerprint(mat).count()
    println(s"[probe-spec] dedup distinct fingerprints: $distinctFp")
    assert(distinctFp == 99993L, "exact-dup structure of the planted corpus drifted")

    val grouped = Dedup.minhashNearDups(mat, shingleK = 3, numHashes = 16,
      bands = 4, threshold = 0.6).count()
    val selfJoin = Oracles.minhashNearDupsSelfJoin(mat, shingleK = 3, numHashes = 16,
      bands = 4, threshold = 0.6).count()
    println(s"[probe-spec] minhash pairs grouped=$grouped selfJoin=$selfJoin")
    assert(grouped == selfJoin, "pair strategies must agree")

    val wGrouped = Dedup.winnowingNearDups(mat, k = 5, w = 4,
      minContainment = 0.6, maxDocFreq = 50).count()
    val wSelfJoin = Oracles.winnowingNearDupsSelfJoin(mat, k = 5, w = 4,
      minContainment = 0.6, maxDocFreq = 50).count()
    println(s"[probe-spec] winnowing pairs grouped=$wGrouped selfJoin=$wSelfJoin")
    assert(wGrouped == wSelfJoin, "winnowing formulations must agree")
  }

  // --- the graph probe's graphs (uniform + celebrity-core skew) ---
  private val nEdges = 300000L

  test("graph probe: oriented triangle count equals naive, skew completes", Slow) {
    val nVerts = nEdges / 10
    val uniform = spark.range(nEdges).select(
      pmod(xxhash64(col("id"), lit(1)), lit(nVerts)).as("u"),
      pmod(xxhash64(col("id"), lit(2)), lit(nVerts)).as("v"))
    val skewed = spark.range(nEdges).select(
      when(pmod(xxhash64(col("id"), lit(3)), lit(10)) < 9,
        pmod(xxhash64(col("id"), lit(4)), lit(1000)))
        .otherwise(pmod(xxhash64(col("id"), lit(5)), lit(nVerts))).as("u"),
      pmod(xxhash64(col("id"), lit(6)), lit(nVerts)).as("v"))

    val oriented = Graph.triangleCount(uniform, "u", "v").head().getLong(0)
    val e = Graph.canonicalEdges(uniform, "u", "v").cache()
    e.count()
    val naive = e.as("e1")
      .join(e.as("e2"), col("e1.v") === col("e2.u"))
      .join(e.as("e3"), col("e3.u") === col("e1.u") && col("e3.v") === col("e2.v"))
      .count()
    e.unpersist()
    println(s"[probe-spec] uniform triangles oriented=$oriented naive=$naive")
    assert(oriented == naive, "orientation must not change the count")

    val skewCount = Graph.triangleCount(skewed, "u", "v").head().getLong(0)
    println(s"[probe-spec] skewed triangles: $skewCount")
    assert(skewCount > 0L, "celebrity core must close triangles")
  }

  // --- the similarity probe's clustered embedding corpus ---
  private val nVecs = 100000L

  test("similarity probe: IVF recall floor vs brute force on clustered corpus", Slow) {
    val dims = 64
    def u(seed: Column, d: Column, salt: Int): Column =
      pmod(xxhash64(seed, d, lit(salt)), lit(2001L)).cast("double") / 1000.0 - 1.0
    spark.range(nVecs)
      .select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(dims - 1)), d =>
          (u(expr("id DIV 1000"), d, 1) * 0.9 + u(col("id"), d, 2) * 0.1).cast("float"))
          .as("embedding"))
      .write.mode("overwrite").parquet("target/probe_spec_sim")
    val mat = spark.read.parquet("target/probe_spec_sim")
    val queries = mat.filter(col("vec_id") % 20000 === 7) // 5 probes

    val brute = Similarity.bruteForceKnn(mat, queries, k = 10)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.size == queries.count() * 10, "brute force must fill k")

    val nc = math.max(16, math.sqrt(nVecs.toDouble).toInt)
    val index = Similarity.ivfIndex(mat, nc)
    val ivf = Similarity.ivfQuery(index, queries, k = 10, nprobe = 32)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    println(f"[probe-spec] ivf recall@10: $recall%.3f")
    assert(recall >= 0.8,
      f"clustered corpus at nprobe=32/${nc} cells must recall >= 0.8, got $recall%.3f")
  }

  // --- the curation probe's pipeline (three audit shapes must agree) ---
  private val nCurationDocs = 100000L

  test("curation probe: single-pass, eager-audit, and observed counts agree", Slow) {
    dedupCorpus(nCurationDocs, dupPct = 10)
      .withColumn("source", concat(lit("src"), pmod(col("doc_id"), lit(4)).cast("string")))
      .write.mode("overwrite").parquet("target/probe_spec_curation")
    val mat = spark.read.parquet("target/probe_spec_curation")
    val bench = mat.filter(col("doc_id") % 211 === 0).select("doc_id", "text")
    val config = Curation.Config(
      languages = Set.empty, minTokens = 50, dedupExact = true,
      nearDupThreshold = Some(0.6),
      benchmark = Some(bench),
      contaminationK = 8,
      mixture = Map("src0" -> 0.4, "src1" -> 0.3, "src2" -> 0.2, "src3" -> 0.1))

    val single = Curation.curate(mat, config).count()
    val audit = scala.collection.mutable.Buffer.empty[Curation.StageCount]
    val audited = Curation.curate(mat, config, audit = Some(audit)).count()
    val (outObs, stageCounts) = Curation.curateObserved(mat, config)
    val observed = outObs.count()
    println(s"[probe-spec] curation rows single=$single audited=$audited observed=$observed")
    audit.foreach(s => println(s"[probe-spec]   ${s.stage}: ${s.rows}"))
    assert(single == audited && single == observed,
      "audit instrumentation must not change the pipeline")
    val obs = stageCounts().map(s => s.stage -> s.rows).toMap
    audit.foreach { s =>
      assert(obs.get(s.stage).contains(s.rows),
        s"stage ${s.stage}: eager=${s.rows} observed=${obs.get(s.stage)}")
    }
    assert(single > 0L && single < nCurationDocs)
  }

  // --- pageRank: fixed-point reproducibility + mass + hub ordering ---
  test("pagerank probe: bit-identical under repartitioning, mass bounded, hub on top", Slow) {
    val nPrVerts = 30000L
    // Skewed web-ish graph: 90% of edges point INTO a 100-vertex celebrity
    // core; source uniform. 300k directed edges.
    val prEdges = spark.range(300000L).select(
      pmod(xxhash64(col("id"), lit(21)), lit(nPrVerts)).as("src"),
      when(pmod(xxhash64(col("id"), lit(22)), lit(10)) < 9,
        pmod(xxhash64(col("id"), lit(23)), lit(100)))
        .otherwise(pmod(xxhash64(col("id"), lit(24)), lit(nPrVerts))).as("dst"))
    prEdges.write.mode("overwrite").parquet("target/probe_spec_pr")
    val mat = spark.read.parquet("target/probe_spec_pr")

    // The fixed-point claim: ranks are a pure function of the edge SET —
    // partitioning must not move a single bit.
    val r7 = Graph.pageRank(mat.repartition(7), "src", "dst", iterations = 3)
    val r64 = Graph.pageRank(mat.repartition(64), "src", "dst", iterations = 3)
    val diff = r7.join(r64.withColumnRenamed("rank_scaled", "r2"), "id")
      .filter(col("rank_scaled") =!= col("r2")).count()
    assert(diff == 0L, "fixed-point ranks must be partition-invariant")
    assert(r7.count() == r64.count())

    // materializeEvery is semantics-neutral at probe scale too.
    val rm = Graph.pageRank(mat, "src", "dst", iterations = 4, materializeEvery = 2)
    val r0 = Graph.pageRank(mat, "src", "dst", iterations = 4)
    assert(rm.join(r0.withColumnRenamed("rank_scaled", "r2"), "id")
      .filter(col("rank_scaled") =!= col("r2")).count() == 0L,
      "materializeEvery must not change a single rank")

    // Integer truncation only ever LOSES mass: sum(r) <= scale, and the
    // loss per iteration is < n units of 1/scale — far under 5%.
    val mass = r7.agg(sum(col("rank_scaled"))).head().getLong(0)
    assert(mass <= 1000000000L && mass > 950000000L,
      s"rank mass out of truncation envelope: $mass")

    // The celebrity core (ids < 100) receives 90% of all inflow.
    val topIds = r7.orderBy(col("rank_scaled").desc).limit(50)
      .select("id").collect().map(_.getLong(0))
    assert(topIds.forall(_ < 100L), "top ranks must sit in the celebrity core")
  }

  // --- kCore: convergence flag observable, fixpoint-stable survivors ---
  test("kcore probe: tree delays convergence observably, clique core pinned", Slow) {
    // 100k-vertex binary tree (k=2 core EMPTY, but pruning eats exactly
    // one leaf layer per round — ~17 rounds to drain) ∪ a 50-clique on a
    // disjoint id range (survives any number of k=2 prunes).
    val tree = spark.range(1L, 100000L).select(col("id").as("u"), expr("id div 2").as("v"))
    val clique = spark.range(50L * 49L / 2).select(col("id")) // unrolled upper triangle
      .select(
        expr("cast(floor((sqrt(8*id + 1) - 1) / 2) as long)").as("row"),
        col("id"))
      .select((col("row") + 1L + 1000000L).as("u"),
        (col("id") - col("row") * (col("row") + 1L) / 2L + 1000000L).as("v"))
    val g = tree.unionByName(clique)
    g.write.mode("overwrite").parquet("target/probe_spec_kcore")
    val mat = spark.read.parquet("target/probe_spec_kcore")
    assert(mat.count() == 99999L + 1225L)

    // Cut short: after 3 rounds the tree is far from drained — the
    // converged flag must say so on EVERY row.
    val cut = Graph.kCore(mat, "u", "v", k = 2, rounds = 3)
    assert(cut.filter(col("converged")).count() == 0L,
      "a non-converged prune must be observable")
    assert(cut.filter(col("id") < 1000000L).count() > 0L,
      "tree vertices must still survive a 3-round prune")

    // Run past the drain: converged on every row, survivors are EXACTLY
    // the clique (50 vertices, each at degree 49), and one more round
    // moves nothing.
    val done = Graph.kCore(mat, "u", "v", k = 2, rounds = 20)
    assert(done.filter(!col("converged")).count() == 0L)
    assert(done.count() == 50L, "k=2 core of tree ∪ K50 is exactly the clique")
    assert(done.filter(col("deg") =!= 49L).count() == 0L)
    val again = Graph.kCore(mat, "u", "v", k = 2, rounds = 21)
      .select("id", "deg", "converged")
    assert(done.select("id", "deg", "converged").exceptAll(again).count() == 0L &&
      again.exceptAll(done.select("id", "deg", "converged")).count() == 0L,
      "converged output must be a fixpoint")
  }

  // --- BM25: planted relevance recovered, scores partition-invariant ---
  test("bm25 probe: positives are exactly the planted docs, partition-invariant", Slow) {
    val nDocs = 200000L
    // Every doc: 30 tokens from a 5k vocab; each 500th doc appends the
    // two query terms (tf 1-3 each) that occur NOWHERE else.
    val docs = spark.range(nDocs).select(col("id").as("doc_id"),
      concat_ws(" ",
        concat_ws(" ", transform(sequence(lit(0), lit(29)), i =>
          concat(lit("w"), pmod(xxhash64(col("id"), i, lit(31)), lit(5000))))),
        when(col("id") % 500 === 0, concat_ws(" ",
          array_repeat(lit("zebra"), (pmod(xxhash64(col("id"), lit(32)), lit(3)) + 1).cast("int")),
          array_repeat(lit("quark"), (pmod(xxhash64(col("id"), lit(33)), lit(3)) + 1).cast("int"))))
          .otherwise(lit(""))).as("text"))
    docs.write.mode("overwrite").parquet("target/probe_spec_bm25")
    val mat = spark.read.parquet("target/probe_spec_bm25")

    val scores = Retrieval.bm25Scores(mat, "doc_id", "text", Seq("zebra", "quark"))
    val positives = scores.filter(col("score_raw") > 0)
    assert(positives.count() == nDocs / 500,
      "positive BM25 scores must be exactly the planted docs")
    assert(positives.filter(col("doc_id") % 500 =!= 0).count() == 0L)

    // Aggregate stats are exact-integer-in-double (dl sums, df counts),
    // so the full score surface is partition-invariant.
    val s7 = Retrieval.bm25Scores(mat.repartition(7), "doc_id", "text",
      Seq("zebra", "quark")).select(col("doc_id"), col("score_raw"))
    val s64 = Retrieval.bm25Scores(mat.repartition(64), "doc_id", "text",
      Seq("zebra", "quark")).select(col("doc_id"), col("score_raw"))
    assert(s7.join(s64.withColumnRenamed("score_raw", "s2"), "doc_id")
      .filter(col("score_raw") =!= col("s2")).count() == 0L,
      "BM25 scores must be partition-invariant")

    val top = Retrieval.bm25TopK(mat, "doc_id", "text", Seq("zebra", "quark"), topK = 20)
    assert(top.count() == 20L)
    assert(top.filter(col("doc_id") % 500 =!= 0).count() == 0L,
      "top-k must come from the planted relevant set")
  }

  // --- DSIR: disjoint-vocab separation, integer scores partition-invariant ---
  test("dsir probe: disjoint vocabularies separate perfectly, partition-invariant", Slow) {
    val nDocs = 100000L
    // Targets: 5k docs over vocab A. Raw: half vocab A, half vocab B.
    val docs = spark.range(nDocs).select(col("id").as("doc_id"),
      (col("id") < 5000L).as("is_target"),
      concat_ws(" ", transform(sequence(lit(0), lit(29)), i =>
        concat(
          when(col("id") < 5000L || pmod(xxhash64(col("id"), lit(41)), lit(2)) === 0,
            lit("a")).otherwise(lit("b")),
          pmod(xxhash64(col("id"), i, lit(42)), lit(1000))))).as("text"))
    docs.write.mode("overwrite").parquet("target/probe_spec_dsir")
    val mat = spark.read.parquet("target/probe_spec_dsir")

    val scored = Selection.dsirScore(mat, "doc_id", "text", col("is_target"))
    val joined = scored.join(mat.select(col("doc_id"), col("is_target"),
      substring(col("text"), 1, 1).as("vocab")), col("id") === col("doc_id"))
    assert(joined.filter(col("vocab") === "a" && !col("selected")).count() == 0L,
      "every target-vocabulary doc must be selected")
    assert(joined.filter(col("vocab") === "b" && col("selected")).count() == 0L,
      "no off-vocabulary doc may be selected")

    // Bucket counts and the micro-rounded model are pure integer functions
    // of the corpus — scores cannot move under repartitioning.
    val d7 = Selection.dsirScore(mat.repartition(7), "doc_id", "text", col("is_target"))
    val d64 = Selection.dsirScore(mat.repartition(64), "doc_id", "text", col("is_target"))
    assert(d7.join(d64.select(col("id").as("id2"), col("score_micro").as("s2")),
        col("id") === col("id2"))
      .filter(col("score_micro") =!= col("s2")).count() == 0L,
      "DSIR scores must be partition-invariant")
  }

  // --- PCA/GramAgg: exact Gram partition-invariance, planted axis found ---
  test("pca probe: gram matrix partition-invariant, planted dominant axis recovered", Slow) {
    val nVecsP = 200000L
    val dim = 32
    // Coordinate 5 spans ±1.0; all others ±0.05 noise — the uncentered
    // Gram's dominant eigenvector is e5 by two orders of magnitude.
    val vecs = spark.range(nVecsP).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)), d =>
        when(d === 5,
          pmod(xxhash64(col("id"), d, lit(51)), lit(2001)).cast("double") / 1000.0 - 1.0)
          .otherwise(
            pmod(xxhash64(col("id"), d, lit(52)), lit(101)).cast("double") / 1000.0 - 0.05))
        .as("embedding"))
    vecs.write.mode("overwrite").parquet("target/probe_spec_pca")
    val mat = spark.read.parquet("target/probe_spec_pca")

    val (g7, n7) = Pca.gramMatrix(mat.repartition(7), "embedding", dim)
    val (g64, n64) = Pca.gramMatrix(mat.repartition(64), "embedding", dim)
    assert(n7 == nVecsP && n64 == nVecsP)
    assert(g7.sameElements(g64),
      "fixed-point Gram matrix must be partition-invariant to the last bit")

    val comp = Pca.topComponent(mat, "embedding", dim)
      .orderBy("dim").collect().map(_.getLong(1))
    val argmax = comp.indices.maxBy(i => math.abs(comp(i)))
    assert(argmax == 5, s"dominant axis must be the planted one, got $argmax")
    assert(comp(5) > 0L, "sign convention: pivot coordinate positive")
    // Noise axes are ~20× weaker in the eigenvector, not just smaller.
    comp.indices.filter(_ != 5).foreach(i =>
      assert(math.abs(comp(i)) < math.abs(comp(5)) / 20,
        s"axis $i unexpectedly strong: ${comp(i)} vs ${comp(5)}"))

    // Projection face: map-only, exact — row count preserved, invariant.
    val p7 = Pca.projectTop(mat.repartition(7), "vec_id", "embedding", dim)
    assert(p7.count() == nVecsP)
  }

  // --- EWMA: recurrence exactness at 1M rows, partition-invariant ---
  test("ewma probe: 1M-row smoothing is exact, bounded, partition-invariant", Slow) {
    val nRows = 1000000L
    val nKeys = 1000L
    val rows = spark.range(nRows).select(
      pmod(col("id"), lit(nKeys)).as("key"),
      // distinct micros per (key, seq): ts = seq * 1s
      timestamp_micros((col("id") / nKeys).cast("long") * 1000000L).as("ts"),
      col("id").as("rid"),
      (pmod(xxhash64(col("id"), lit(61)), lit(20001)).cast("double") / 100.0 - 100.0).as("v"))
    rows.write.mode("overwrite").parquet("target/probe_spec_ewma")
    val mat = spark.read.parquet("target/probe_spec_ewma")

    val sm = Timeseries.ewmaSmooth(mat, "key", "ts", "rid", "v").persist()
    assert(sm.count() == nRows, "every non-null row must survive smoothing")

    // Integer recurrence keeps the smoothed value inside the key's range.
    val bounds = sm.groupBy("key").agg(
      min(col("v_scaled")).as("lo"), max(col("v_scaled")).as("hi"),
      min(col("ewma_scaled")).as("elo"), max(col("ewma_scaled")).as("ehi"))
    assert(bounds.filter(col("elo") < col("lo") || col("ehi") > col("hi")).count() == 0L,
      "EWMA must stay inside each key's value envelope")

    // Partition-invariance: the secondary sort fixes the walk order, the
    // arithmetic is integer — rerun under a different partitioning and
    // compare the full 1M-row result set exactly.
    val sm2 = Timeseries.ewmaSmooth(mat.repartition(64), "key", "ts", "rid", "v")
    assert(sm.exceptAll(sm2).count() == 0L && sm2.exceptAll(sm).count() == 0L,
      "EWMA output must be partition-invariant")

    // Driver-side replay of one full key (1000 rows), bit for bit.
    val k7 = sm.filter(col("key") === 7L).orderBy("rid")
      .select("v_scaled", "ewma_scaled").collect()
    assert(k7.length == 1000)
    var e = k7.head.getLong(0)
    k7.zipWithIndex.foreach { case (r, i) =>
      val xs = r.getLong(0)
      if (i == 0) e = xs else e = (xs + 3L * e) / 4L
      assert(r.getLong(1) == e, s"recurrence diverged at position $i of key 7")
    }
    sm.unpersist()
  }

  // --- Rank.globalRank: exact positions at 2M rows by construction ---
  test("rank probe: global rank over 2M rows is exact and partition-invariant", Slow) {
    val n = 2000000L
    // Shuffled identity: ordering by v must put every row at position
    // v + 1 — the reference is the GENERATOR, no second sort needed.
    val df = spark.range(n).select(
      col("id"), pmod(xxhash64(col("id")), lit(1000000)).cast("double").as("noise"))
      .repartition(32)
      .select(col("id").cast("double").as("v"), col("id").as("rid"))
    val ranked = graft.operators.Rank.globalRank(df, "v", Seq("rid"), "pos")
    assert(ranked.filter(col("pos") =!= col("rid") + 1L).count() == 0L,
      "rank of the shuffled identity must be id + 1, exactly, at every row")
    // heavy-tie variant: 1000 distinct values over 2M rows, tie-broken by
    // rid — positions are then (v * 2000) + (rid div 1000) + 1 by
    // construction of rid = v + 1000*j
    val ties = spark.range(n).select(
      (col("id") % 1000L).cast("double").as("v"), col("id").as("rid"))
    val tied = graft.operators.Rank.globalRank(ties, "v", Seq("rid"), "pos")
    assert(tied.filter(col("pos") =!=
        (col("v").cast("long") * (n / 1000L) + expr("rid div 1000") + 1L)).count() == 0L,
      "tie-broken ranks must match the closed form")
  }

  test("cms probe: 2M-row sketch exact in the exact regime, partition-invariant", Slow) {
    import graft.functions.CountMinFunctions
    val n = 2000000L
    val items = Seq("click", "error", "purchase", "signup", "view")
    assert(CountMinFunctions.exactRegime(64, 4, items))
    // skewed: item i takes ~(i+1)/15 of the stream (xxhash-derived, pure)
    val df = spark.range(n).select(
      element_at(array(items.map(lit): _*),
        (when(pmod(xxhash64(col("id")), lit(15)) < 1, 0)
          .when(pmod(xxhash64(col("id")), lit(15)) < 3, 1)
          .when(pmod(xxhash64(col("id")), lit(15)) < 6, 2)
          .when(pmod(xxhash64(col("id")), lit(15)) < 10, 3)
          .otherwise(4) + 1).cast("int")).as("item"))
    val truth = df.groupBy("item").count().as[(String, Long)].collect().toMap
    def sketch(parts: Int) = df.repartition(parts)
      .agg(CountMinFunctions.count_min(col("item"), 64, 4, items).as("cms"))
      .select(explode(col("cms")).as("e"))
      .select("e.item", "e.est_cnt").as[(String, Long)].collect().toMap
    val est = sketch(32)
    println(s"[probe-spec] cms exact-regime counts: $est")
    assert(est == truth, "exact-regime CMS must equal the true counts at 2M rows")
    assert(sketch(5) == est, "sketch must be partitioning-invariant")
    assert(truth.values.sum == n)
  }

  test("temperature mixture probe: 1M rows, sqrt quotas exact, monotone, invariant", Slow) {
    import graft.operators.Sampling
    val n = 1000000L
    // skewed sources: a 70%, b 25%, c 4%, d 1% — α=1/2 compresses the
    // 70:1 ratio between a and d to √70 ≈ 8.4:1 in the quotas
    val df = spark.range(n).select(col("id"),
      when(col("id") < 700000L, "a").when(col("id") < 950000L, "b")
        .when(col("id") < 990000L, "c").otherwise("d").as("source"),
      lit(100L).as("cost"))
    val counts = Map("a" -> 700000L, "b" -> 250000L, "c" -> 40000L, "d" -> 10000L)
    val s = counts.map { case (k, c) => k -> math.sqrt((c * 100L).toDouble).toLong }
    val stot = s.values.sum
    val targetN = 50000L
    val wantQuota = s.map { case (k, v) => k -> targetN * v / stot }
    def run(parts: Int, tn: Long) = Sampling.temperatureSample(
      df.repartition(parts), "source", "id", "cost", tn)
    val got = run(32, targetN).groupBy("source").count()
      .as[(String, Long)].collect().toMap
    println(s"[probe-spec] temperature quotas: $got (want $wantQuota)")
    assert(got == wantQuota, "per-source picks must equal the floor-sqrt quotas")
    val kept = run(32, targetN).select("id").as[Long].collect().toSet
    assert(run(7, targetN).select("id").as[Long].collect().toSet == kept,
      "kept set must not depend on partitioning")
    val smaller = run(32, targetN / 2).select("id").as[Long].collect().toSet
    assert(smaller.subsetOf(kept), "halving the budget must only remove rows")
  }

  test("span-removal probe: 100k docs, planted template spans cut, invariant", Slow) {
    import graft.operators.TextAnalysis
    // dedupCorpus at dupPct=100: groups of 5 docs share a template with
    // ~5% per-token mutations — group-shared 4-gram runs are duplicated
    // by construction, mutation sites break them, and unique-token tails
    // survive. All counts xxhash-pure → pinned.
    dedupCorpus(50000L, dupPct = 100).write.mode("overwrite")
      .parquet("target/probe_spec_spans")
    val docs = spark.read.parquet("target/probe_spec_spans")
    val out = graft.operators.Materialize(
      TextAnalysis.removeDupSpans(docs, k = 4))
    val stats = out.agg(
      sum(col("n_removed")).as("removed"),
      sum(when(col("n_removed") === 0L, 1L).otherwise(0L)).as("untouched"),
      sum(when(col("n_removed") === col("n_tokens"), 1L).otherwise(0L)).as("fullyCut"))
      .head()
    val (removed, untouched, fullyCut) =
      (stats.getLong(0), stats.getLong(1), stats.getLong(2))
    println(s"[probe-spec] span removal: removed=$removed untouched=$untouched fullyCut=$fullyCut")
    // template sharing must dominate: most tokens are in duplicated
    // 4-gram runs (group of 5 shares them), only mutation-adjacent
    // windows survive
    assert(removed > 50000L * 100L * 6L / 10L,
      s"planted duplication must cut the majority of tokens, got $removed")
    assert(fullyCut < 50000L, "mutated docs must keep their unique windows")
    // partition invariance of the exact removal counts
    val re = TextAnalysis.removeDupSpans(docs.repartition(64), k = 4)
      .agg(sum(col("n_removed"))).head().getLong(0)
    assert(re == removed, s"removal must be partitioning-invariant: $re vs $removed")
  }

  // --- the lakehouse probe's skip-index / z-order / merge claims ---
  private val nLakeRows = 2000000L

  test("lakehouse probe: pruned scans match full scan, merge preserves rows", Slow) {
    val df = spark.range(nLakeRows).select(
      col("id"),
      pmod(xxhash64(col("id")), lit(100000L)).as("x"),
      pmod(xxhash64(col("id"), lit(1)), lit(100000L)).as("y"),
      concat(lit("d"), pmod(col("id"), lit(32))).as("date"),
      (pmod(xxhash64(col("id"), lit(2)), lit(1000000L)) / 1000.0).as("v"))

    val zPath = "target/probe_spec_lake/z"
    Layout.zorderWrite(df, zPath, Seq("x", "y"), numFiles = 64)
    val idx = SkipIndex.build(spark, zPath, Seq("x", "y")).persist()
    assert(idx.count() == 64L, "one index row per file")

    val (zs, zRead, zTotal) = SkipIndex.rangeScan(spark, zPath, idx, "x", 10000L, 12000L)
    val (ys, yRead, _) = SkipIndex.rangeScan(spark, zPath, idx, "y", 10000L, 12000L)
    val full = spark.read.parquet(zPath)
      .filter(col("x") >= 10000L && col("x") <= 12000L).count()
    val fullY = spark.read.parquet(zPath)
      .filter(col("y") >= 10000L && col("y") <= 12000L).count()
    println(s"[probe-spec] lake x-scan $zRead/$zTotal files, y-scan $yRead/$zTotal files")
    assert(zs.count() == full, "x-pruned scan must equal full scan+filter")
    assert(ys.count() == fullY, "y-pruned scan must equal full scan+filter")
    assert(zRead < zTotal && yRead < zTotal,
      s"z-order must prune BOTH dims (x read $zRead, y read $yRead of $zTotal)")
    idx.unpersist()

    val tPath = "target/probe_spec_lake/t"
    IO.writeCuratedParquet(df, tPath, Seq("date"))
    val changes = spark.range(1000).select(
      (col("id") * 32).as("id"),
      lit(-1L).as("x"), lit(-1L).as("y"), lit("d0").as("date"), lit(0.0).as("v"))
      .union(spark.range(100).select((col("id") * 32 + 1).as("id"),
        lit(-1L).as("x"), lit(-1L).as("y"), lit("d1").as("date"), lit(0.0).as("v")))
    val stats = Lakehouse.mergeIntoParquet(spark, tPath, changes, Seq("id"), "date")
    println(s"[probe-spec] merge rewrote ${stats.rewrittenPartitions.mkString(",")} rows=${stats.touchedRows}")
    assert(stats.rewrittenPartitions.toSet == Set("d0", "d1"),
      "merge must rewrite exactly the touched partitions")
    assert(spark.read.parquet(tPath).count() == nLakeRows,
      "pure-update merge must preserve the row count")
    assert(spark.read.parquet(tPath).filter(col("x") === -1L).count() == 1100L,
      "all change rows must have replaced their targets")
  }

  // --- round-10 probes: the round-8 heavy hitters (VERDICT r9 task #6) ---

  /** Run a registry query at two shuffle widths and return both sorted
    * result sets — the partition-invariance harness for probes that
    * exercise a QueryDef end to end over a generated probe table.
    */
  private def atWidths(name: String, dir: String): Seq[Seq[String]] =
    Seq("4", "13").map { w =>
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", w)
      try SparkEntry.queries(name)(spark, dir).collect()
        .map(_.toString).sorted.toSeq
      finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }

  test("attribution probe: 1M events, window carry is partition-invariant with pinned totals", Slow) {
    // 1M events over 20k users / 30 days — ts as epoch NANOS (the real
    // events.parquet encoding, exercising Tables.load's normalization)
    val n = 1000000L
    spark.range(n).select(
      col("id").as("event_id"),
      pmod(xxhash64(col("id"), lit(3)), lit(20000)).as("user_id"),
      (lit(1767225600000000000L) +
        pmod(xxhash64(col("id"), lit(5)), lit(2592000L)) * 1000000000L).as("ts"),
      element_at(array(lit("view"), lit("click"), lit("click"), lit("purchase")),
        (pmod(xxhash64(col("id"), lit(7)), lit(4)) + 1).cast("int")).as("event_type"),
      (pmod(xxhash64(col("id"), lit(11)), lit(10000)).cast("double") / 100).as("value"))
      .write.mode("overwrite").parquet("target/probe_spec_events/events.parquet")
    val Seq(a, b) = atWidths("w13_attribution", "target/probe_spec_events")
    assert(a == b, "attribution must be shuffle-width invariant")
    println(s"[probe-spec] attribution days=${a.size}")
    // ts spans exactly [2026-01-01, 2026-01-31) — every day lands
    // clicks AND purchases at this density, so all 30 appear
    assert(a.size == 30, "attribution day count drifted")
  }

  test("chi-squared probe: 420k-cell grid at 2M rows, BigInt cross-check and invariance", Slow) {
    // 600 langs × 700 sources — the high-cardinality regime where the
    // broadcast cross-join grid (not the data volume) is the object
    // under test; 2M rows stay far below the 2e8 exactness bound
    spark.range(0, 2000000).select(
      concat(lit("l"), pmod(xxhash64(col("id"), lit(13)), lit(600))).as("lang"),
      concat(lit("s"), pmod(xxhash64(col("id"), lit(17)), lit(700))).as("source"))
      .write.mode("overwrite").parquet("target/probe_spec_chisq/documents.parquet")
    val Seq(a, b) = atWidths("stat5_chi_square", "target/probe_spec_chisq")
    assert(a == b, "chi-squared must be shuffle-width invariant")
    val row = SparkEntry.queries("stat5_chi_square")(spark, "target/probe_spec_chisq").head()
    val chi2 = row.getAs[Long]("chi2_x1e6")
    val nTot = row.getAs[Long]("n")
    assert(nTot == 2000000L && row.getAs[Long]("df") == 599L * 699L)
    // independent BigInt ground truth from collected margins + cells
    val d = spark.read.parquet("target/probe_spec_chisq/documents.parquet")
    val rT = d.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val cT = d.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val cells = d.groupBy("lang", "source").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    var acc = BigInt(0)
    for (l <- rT.keys; s <- cT.keys) {
      val o: Long = cells.getOrElse((l, s), 0L)
      val diff = BigInt(nTot) * o - BigInt(rT(l)) * cT(s)
      acc += (diff * diff * 1000000) / (BigInt(nTot) * rT(l) * cT(s))
    }
    println(s"[probe-spec] chi2_x1e6=$chi2 cells=${cells.size}")
    assert(BigInt(chi2) == acc, s"grid chi-squared diverged from BigInt truth $acc")
  }

  test("prefix-sum probe: 5M-row running sum invariant across widths, pinned grand total", Slow) {
    // the globalRunningSum shape at 3 orders above its bench size:
    // 5M distinct order keys with skewed weights, two bucket widths,
    // and the analytic grand total as ground truth (the last row's
    // running sum MUST equal the sum of all weights)
    val n = 5000000L
    val df = spark.range(0, n).select(col("id").cast("double").as("v"),
      (pmod(xxhash64(col("id"), lit(9)), lit(1000)) + 1).as("c"))
    df.write.mode("overwrite").parquet("target/probe_spec_prefix")
    val mat = spark.read.parquet("target/probe_spec_prefix")
    val total = mat.agg(sum("c")).head().getLong(0)
    val runs = Seq(4, 37).map { w =>
      val out = graft.operators.Rank.globalRunningSum(
        mat.repartition(11), "v", "c", "run", numPartitions = w)
      val last = out.orderBy(col("v").desc).select("run").head().getLong(0)
      assert(last == total,
        s"width=$w: final running sum $last != grand total $total")
      out.agg(sum(col("run"))).head().getLong(0)
    }
    println(s"[probe-spec] prefix-sum total=$total runsum-checksum=${runs.head}")
    assert(runs.distinct.size == 1,
      "running-sum assignment must be identical across bucket widths")
  }

  test("many-models probe: 1000-group ridge from ONE pass, per-group planted lines exact", Slow) {
    // the many-models claim at realistic group fan-out: 2M rows across
    // 1000 groups, each group its OWN planted line (coefficients are
    // closed-form functions of the group id), fitted by a single
    // aggregation pass of per-group moment matrices. Ground truth:
    // every group's model must reproduce its planted coefficients, so
    // the max scoring error across ALL 2M rows sits at solver noise.
    val n = 2000000L
    val df = spark.range(0, n).select(
      concat(lit("g"), pmod(col("id"), lit(1000))).as("g"),
      (pmod(xxhash64(col("id"), lit(3)), lit(1000)).cast("double") / 100.0).as("x1"),
      pmod(col("id") * 7919L, lit(23)).cast("double").as("x2"))
      .withColumn("gid", expr("CAST(substring(g, 2) AS DOUBLE)"))
      .withColumn("y",
        (lit(1.0) + col("gid") / 100.0) * col("x1") -
          (lit(2.0) + pmod(col("gid"), lit(5))) * col("x2") + col("gid"))
      .drop("gid")
    df.write.mode("overwrite").parquet("target/probe_spec_manymodels")
    val mat = spark.read.parquet("target/probe_spec_manymodels")
    val t0 = System.nanoTime()
    val model = graft.operators.Trainer.ridgeFitPerGroup(mat, "g",
      Seq("x1", "x2"), "y")
    assert(model.count() == 1000L)
    val err = graft.operators.Trainer.scorePerGroup(mat, model, "g", Seq("x1", "x2"))
      .agg(max(abs(col("pred") - col("y")))).head().getDouble(0)
    println(f"[probe-spec] many-models ridge: 1000 groups / 2M rows in " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s, max err $err%.2e")
    assert(err < 1e-6, s"per-group planted lines must fit exactly, err $err")
  }

  test("many-models probe: 150-group logistic, every group's band separated", Slow) {
    // grouped IRLS at fan-out: 300k rows / 150 groups, each group its
    // own banded separator (slope varies by group). Every Newton round
    // is ONE aggregation for all unconverged groups; converged groups
    // leave the broadcast parameter table. Ground truth: every group's
    // fitted boundary clears its band (min signed margin > 0 across all
    // 300k rows), and no group hits the round cap.
    val n = 300000L
    val raw = spark.range(0, n).select(
      concat(lit("g"), pmod(col("id"), lit(150))).as("g"),
      (pmod(xxhash64(col("id"), lit(11)), lit(400)).cast("double") + 1.0).as("x1"),
      (pmod(xxhash64(col("id"), lit(13)), lit(40)).cast("double") + 1.0).as("x2"))
      .withColumn("slope", lit(3.0) + pmod(expr("CAST(substring(g, 2) AS BIGINT)"), lit(7)).cast("double"))
      .withColumn("z", col("x1") - col("slope") * col("x2") + lit(50.0))
      .filter(abs(col("z")) > 8.0)
      .select(col("g"), col("x1"), col("x2"),
        when(col("z") > 0, 1.0).otherwise(0.0).as("y"))
    raw.write.mode("overwrite").parquet("target/probe_spec_manylogit")
    val mat = spark.read.parquet("target/probe_spec_manylogit")
    // both classes in every group, or the probe is vacuous
    val oneClass = mat.groupBy("g").agg(count_distinct(col("y")).as("c"))
      .filter(col("c") < 2).count()
    assert(oneClass == 0L, s"$oneClass group(s) are single-class — fix the plant")
    val t0 = System.nanoTime()
    val model = graft.operators.Trainer.logisticFitPerGroup(mat, "g",
      Seq("x1", "x2"), "y", iters = 40, l2 = 1e-7)
    assert(model.count() == 150L)
    val worst = graft.operators.Trainer.scorePerGroup(mat, model, "g", Seq("x1", "x2"))
      .agg(min((lit(2.0) * col("y") - 1.0) * col("pred"))).head().getDouble(0)
    val iters = model.agg(max(col("iters_run"))).head().getInt(0)
    println(f"[probe-spec] many-models logistic: 150 groups / ${mat.count()} rows in " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s, min margin $worst%.3f, max rounds $iters")
    assert(worst > 0.0, s"every group must separate its band, min margin $worst")
  }

  test("poisson probe: 2M-row log-linear counts, coefficients recovered to 1e-6", Slow) {
    // the count-data trainer at realistic fan-in: every Newton round is
    // ONE aggregation over 2M rows; the planted label is exactly
    // log-linear, so the unpenalized score equations are solved by the
    // planted coefficients and the fit must land on them
    val n = 2000000L
    spark.range(0, n).select(
      (pmod(xxhash64(col("id"), lit(7)), lit(40)).cast("double") / 10.0).as("x1"),
      pmod(xxhash64(col("id"), lit(9)), lit(30)).cast("double").as("x2"))
      .withColumn("y", exp(lit(0.5) + lit(0.2) * col("x1") - lit(0.05) * col("x2")))
      .write.mode("overwrite").parquet("target/probe_spec_poisson")
    val mat = spark.read.parquet("target/probe_spec_poisson")
    val t0 = System.nanoTime()
    val m = graft.operators.Trainer.poissonFit(mat, Seq("x1", "x2"), "y")
    println(f"[probe-spec] poisson: 2M rows in ${(System.nanoTime() - t0) / 1e9}%.1f s, " +
      f"${m.itersRun} rounds, w = ${m.weights.mkString(",")}, b = ${m.bias}%.8f")
    assert(math.abs(m.weights(0) - 0.2) < 1e-6, s"w1 = ${m.weights(0)}")
    assert(math.abs(m.weights(1) + 0.05) < 1e-6, s"w2 = ${m.weights(1)}")
    assert(math.abs(m.bias - 0.5) < 1e-6, s"b = ${m.bias}")
  }

  test("boost probe: 2M-row additive steps, stumps reproduce the target under 1e-6", Slow) {
    // histogram GBM at fan-in: per round ONE 2·64-cell aggregation over
    // 2M rows. Independent hash features keep the greedy contraction
    // fast; every jump sits on an integer (feature ranges < 64 bins), so
    // the planted target is exactly representable
    val n = 2000000L
    spark.range(0, n).select(
      pmod(xxhash64(col("id"), lit(3)), lit(50)).cast("double").as("f1"),
      pmod(xxhash64(col("id"), lit(5)), lit(7)).cast("double").as("f2"))
      .withColumn("y", lit(2.0)
        + when(col("f1") > 30.0, 8.0).otherwise(0.0)
        + when(col("f2") > 3.0, 3.0).otherwise(0.0))
      .write.mode("overwrite").parquet("target/probe_spec_boost")
    val mat = spark.read.parquet("target/probe_spec_boost")
    val t0 = System.nanoTime()
    val m = graft.operators.Trainer.boostStumps(mat, Seq("f1", "f2"), "y",
      rounds = 40)
    val err = mat.agg(max(abs(m.score - col("y")))).head().getDouble(0)
    println(f"[probe-spec] boost: 2M rows in ${(System.nanoTime() - t0) / 1e9}%.1f s, " +
      f"${m.roundsRun} rounds, max err $err%.2e")
    assert(err < 1e-6, s"stumps must reproduce the planted steps, err $err")
    assert(m.roundsRun < 40, s"greedy must early-stop, ran ${m.roundsRun}")
  }

  test("bpe probe: 2M-distinct-word corpus — maxVocab fail-fast, minFreq prunes to a trainable dictionary", Slow) {
    // web-scale dictionary shape: ~2M distinct hapax tokens (the
    // typo/URL/unicode tail) around one genuinely frequent word. The
    // UNBOUNDED collect this probe guards against would ship all 2M
    // rows to the driver; the contract instead (a) fail-fasts past
    // maxVocab having materialized at most maxVocab+1 rows (the limit
    // rides inside the plan), and (b) with the standard minFreq floor
    // prunes the tail DISTRIBUTED, leaving a driver-sized dictionary
    // whose merges are exactly predictable.
    val n = 2000000L
    spark.range(0, n).select(
      col("id").as("doc_id"),
      when(pmod(col("id"), lit(100)) === 0, lit("zqzq"))
        .otherwise(concat(lit("w"), col("id"))).as("text"))
      .write.mode("overwrite").parquet("target/probe_spec_bpe_vocab")
    val mat = spark.read.parquet("target/probe_spec_bpe_vocab")
    val t0 = System.nanoTime()
    val e = intercept[IllegalArgumentException] {
      graft.operators.TextAnalysis.bpeTrain(mat, numMerges = 1, maxVocab = 100000)
    }
    assert(e.getMessage.contains("maxVocab"), e.getMessage)
    // minFreq=2 drops every hapax word before the collect: dictionary is
    // exactly {"zqzq": 20000} → merges (z,q)@40000 then (zq,zq)@20000
    val merges = graft.operators.TextAnalysis.bpeTrain(mat, numMerges = 5,
      minFreq = 2, maxVocab = 10).as[(Int, String, String, Long)].collect().toSeq
    println(f"[probe-spec] bpe vocab: 2M distinct words, fail-fast + pruned " +
      f"fit in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    assert(merges == Seq((1, "z", "q", 40000L), (2, "zq", "zq", 20000L)), merges.toString)
  }

  test("prefix-sum probe: 5M-row MULTI-SERIES running sums, per-series analytic totals", Slow) {
    // the ml4 melted shape (several independent series through ONE
    // bucketing) at 3 orders above its bench size: 5 series × 1M
    // distinct in-series order keys, overlapping order domains across
    // series, skewed weights. Ground truth per series: the series' last
    // running sum MUST equal that series' own weight total — checked
    // for EVERY series independently, at two bucket widths, plus a
    // cross-width checksum of the full assignment.
    val n = 5000000L
    val df = spark.range(0, n).select(
      concat(lit("s"), pmod(col("id"), lit(5))).as("axis"),
      // v = id DIV 5: every series sees the IDENTICAL 0..999999 order
      // domain — repeats across series must pass the per-series
      // duplicate check and never cross-contaminate at the offset join
      expr("CAST(id DIV 5 AS DOUBLE)").as("v"),
      (pmod(xxhash64(col("id"), lit(21)), lit(1000)) + 1).as("c"))
    df.write.mode("overwrite").parquet("target/probe_spec_prefix_multi")
    val mat = spark.read.parquet("target/probe_spec_prefix_multi")
    val totals = mat.groupBy("axis").agg(sum("c").as("t")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(totals.size == 5)
    val runs = Seq(4, 37).map { w =>
      val out = graft.operators.Rank.globalRunningSum(
        mat.repartition(11), "v", "c", "run", numPartitions = w,
        seriesCols = Seq("axis"))
      val lasts = out.groupBy("axis")
        .agg(max_by(col("run"), col("v")).as("last")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      for ((axis, t) <- totals)
        assert(lasts(axis) == t,
          s"width=$w series=$axis: final running sum ${lasts(axis)} != series total $t")
      out.agg(sum(col("run"))).head().getLong(0)
    }
    println(s"[probe-spec] multi-series prefix totals=$totals checksum=${runs.head}")
    assert(runs.distinct.size == 1,
      "multi-series running-sum assignment must be identical across bucket widths")
  }

  test("eval probe: 200k-doc AUC closed-form endpoints through the full ml2 path", Slow) {
    // Two cases with EXACT expected outputs at any size and any
    // partitioning: complete separation (every positive outscores every
    // negative → auc_x1e9 = 1000000000 exactly) and all-ties (every doc
    // identical → exactly 500000000). 200 distinct scores exercise the
    // rank-map broadcast + globalRunningSum path at realistic
    // cardinality; "zz" tokens keep punct and stopword hits at zero so
    // score = 2·n_tokens exactly.
    val n = 200000L
    val sep = "target/probe_spec_auc_sep"
    spark.range(n).select(col("id"),
        (pmod(col("id"), lit(100)) + 1 +
          when(col("id") % 2 === 0, 100L).otherwise(0L)).as("__k"))
      .select(col("id").as("doc_id"),
        expr("repeat('zz ', cast(__k as int))").as("text"),
        when(col("id") % 2 === 0, "en").otherwise("fr").as("lang"),
        lit("probe").as("source"), (col("__k") * 3).as("n_chars"))
      .write.mode("overwrite").parquet(s"$sep/documents.parquet")
    val r1 = graft.SparkEntry.queries("ml2_auc")(spark, sep).head()
    assert(r1.getAs[Long]("n_pos") == n / 2 && r1.getAs[Long]("n_neg") == n / 2)
    assert(r1.getAs[Long]("auc_x1e9") == 1000000000L,
      s"separated corpus must score AUC exactly 1e9, got ${r1.getAs[Long]("auc_x1e9")}")
    val tie = "target/probe_spec_auc_tie"
    spark.range(n).select(col("id").as("doc_id"), lit("zz zz").as("text"),
        when(col("id") % 2 === 0, "en").otherwise("fr").as("lang"),
        lit("probe").as("source"), lit(5L).as("n_chars"))
      .write.mode("overwrite").parquet(s"$tie/documents.parquet")
    val r2 = graft.SparkEntry.queries("ml2_auc")(spark, tie).head()
    assert(r2.getAs[Long]("auc_x1e9") == 500000000L,
      s"all-ties corpus must score AUC exactly 5e8, got ${r2.getAs[Long]("auc_x1e9")}")
    println(s"[probe-spec] auc endpoints: sep=${r1.getAs[Long]("auc_x1e9")} tie=${r2.getAs[Long]("auc_x1e9")}")
  }

  test("sweep probe: 5M-row fused run+lag, telescoping identity across widths", Slow) {
    // globalSweep (ivl2's engine) at 3 orders above its bench size: 5M
    // distinct boundaries with mixed-sign deltas. Ground truths are
    // analytic: the final running sum is the grand total, the lag column
    // telescopes — Σ(v − prev) over non-null prevs = max(v) − min(v) —
    // and exactly ONE row (the global first) has a null prev. All three
    // must hold at any bucket width, and the (run, prev) assignment must
    // be width-invariant.
    val n = 5000000L
    val df = spark.range(0, n).select(col("id").cast("double").as("v"),
      (pmod(xxhash64(col("id"), lit(3)), lit(200)) - 99).as("d"))
    df.write.mode("overwrite").parquet("target/probe_spec_sweep")
    val mat = spark.read.parquet("target/probe_spec_sweep")
    val total = mat.agg(sum("d")).head().getLong(0)
    // checksums must be ASSIGNMENT-sensitive, not just multiset-level:
    // Σ run·v (exact decimal — the long sum would overflow at ~6e19)
    // moves if any run value lands on the wrong row, and Σ (v−prev)²
    // (dense v ⇒ every correct gap is exactly 1, so the sum is n−1)
    // moves if a carry or in-bucket lag is mis-wired even when the
    // prev MULTISET — and hence the telescoped Σ(v−prev) — survives
    val sums = Seq(5, 41).map { w =>
      val out = graft.operators.Rank.globalSweep(
        mat.repartition(13), "v", "d", "run", "prev", numPartitions = w)
      val row = out.agg(
        max_by(col("run"), col("v")),
        sum(col("v") - col("prev")),
        sum(when(col("prev").isNull, 1L).otherwise(0L)),
        sum((col("run") * col("v").cast("long")).cast("decimal(38,0)")),
        sum((col("v") - col("prev")) * (col("v") - col("prev")))).head()
      assert(row.getLong(0) == total,
        s"width=$w: final running sum ${row.getLong(0)} != grand total $total")
      assert(row.getDouble(1) == (n - 1).toDouble,
        s"width=$w: telescoped lag sum ${row.getDouble(1)} != max-min ${n - 1}")
      assert(row.getLong(2) == 1L,
        s"width=$w: expected exactly one null prev, got ${row.getLong(2)}")
      assert(row.getDouble(4) == (n - 1).toDouble,
        s"width=$w: squared-gap sum ${row.getDouble(4)} != ${n - 1} — a " +
          "lag landed on the wrong row")
      row.getDecimal(3)
    }
    println(s"[probe-spec] sweep total=$total runxv-checksum=${sums.head}")
    assert(sums.distinct.size == 1,
      "sweep (run, prev) assignment must be identical across bucket widths")
  }

  test("ppjoin probe: 1M docs, prefix-filter join is partition-invariant with no false positives", Slow) {
    // 1M short docs (20 tokens) with a planted 10% near-dup group rate;
    // the prefix-filter inverted index is the object under test — the
    // exact all-pairs reference is impossible at this size, so the
    // asserts are invariance + soundness (emitted jaccard really ≥ t,
    // recomputed from the shingle sets of the emitted pairs alone)
    val n = 1000000L
    val docs = spark.range(n).select(col("id").as("doc_id"),
      concat_ws(" ", transform(sequence(lit(0), lit(19)), i => {
        val rawGroup = expr("id DIV 5")
        val group = when(pmod(xxhash64(rawGroup, lit(7)), lit(100)) < 10, rawGroup)
          .otherwise(col("id") + n)
        val base = concat(lit("w"), pmod(xxhash64(group, i), lit(3000)))
        val mutated = concat(lit("m"), pmod(xxhash64(col("id"), i, lit(1)), lit(100000)))
        when(pmod(xxhash64(col("id"), i), lit(10)) === 0, mutated).otherwise(base)
      })).as("text"))
    docs.write.mode("overwrite").parquet("target/probe_spec_ppjoin")
    val mat = spark.read.parquet("target/probe_spec_ppjoin")
    val p1 = Dedup.ppjoinPairs(mat.repartition(7), k = 3, threshold = 0.7)
    val p2 = Dedup.ppjoinPairs(mat.repartition(31), k = 3, threshold = 0.7)
    val pairs = p1.collect().map(_.toString).sorted.toSeq
    assert(pairs == p2.collect().map(_.toString).sorted.toSeq,
      "ppjoin must be partition-invariant")
    println(s"[probe-spec] ppjoin pairs=${pairs.size}")
    // xxhash64-pure corpus → bit-stable pair set across runs and rounds
    assert(pairs.size == 18328, "planted near-dup pair structure drifted")
    // soundness: every emitted pair's jaccard, recomputed independently
    // from the two shingle sets, is >= the threshold
    val ids = p1.select(explode(array(col("a_id"), col("b_id"))).as("doc_id")).distinct()
    val sh = mat.join(ids, "doc_id").select(col("doc_id"),
      graft.operators.TextAnalysis.shingles(col("text"), 3).as("sh"))
    val recheck = p1
      .join(sh.select(col("doc_id").as("a_id"), col("sh").as("a_sh")), "a_id")
      .join(sh.select(col("doc_id").as("b_id"), col("sh").as("b_sh")), "b_id")
      .select((size(array_intersect(col("a_sh"), col("b_sh"))).cast("double") /
        size(array_union(col("a_sh"), col("b_sh")))).as("j"))
      .filter(col("j") < 0.7).count()
    assert(recheck == 0L, s"$recheck emitted pairs fail an independent jaccard recheck")
  }

  test("trainer probe: 2M-row IRLS fit separates the planted margin in <=12 passes, invariant", Slow) {
    // xxhash64-derived features in [-10, 10], planted boundary
    // x1 + 2·x2 = 0 with the |z| <= 0.5 band excluded: ANY separator GD
    // finds inside the empty band classifies every kept row correctly,
    // so the assertion is exact at any FP reorder
    def feat(salt: Int) =
      (pmod(xxhash64(col("id"), lit(salt)), lit(2001)) - 1000).cast("double") / 100.0
    val rows = spark.range(2000000L)
      .select(feat(1).as("x1"), feat(2).as("x2"))
      .withColumn("z", col("x1") + col("x2") * 2.0)
      .filter(abs(col("z")) > 0.5)
      .select(col("x1"), col("x2"), when(col("z") > 0, 1.0).otherwise(0.0).as("y"))
    rows.write.mode("overwrite").parquet("target/probe_spec_trainer")
    val data = spark.read.parquet("target/probe_spec_trainer")
    val n = data.count()
    assert(n > 1800000L, s"margin band removed too much: $n")
    val wrong = Seq(8, 32).map { p =>
      val m = graft.operators.Trainer.logisticFit(data.repartition(p),
        Seq("x1", "x2"), "y")
      assert(m.itersRun <= 12,
        s"Newton must converge in a handful of PASSES at scale, took ${m.itersRun}")
      data.filter((graft.operators.Trainer.logisticScore(m) > 0.5) =!=
        (col("y") === 1.0)).count()
    }
    println(s"[probe-spec] trainer logistic n=$n wrong=$wrong")
    assert(wrong.forall(_ == 0L),
      s"margin-excluded rows misclassified under some partitioning: $wrong")
    // one-pass ridge at the same size: noiseless planted line recovered
    val lin = data.withColumn("t", lit(3.0) * col("x1") - lit(0.5) * col("x2") + lit(2.0))
    val lm = graft.operators.Trainer.ridgeFit(lin, Seq("x1", "x2"), "t")
    assert(math.abs(lm.weights(0) - 3.0) < 1e-6 &&
      math.abs(lm.weights(1) + 0.5) < 1e-6 && math.abs(lm.bias - 2.0) < 1e-6,
      s"ridge drifted: ${lm.weights.toSeq} / ${lm.bias}")
  }

  test("trainer probe: Bradley-Terry on 1M comparisons over 5k items orders the planted tiers", Slow) {
    // 5000 items in 5 strength tiers (1.5^tier); each item meets 10
    // xxhash-chosen partners for 20 matches at the closed-form expected
    // win split — every item both wins and loses (worst pair ratio
    // 1.5^4 ≈ 5 → 3/20 wins), so the Ford fail-fast stays quiet
    val items = 5000L
    val pairs = spark.range(items)
      .select(col("id").as("i"),
        explode(sequence(lit(1), lit(10))).as("k"))
      .select(col("i"),
        pmod(xxhash64(col("i"), col("k")), lit(items)).as("j"))
      .filter(col("i") =!= col("j"))
    val tier = (c: Column) => (c / lit(1000)).cast("int")
    val si = pow(lit(1.5), tier(col("i")).cast("double"))
    val sj = pow(lit(1.5), tier(col("j")).cast("double"))
    val comps = pairs
      .select(col("i"), col("j"),
        round(lit(20) * si / (si + sj)).cast("int").as("wi"))
      .select(explode(concat(
        transform(sequence(lit(1), col("wi")),
          _ => struct(col("i").as("w"), col("j").as("l"))),
        transform(sequence(lit(1), lit(20) - col("wi")),
          _ => struct(col("j").as("w"), col("i").as("l"))))).as("m"))
      .select(col("m.w").as("winner"), col("m.l").as("loser"))
    comps.write.mode("overwrite").parquet("target/probe_spec_bt")
    val log = spark.read.parquet("target/probe_spec_bt")
    val nComps = log.count()
    assert(nComps > 900000L, s"comparison log too small: $nComps")
    val fit = graft.operators.Trainer.bradleyTerryFit(log, "winner", "loser",
      rounds = 15)
    val tierMeans = fit.groupBy(tier(col("item")).as("t"))
      .agg(avg("strength").as("s")).orderBy("t")
      .collect().map(r => r.getDouble(1))
    println(s"[probe-spec] bt n=$nComps tierMeans=${tierMeans.mkString(",")}")
    assert(tierMeans.length == 5)
    for (t <- 0 until 4)
      assert(tierMeans(t + 1) > tierMeans(t) * 1.2,
        s"planted tier order lost: ${tierMeans.mkString(",")}")
  }

  test("many-models probe: 1000-group isotonic, planted monotone rates exact per group", Slow) {
    // 1000 groups x 10 knots x 10 rows: within every group, knot sc has
    // rate exactly sc/10 — already monotone, so PAV must be the
    // identity and calibrated_x1e9 == sc·1e8 for EVERY one of the
    // 10,000 (group, knot) model rows, asserted by one aggregate
    val df = spark.range(0, 100000L).selectExpr(
      "CAST(id DIV 100 AS STRING) AS g",
      "CAST((id DIV 10) % 10 AS DOUBLE) AS sc",
      "CAST(CASE WHEN id % 10 < (id DIV 10) % 10 THEN 1 ELSE 0 END AS LONG) AS y")
    val model = graft.operators.Trainer.isotonicFitPerGroup(
      df.repartition(13), "g", "sc", "y", maxTotalKnots = 20000)
    val bad = model.filter(
      col("calibrated_x1e9") =!= (col("knot") * 100000000L).cast("long"))
      .count()
    val total = model.count()
    println(s"[probe-spec] per-group isotonic: $total model rows, $bad off-plant")
    assert(total == 10000L, s"expected 1000x10 model rows, got $total")
    assert(bad == 0L, s"$bad model rows deviate from the planted identity PAV")
  }

  test("eval probe: 4M-row per-slice AUC, four analytic slice shapes exact", Slow) {
    // aucPerGroup at 3 orders above bench size: 4 slices x 1M rows,
    // each slice's AUC CLOSED-FORM — perfectly separated (1.0), label =
    // score parity ((m+1)/2m by the rank-sum identity), perfectly
    // reversed (0.0), and all scores tied (exactly 0.5 via averaged
    // ranks). Integer ground truth computed in BigInt, compared exactly.
    val m = 500000L // positives per slice (1M rows each)
    val base = spark.range(0, 4000000L).select(
      (col("id") % 4).cast("string").as("g"),
      expr("id DIV 4").as("i"))
    val df = base.select(col("g"),
      when(col("g") === "0", (col("i") >= m).cast("long"))    // top half pos
        .when(col("g") === "1", pmod(col("i"), lit(2)))       // parity
        .when(col("g") === "2", (col("i") < m).cast("long"))  // bottom half pos
        .otherwise(pmod(col("i"), lit(2))).as("y"),           // tied scores
      when(col("g") === "3", lit(0.0))
        .otherwise(col("i").cast("double")).as("sc"))
    df.write.mode("overwrite").parquet("target/probe_spec_auc")
    val got = graft.operators.Trainer.aucPerGroup(
        spark.read.parquet("target/probe_spec_auc"), "g", "y", "sc")
      .orderBy("g").collect()
      .map(r => (r.getString(0), r.getLong(3))).toSeq
    val parity = ((BigInt(m) + 1) * BigInt(1000000000) / (2 * BigInt(m))).toLong
    val want = Seq("0" -> 1000000000L, "1" -> parity, "2" -> 0L,
      "3" -> 500000000L)
    println(s"[probe-spec] auc slices got=$got")
    assert(got == want, s"per-slice AUC diverged: got $got want $want")
  }

  test("eval probe: 5M-response preference pairs, analytic extremes per prompt", Slow) {
    // preferencePairs at 100k prompts x 50 responses: score = i DIV 2
    // (a tie at the top: i=48 and i=49 both score 24), so the analytic
    // answer per prompt p is chosen = p*100+49 (tie-break to the larger
    // response id), rejected = p*100+0, margin = 24 — asserted via
    // closed-form aggregates, never a driver-side row sweep
    val prompts = 100000L
    val df = spark.range(0, prompts * 50).select(
      expr("id DIV 50").as("p"),
      expr("(id DIV 50) * 100 + id % 50").as("resp"),
      expr("(id % 50) DIV 2").as("sc"))
    df.write.mode("overwrite").parquet("target/probe_spec_dpo")
    val out = graft.operators.Trainer.preferencePairs(
      spark.read.parquet("target/probe_spec_dpo"), "p", "resp", "sc")
    val agg = out.agg(count(lit(1)), min("margin"), max("margin"),
      sum("chosen"), sum("rejected")).head()
    val sumP = BigInt(prompts) * (prompts - 1) / 2 * 100
    println(s"[probe-spec] dpo pairs=${agg.getLong(0)}")
    assert(agg.getLong(0) == prompts, s"one pair per prompt: ${agg.getLong(0)}")
    assert(agg.getLong(1) == 24L && agg.getLong(2) == 24L,
      s"margin must be exactly 24: ${agg.getLong(1)}..${agg.getLong(2)}")
    assert(BigInt(agg.getLong(3)) == sumP + BigInt(49) * prompts,
      "chosen ids must be every prompt's response 49 (tie-break high)")
    assert(BigInt(agg.getLong(4)) == sumP,
      "rejected ids must be every prompt's response 0")
  }
}
