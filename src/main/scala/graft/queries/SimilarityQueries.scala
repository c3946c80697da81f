package graft.queries

import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.functions._

/** Similarity-search and sketch-based dedup operators over `embeddings`
  * and `documents` (SURVEY.md §7.1.8).
  *
  * Cosine oracles use an explicit double-precision
  * list_sum(list_transform(...)) expression: DuckDB's own
  * list_cosine_similarity computes in FLOAT and diverges from Spark's
  * double fold at ~1e-7 (verified empirically); the explicit form is
  * bit-identical to Spark's sequential aggregate.
  *
  * Sketch-based queries (SimHash, winnowing, LSH, PQ) build on hash
  * families DuckDB cannot reproduce, so their oracles are PROPERTY-BOUND:
  * each plants exact copies into the corpus and states the hash-
  * independent consequence (identical input ⇒ identical sketch ⇒ the
  * pair/top-rank is found) as closed-form SQL, while the natural-data
  * recall behavior stays pinned by the ScalaTest suite.
  */
object SimilarityQueries {

  import QueryDef.t

  /** DuckDB-side whitespace tokenization (same contract as
    * TextAnalysis.tokens) — ret3's BM25 arm.
    */
  private val duckToks =
    "CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[]) " +
      "ELSE regexp_split_to_array(lower(trim(text)), '\\s+') END"

  /** ret3's lexical probe: the same one-rare + three-common mix as ret1. */
  private val rrfTerms = Seq("dup", "spark", "window", "merge")

  private val duckCos =
    """(list_sum(list_transform(list_zip(a_vec, b_vec), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
      | / (sqrt(list_sum(list_transform(a_vec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |  * sqrt(list_sum(list_transform(b_vec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))))"""
      .stripMargin.replace("\n", " ")

  /** Shared CTE chain replaying Pca.topComponent's fixed-point power
    * iteration (6 steps) in DuckDB: floor-quantized coordinates `q`,
    * n-normalized Gram `a`, iterates `v0..v6`, final vector `fin`, and
    * the sign pivot `piv`. Appended to WITH by pca1/pca2 oracles.
    */
  private val duckPowerIter: String = {
    val iters = 6
    // AS MATERIALIZED throughout: v_k references w_k twice and the chain
    // is `iters` deep — DuckDB inlines plain CTEs, re-running the Gram
    // self-join 2^iters times otherwise. Semantics-neutral.
    val steps = (1 to iters).map { k =>
      val prev = s"v${k - 1}"
      s"""w$k AS MATERIALIZED (SELECT a.i AS i, CAST(sum(a.v * $prev.v) AS BIGINT) AS w FROM a JOIN $prev ON a.j = $prev.i GROUP BY a.i),
         |m$k AS MATERIALIZED (SELECT CASE WHEN max(abs(w)) // 1000000 < 1 THEN 1 ELSE max(abs(w)) // 1000000 END AS d FROM w$k),
         |v$k AS MATERIALIZED (SELECT i, w // (SELECT d FROM m$k) AS v FROM w$k)""".stripMargin
    }.mkString(", ")
    s"""x AS (SELECT vec_id, unnest(list_transform(embedding, (x, i) -> struct_pack(i := i - 1, v := x))) AS u FROM embeddings),
       |q AS MATERIALIZED (SELECT vec_id, u.i AS i, CAST(floor(CAST(u.v AS DOUBLE) * 10000) AS BIGINT) AS qi FROM x),
       |n AS (SELECT count(*) AS c FROM embeddings),
       |g AS MATERIALIZED (SELECT x2.i AS i, y2.i AS j, CAST(sum(x2.qi * y2.qi) AS BIGINT) AS s FROM q x2 JOIN q y2 ON x2.vec_id = y2.vec_id GROUP BY 1, 2),
       |a AS MATERIALIZED (SELECT i, j, s // (SELECT c FROM n) AS v FROM g),
       |v0 AS (SELECT DISTINCT i, CAST(1000000 AS BIGINT) AS v FROM q),
       |$steps,
       |fin AS MATERIALIZED (SELECT i, CAST(v AS BIGINT) AS v FROM v$iters),
       |piv AS (SELECT v AS p FROM fin WHERE abs(v) = (SELECT max(abs(v)) FROM fin) ORDER BY i LIMIT 1)""".stripMargin
  }

  /** Planted well-separated cluster geometry over the embeddings ids —
    * the corpus v2/v4 (and, at `deltas = 14`, pq1/pq2) run on so their
    * ANN oracles are VALUE-CARRYING: member i = e_c + δ_i·e_{(c+1)%8},
    * c = i % 8, δ_i = (1 + (i DIV 8) % deltas)/1024. Every coordinate
    * is a dyadic rational (k/2¹⁰), exact in float and double, so DuckDB
    * can rebuild the identical vectors from vec_id alone and replay
    * cosines / squared-L2 distances bit-exactly. `deltas = 14` bounds
    * every coordinate to 16 distinct values (0, 1, and 14 δs) — the
    * PQ-codebook-saturating variant pq1/pq2 rely on. See v2's and pq1's
    * QueryDefs for the separation arguments.
    */
  def plantedClusters(s: org.apache.spark.sql.SparkSession,
      dir: String, deltas: Int = 250): org.apache.spark.sql.DataFrame =
    // 1024.0D, not 1024.0: a bare decimal literal makes Spark do
    // DECIMAL division (scale-limited — 3/1024 came out 0.00293, not
    // 0.0029296875) and every "exact dyadic" claim above would be
    // silently false; the D suffix forces true double division, which
    // is exact for k/2^10 (caught by PqSpec's codebook-saturation test)
    t(s, dir, "embeddings").select(col("vec_id"),
      expr(s"""transform(sequence(0, 7), j -> CAST(
        CASE WHEN j = vec_id % 8 THEN 1.0D
             WHEN j = (vec_id % 8 + 1) % 8
               THEN CAST(1 + (vec_id DIV 8) % $deltas AS DOUBLE) / 1024.0D
             ELSE 0.0D END AS FLOAT))""").as("embedding"))

  /** The exact top-10 over [[plantedClusters]] in closed form: the same
    * (c, δ) reconstruction, the cosine as the same sequence of exact
    * products/sums and two correctly-rounded sqrts — bit-identical to
    * Spark's CosineSimilarity fold on these inputs (every partial sum
    * is exact, so fold order cannot matter). Shared by v2 and v4: both
    * provably return the exact brute-force top-10 on this geometry.
    */
  private val duckPlantedTop10: String =
    """WITH v AS (SELECT vec_id, vec_id % 8 AS c,
      |  CAST(1 + (vec_id // 8) % 250 AS DOUBLE)/1024.0 AS d FROM embeddings),
      |q AS (SELECT vec_id AS query_id, c AS qc, d AS qd FROM v WHERE vec_id < 5),
      |s AS (SELECT query_id, vec_id AS neighbor_id,
      |  (CASE WHEN qc = c THEN 1.0 + qd*d
      |        WHEN c = (qc+1)%8 THEN qd
      |        WHEN qc = (c+1)%8 THEN d ELSE 0.0 END)
      |  / (sqrt(1.0 + qd*qd) * sqrt(1.0 + d*d)) AS cos
      |  FROM q, v WHERE query_id <> vec_id),
      |r AS (SELECT query_id, neighbor_id, cos,
      |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM s)
      |SELECT query_id, rank, neighbor_id, round(cos, 6) AS cosine FROM r
      |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin.replace("\n", " ")

  /** The exact ADC top-10 over `plantedClusters(deltas = 14)` in closed
    * form — shared by pq1 and pq2, both of which provably return it:
    * with exactly 16 distinct values per coordinate and the training
    * sample covering the whole corpus (sampleN = 2048 ≥ corpus at both
    * SFs), each per-coordinate codebook saturates to exactly those 16
    * values (Lloyd's fixed point: every point IS a codeword, cells are
    * zero-variance, the mean of n copies of v is bit-exactly v), so
    * quantization error is ZERO and the asymmetric distance equals the
    * true squared L2 — every term a dyadic rational both engines
    * compute identically; in-cluster distances are ≤ (13/1024)² while
    * any cross-cluster distance is ≥ 1, so the top-10 is all
    * in-cluster and the 6-decimal round can never sit on a rounding
    * boundary (it would need a numerator divisible by 2¹³·5⁶ ≫ 169).
    */
  private val duckPlantedAdcTop10: String =
    """WITH v AS (SELECT vec_id, vec_id % 8 AS c,
      |  CAST(1 + (vec_id // 8) % 14 AS DOUBLE)/1024.0 AS d FROM embeddings),
      |q AS (SELECT vec_id AS query_id, c AS qc, d AS qd FROM v WHERE vec_id < 5),
      |s AS (SELECT query_id, vec_id AS neighbor_id,
      |  CASE WHEN qc = c THEN (qd-d)*(qd-d)
      |       WHEN c = (qc+1)%8 THEN 1.0 + (qd-1.0)*(qd-1.0) + d*d
      |       WHEN qc = (c+1)%8 THEN 1.0 + (1.0-d)*(1.0-d) + qd*qd
      |       ELSE 2.0 + qd*qd + d*d END AS adc
      |  FROM q, v WHERE query_id <> vec_id),
      |r AS (SELECT query_id, neighbor_id, adc,
      |  row_number() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) AS rank FROM s)
      |SELECT query_id, rank, neighbor_id, round(adc, 6) AS adc_dist FROM r
      |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin.replace("\n", " ")

  val all: Seq[QueryDef] = Seq(

    // Brute-force exact cosine top-k: the ANN baseline. Query set (vec_id
    // < 5) broadcasts against the corpus — the corpus is scanned once and
    // never shuffled.
    QueryDef("v1_knn_brute",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        Similarity.bruteForceKnn(e, e.filter(col("vec_id") < 5), k = 10)
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding AS a_vec FROM embeddings WHERE vec_id < 5),
              |c AS (SELECT vec_id AS neighbor_id, embedding AS b_vec FROM embeddings),
              |scored AS (SELECT query_id, neighbor_id, $duckCos AS cos FROM q, c WHERE query_id <> neighbor_id),
              |ranked AS (SELECT query_id, neighbor_id, cos,
              |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM scored)
              |SELECT query_id, rank, neighbor_id, round(cos, 6) AS cosine FROM ranked
              |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin.replace("\n", " "))),

    // Embedding-cosine near-duplicate pairs (exact all-pairs form — the
    // verification metric for the LSH-bucketed variant).
    QueryDef("d4_embedding_neardup",
      (s, dir) => Dedup.embeddingNearDups(
        t(s, dir, "embeddings").filter(col("vec_id") % 4 === 0), threshold = 0.4)
        .orderBy("a_id", "b_id"),
      Some(s"""WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 4 = 0),
              |pairs AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
              |  a.embedding AS a_vec, b.embedding AS b_vec FROM e a, e b WHERE a.vec_id < b.vec_id)
              |SELECT a_id, b_id, round($duckCos, 6) AS cosine FROM pairs
              |WHERE $duckCos >= 0.4 ORDER BY a_id, b_id""".stripMargin.replace("\n", " "))),

    // LSH-bucketed embedding near-dup — the scale path for d4: random-
    // hyperplane buckets make the quadratic compare run per bucket
    // (expected bucket size n/2^planes), so the pair count is O(n²/2^p)
    // instead of O(n²). Bucket ids come from Spark-side hashing that
    // DuckDB cannot reproduce → rows-only check; the recall-vs-exact
    // subset property is pinned by DedupSimilaritySpec. Threshold/planes
    // are sized so the check observes actual pairs at sf0.01 (0.98/4
    // found zero — an empty result certifies nothing).
    // PROPERTY-BOUND ORACLE (d6's planted-pair pattern): the bucket ids
    // are Spark-hash-specific, but an EXACT copy of a vector lands in
    // the same hyperplane bucket by construction (identical dots →
    // identical signs) and scores cosine 1 — so planting a copy of
    // every vector at vec_id + 100000 makes "each planted pair is
    // found" hash-independent and SQL-stateable. A missed pair flips
    // found to false; the subset-of-exact property (LSH never emits a
    // below-threshold pair) stays pinned by DedupSimilaritySpec.
    QueryDef("v5_lsh_neardup",
      (s, dir) => {
        val e = t(s, dir, "embeddings").select("vec_id", "embedding")
        val corpus = e.unionByName(
          e.select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
        val pairs = Dedup.embeddingNearDups(
          corpus, threshold = 0.4, lsh = true, planes = 2)
          .select(col("a_id"), col("b_id"), lit(true).as("found"))
        e.select(col("vec_id").as("a_id"), (col("vec_id") + 100000).as("b_id"))
          .join(pairs, Seq("a_id", "b_id"), "left")
          .select(col("a_id"), col("b_id"), coalesce(col("found"), lit(false)).as("found"))
          .orderBy("a_id")
      },
      Some("""SELECT vec_id AS a_id, vec_id + 100000 AS b_id, TRUE AS found
             |FROM embeddings ORDER BY a_id""".stripMargin.replace("\n", " "))),

    // MinHash+LSH near-dup pairs — the 100 TB candidate-generation path.
    // ORACLE-CHECKED against the exact all-pairs Jaccard: the LSH banding
    // is sized for the threshold (32 hashes / 8 bands of 4 puts the
    // S-curve midpoint at (1/8)^(1/4) ≈ 0.59, far below the 0.9 verify
    // threshold), so every qualifying pair lands in a shared bucket and
    // the exact-verify filter makes the OUTPUT SET equal to the exact
    // pair list — which DuckDB recomputes pair-for-pair. An undersized
    // 16/4 banding (midpoint 0.71) measurably missed a 0.9 pair at
    // sf0.1; sizing bands to the threshold is exactly the knob a real
    // dedup run must get right, and this oracle pins it.
    QueryDef("d5_minhash_lsh",
      (s, dir) => Dedup.minhashNearDups(
        t(s, dir, "documents"), shingleK = 3, numHashes = 32, bands = 8, threshold = 0.9)
        .orderBy("a_id", "b_id"),
      Some("""WITH sub AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[]) ELSE regexp_split_to_array(lower(trim(text)), '\s+') END AS toks FROM documents),
             |sh AS (SELECT doc_id, CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[]) ELSE list_distinct(list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' '))) END AS s FROM sub),
             |pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             |  len(list_intersect(a.s, b.s)) AS inter, len(list_distinct(list_concat(a.s, b.s))) AS uni
             |  FROM sh a, sh b WHERE a.doc_id < b.doc_id)
             |SELECT a_id, b_id, round(CAST(inter AS DOUBLE) / uni, 6) AS jaccard
             |FROM pairs WHERE uni > 0 AND CAST(inter AS DOUBLE) / uni >= 0.9
             |ORDER BY a_id, b_id""".stripMargin.replace("\n", " "))),

    // SimHash near-dup pairs (Hamming <= 3 over 64-bit signatures).
    // PROPERTY-BOUND ORACLE: the signatures themselves are engine-hash-
    // specific (xxhash64 term hashing DuckDB cannot reproduce), but
    // "an exact copy of a document pairs with its original" is hash-
    // independent — identical text gives an identical signature, Hamming
    // 0, and the pigeonhole banding guarantees emission. The query plants
    // a full copy of the corpus slice at doc_id + 100000 and reports, per
    // planted pair, whether simhashNearDups surfaced it; the oracle
    // states the planted pair list with found = TRUE, so one missed pair
    // flips a row to false and fails the hash compare. Raw-pair recall
    // vs exact Hamming stays pinned by DedupSimilaritySpec.
    QueryDef("d6_simhash",
      (s, dir) => {
        val docs = t(s, dir, "documents").filter(col("doc_id") % 4 === 0)
          .select("doc_id", "text")
        val corpus = docs.unionByName(
          docs.select((col("doc_id") + 100000).as("doc_id"), col("text")))
        val pairs = Dedup.simhashNearDups(corpus, maxHamming = 3)
          .select(col("a_id"), col("b_id"), lit(true).as("found"))
        docs.select(col("doc_id").as("a_id"), (col("doc_id") + 100000).as("b_id"))
          .join(pairs, Seq("a_id", "b_id"), "left")
          .select(col("a_id"), col("b_id"), coalesce(col("found"), lit(false)).as("found"))
          .orderBy("a_id")
      },
      Some("""SELECT doc_id AS a_id, doc_id + 100000 AS b_id, TRUE AS found
             |FROM documents WHERE doc_id % 4 = 0
             |ORDER BY a_id""".stripMargin.replace("\n", " "))),

    // Winnowing (rolling-hash) fingerprint containment candidates.
    // PROPERTY-BOUND ORACLE (d6's planted-pair pattern): the fingerprint
    // family is engine-specific (rolling Rabin-Karp + avalanche mix that
    // DuckDB cannot reproduce), but winnowing's defining guarantee —
    // identical text ⇒ identical fingerprint set ⇒ containment exactly
    // 1.0 — is hash-independent. Plant a full copy of the %4 corpus
    // slice at doc_id + 100000 and report, per planted pair, whether
    // winnowingNearDups surfaced it; every testdata doc normalizes to
    // ≥ k chars (verified at both SFs), so the oracle states the full
    // planted list with found = TRUE and one missed pair flips a row.
    // maxDocFreq is lifted for the planted run: the cap drops boilerplate
    // fingerprints by document frequency, and planting doubles every df —
    // a doc ALL of whose fingerprints crossed the cap would lose its pair
    // for cap reasons, not winnowing reasons. Natural-pair behavior
    // (recall vs exact containment, cap semantics) stays pinned by
    // DedupSimilaritySpec.
    QueryDef("d7_winnowing",
      (s, dir) => {
        val docs = t(s, dir, "documents").filter(col("doc_id") % 4 === 0)
          .select("doc_id", "text")
        val corpus = docs.unionByName(
          docs.select((col("doc_id") + 100000).as("doc_id"), col("text")))
        val pairs = Dedup.winnowingNearDups(corpus, k = 5, w = 4,
            minContainment = 0.6, maxDocFreq = Int.MaxValue)
          .select(col("a_id"), col("b_id"), lit(true).as("found"))
        docs.select(col("doc_id").as("a_id"), (col("doc_id") + 100000).as("b_id"))
          .join(pairs, Seq("a_id", "b_id"), "left")
          .select(col("a_id"), col("b_id"), coalesce(col("found"), lit(false)).as("found"))
          .orderBy("a_id")
      },
      Some("""SELECT doc_id AS a_id, doc_id + 100000 AS b_id, TRUE AS found
             |FROM documents WHERE doc_id % 4 = 0
             |ORDER BY a_id""".stripMargin.replace("\n", " "))),

    // Per-label centroid support: element-wise sums of the embedding
    // vectors per label (the reduction behind k-means / class prototypes).
    // Elements are fixed-point scaled (floor(v·1e9) — floor has no
    // rounding-mode ambiguity, unlike double→decimal casts where Spark
    // rounds HALF_UP and DuckDB half-even) and summed as exact integers:
    // the reduction is associative and identical under any partitioning
    // or engine — how a distributed float reduction is made reproducible.
    // Long form (label, pos) keeps the oracle compare total-ordered.
    QueryDef("v3_label_centroids",
      (s, dir) => t(s, dir, "embeddings")
        .select(col("label").cast("long").as("label"), posexplode(col("embedding")))
        .groupBy("label", "pos")
        .agg(sum(floor(col("col").cast("double") * lit(1e9)).cast("long")).as("sum_scaled"),
          count(lit(1)).as("n"))
        .select(col("label"), col("pos").cast("long").as("pos"), col("sum_scaled"), col("n"))
        .orderBy("label", "pos"),
      Some("""SELECT CAST(label AS BIGINT) AS label, CAST(u.i AS BIGINT) AS pos,
             |CAST(sum(CAST(floor(CAST(u.v AS DOUBLE) * 1e9) AS BIGINT)) AS BIGINT) AS sum_scaled,
             |count(*) AS n
             |FROM (SELECT label, unnest(list_transform(embedding, (x, i) -> struct_pack(i := i - 1, v := x))) AS u FROM embeddings)
             |GROUP BY 1, 2 ORDER BY label, pos""".stripMargin.replace("\n", " "))),

    // IVF-style approximate top-k — the ANN scale path (probes nprobe
    // cells instead of the full corpus). VALUE-CARRYING ORACLE via
    // planted analytic geometry (round-15 upgrade from the old
    // recall-bound postcondition): the corpus is rebuilt over the
    // embeddings ids as 8 one-hot clusters — member i = e_c + δ_i ·
    // e_{(c+1)%8}, c = i%8, δ_i = (1 + (i DIV 8) % 250)/1024, every
    // coordinate a dyadic rational, EXACT in float and double. The
    // geometry proves what the hash can't: in-cluster cosine ≥ 0.971
    // (worst pair δ = 1/1024 vs 250/1024) while cross-cluster ≤ 0.25
    // (the only nonzero dot term is a single δ ≤ 250/1024), so each
    // query's true top-10 is entirely in-cluster; the deterministic
    // seed (first 16 vec_ids = exactly 2 centroids per cluster) sends
    // every member to an own-cluster cell, the query's 2 own-cluster
    // cells outrank all 14 foreign cells, and nprobe = 4 therefore
    // probes the WHOLE cluster — IVF provably returns the exact
    // brute-force top-10. The oracle recomputes that top-10 from the
    // same closed-form vectors: dot = 1 + δ_qδ_x (same cluster) or one
    // δ (adjacent axes) — every product/sum exact in double, sqrt and
    // division correctly rounded identically in both engines, so the
    // cosines are bit-identical and the ranking total (ties broken by
    // neighbor_id on both sides).
    QueryDef("v2_knn_ivf",
      (s, dir) => {
        val e = plantedClusters(s, dir)
        Similarity.ivfKnn(e, e.filter(col("vec_id") < 5), k = 10,
          numCentroids = 16, nprobe = 4)
          .orderBy("query_id", "rank")
      },
      Some(duckPlantedTop10)),

    // IVF with k-means-refined centroids — same planted geometry and
    // the same value-carrying exact-top-10 oracle as v2, with one more
    // link in the argument: every Lloyd round keeps assignments
    // in-cluster (a member's cosine to ANY own-cluster centroid stays
    // ≥ 0.94 vs ≤ 0.25 to any foreign one, because refined centroids
    // are means of own-cluster UNIT members and so stay supported on
    // the cluster's two axes — the ×10⁹ fixed-point floor keeps the
    // other six coordinates exactly zero; an emptied cell keeps its
    // previous in-span centroid), so the refined index still has
    // single-cluster cells, the query's two own cells still outrank
    // every foreign cell, and the k-means-refined IVF output is
    // provably the exact brute-force top-10. The refinement dynamics
    // themselves (objective monotonicity, determinism, planted-cluster
    // recovery) stay pinned by DedupSimilaritySpec.
    QueryDef("v4_kmeans_ivf",
      (s, dir) => {
        val e = plantedClusters(s, dir)
        Similarity.ivfQuery(
          Similarity.ivfIndexKmeans(e, numCentroids = 16, iters = 3),
          e.filter(col("vec_id") < 5), k = 10, nprobe = 4)
          .orderBy("query_id", "rank")
      },
      Some(duckPlantedTop10)),

    // Product-quantization ANN (Jégou et al. 2011): embeddings compress
    // 32× into per-subspace codes, queries score by asymmetric distance
    // (m table lookups per row instead of d multiplies).
    // VALUE-CARRYING ORACLE via the codebook-saturating planted lattice
    // (round-15 upgrade from the planted-duplicate postcondition): on
    // plantedClusters(deltas = 14) every coordinate takes exactly 16
    // distinct dyadic values and the deterministic training sample
    // covers the whole corpus, so each per-coordinate codebook is
    // provably exactly those 16 values (Lloyd's fixed point — every
    // point IS a codeword), quantization error is ZERO, and ADC equals
    // the TRUE squared L2, which DuckDB recomputes in closed form from
    // vec_id alone; the cluster separation (in-cluster ≤ (13/1024)²,
    // cross-cluster ≥ 1) pins the top-10 in-cluster, ranked by exact
    // distance with id tie-break on both sides. The full
    // (query, rank, neighbor, adc) relation is the check — not a flag.
    // Natural-corpus behavior stays pinned by PqSpec (ADC identity,
    // planted-cluster retrieval, determinism).
    QueryDef("pq1_adc_topk",
      (s, dir) => {
        val e = plantedClusters(s, dir, deltas = 14)
        val model = graft.operators.Pq.train(e, m = 8, k = 16)
        graft.operators.Pq.query(
          graft.operators.Pq.encode(e, model),
          e.filter(col("vec_id") < 5), model, topK = 10)
          .orderBy("query_id", "rank")
      },
      Some(duckPlantedAdcTop10)),

    // IVFPQ — the FAISS layout: coarse IVF routing composed with
    // PQ-compressed ADC scoring; the serving relation carries only
    // (id, cell, codes), ~(16+m) B/row at 10¹⁰ vectors, cell-prunable.
    // VALUE-CARRYING ORACLE — pq1's saturated-codebook lattice composed
    // with v2's routing geometry: the same deltas=14 corpus makes ADC
    // the true squared L2 (pq1's argument), and the one-hot cluster
    // separation sends every member to an own-cluster cell and puts the
    // query's 2 own-cluster cells atop the probe ranking (v2's
    // argument, stronger here: δ ≤ 14/1024), so nprobe = 4 scores the
    // whole cluster, where the exact global top-10 lives — IVFPQ
    // provably returns the identical relation as plain PQ, and the
    // oracle is the same closed-form top-10. A routing/assignment rule
    // divergence surfaces as a missing neighbor, an ADC miscount as a
    // wrong distance. Full-probe == plain PQ equivalence stays pinned
    // by PqSpec.
    QueryDef("pq2_ivfpq",
      (s, dir) => {
        val e = plantedClusters(s, dir, deltas = 14)
        val model = graft.operators.Pq.train(e, m = 8, k = 16)
        val index = Similarity.ivfIndex(e, numCentroids = 16)
        graft.operators.Pq.ivfPqQuery(index, model,
          e.filter(col("vec_id") < 5), topK = 10, nprobe = 4)
          .orderBy("query_id", "rank")
      },
      Some(duckPlantedAdcTop10)),

    // SemDeDup semantic dedup: k-means cells bound the quadratic cosine
    // compare; connected components pick one representative per semantic
    // group. VALUE-CARRYING ORACLE via the planted cluster geometry
    // (round-16 upgrade from the planted-copy postcondition — the old
    // argument leaned on a DuckDB-MEASURED "strongest natural pair ≈
    // 0.49"; this one is analytic end to end): on
    // plantedClusters(deltas = 14) the 8 clusters separate provably —
    // in-cluster cosine = (1 + δaδb)/(√(1+δa²)√(1+δb²)) ≥
    // 1/(1 + (14/1024)²) > 0.9998 for ANY member pair, while the best
    // cross-cluster cosine is ≤ 14/1024 < 0.014 (adjacent axes share
    // one coordinate worth at most δmax) — so at threshold 0.99 the
    // dedup graph is exactly 8 complete components. The k-means cells
    // provably equal the planted clusters (v4's argument, stronger at
    // deltas = 14): seeds are vec_ids 0..7 = ONE per cluster (id % 8
    // covers all residues), every member's cosine to its own seed
    // ≥ 0.9998 vs ≤ 0.014 to any foreign one, and each Lloyd round
    // keeps refined centroids supported on the cluster's two axes
    // (means of own-cluster unit members; the ×10⁹ fixed-point floor
    // keeps the other six coordinates exactly zero), so assignments
    // never leave and no cell empties. Components therefore ARE the
    // clusters, the representative is the min id in cluster c — which
    // is c itself (ids are contiguous from 0) — and the whole
    // (vec_id, rep_id, kept) relation is closed-form: rep = vec_id %
    // 8, kept = vec_id < 8. Natural-data behavior stays pinned by
    // DedupSimilaritySpec (collapse, no-false-dedup, invariance).
    //
    // FIXTURE CAP, stated for the scale ledger: the provable oracle
    // PINS k = 8 cells (one per planted cluster), and SemDeDup's cost
    // is Σ cells² ≈ n²/k — tractable in the paper because k SCALES
    // with the corpus (the operator takes k as a parameter; the 10×
    // curve measured the k-frozen query at ratio 24 before this cap).
    // So the oracle corpus is a FIXED 2000-row planted fixture (the
    // m1–m7 synthetic-media pattern: the fixture, not the sf dir, is
    // the workload), excluded from the scale curve by name with this
    // reason; the operator's scale face — k growing with n — stays
    // covered by DedupSimilaritySpec and the semDedup scaladoc.
    QueryDef("sem1_semdedup",
      (s, dir) => {
        val e = plantedClusters(s, dir, deltas = 14)
          .filter(col("vec_id") < 2000)
        Similarity.semDedup(e, threshold = 0.99, numCentroids = 8, iters = 2)
          .orderBy("vec_id")
      },
      Some("""SELECT vec_id, vec_id % 8 AS rep_id, vec_id < 8 AS kept
             |FROM embeddings WHERE vec_id < 2000 ORDER BY vec_id""".stripMargin.replace("\n", " "))),

    // Scalar int8 min-max quantization (Quantize.int8Encode): the codes
    // are deterministic (min/max are reduction-order-exact; the affine
    // map is op-for-op mirrored), so the oracle restates the whole
    // encode in SQL. Long form (vec_id, pos, code) keeps the compare
    // total-ordered; code widened to BIGINT — the board's closed
    // 64-bit output set (OracleLintSpec).
    QueryDef("emb1_int8_quant",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val st = graft.operators.Quantize.int8Stats(e, "embedding")
        graft.operators.Quantize.int8Encode(e, "vec_id", "embedding", st)
          .select(col("id").as("vec_id"),
            posexplode(col("codes")).as(Seq("pos", "code")))
          .select(col("vec_id"), col("pos").cast("long").as("pos"),
            col("code").cast("long").as("code"))
          .orderBy("vec_id", "pos")
      },
      Some("""WITH x AS (SELECT vec_id, unnest(list_transform(embedding, (x, i) -> struct_pack(i := i - 1, v := x))) AS u FROM embeddings),
             |e AS (SELECT vec_id, u.i AS pos, CAST(u.v AS DOUBLE) AS v FROM x),
             |st AS (SELECT pos, min(v) AS mn, max(v) AS mx FROM e GROUP BY pos)
             |SELECT e.vec_id, CAST(e.pos AS BIGINT) AS pos,
             |CAST(CASE WHEN st.mx = st.mn THEN -128
             |ELSE CAST(round((e.v - st.mn) * 255.0 / (st.mx - st.mn), 0) AS INTEGER) - 128 END AS BIGINT) AS code
             |FROM e JOIN st USING (pos) ORDER BY vec_id, pos""".stripMargin.replace("\n", " ")))
  ,

    // Hard-negative mining: per query, top-k most-similar vectors with
    // the near-dup band (rounded cosine ≥ 0.9) and self excluded before
    // the bounded-heap top-k — the contrastive-training negative
    // sampler. Ranking and band edge both on the discrete 6-decimal
    // cosine, so ties and the cutoff are engine-exact.
    QueryDef("ret2_hard_negatives",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        graft.operators.Similarity.hardNegatives(
          e, e.filter(col("vec_id") < 5), k = 10, maxCos = 0.9)
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding AS a_vec FROM embeddings WHERE vec_id < 5),
              |c AS (SELECT vec_id AS neighbor_id, embedding AS b_vec FROM embeddings),
              |scored AS (SELECT query_id, neighbor_id, round($duckCos, 6) AS cos FROM q, c WHERE query_id <> neighbor_id),
              |banded AS (SELECT query_id, neighbor_id, cos FROM scored WHERE cos < 0.9),
              |ranked AS (SELECT query_id, neighbor_id, cos,
              |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM banded)
              |SELECT query_id, rank, neighbor_id, cos AS cosine FROM ranked
              |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin.replace("\n", " "))),

    // Top principal component by fixed-point power iteration: ONE
    // distributed GramAgg pass (no d²-row explosion — the buffer ships
    // d(d+1)/2 longs), then an exact-integer iteration on the d×d
    // matrix. Every operation is integer (floor quantization — round
    // half-breaking differs between engines — truncating division
    // matched by DuckDB's //), so the oracle replays all 6 iterations
    // bit-for-bit via generated CTEs (graph2_pagerank's pattern).
    QueryDef("pca1_power_iter",
      (s, dir) => graft.operators.Pca.topComponent(
        t(s, dir, "embeddings"), "embedding", dim = 64,
        scale = 10000, iters = 6)
        .select(col("dim").cast("long").as("dim"), col("component"))
        .orderBy("dim"),
      Some(s"""WITH $duckPowerIter
           |SELECT CAST(i AS BIGINT) AS dim,
           |CAST(CASE WHEN (SELECT p FROM piv) < 0 THEN -v ELSE v END AS BIGINT) AS component
           |FROM fin ORDER BY dim""".stripMargin.replace("\n", " "))),

    // Projection onto the top principal direction: the dominant-axis
    // score per vector. The component is a literal array in the Spark
    // plan (map-only pass, nothing shuffles); exact longs end to end.
    // Oracle: pca1's generated iteration CTEs + one projection join.
    QueryDef("pca2_projection",
      (s, dir) => graft.operators.Pca.projectTop(
        t(s, dir, "embeddings"), "vec_id", "embedding", dim = 64,
        scale = 10000, iters = 6)
        .orderBy("vec_id"),
      Some(s"""WITH $duckPowerIter
           |SELECT q.vec_id,
           |CAST(sum(q.qi * (CASE WHEN (SELECT p FROM piv) < 0 THEN -f.v ELSE f.v END)) AS BIGINT) AS proj
           |FROM q JOIN fin f ON q.i = f.i GROUP BY q.vec_id
           |ORDER BY q.vec_id""".stripMargin.replace("\n", " "))),

    // Embedding centroid-shift drift per label (old slice = even ids):
    // exact long sums of floor-quantized coordinates; cosine's scale
    // invariance makes cos(Σa, Σb) = cos(centroid_a, centroid_b), so
    // ONLY the final cosine is float — one fixed expression, rounded to
    // 6, identical on both engines. One (label, dim) partial-agg shuffle.
    QueryDef("drift4_centroid_shift",
      (s, dir) => Similarity.centroidShift(
          t(s, dir, "embeddings"), "label", "embedding",
          col("vec_id") % 2 === 0)
        .select(col("label").cast("long").as("label"), col("n_old"),
          col("n_new"), col("cos_shift"))
        .orderBy("label"),
      Some("""WITH x AS (SELECT label, vec_id,
             |  unnest(list_transform(embedding, (v, i) -> struct_pack(i := i, v := v))) AS u FROM embeddings),
             |q AS (SELECT label, vec_id % 2 = 0 AS old, u.i AS pos,
             |  CAST(floor(CAST(u.v AS DOUBLE) * 10000) AS BIGINT) AS qi FROM x),
             |dims AS (SELECT label, pos,
             |  sum(CASE WHEN old THEN qi ELSE 0 END) AS a,
             |  sum(CASE WHEN NOT old THEN qi ELSE 0 END) AS b FROM q GROUP BY 1, 2),
             |rolled AS (SELECT label, sum(CAST(a AS HUGEINT) * b) AS dot,
             |  sum(CAST(a AS HUGEINT) * a) AS na, sum(CAST(b AS HUGEINT) * b) AS nb
             |  FROM dims GROUP BY 1),
             |counts AS (SELECT label,
             |  sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS n_old,
             |  sum(CASE WHEN vec_id % 2 <> 0 THEN 1 ELSE 0 END) AS n_new
             |  FROM embeddings GROUP BY 1)
             |SELECT CAST(r.label AS BIGINT) AS label, CAST(n_old AS BIGINT) AS n_old,
             |CAST(n_new AS BIGINT) AS n_new,
             |round(CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))), 6) AS cos_shift
             |FROM rolled r JOIN counts USING (label) ORDER BY label""".stripMargin.replace("\n", " "))),

    // Hybrid retrieval: BM25 top-50 (lexical) and embedding-cosine
    // top-50 against doc 0 (semantic, doc_id ≡ vec_id in the testdata)
    // fused by reciprocal-rank fusion in integer micro-units
    // (10¹² div (60 + rank), absent rank ⇒ 0) — the fused ordering has
    // no float sum and is engine-exact. Both candidate lists are
    // bounded at 50 rows, so the fusion join is k-row work regardless
    // of corpus size; the rankings themselves reuse ret1/v1 machinery.
    QueryDef("ret3_rrf_fusion",
      (s, dir) => {
        // rank inside the top-50 list: one sorted list of (score, −id),
        // descending (score desc nulls last, then doc_id asc), read back
        // by position — a bare window would run the same ≤50 rows
        // through an unpartitioned WindowExec
        val lex = graft.operators.Retrieval.bm25TopK(
            t(s, dir, "documents"), "doc_id", "text",
            rrfTerms, k1 = 1.2, b = 0.75, topK = 50)
          .agg(sort_array(collect_list(struct(col("score"), (-col("doc_id")).as("neg_id"))),
            asc = false).as("l"))
          .select(posexplode(col("l")))
          .select((-col("col.neg_id")).as("doc_id"), (col("pos") + 1).as("rank"))
        val emb = t(s, dir, "embeddings")
        val sem = graft.operators.Similarity.bruteForceKnn(
            emb, emb.filter(col("vec_id") === 0), k = 50)
          .select(col("neighbor_id").as("doc_id"), col("rank"))
        graft.operators.Retrieval.rrfFuse(
          lex.select("doc_id", "rank"), sem, "doc_id", topK = 10)
      },
      Some {
        val (k1, b) = (1.2, 0.75)
        val tfs = rrfTerms.indices.map(i =>
          s"CAST(len(list_filter(toks, x -> x = '${rrfTerms(i)}')) AS DOUBLE) AS tf$i").mkString(", ")
        val dfs = rrfTerms.indices.map(i =>
          s"CAST(sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df$i").mkString(", ")
        val score = rrfTerms.indices.map(i =>
          s"ln(1.0 + (n - df$i + 0.5) / (df$i + 0.5)) * " +
            s"(tf$i * ${k1 + 1.0} / (tf$i + $k1 * (${1.0 - b} + $b * dl / avgdl)))")
          .mkString(" + ")
        s"""WITH tok AS (SELECT doc_id, $duckToks AS toks FROM documents),
           |base AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl, $tfs FROM tok),
           |st AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(dl) / count(*) AS avgdl, $dfs FROM base),
           |lexall AS (SELECT doc_id, round($score, 6) AS sc FROM base CROSS JOIN st),
           |lex AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY sc DESC, doc_id) AS BIGINT) AS lex_rank
           |  FROM lexall QUALIFY lex_rank <= 50),
           |qv AS (SELECT embedding AS a_vec FROM embeddings WHERE vec_id = 0),
           |cand AS (SELECT vec_id AS doc_id, embedding AS b_vec FROM embeddings WHERE vec_id <> 0),
           |sems AS (SELECT doc_id, $duckCos AS cos FROM cand CROSS JOIN qv),
           |sem AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY cos DESC, doc_id) AS BIGINT) AS sem_rank
           |  FROM sems QUALIFY sem_rank <= 50),
           |fused AS (SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id, l.lex_rank, s.sem_rank,
           |  COALESCE(1000000000000 // (60 + l.lex_rank), 0) + COALESCE(1000000000000 // (60 + s.sem_rank), 0) AS rrf_x1e12
           |  FROM lex l FULL JOIN sem s ON l.doc_id = s.doc_id)
           |SELECT doc_id, lex_rank, sem_rank, rrf_x1e12 FROM fused
           |ORDER BY rrf_x1e12 DESC, doc_id LIMIT 10""".stripMargin.replace("\n", " ")
      }),

    // Maximal Marginal Relevance diversified top-k (Carbonell-Goldstein
    // 1998): greedy λ·rel − (1−λ)·max-sim-to-selected over the top-15
    // candidate set, 5 picks per query. Corpus-scale scoring is the
    // distributed bruteForceKnn broadcast-scan + bounded-heap; the
    // inherently-sequential greedy runs on the bounded driver table
    // (maxDriverRows contract). The oracle replays the greedy as
    // generated per-step CTEs — every double op in the SAME association
    // (duckCos == CosineSimilarity.scala's loop, max() order-free, and
    // the weight literals printed from the very doubles the operator
    // multiplies by: λ and the COMPUTED complement 1.0−λ, whose shortest
    // round-trip decimal DuckDB parses back to the identical double —
    // for λ=0.7 that is 0.30000000000000004, NOT the literal 0.3, which
    // sits one ulp away), so selections and floor-quantized scores are
    // bit-exact across engines.
    QueryDef("ret4_mmr",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        graft.operators.Retrieval.mmrTopK(e, e.filter(col("vec_id") < 3),
            candidates = 15, k = 5)
          .orderBy("query_id", "pos")
      },
      Some(duckMmr(queryPred = "vec_id < 3", candidates = 15, k = 5))))

  /** Parameterized twin of [[duckCos]] over explicit relation aliases. */
  private def cosSql(a: String, b: String): String =
    s"(list_sum(list_transform(list_zip($a, $b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))" +
      s" / (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))" +
      s" * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))))"

  /** DuckDB replay of [[graft.operators.Retrieval.mmrTopK]]'s greedy as
    * generated per-step CTEs: sel1 = pure argmax of relevance; step i
    * re-scores the remaining candidates against the selected set and
    * picks the row_number()=1 row under (score DESC, neighbor_id).
    * The MMR weights are PRINTED FROM THE OPERATOR'S OWN DOUBLES —
    * λ and the computed complement (1.0 − λ) via Double.toString, the
    * shortest decimal that round-trips to the same IEEE value — so both
    * engines multiply by bit-identical weights (1.0 − 0.7 is
    * 0.30000000000000004, one ulp off the naive 0.3 literal).
    */
  private def duckMmr(queryPred: String, candidates: Int, k: Int,
      lambda: Double = 0.7): String = {
    val wRel = lambda.toString
    val wDiv = (1.0 - lambda).toString
    val sb = new StringBuilder(
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS a_vec FROM embeddings WHERE $queryPred),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS b_vec FROM embeddings),
         |scored AS (SELECT query_id, neighbor_id, b_vec, $duckCos AS rel FROM q, c WHERE query_id <> neighbor_id),
         |cand AS (SELECT query_id, neighbor_id, b_vec, rel FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, neighbor_id) AS rn FROM scored) WHERE rn <= $candidates),
         |sel1 AS (SELECT query_id, neighbor_id, b_vec, rel AS score FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, neighbor_id) AS rn FROM cand) WHERE rn = 1),
         |selall1 AS (SELECT query_id, neighbor_id, b_vec FROM sel1),
         |rem1 AS (SELECT r.* FROM cand r WHERE NOT EXISTS (SELECT 1 FROM sel1 s WHERE s.query_id = r.query_id AND s.neighbor_id = r.neighbor_id))"""
        .stripMargin.replace("\n", " "))
    for (i <- 2 to k) {
      val p = i - 1
      sb.append(s", sc$i AS (SELECT r.query_id, r.neighbor_id, r.b_vec, " +
        s"$wRel * r.rel - $wDiv * max(${cosSql("r.b_vec", "s.b_vec")}) AS score, r.rel " +
        s"FROM rem$p r JOIN selall$p s ON r.query_id = s.query_id " +
        "GROUP BY r.query_id, r.neighbor_id, r.b_vec, r.rel)")
      sb.append(s", sel$i AS (SELECT query_id, neighbor_id, b_vec, rel, score FROM " +
        s"(SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rn FROM sc$i) WHERE rn = 1)")
      sb.append(s", selall$i AS (SELECT query_id, neighbor_id, b_vec FROM selall$p " +
        s"UNION ALL SELECT query_id, neighbor_id, b_vec FROM sel$i)")
      if (i < k)
        sb.append(s", rem$i AS (SELECT r.* FROM rem$p r WHERE NOT EXISTS " +
          s"(SELECT 1 FROM sel$i s WHERE s.query_id = r.query_id AND s.neighbor_id = r.neighbor_id))")
    }
    val union = (1 to k).map(i =>
      s"SELECT query_id, $i AS pos, neighbor_id, score FROM sel$i")
      .mkString(" UNION ALL ")
    sb.append(s", res AS ($union) SELECT query_id, CAST(pos AS BIGINT) AS pos, " +
      "neighbor_id AS vec_id, CAST(floor(score * 1e6) AS BIGINT) AS mmr_x1e6 " +
      "FROM res ORDER BY query_id, pos")
    sb.toString
  }
}
