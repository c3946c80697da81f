package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`), with an exact brute-force baseline and an IVF-style
  * scale path.
  *
  * Shuffle shapes at 100 TB:
  *  - brute force is a broadcast of the (small) query set against the
  *    full corpus — one scan, no corpus shuffle, TakeOrdered per query;
  *  - IVF assigns every vector to its nearest centroid once (broadcast of
  *    centroids, narrow map), then probes only `nprobe` cells per query —
  *    the candidate join is keyed on cell id, shrinking compared pairs by
  *    ~cells/nprobe.
  */
object Similarity {

  /** Elementwise float→double view of an embedding. */
  private def asDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Cosine similarity; 0.0 when either vector has zero norm. One fused
    * codegen'd loop (graft.functions.CosineSimilarity).
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.cosine_sim(a, b)

  /** Top-k per key via the bounded-heap aggregate
    * (graft.functions.TopKAgg): map-side partial top-k means each mapper
    * ships at most k skinny rows per key — unlike a row_number window,
    * which shuffles and sorts EVERY scored row. Output: (key, rank, id,
    * score), rank 1 = best, ordered score DESC then id ASC.
    */
  def topKPerKey(scored: DataFrame, keyCol: String, score: Column, id: Column,
      k: Int): DataFrame =
    scored.groupBy(col(keyCol))
      .agg(graft.functions.TopKFunctions.top_k(score, id, k).as("__tk"))
      .select(col(keyCol), posexplode(col("__tk")))
      .select(col(keyCol), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("id"), col("col.score").as("score"))

  /** Exact brute-force top-k cosine neighbors for each query vector.
    * `queries` is expected to be small (it is broadcast); the corpus is
    * scanned once, and only ≤k rows per (query, mapper) reach the shuffle
    * thanks to the partial top-k aggregate. Self-matches excluded.
    */
  def bruteForceKnn(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame =
    bruteForceKnnFull(corpus, queries, k)
      .withColumn("cosine", round(col("cosine"), 6))

  /** [[bruteForceKnn]] with the UNROUNDED cosine — for consumers whose
    * downstream arithmetic needs the full double ([[Retrieval.mmrTopK]]'s
    * greedy objective); presentation surfaces keep the 6-decimal round.
    */
  def bruteForceKnnFull(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_vec")))
    val c = corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("c_vec"))
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("q_vec"), col("c_vec")).as("cosine"))
    topKPerKey(scored, "query_id", col("cosine"), col("neighbor_id"), k)
      .select(col("query_id"), col("rank"), col("id").as("neighbor_id"),
        col("score").as("cosine"))
  }

  /** Hard-negative mining: for each query, the top-k most-similar corpus
    * vectors that are NOT near-duplicates — "close, but wrong", the
    * negatives contrastive training actually learns from (the global
    * top-k is dominated by near-copies of the query; random negatives
    * are too easy). Same broadcast-scan + bounded-heap shape as
    * [[bruteForceKnn]], with the near-dup band (cosine ≥ `maxCos`) and
    * self-matches excluded BEFORE the top-k, so excluded rows never
    * reach the shuffle. Ranking and the cutoff both use the 6-decimal
    * rounded cosine — discrete values, so the band edge and tie-breaks
    * (by id) are engine-exact.
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int,
      maxCos: Double = 0.9): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_vec")))
    val c = corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("c_vec"))
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("q_vec"), col("c_vec")), 6).as("cosine"))
      .filter(col("cosine") < maxCos)
    topKPerKey(scored, "query_id", col("cosine"), col("neighbor_id"), k)
      .select(col("query_id"), col("rank"), col("id").as("neighbor_id"),
        col("score").as("cosine"))
  }

  /** Random-hyperplane LSH bucket id: sign bits of `planes` deterministic
    * pseudo-random hyperplanes. Plane p's component for dimension i is
    * derived from xxhash64(p, i) — reproducible across runs and engines
    * with no stored model.
    */
  def hyperplaneLsh(v: Column, planes: Int): Column = {
    val dims = size(v)
    val bits = (0 until planes).map { p =>
      val proj = aggregate(
        zip_with(asDouble(v), sequence(lit(0), dims - 1),
          (x, i) => x * (pmod(xxhash64(lit(p), i), lit(2000001L)).cast("double") / 1000000.0 - 1.0)),
        lit(0.0), (acc, x) => acc + x)
      when(proj >= 0, lit(1L << p)).otherwise(0L)
    }
    bits.reduce(_.bitwiseOR(_))
  }

  /** An IVF index: the corpus with a cell id per vector, plus the
    * centroid "model". `assigned` can be persisted/written once and
    * served to any number of query batches — amortizing the O(n ×
    * centroids) assignment, which is the entire point of IVF.
    */
  final case class IvfIndex(assigned: DataFrame, cents: Seq[(Long, Seq[Float])])

  /** Build the IVF index: centroid rows sampled deterministically from
    * the corpus, collected once (the model is tiny by construction), and
    * a MAP-ONLY cell assignment — no crossJoin, no aggregation, and the
    * corpus embeddings are never shuffled. The argmax is a loop over the
    * centroid matrix riding inside one expression (ties → smallest
    * index == smallest centroid id, identical to a top-1 bounded heap):
    * O(1) plan nodes however many centroids, where a
    * greatest(struct(cosine…),…) chain grows the plan and the generated
    * code linearly and dies near ~1000 centroids
    * (graft.functions.CentroidArgmax).
    */
  def ivfIndex(corpus: DataFrame, numCentroids: Int): IvfIndex =
    indexWith(corpus, sampleCentroids(corpus, numCentroids))

  /** Deterministic centroid seed: the first `numCentroids` corpus rows by
    * vec_id. Cheap and reproducible; refine with [[refineCentroids]] when
    * cell balance matters (a skewed seed makes hot cells, and a hot cell
    * is exactly what IVF probing is supposed to avoid).
    */
  def sampleCentroids(corpus: DataFrame, numCentroids: Int): Seq[(Long, Seq[Float])] = {
    require(numCentroids >= 2, "need at least 2 centroids")
    corpus.orderBy("vec_id").limit(numCentroids)
      .select(col("vec_id"), col("embedding"))
      .collect().toSeq.map(r => (r.getLong(0), r.getSeq[Float](1)))
  }

  /** Assemble an [[IvfIndex]] from explicit centroids (map-only cell
    * assignment; see [[ivfIndex]]).
    */
  def indexWith(corpus: DataFrame, cents: Seq[(Long, Seq[Float])]): IvfIndex = {
    val corpusV = corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("c_vec"))
    val centMatrix = cents.map(_._2.map(_.toDouble).toArray).toArray
    val centIds = cents.map(_._1)
    val idx = graft.functions.CentroidArgmax.argmax(col("c_vec"), centMatrix)
    IvfIndex(
      corpusV.withColumn("cell",
        element_at(array(centIds.map(lit): _*), idx + 1)),
      cents)
  }

  /** Spherical k-means (Lloyd) refinement of IVF centroids. Each round
    * is one [[Rounds.pinned]] fold: per row, the cosine argmax
    * (graft.functions.CentroidArgmax's kernel; the matrix ships by its
    * broadcast rule), then per-(cell, dimension) sums and counts into a
    * k×d accumulator — the state a `groupBy(cell, dimension)` keeps,
    * with no Catalyst analysis and no shuffle per round. Nothing is ever
    * O(n²); the per-round driver state is k×d longs.
    *
    * Vectors are unit-normalized ONCE up front (SQL, then pinned as an
    * RDD): cosine assignment is scale-invariant, but the centroid update
    * is not — the mean of normalized members is the direction maximizing
    * the cell's summed cosine (the spherical k-means M-step), which makes
    * the objective monotone non-decreasing round over round.
    *
    * Dimension sums use fixed-point longs (×10⁹), which add
    * associatively, so the refined model is bit-identical under any
    * partitioning — double summation order would otherwise leak into
    * centroid bits and, through argmax ties, into cell assignments. Unit
    * coordinates are ≤ 1, so overflow needs 10⁹ rows in one cell.
    *
    * Cells that lose all members keep their previous centroid. Centroid
    * ids are stable across refinement (they remain the seed row ids).
    */
  def refineCentroids(corpus: DataFrame, init: Seq[(Long, Seq[Float])],
      iters: Int): Seq[(Long, Seq[Float])] = {
    if (iters <= 0) return init
    val nrm = sqrt(aggregate(
      transform(col("embedding"), x => x.cast("double") * x.cast("double")),
      lit(0.0), (a, x) => a + x))
    val unit = corpus.select(
      when(nrm === 0, asDouble(col("embedding")))
        .otherwise(transform(col("embedding"), x => x.cast("double") / nrm)).as("u"))
    // a null embedding has no coordinates and drops out; one with a null
    // element normalizes to all nulls, which adds 0 to every sum and 1 to
    // every count — exactly what a zero vector adds
    val rows = unit.rdd.collect { case Row(u: collection.Seq[java.lang.Double @unchecked]) =>
      u.map(x => if (x == null) 0.0 else x.doubleValue).toArray }
    val dims = init.headOption.map(_._2.length).getOrElse(0)
    val kd = init.length * dims
    var cents: Seq[(Long, Array[Double])] =
      init.map { case (id, v) => (id, v.map(_.toDouble).toArray) }
    Rounds.pinned(rows, unit.count()) { loop =>
      for (_ <- 0 until iters) {
        val scorer = graft.functions.CentroidArgmax.scorer(cents.map(_._2).toArray)
        // tot(0 until kd): fixed-point sums; tot(kd until 2kd): counts
        val tot = try loop.fold(new Array[Long](2 * kd))({ (acc, u) =>
          require(u.length <= dims, s"refineCentroids: a vector has ${u.length} > $dims dimensions")
          val base = scorer.nearest(u) * dims
          for (j <- u.indices) {
            acc(base + j) += math.floor(u(j) * 1e9).toLong
            acc(kd + base + j) += 1L
          }
          acc
        }, { (a, b) => for (i <- a.indices) a(i) += b(i); a })
        finally scorer.release()
        cents = cents.zipWithIndex.map { case ((id, old), ci) =>
          val base = ci * dims
          if (!(0 until dims).exists(j => tot(kd + base + j) > 0)) (id, old)
          else (id, Array.tabulate(dims) { j =>
            val n = tot(kd + base + j)
            if (n == 0) 0.0 else tot(base + j).toDouble / 1e9 / n
          })
        }
      }
    }
    cents.map { case (id, v) => (id, v.map(_.toFloat).toSeq) }
  }

  /** IVF index with k-means-refined centroids: deterministic seed,
    * `iters` Lloyd rounds, then the usual map-only assignment.
    */
  def ivfIndexKmeans(corpus: DataFrame, numCentroids: Int, iters: Int = 4): IvfIndex =
    indexWith(corpus, refineCentroids(corpus, sampleCentroids(corpus, numCentroids), iters))

  /** Query an IVF index: each query probes its `nprobe` nearest cells
    * and ranks only those cells' members. The probe relation (queries ×
    * nprobe rows) broadcasts against the index, so the indexed corpus is
    * scanned once and never shuffled; compared pairs shrink by
    * ~cells/nprobe vs brute force. The probed cell ids — a few
    * thousand values for any sane query batch — are collected and
    * pushed as an IN filter on the index: over an index WRITTEN
    * `partitionBy("cell")`, that becomes partition pruning and the scan
    * physically reads only the probed cells, not the corpus.
    */
  def ivfQuery(index: IvfIndex, queries: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val spark = index.assigned.sparkSession
    import spark.implicits._
    val queriesV = broadcast(
      queries.select(col("vec_id").as("query_id"), col("embedding").as("q_vec")))
    val centroids = broadcast(index.cents.toDF("centroid_id", "cent_vec"))
    val probed = topKPerKey(
      queriesV.crossJoin(centroids)
        .select(col("query_id"), col("centroid_id"),
          cosine(col("q_vec"), col("cent_vec")).as("cs")),
      "query_id", col("cs"), col("centroid_id"), nprobe)
      .select(col("query_id"), col("id").as("cell"))
      .join(queriesV, "query_id")

    val cells = probed.select("cell").distinct().as[Long].collect()
    val indexSide = index.assigned.filter(col("cell").isin(cells: _*))
    // hint at the use site: hinting `probed` once at construction would
    // also ride into the cell-collect subplan above, where there is no
    // join for it to attach to (Spark logs a dropped-hint warning)
    val scored = broadcast(probed).join(indexSide, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("q_vec"), col("c_vec")).as("cosine"))
    topKPerKey(scored, "query_id", col("cosine"), col("neighbor_id"), k)
      .select(col("query_id"), col("rank"), col("id").as("neighbor_id"),
        round(col("score"), 6).as("cosine"))
  }

  /** One-shot IVF ANN (index build + query). */
  def ivfKnn(corpus: DataFrame, queries: DataFrame, k: Int,
      numCentroids: Int = 16, nprobe: Int = 4): DataFrame =
    ivfQuery(ivfIndex(corpus, numCentroids), queries, k, nprobe)

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication of an embedding corpus. Exact all-pairs cosine is
    * O(n²) — the paper's observation is that k-means clustering first
    * makes it tractable: near-duplicates land in the same cluster with
    * high probability, so the quadratic compare runs only within
    * clusters (expected cost Σ cluster², ~n²/k for balanced cells).
    *
    * Pipeline: spherical-k-means cell assignment (map-only argmax over a
    * broadcast centroid matrix — the embeddings never shuffle for
    * assignment) → in-cell pairs with cosine ≥ `threshold` (one
    * cell-keyed self-join; per-cell quadratic, spread by the cell key) →
    * connected components over the sparse duplicate edges → keep the
    * smallest vec_id per semantic group (a deterministic representative;
    * the paper keeps the member least similar to the centroid — swap the
    * keeper rule if diversity-at-the-margin matters more than
    * reproducibility).
    *
    * Output: (vec_id, rep_id, kept) for EVERY corpus row — `kept` marks
    * the representative; filtering `kept` yields the deduplicated
    * corpus. Like all cluster-pruned dedup, misses pairs split across
    * cells (raise `numCentroids` refinement iters, or lower k, to trade
    * recall vs cost).
    */
  def semDedup(corpus: DataFrame, threshold: Double = 0.95,
      numCentroids: Int = 16, iters: Int = 2): DataFrame = {
    val idx = ivfIndexKmeans(corpus, numCentroids, iters)
    val a = idx.assigned.select(col("cell"), col("neighbor_id").as("a_id"),
      col("c_vec").as("a_vec"))
    val b = idx.assigned.select(col("cell"), col("neighbor_id").as("b_id"),
      col("c_vec").as("b_vec"))
    val edges = a.join(b, Seq("cell")).filter(col("a_id") < col("b_id"))
      .filter(cosine(col("a_vec"), col("b_vec")) >= threshold)
      .select(col("a_id"), col("b_id"))
    Dedup.connectedComponents(edges, corpus.select(col("vec_id")), idCol = "vec_id")
      .select(col("vec_id"), col("comp").as("rep_id"),
        (col("vec_id") === col("comp")).as("kept"))
  }

  /** Embedding centroid-shift drift: per label, the cosine between the
    * centroid of an OLD slice and a NEW slice — the embedding-space
    * companion to the scalar drift tests (PSI/KS/chi-square): a cosine
    * well below 1 means the population a label maps to has MOVED, the
    * retrain/audit trigger for any model keyed on those embeddings.
    *
    * Determinism without order-sensitive float sums: coordinates are
    * floor-quantized to integers (the Pca.topComponent discipline) and
    * summed as exact longs — and because cosine is scale-invariant,
    * cos(centroid_a, centroid_b) = cos(Σa, Σb), so the counts never
    * divide anything. Only the FINAL cosine is double (dot/(√na·√nb) of
    * exact longs — one fixed expression both engines evaluate
    * identically), rounded to 6 decimals.
    *
    * Shape at scale: one posexplode scan, ONE (label, dim) partial-agg
    * shuffle (state = labels × dims longs), one |labels|-row rollup —
    * never a per-label pairwise pass.
    */
  def centroidShift(emb: DataFrame, labelCol: String, vecCol: String,
      oldSlice: Column, quantScale: Int = 10000): DataFrame = {
    val q = emb
      .select(col(labelCol).as("label"), oldSlice.as("__old"),
        posexplode(col(vecCol)))
      .select(col("label"), col("__old"), col("pos"),
        floor(col("col").cast("double") * quantScale).cast("long").as("qi"))
    val dims = q.groupBy("label", "pos").agg(
      sum(when(col("__old"), col("qi")).otherwise(0L)).as("a"),
      sum(when(!col("__old"), col("qi")).otherwise(0L)).as("b"))
    // per-dim sums a,b fit long (rows·quantScale ≲ 10¹⁶), but their
    // PRODUCTS wrap int64 past ~3·10⁵ rows per slice — the rollup runs
    // in DECIMAL(38,0) (stat5's overflow discipline), and only the final
    // cosine converts to double
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val rolled = dims.groupBy("label").agg(
      sum(dec(col("a")) * col("b")).as("dot"),
      sum(dec(col("a")) * col("a")).as("na"),
      sum(dec(col("b")) * col("b")).as("nb"))
    val counts = emb.groupBy(col(labelCol).as("label")).agg(
      sum(when(oldSlice, 1L).otherwise(0L)).as("n_old"),
      sum(when(!oldSlice, 1L).otherwise(0L)).as("n_new"))
    rolled.join(broadcast(counts), Seq("label"))
      .select(col("label"), col("n_old"), col("n_new"),
        round(col("dot").cast("double") /
          (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))), 6)
          .as("cos_shift"))
  }
}
