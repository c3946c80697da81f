package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Product quantization — the embedding-COMPRESSION scale path for
  * similarity search (Jégou et al., "Product Quantization for Nearest
  * Neighbor Search", TPAMI 2011; the same technique behind FAISS's
  * IVFPQ indexes). A d-dim float vector (d·4 bytes) becomes `m` small
  * codes (one byte each at k ≤ 256): 64-dim → 256 B shrinks to 8 B,
  * a 32× reduction — the difference between an ANN index that fits in
  * cluster memory at 10¹⁰ vectors and one that doesn't.
  *
  * The pieces, and where they run:
  *  - [[Pq.train]]: per-SUBSPACE k-means codebooks from a bounded,
  *    deterministic sample. Driver-side on sampleN×(d/m) doubles — PQ
  *    codebooks are tiny (m·k·subDim, e.g. 8·16·8 = 1024 doubles) and
  *    training them is O(sampleN·k·d·iters), milliseconds; shipping a
  *    Lloyd loop to the cluster for that would be all overhead. The
  *    SAMPLE is chosen distributedly (smallest xxhash64 of the id —
  *    reproducible under any partitioning) and only sampleN rows are
  *    ever collected.
  *  - [[Pq.encode]]: MAP-ONLY — one [[graft.functions.CentroidArgminL2]]
  *    per block over a sliced vector; 100 TB of embeddings encode at
  *    scan speed with no shuffle. Codes ride as `array<int>`; a
  *    production layout would pack them to `binary` (m bytes), the
  *    plumbing is identical.
  *  - [[Pq.query]]: ASYMMETRIC DISTANCE (ADC). Each query precomputes a
  *    k×m table of exact block distances ONCE (driver, tiny), then every
  *    corpus row costs m array lookups instead of d multiplies — the
  *    table rides the broadcast queries relation, scoring is codegen'd
  *    builtins (`transform`/`aggregate`), and the bounded top-k
  *    aggregate keeps ≤topK rows per (query, mapper) ahead of the
  *    shuffle, exactly like bruteForceKnn. ADC(q, code) equals the
  *    squared L2 between q and the RECONSTRUCTED vector — an identity
  *    the spec pins.
  *
  * Composes with IVF (route to cells, PQ-score within probed cells) —
  * the classic IVFPQ layout; here they are independent operators.
  */
object Pq {

  /** Trained codebooks: `codebooks(block)(code)` is a subDim-length
    * centroid. m·k·subDim doubles — always broadcast-small.
    */
  case class PqModel(m: Int, k: Int, subDim: Int,
      codebooks: Array[Array[Array[Double]]]) {
    require(codebooks.length == m && codebooks.forall(_.length == k))
  }

  /** Deterministic squared-L2 Lloyd over driver-local points. Seeds are
    * the first k distinct points in sample order (stable), ties in
    * assignment go to the smallest code, empty cells keep their
    * centroid — re-training on the same sample is bit-identical.
    */
  private def lloyd(points: Array[Array[Double]], k: Int, iters: Int): Array[Array[Double]] = {
    val dim = points.head.length
    val seeds = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    points.iterator.foreach { p =>
      if (seeds.length < k && !seeds.exists(_.sameElements(p))) seeds += p.clone()
    }
    // fewer distinct points than codes: pad with copies — duplicates tie
    // on distance and lose to the smaller index, so they are inert
    while (seeds.length < k) seeds += seeds(seeds.length % seeds.size).clone()
    var cents = seeds.toArray
    def argmin(p: Array[Double]): Int = {
      var best = 0; var bd = Double.PositiveInfinity; var c = 0
      while (c < cents.length) {
        var d = 0.0; var j = 0
        while (j < dim) { val t = p(j) - cents(c)(j); d += t * t; j += 1 }
        if (d < bd) { bd = d; best = c }
        c += 1
      }
      best
    }
    for (_ <- 0 until iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Long](k)
      points.foreach { p =>
        val c = argmin(p)
        counts(c) += 1
        var j = 0
        while (j < dim) { sums(c)(j) += p(j); j += 1 }
      }
      cents = cents.zipWithIndex.map { case (old, c) =>
        if (counts(c) == 0L) old else sums(c).map(_ / counts(c))
      }
    }
    cents
  }

  /** Train per-subspace codebooks from a deterministic sample of the
    * corpus (smallest xxhash64(id) — partitioning-invariant).
    */
  def train(corpus: DataFrame, m: Int = 8, k: Int = 16, sampleN: Int = 2048,
      iters: Int = 5, idCol: String = "vec_id", vecCol: String = "embedding"): PqModel = {
    require(m >= 1 && k >= 1 && iters >= 0 && sampleN >= k)
    val sample: Array[Array[Double]] = corpus
      .select(col(idCol), col(vecCol).cast("array<double>").as("v"))
      .orderBy(xxhash64(col(idCol)), col(idCol))
      .limit(sampleN)
      .select("v").collect()
      .map(r => r.getSeq[Double](0).toArray)
    require(sample.nonEmpty, "empty training sample")
    val dim = sample.head.length
    require(dim % m == 0, s"vector dim $dim must be divisible by m=$m")
    val subDim = dim / m
    val codebooks = Array.tabulate(m) { b =>
      lloyd(sample.map(_.slice(b * subDim, (b + 1) * subDim)), k, iters)
    }
    PqModel(m, k, subDim, codebooks)
  }

  /** The codes column: one L2-argmin per block over the sliced vector —
    * a pure map expression, no shuffle, no UDF.
    */
  def codesCol(vec: Column, model: PqModel): Column =
    array((0 until model.m).map { b =>
      graft.functions.CentroidArgminL2.argmin(
        slice(vec, b * model.subDim + 1, model.subDim), model.codebooks(b))
    }: _*)

  /** Encode the corpus: adds a `codes` array<int> column. */
  def encode(df: DataFrame, model: PqModel, vecCol: String = "embedding"): DataFrame =
    df.withColumn("codes", codesCol(col(vecCol), model))

  /** Reconstruction of a code array under `model` — driver-side helper
    * for the ADC identity (spec) and for debugging.
    */
  def reconstruct(model: PqModel, codes: Seq[Int]): Array[Double] =
    codes.zipWithIndex.flatMap { case (c, b) => model.codebooks(b)(c) }.toArray

  /** Default ceiling on a PQ serving batch (overridable per session via
    * `graft.pq.maxQueryBatch`). The ADC layout is ONLINE SERVING: each
    * query's k×m distance table is built driver-side and broadcast, so
    * the query relation must be batch-sized, never corpus-sized. The
    * guard collects at most limit+1 rows — an oversized query set fails
    * fast with a contract message instead of OOM-ing the driver.
    */
  val DefaultMaxQueryBatch = 10000

  /** Bounded driver-side collect of a query batch — enforces the serving
    * contract shared by [[query]] and [[ivfPqQuery]].
    */
  private def collectQueryBatch(queries: DataFrame, idCol: String,
      vecCol: String): Array[(Long, Array[Double])] = {
    val limit = queries.sparkSession.conf
      .getOption("graft.pq.maxQueryBatch").map(_.toInt)
      .getOrElse(DefaultMaxQueryBatch)
    val qs = queries
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .limit(limit + 1)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    require(qs.length <= limit,
      s"PQ serving contract: query batch exceeds $limit rows " +
        "(graft.pq.maxQueryBatch). ADC broadcasts per-query distance " +
        "tables from the driver — chunk the query set, or for " +
        "corpus-vs-corpus scoring use the encoded relation join path " +
        "instead of the serving API.")
    qs
  }

  /** ADC top-k: for each query, the `topK` encoded rows with the
    * smallest asymmetric squared-L2 distance. Queries (with their
    * precomputed k×m distance tables) broadcast against the encoded
    * corpus; each corpus row costs m table lookups. Serving contract:
    * the query relation is a bounded batch (see [[DefaultMaxQueryBatch]]).
    */
  def query(encoded: DataFrame, queries: DataFrame, model: PqModel, topK: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = encoded.sparkSession
    import spark.implicits._
    val qs: Array[(Long, Array[Double])] = collectQueryBatch(queries, idCol, vecCol)
    // per-query table: table(b)(code) = ||q_block_b - codebook(b)(code)||²
    val qRows = qs.map { case (qid, qv) =>
      val table: Seq[Seq[Double]] = (0 until model.m).map { b =>
        model.codebooks(b).map { cent =>
          var d = 0.0; var j = 0
          while (j < model.subDim) {
            val t = qv(b * model.subDim + j) - cent(j); d += t * t; j += 1
          }
          d
        }.toSeq
      }
      (qid, table)
    }.toSeq
    val qdf = broadcast(qRows.toDF("query_id", "qtable"))
    val scored = qdf
      .join(encoded.select(col(idCol).as("neighbor_id"), col("codes")),
        col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        aggregate(
          zip_with(col("codes"), sequence(lit(0), lit(model.m - 1)),
            (c, b) => element_at(element_at(col("qtable"), b + 1), c + 1)),
          lit(0.0), (acc, x) => acc + x).as("adc_dist"))
    // bounded top-k keeps the SMALLEST distances: negate into the
    // max-heap aggregate, flip back on the way out
    Similarity.topKPerKey(scored, "query_id", -col("adc_dist"),
      col("neighbor_id"), topK)
      .select(col("query_id"), col("rank"), col("id").as("neighbor_id"),
        round(-col("score"), 6).as("adc_dist"))
  }

  /** IVFPQ: coarse IVF routing composed with PQ-compressed scoring — the
    * FAISS IVFPQ layout from the two operators this engine already has.
    * The serving relation carries only (id, cell, codes): at 10¹⁰
    * vectors that is ~(16+m) bytes a row instead of 16+4d, and written
    * `partitionBy("cell")` the cell prefilter becomes physical
    * partition pruning, so a probe READS nprobe/numCells of the index.
    * Each query routes to its `nprobe` nearest cells (driver math over
    * the tiny centroid model, same cosine/tie rule as CentroidArgmax)
    * and ADC-scores only those cells' members. Serving contract: the
    * query relation is a bounded batch (see [[DefaultMaxQueryBatch]]).
    */
  def ivfPqQuery(index: Similarity.IvfIndex, model: PqModel, queries: DataFrame,
      topK: Int, nprobe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = index.assigned.sparkSession
    import spark.implicits._
    require(nprobe >= 1 && nprobe <= index.cents.length)
    val enc = index.assigned.select(col("neighbor_id"), col("cell"),
      codesCol(col("c_vec"), model).as("codes"))
    val qs: Array[(Long, Array[Double])] = collectQueryBatch(queries, idCol, vecCol)
    def cosine(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var j = 0
      while (j < a.length) { dot += a(j) * b(j); na += a(j) * a(j); nb += b(j) * b(j); j += 1 }
      val nn = math.sqrt(na) * math.sqrt(nb)
      if (nn == 0.0) 0.0 else dot / nn
    }
    val centVecs = index.cents.map { case (id, v) => (id, v.map(_.toDouble).toArray) }
    val qRows = qs.map { case (qid, qv) =>
      val cells = centVecs.map { case (cid, cv) => (cid, cosine(qv, cv)) }
        .sortBy { case (cid, cs) => (-cs, cid) }.take(nprobe).map(_._1)
      val table: Seq[Seq[Double]] = (0 until model.m).map { b =>
        model.codebooks(b).map { cent =>
          var d = 0.0; var j = 0
          while (j < model.subDim) {
            val t = qv(b * model.subDim + j) - cent(j); d += t * t; j += 1
          }
          d
        }.toSeq
      }
      (qid, cells, table)
    }.toSeq
    val qdf = broadcast(qRows.toDF("query_id", "cells", "qtable"))
    // physical prefilter: the distinct probed cells — a few thousand
    // values for any sane batch — pushed as an IN predicate; over a
    // cell-partitioned index that is partition pruning
    val probeSide = enc.filter(col("cell").isin(qRows.flatMap(_._2).distinct: _*))
    val scored = qdf
      .join(probeSide,
        array_contains(col("cells"), col("cell")) && col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        aggregate(
          zip_with(col("codes"), sequence(lit(0), lit(model.m - 1)),
            (c, b) => element_at(element_at(col("qtable"), b + 1), c + 1)),
          lit(0.0), (acc, x) => acc + x).as("adc_dist"))
    Similarity.topKPerKey(scored, "query_id", -col("adc_dist"),
      col("neighbor_id"), topK)
      .select(col("query_id"), col("rank"), col("id").as("neighbor_id"),
        round(-col("score"), 6).as("adc_dist"))
  }
}
