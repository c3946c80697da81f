package graft

import graft.operators.Pq
import org.apache.spark.sql.functions._

/** Product-quantization semantics: the ADC identity (asymmetric
  * distance == squared L2 to the reconstruction), planted-cluster
  * retrieval, training determinism, and encode shape/invariance.
  */
class PqSpec extends SparkSpec {

  import spark.implicits._

  // 4 well-separated centers in 32-dim; 40 tight points each. PQ's
  // honest regime: structured data (uniform random is its theoretical
  // worst case — distance concentration swamps the quantizer, which is
  // why the registry query is rows-only).
  private def clustered = {
    val rnd = new scala.util.Random(11)
    val centers = Array.tabulate(4, 32)((c, j) => if (j % 4 == c) 10.0 else 0.0)
    val rows = for (c <- 0 until 4; i <- 0 until 40) yield {
      val id = (c * 40 + i).toLong
      (id, c, Seq.tabulate(32)(j => (centers(c)(j) + rnd.nextGaussian() * 0.3).toFloat))
    }
    rows.toDF("vec_id", "cluster", "embedding")
  }

  test("ADC distance equals squared L2 to the reconstruction, row for row") {
    val df = clustered
    val model = Pq.train(df, m = 8, k = 16)
    val enc = Pq.encode(df, model)
    val q = df.filter(col("vec_id") === 0L)
    val adc = Pq.query(enc, q, model, topK = 5)
      .select("neighbor_id", "adc_dist").as[(Long, Double)].collect().toMap
    val qv = q.select(col("embedding").cast("array<double>")).head().getSeq[Double](0).toArray
    val codes = enc.filter(col("vec_id").isin(adc.keys.toSeq: _*))
      .select("vec_id", "codes").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    adc.foreach { case (nid, d) =>
      val rec = Pq.reconstruct(model, codes(nid))
      val exact = qv.zip(rec).map { case (a, b) => (a - b) * (a - b) }.sum
      assert(math.abs(d - exact) < 1e-4, s"ADC identity broke for neighbor $nid: $d vs $exact")
    }
  }

  test("planted clusters: every ADC neighbor is a cluster-mate of its query") {
    val df = clustered
    val model = Pq.train(df, m = 8, k = 16)
    val enc = Pq.encode(df, model)
    val queries = df.filter(col("vec_id").isin(0L, 45L, 90L, 135L)) // one per cluster
    val got = Pq.query(enc, queries, model, topK = 10)
      .join(df.select(col("vec_id").as("neighbor_id"), col("cluster").as("n_cluster")), "neighbor_id")
      .join(df.select(col("vec_id").as("query_id"), col("cluster").as("q_cluster")), "query_id")
    assert(got.count() == 4 * 10)
    assert(got.filter(col("n_cluster") =!= col("q_cluster")).count() == 0,
      "an ADC neighbor escaped its query's cluster")
  }

  test("training is deterministic and partitioning-invariant; codes are m ints < k") {
    val df = clustered
    val m1 = Pq.train(df, m = 8, k = 16)
    val m2 = Pq.train(df.repartition(13), m = 8, k = 16)
    assert(m1.codebooks.flatten.flatten.toSeq == m2.codebooks.flatten.flatten.toSeq,
      "training must not depend on partitioning")
    val codes = Pq.encode(df, m1).orderBy("vec_id")
      .select("codes").as[Seq[Int]].collect()
    assert(codes.forall(c => c.length == 8 && c.forall(x => x >= 0 && x < 16)))
    val again = Pq.encode(df.repartition(7), m1).orderBy("vec_id")
      .select("codes").as[Seq[Int]].collect()
    assert(again.toSeq == codes.toSeq, "encode must not depend on partitioning")
  }

  test("dimension not divisible by m is rejected") {
    intercept[IllegalArgumentException] {
      Pq.train(clustered, m = 5, k = 16)
    }
  }

  test("IVFPQ with a full probe equals plain PQ; cluster probes stay in-cluster") {
    import graft.operators.Similarity
    val df = clustered
    val model = Pq.train(df, m = 8, k = 16)
    val queries = df.filter(col("vec_id").isin(0L, 45L, 90L, 135L))
    // refined centroids: the raw seed (first 8 rows by id) lands every
    // centroid inside cluster 0, so cells would not align with clusters
    val index = Similarity.ivfIndexKmeans(df, numCentroids = 8, iters = 4)
    // probing EVERY cell makes the candidate set the whole corpus, so
    // IVFPQ must reproduce exact-PQ row for row
    val full = Pq.ivfPqQuery(index, model, queries, topK = 10, nprobe = 8)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val plain = Pq.query(Pq.encode(df, model), queries, model, topK = 10)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(full == plain, "full-probe IVFPQ must equal plain PQ")
    // a narrow probe on planted clusters still returns only cluster-mates
    val narrow = Pq.ivfPqQuery(index, model, queries, topK = 10, nprobe = 3)
      .join(df.select(col("vec_id").as("neighbor_id"), col("cluster").as("n_cluster")), "neighbor_id")
      .join(df.select(col("vec_id").as("query_id"), col("cluster").as("q_cluster")), "query_id")
    assert(narrow.count() == 4 * 10)
    assert(narrow.filter(col("n_cluster") =!= col("q_cluster")).count() == 0)
    // the cell prefilter must not change results
    val unpruned = Oracles.ivfPqQueryUnpruned(index, model, queries, topK = 10, nprobe = 3)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val pruned = Pq.ivfPqQuery(index, model, queries, topK = 10, nprobe = 3)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(unpruned == pruned)
  }

  test("serving contract: an over-limit query batch is rejected, not collected") {
    val df = clustered
    val model = Pq.train(df, m = 8, k = 16)
    val enc = Pq.encode(df, model)
    spark.conf.set("graft.pq.maxQueryBatch", "8")
    try {
      val err = intercept[IllegalArgumentException] {
        Pq.query(enc, df.limit(9), model, topK = 5).collect()
      }
      assert(err.getMessage.contains("graft.pq.maxQueryBatch"))
      // at the limit exactly, serving proceeds
      assert(Pq.query(enc, df.limit(8), model, topK = 1).count() == 8)
    } finally spark.conf.unset("graft.pq.maxQueryBatch")
  }

  test("codebook saturation: 16 distinct values per coordinate train to ZERO quantization error") {
    // the pq1/pq2 value-carrying-oracle claim: when each per-block
    // domain has exactly k distinct values and the sample covers the
    // corpus, Lloyd's fixed point is the domain itself — every point
    // is a codeword, ADC is the TRUE squared L2
    import org.apache.spark.sql.functions._
    val e = graft.queries.SimilarityQueries
      .plantedClusters(spark, SparkSpec.sfDir, deltas = 14)
    val model = Pq.train(e, m = 8, k = 16)
    // every codebook is exactly the 16 planted values {0, 1, k/1024}
    val want = (Set(0.0, 1.0) ++ (1 to 14).map(_ / 1024.0)).map(v => Seq(v))
    for (b <- 0 until 8)
      assert(model.codebooks(b).map(_.toSeq).toSet == want,
        s"block $b codebook did not saturate to the planted domain")
    // therefore encode-decode is the identity: reconstruction == input
    val enc = Pq.encode(e, model)
    val rows = enc.select(col("vec_id"), col("embedding"), col("codes"))
      .collect()
    rows.foreach { r =>
      val emb = r.getSeq[Float](1).map(_.toDouble)
      val rec = Pq.reconstruct(model, r.getSeq[Int](2))
      assert(rec.toSeq == emb.toSeq, s"vec ${r.getLong(0)} not exact")
    }
    // and IVFPQ on the same lattice returns the identical relation as
    // plain PQ (the pq2 == pq1 oracle-sharing claim)
    val q = e.filter(col("vec_id") < 5)
    val plain = Pq.query(enc, q, model, topK = 10)
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    val ivfpq = Pq.ivfPqQuery(graft.operators.Similarity.ivfIndex(e, 16),
        model, q, topK = 10, nprobe = 4)
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(ivfpq == plain, "IVFPQ diverged from plain PQ on the lattice")
  }
}
