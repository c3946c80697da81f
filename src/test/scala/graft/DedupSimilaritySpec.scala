package graft

import graft.operators.{Dedup, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._

/** Semantics of the training-data-pipeline operators: recall of the LSH
  * candidate paths against the exact metrics, sketch invariances, and
  * text-analysis edge cases.
  */
class DedupSimilaritySpec extends SparkSpec {

  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  private lazy val docs = graft.sources.Tables.load(spark, sfDir, "documents")
  private lazy val embs = graft.sources.Tables.load(spark, sfDir, "embeddings")

  test("tokens: blank text yields empty array, not ['']") {
    val out = Seq("", "  ", "one two").toDF("text")
      .select(TextAnalysis.tokenCount(col("text"))).as[Int].collect()
    assert(out.sameElements(Array(0, 0, 2)))
  }

  test("shingles: fewer than k tokens -> empty; k-grams are distinct") {
    val out = Seq("a b", "a b c d a b c").toDF("text")
      .select(TextAnalysis.shingles(col("text"), 3)).as[Seq[String]].collect()
    assert(out(0).isEmpty)
    assert(out(1).toSet == Set("a b c", "b c d", "c d a", "d a b"))
  }

  test("native shingles match the HOF reference (same set per doc)") {
    val mismatch = docs.select(
        TextAnalysis.shingles(col("text"), 3).as("a"),
        Oracles.shinglesHof(col("text"), 3).as("b"))
      .filter(array_size(array_except(col("a"), col("b"))) =!= 0 ||
        array_size(array_except(col("b"), col("a"))) =!= 0 ||
        array_size(col("a")) =!= array_size(col("b")))
      .count()
    assert(mismatch == 0)
  }

  test("hashed-shingle path == string-shingle path (signatures and jaccard)") {
    val sigMismatch = docs.select(
        Dedup.minhashFromShingles(TextAnalysis.shingles(col("text"), 3), 16).as("a"),
        Dedup.minhashFromShingles(TextAnalysis.shingleHashes(col("text"), 3), 16).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(sigMismatch == 0, "minhash signatures diverge between string and hashed shingles")
    val self = docs.limit(50).select(col("doc_id"), col("text"))
    val pairs = self.select(col("doc_id").as("i"), col("text").as("ta"))
      .crossJoin(self.select(col("doc_id").as("j"), col("text").as("tb")))
      .filter(col("i") < col("j"))
    val jacMismatch = pairs.select(
        Dedup.jaccardOfShingleArrays(
          TextAnalysis.shingles(col("ta"), 3), TextAnalysis.shingles(col("tb"), 3)).as("js"),
        Dedup.jaccardOfShingleArrays(
          TextAnalysis.shingleHashes(col("ta"), 3), TextAnalysis.shingleHashes(col("tb"), 3)).as("jh"))
      .filter(col("js") =!= col("jh")).count()
    assert(jacMismatch == 0, "jaccard diverges between string and hashed shingles")
  }

  test("exact dedup keeps min id and counts copies") {
    val d = Seq((1L, "x"), (5L, "x"), (3L, "y")).toDF("doc_id", "text")
    val got = Dedup.exact(d, "text", "doc_id")
      .orderBy("doc_id").as[(String, Long, Long)].collect()
    assert(got.sameElements(Array(("x", 1L, 2L), ("y", 3L, 1L))))
  }

  test("exactRows returns the full surviving row per duplicate group") {
    val d = Seq((1L, "x", "keep"), (5L, "x", "drop"), (3L, "y", "only"))
      .toDF("doc_id", "text", "extra")
    val got = Dedup.exactRows(d, "text", "doc_id")
      .orderBy("doc_id").as[(Long, String, String)].collect()
    assert(got.sameElements(Array((1L, "x", "keep"), (3L, "y", "only"))))
  }

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  test("exactRows equals the semi-join form and keeps the shuffle width") {
    val d = Seq[(Option[Long], Option[String], String)](
      (Some(1L), Some("x"), "a"), (Some(5L), Some("x"), "b"),
      (Some(1L), Some("x"), "c"),                         // tied (key, id): both survive
      (None, Some("y"), "d"), (Some(4L), Some("y"), "e"), // null id never survives
      (Some(2L), None, "f"), (Some(3L), None, "g"),       // null key: dropped
      (None, Some("z"), "h"), (None, Some("z"), "i"))     // all-null-id group: dropped
      .toDF("doc_id", "text", "extra")
    val got = Dedup.exactRows(d, "text", "doc_id")
    assert(got.columns.toSeq == d.columns.toSeq)
    assert(sortedRows(got) == Seq("1|x|a", "1|x|c", "4|y|e"))
    assert(sortedRows(got) == sortedRows(Oracles.exactRowsSemiJoin(d, "text", "doc_id")))

    // a plain window's shuffle is coalesced by AQE (to one partition on
    // an input this small); the explicit width must survive it
    val dir = java.nio.file.Files.createTempDirectory("exact_rows").toString
    spark.range(0, 400).select(col("id").as("doc_id"), (col("id") % 37).as("k"))
      .repartition(4).write.mode("overwrite").parquet(dir)
    val in = spark.read.parquet(dir)
    assert(in.inputFiles.length == 4)
    val out = Dedup.exactRows(in, "k", "doc_id")
    assert(out.rdd.getNumPartitions == spark.conf.get("spark.sql.shuffle.partitions").toInt)
    assert(sortedRows(out) == sortedRows(Oracles.exactRowsSemiJoin(in, "k", "doc_id")))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("minhash LSH finds every planted near-dup (recall vs exact jaccard)") {
    val exact = Dedup.ngramJaccardPairs(docs, k = 3, threshold = 0.8)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashNearDups(docs, shingleK = 3, numHashes = 16,
      bands = 4, threshold = 0.8)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "testdata should contain planted near-dups")
    // LSH verifies candidates with the same exact metric, so lsh ⊆ exact,
    // and high-jaccard pairs collide in some band with near-certainty.
    assert(lsh == exact)
    // The bucket-groupBy pair generation (default) and the reference
    // bucket self-join must produce identical pair sets.
    val viaJoin = Oracles.minhashNearDupsSelfJoin(docs, shingleK = 3, numHashes = 16,
      bands = 4, threshold = 0.8)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(viaJoin == lsh)
  }

  test("LSH-bucketed embedding near-dup is a subset of exact; same-bucket pairs exact-identical") {
    val exact = Dedup.embeddingNearDups(embs, threshold = 0.98)
      .select("a_id", "b_id", "cosine").as[(Long, Long, Double)].collect().toSet
    val lsh = Dedup.embeddingNearDups(embs, threshold = 0.98, lsh = true, planes = 4)
      .select("a_id", "b_id", "cosine").as[(Long, Long, Double)].collect().toSet
    // LSH only PRUNES candidate pairs (different-bucket pairs are never
    // compared); every surviving pair carries the identical exact cosine.
    assert(lsh.subsetOf(exact))
    // Identical vectors always share a bucket (deterministic sign bits),
    // so pairs at cosine == 1 are found with certainty.
    val exactOnes = exact.filter(_._3 >= 0.999999)
    assert(exactOnes.subsetOf(lsh) || exactOnes.isEmpty)
  }

  test("simhash: identical texts get identical signatures; near-dups are close") {
    val d = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "completely different words entirely unrelated content here")).toDF("doc_id", "text")
    val sigs = Dedup.simhash(d).orderBy("doc_id").as[(Long, Long)].collect().map(_._2)
    assert(sigs(0) == sigs(1))
    assert(java.lang.Long.bitCount(sigs(0) ^ sigs(2)) > 3)
    val pairs = Dedup.simhashNearDups(d, maxHamming = 3)
      .as[(Long, Long, Int)].collect()
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((1L, 2L)))
  }

  test("brute-force knn: ranks are exact-cosine descending, self excluded") {
    val res = Similarity.bruteForceKnn(embs, embs.filter(col("vec_id") < 3), k = 5)
    val rows = res.orderBy("query_id", "rank")
      .as[(Long, Int, Long, Double)].collect()
    assert(rows.length == 15)
    rows.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.map(_._2).sameElements(Array(1, 2, 3, 4, 5)))
      assert(rs.forall(_._3 != q))
      assert(rs.map(_._4).sliding(2).forall(p => p(0) >= p(1)))
    }
  }

  test("IVF knn achieves reasonable recall vs brute force") {
    val q = embs.filter(col("vec_id") < 10)
    val brute = Similarity.bruteForceKnn(embs, q, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfKnn(embs, q, k = 5, numCentroids = 8, nprobe = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.5, s"IVF recall $recall too low") // nprobe=4 of 8 cells
  }

  test("planted cluster geometry: seeded AND k-means-refined IVF return the EXACT brute-force top-10") {
    // the v2/v4 value-carrying-oracle claim, pinned as a row-equality:
    // on the one-hot planted corpus (in-cluster cosine >= 0.971,
    // cross-cluster <= 0.25, 2 own-cluster cells always in the top-4
    // probes) IVF provably loses nothing vs brute force — full tuples
    // including rank and the rounded cosine must match
    val e = graft.queries.SimilarityQueries.plantedClusters(spark, sfDir)
    val q = e.filter(col("vec_id") < 5)
    val brute = Similarity.bruteForceKnn(e, q, k = 10)
      .select("query_id", "rank", "neighbor_id", "cosine")
      .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    val ivf = Similarity.ivfKnn(e, q, k = 10, numCentroids = 16, nprobe = 4)
      .select("query_id", "rank", "neighbor_id", "cosine")
      .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(ivf == brute, "seeded IVF diverged from brute force on planted geometry")
    val km = Similarity.ivfQuery(
      Similarity.ivfIndexKmeans(e, numCentroids = 16, iters = 3),
      q, k = 10, nprobe = 4)
      .select("query_id", "rank", "neighbor_id", "cosine")
      .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(km == brute, "k-means IVF diverged from brute force on planted geometry")
    // the separation constants the argument rests on, measured: max
    // cross-cluster cosine strictly below min in-cluster-top-10 cosine
    assert(brute.map(_._4).min > 0.97, s"in-cluster floor ${brute.map(_._4).min}")
  }

  test("decontaminateBloom: never keeps a truly contaminated doc, few false drops") {
    val bench = docs.filter(col("doc_id") % 17 === 3)
    val train = docs.filter(col("doc_id") % 17 =!= 3)
    val exactKept = Dedup.decontaminate(train, bench, k = 8)
      .select("doc_id").as[Long].collect().toSet
    val bloomKept = Dedup.decontaminateBloom(train, bench, k = 8, fpp = 0.001)
      .select("doc_id").as[Long].collect().toSet
    // no false negatives: bloom keeps only docs the exact path keeps
    assert(bloomKept.subsetOf(exactKept))
    // false-positive drops bounded (fpp=1e-3 over ~100 shingles/doc)
    val falseDrops = exactKept -- bloomKept
    assert(falseDrops.size <= math.max(2, exactKept.size / 20),
      s"${falseDrops.size} false drops of ${exactKept.size} kept")
  }

  test("winnowing grouped pairs are row-identical to the self-join reference") {
    val subset = docs.limit(120)
    val a = Dedup.winnowingNearDups(subset, k = 5, w = 4, minContainment = 0.6)
      .orderBy("a_id", "b_id").collect().map(_.toSeq).toSeq
    val c = Oracles.winnowingNearDupsSelfJoin(subset, k = 5, w = 4,
        minContainment = 0.6, maxDocFreq = 50)
      .orderBy("a_id", "b_id").collect().map(_.toSeq).toSeq
    assert(a == c)
  }

  test("decontaminateBloom keeps null/short texts exactly like the exact path") {
    val train = Seq((1L, None: Option[String]), (2L, Some("tiny")),
      (3L, Some((1 to 20).map(i => s"t$i").mkString(" "))))
      .toDF("doc_id", "text")
    val bench = Seq((9L, (1 to 20).map(i => s"t$i").mkString(" ")))
      .toDF("doc_id", "text")
    val exact = Dedup.decontaminate(train, bench, k = 8)
      .select("doc_id").as[Long].collect().toSet
    val bloom = Dedup.decontaminateBloom(train, bench, k = 8)
      .select("doc_id").as[Long].collect().toSet
    // doc 3 is contaminated; null-text doc 1 and sub-k doc 2 must survive BOTH
    assert(exact == Set(1L, 2L))
    assert(bloom == Set(1L, 2L))
  }

  // --- k-means centroid refinement -------------------------------------

  /** Clustered synthetic corpus: `perCluster` vectors around each of 3
    * well-separated axis directions in 8-d, with small deterministic
    * jitter. Seeded so the first k rows (the deterministic centroid
    * sample) all come from cluster 0 — the worst seed for IVF.
    */
  private def clustered(perCluster: Int) = {
    val dirs = Seq(
      Array(1f, 0f, 0f, 0f, 1f, 0f, 0f, 0f),
      Array(0f, 1f, 0f, 0f, 0f, 1f, 0f, 0f),
      Array(0f, 0f, 1f, 0f, 0f, 0f, 1f, 0f))
    val rows = for {
      c <- 0 until 3
      i <- 0 until perCluster
    } yield {
      val rnd = new scala.util.Random(c * 100003 + i)
      val v = dirs(c).map(x => x + (rnd.nextFloat() - 0.5f) * 0.2f)
      // ids ordered so vec_id < perCluster ⇔ cluster 0
      ((c * perCluster + i).toLong, v.toSeq)
    }
    rows.toDF("vec_id", "embedding")
  }

  private def objective(corpus: Seq[Array[Double]], cents: Seq[Array[Double]]): Double = {
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map(p => p._1 * p._2).sum
      val n = math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum)
      if (n == 0) 0.0 else d / n
    }
    corpus.map(v => cents.map(c => cos(v, c)).max).sum / corpus.size
  }

  test("refineCentroids: deterministic, objective non-decreasing, beats the raw seed") {
    val corpus = clustered(40)
    val vecs = corpus.orderBy("vec_id").as[(Long, Seq[Float])].collect()
      .map(_._2.map(_.toDouble).toArray).toSeq
    val init = Similarity.sampleCentroids(corpus, 6) // all from cluster 0
    def asArrays(cs: Seq[(Long, Seq[Float])]) = cs.map(_._2.map(_.toDouble).toArray)
    val objs = (0 to 3).map { it =>
      objective(vecs, asArrays(Similarity.refineCentroids(corpus, init, it)))
    }
    objs.sliding(2).foreach { case Seq(a, b) => assert(b >= a - 1e-9, s"objective fell: $objs") }
    assert(objs.last > objs.head + 1e-3, s"refinement never improved: $objs")
    // bit-identical across runs (fixed-point sums ⇒ partitioning-invariant)
    val r1 = Similarity.refineCentroids(corpus, init, 3)
    val r2 = Similarity.refineCentroids(corpus.repartition(7), init, 3)
    assert(r1 == r2)
  }

  test("refineCentroids: bit-identical to the SQL Lloyd loop, under any partitioning") {
    val corpus = clustered(40)
    val init = Similarity.sampleCentroids(corpus, 6)
    def bits(cs: Seq[(Long, Seq[Float])]) =
      cs.map { case (id, v) => (id, v.map(java.lang.Float.floatToRawIntBits)) }
    for (it <- 0 to 3; input <- Seq(corpus, corpus.repartition(7))) {
      val want = bits(Oracles.refineCentroidsSql(input, init, it))
      val got = bits(Similarity.refineCentroids(input, init, it))
      assert(got == want, s"iters=$it, ${input.rdd.getNumPartitions} partitions")
    }
  }

  test("semDedup: exact duplicates collapse, distinct directions all kept") {
    // three planted clusters plus exact duplicates of two members
    val base = clustered(20)
    val dups = base.filter(col("vec_id").isin(3L, 25L))
      .select((col("vec_id") + 1000).as("vec_id"), col("embedding"))
    val corpus = base.union(dups)
    val out = Similarity.semDedup(corpus, threshold = 0.999999,
      numCentroids = 3, iters = 4)
    val rows = out.as[(Long, Long, Boolean)].collect()
    val byId = rows.map(r => r._1 -> r).toMap
    // each exact duplicate links to its original (smaller id = representative)
    assert(byId(1003L) == ((1003L, 3L, false)))
    assert(byId(1025L) == ((1025L, 25L, false)))
    assert(byId(3L)._3 && byId(25L)._3)
    // at a near-1 threshold nothing else matches: everyonekept except the dups
    assert(rows.count(!_._3) == 2)
    // deterministic under partitioning
    val again = Similarity.semDedup(corpus.repartition(7), threshold = 0.999999,
      numCentroids = 3, iters = 4).as[(Long, Long, Boolean)].collect()
    assert(rows.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
  }

  test("semDedup: low threshold collapses whole planted clusters within cells") {
    val corpus = clustered(20)
    val out = Similarity.semDedup(corpus, threshold = 0.9,
      numCentroids = 3, iters = 4).as[(Long, Long, Boolean)].collect()
    // cluster members are tight (noise ±0.1 on unit directions) — each
    // planted cluster should collapse to its smallest id
    val reps = out.map(_._2).distinct.sorted
    assert(reps.toSeq == Seq(0L, 20L, 40L), s"reps: ${reps.toSeq}")
    assert(out.count(_._3) == 3)
  }

  test("semDedup cost shape: k scaling with n keeps the within-cell compare near-linear") {
    // The claim behind sem1's scale-curve exclusion (and the SemDeDup
    // paper's tractability argument): cost = Σ cells², ~n²/k for
    // balanced cells — so a FROZEN k is quadratic in n while k ∝ n
    // holds the compare near-linear. Measured here on the real index,
    // not argued: 1024 spread-direction vectors, Σ cells² under
    // k = n/32 must land orders of magnitude below the frozen-k cost.
    val n = 1024
    val corpus = spark.range(n).map { id =>
      val rnd = new scala.util.Random(id * 7919 + 17)
      val raw = Array.fill(8)(rnd.nextGaussian())
      val norm = math.sqrt(raw.map(x => x * x).sum)
      (id, raw.map(x => (x / norm).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    def sumSq(k: Int): Long =
      Similarity.ivfIndexKmeans(corpus, numCentroids = k, iters = 2)
        .assigned.groupBy("cell").count()
        .agg(sum(col("count") * col("count"))).as[Long].head()
    val frozen = sumSq(8)       // the sem1-oracle shape: ~n²/8 ≈ 131k
    val scaled = sumSq(n / 32)  // the production shape: ~n·32 ≈ 33k
    assert(scaled * 3 < frozen,
      s"k = n/32 gave $scaled pair-compares vs frozen-k $frozen — " +
        "the k∝n tractability claim did not hold")
    // and the scaled shape is within a small factor of balanced n·m
    assert(scaled < 8L * n * 32,
      s"k = n/32 cells too imbalanced: $scaled pair-compares")
    graft.operators.Materialize.sweep()
  }

  test("ivfIndexKmeans: refined cells recover planted clusters from a degenerate seed") {
    val corpus = clustered(40)
    val refined = Similarity.ivfIndexKmeans(corpus, numCentroids = 6, iters = 5)
    // every planted cluster maps to exactly one refined cell
    val cellsPerCluster = refined.assigned
      .select((col("neighbor_id") / 40).cast("int").as("cluster"), col("cell"))
      .distinct().groupBy("cluster").count()
      .as[(Int, Long)].collect().toMap
    assert(cellsPerCluster.values.forall(_ == 1L), s"split clusters: $cellsPerCluster")
    // and distinct clusters land in distinct cells
    val distinctCells = refined.assigned.select("cell").distinct().count()
    assert(distinctCells == 3L, s"got $distinctCells cells for 3 clusters")
  }

  test("fused lsh_bands is bit-identical to the banded column formulation") {
    val sh = docs.select(col("doc_id"),
      graft.operators.TextAnalysis.shingleHashes(col("text"), 3).as("sh"))
      .filter(size(col("sh")) > 0)
    // materialize the signature FIRST (collect) so the column-form band
    // hash is computed over the true signature, not re-inlined per element
    val sig = sh.select(col("doc_id"),
      Dedup.minhashFromShingles(col("sh"), 16).as("sig"))
    val colForm = sig.select(col("doc_id"),
      Oracles.bandHashesColumns(col("sig"), 4, 4).as("bh"))
      .as[(Long, Seq[Long])].collect().toMap
    val fused = sh.select(col("doc_id"),
      graft.functions.SketchFunctions.lsh_bands(col("sh"), 16, 4).as("bh"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(fused == colForm)
  }

  test("native cosine expression is bit-identical to the HOF fold") {
    val d = embs.limit(50)
    val pairs = d.select(col("vec_id"), col("embedding"))
      .crossJoin(d.select(col("vec_id").as("v2"), col("embedding").as("e2")))
      .filter(col("vec_id") < col("v2"))
    val diff = pairs.select(
        Similarity.cosine(col("embedding"), col("e2")).as("a"),
        Oracles.cosineHof(col("embedding"), col("e2")).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(diff == 0)
  }

  test("native cosine handles nulls, zero vectors, length mismatch") {
    val d = Seq(
      (Some(Seq(1.0f, 2.0f)), Some(Seq(1.0f, 2.0f))),
      (Some(Seq(0.0f, 0.0f)), Some(Seq(1.0f, 2.0f))),
      (None, Some(Seq(1.0f, 2.0f))),
      (Some(Seq(1.0f)), Some(Seq(1.0f, 2.0f))))
      .toDF("a", "b")
    val out = d.select(Similarity.cosine(col("a"), col("b"))).collect()
    assert(math.abs(out(0).getDouble(0) - 1.0) < 1e-12)
    assert(out(1).getDouble(0) === 0.0)
    assert(out(2).isNullAt(0))
    assert(out(3).isNullAt(0))
  }

  test("hyperplane LSH buckets identical vectors identically") {
    val d = embs.limit(4).select(col("vec_id"),
      Similarity.hyperplaneLsh(col("embedding"), 8).as("b1"),
      Similarity.hyperplaneLsh(col("embedding"), 8).as("b2"))
    assert(d.filter(col("b1") =!= col("b2")).count() == 0)
  }

  test("winnowing: identical text -> identical fingerprints; shared substring guarantee") {
    val shared = "the quick brown fox jumps over the lazy dog near the river bank"
    val d = Seq(
      (1L, s"prefix one $shared suffix alpha"),
      (2L, s"totally different beginning $shared and another ending"),
      (3L, "unrelated content with no overlap whatsoever in this document text"),
      (4L, s"prefix one $shared suffix alpha")).toDF("doc_id", "text")
    val fps = d.select(col("doc_id"),
      TextAnalysis.winnowingFingerprints(col("text"), 5, 4).as("fps"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(fps(1L) == fps(4L)) // identical text
    // winnowing guarantee: shared substring of length >= k+w-1 -> common fp
    assert(fps(1L).toSet.intersect(fps(2L).toSet).nonEmpty)
    val pairs = Dedup.winnowingNearDups(d, 5, 4, minContainment = 0.3)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 4L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("approx_count_distinct stays within HLL++ error bounds of exact") {
    val e = graft.sources.Tables.load(spark, sfDir, "events")
    val row = e.agg(
      countDistinct(col("user_id")).as("exact"),
      approx_count_distinct(col("user_id")).as("approx")).head()
    val (exact, approx) = (row.getLong(0), row.getLong(1))
    assert(math.abs(approx - exact).toDouble / exact < 0.1,
      s"approx=$approx exact=$exact")
  }

  test("deterministic split is invariant to partitioning and roughly proportioned") {
    val e = graft.sources.Tables.load(spark, sfDir, "events").select("event_id")
    val a = graft.operators.Sampling.assignSplit(e, "event_id", 80, 10)
      .as[(Long, String)].collect().toMap
    val b = graft.operators.Sampling.assignSplit(e.repartition(13), "event_id", 80, 10)
      .as[(Long, String)].collect().toMap
    assert(a == b) // membership is a pure function of the id, not layout
    val n = a.size.toDouble
    val frac = a.values.groupBy(identity).view.mapValues(_.size / n).toMap
    assert(math.abs(frac("train") - 0.8) < 0.05, s"train=${frac("train")}")
    assert(math.abs(frac("val") - 0.1) < 0.04)
    assert(math.abs(frac("test") - 0.1) < 0.04)
  }

  test("langId picks the language with most stopword hits") {
    val d = Seq(
      "the cat and the dog went to the park for a walk",
      "der hund und die katze ist ein tier mit den kindern",
      "zzz qqq xxx").toDF("text")
    val out = d.select(TextAnalysis.langId(col("text"))).as[String].collect()
    assert(out.sameElements(Array("en", "de", "und")))
  }

  test("passageDedup keeps the first occurrence of each passage and reassembles") {
    // 3-word passages; doc 1's second passage repeats doc 0's first; doc 2
    // is entirely doc 0's text (fully deduplicated away); doc 3 unique.
    val docs = Seq(
      (0L, "a b c d e f"),          // passages: "a b c", "d e f"
      (1L, "x y z a b c"),          // "x y z" kept, "a b c" duplicate
      (2L, "a b c"),                // fully duplicate -> 0 kept
      (3L, "q r")                   // short tail passage, unique
    ).toDF("doc_id", "text")
    val out = Dedup.passageDedup(docs, words = 3)
      .orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect()
    assert(out(0) == ((0L, 2L, 2L, "a b c d e f")))
    assert(out(1) == ((1L, 2L, 1L, "x y z")))
    assert(out(2) == ((2L, 1L, 0L, "")))
    assert(out(3) == ((3L, 1L, 1L, "q r")))
  }

  test("passageDedup: duplicate passage inside ONE doc is dropped; blank doc has none") {
    val docs = Seq(
      (0L, "a b c a b c a b c"),    // same 3-gram thrice -> keep one
      (1L, "   ")                    // whitespace-only -> no passages
    ).toDF("doc_id", "text")
    val out = Dedup.passageDedup(docs, words = 3)
      .orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect()
    assert(out(0) == ((0L, 3L, 1L, "a b c")))
    assert(out(1) == ((1L, 0L, 0L, "")))
  }

  test("decontaminate drops exactly the docs sharing a k-gram with the benchmark") {
    val train = Seq(
      (0L, "one two three four five six seven eight nine"), // contains bench 8-gram
      (1L, "totally unrelated words that share nothing with anything else here"),
      (2L, "one two three four five SIX seven eight nine")  // case diff normalizes -> contaminated
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "zz one two three four five six seven eight yy"))
      .toDF("doc_id", "text")
    val report = Dedup.contaminationReport(train, bench, k = 8)
      .orderBy("doc_id").as[(Long, Long)].collect()
    assert(report.map(_._1).sameElements(Array(0L, 2L)))
    assert(report.forall(_._2 >= 1L))
    val clean = Dedup.decontaminate(train, bench, k = 8)
      .select("doc_id").as[Long].collect()
    assert(clean.sameElements(Array(1L)))
  }

  test("decontaminate equals the anti-join form and plans no exchange and no join") {
    val g = (1 to 10).map(i => s"w$i").mkString(" ")
    val train = Seq[(Long, Option[String])](
      (1L, None),                                          // null text
      (2L, Some("w1 w2 w3")),                              // shorter than k
      (3L, Some(s"pre $g post")),                          // shares an 8-gram
      (4L, Some(g.toUpperCase)),                           // case variant
      (5L, Some("  " + g.replace(" ", " \t\n ") + " ")),   // whitespace variant
      (6L, Some("w1 w2 w3 w4 w5 w6 w7 x w9 w10")),         // 7-token overlaps only
      (7L, Some("words that appear in no benchmark document of this fixture")))
      .toDF("doc_id", "text")
    val benches = Seq(
      "plain" -> Seq[(Long, Option[String])]((100L, Some(g)), (101L, None)),
      "variant" -> Seq[(Long, Option[String])]((102L, Some(" W3 W4\tw5 W6 w7 w8 W9  w10 "))),
      "empty" -> Seq.empty[(Long, Option[String])],
      "short" -> Seq[(Long, Option[String])]((103L, Some("w1 w2"))))
    val want = Map("plain" -> Set(1L, 2L, 6L, 7L), "variant" -> Set(1L, 2L, 6L, 7L),
      "empty" -> (1L to 7L).toSet, "short" -> (1L to 7L).toSet)
    for ((name, rows) <- benches) {
      val bench = rows.toDF("doc_id", "text")
      val got = Dedup.decontaminate(train, bench, k = 8).select("doc_id").as[Long].collect().toSet
      val oracle = Oracles.decontaminateJoin(train, bench, k = 8)
        .select("doc_id").as[Long].collect().toSet
      assert(got == oracle, name)
      assert(got == want(name), name)
    }

    // over a Parquet corpus: the probe rides the scan, with no exchange
    // and no join (the anti-join form plans both)
    val bench = docs.filter(col("doc_id") % 17 === 3)
    val probe = Dedup.decontaminate(docs.filter(col("doc_id") % 17 =!= 3), bench, k = 8)
    val kept = probe.select("doc_id").as[Long].collect().toSet
    assert(kept == Oracles.decontaminateJoin(docs.filter(col("doc_id") % 17 =!= 3), bench, k = 8)
      .select("doc_id").as[Long].collect().toSet)
    val plan = probe.queryExecution.executedPlan
    val offending = plan.collect {
      case p: org.apache.spark.sql.execution.exchange.Exchange => p
      case p: org.apache.spark.sql.execution.joins.BaseJoinExec => p
      case p: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => p
    }
    assert(offending.isEmpty, s"decontaminate must be map-only:\n$plan")
  }

  test("decontaminate's benchmark collect is capped with a named error") {
    Dedup.checkBenchShingles(Dedup.MaxBenchShingles)
    val e = intercept[Dedup.BenchmarkTooLargeException](
      Dedup.checkBenchShingles(Dedup.MaxBenchShingles + 1L))
    assert(e.getMessage.contains("decontaminateBloom"))
  }

  test("weighted reservoir membership is partitioning-invariant and weight-sensitive") {
    val docs = graft.sources.Tables.load(spark, sfDir, "documents")
      .select("doc_id", "source", "n_chars")
    val pick = (df: org.apache.spark.sql.DataFrame) =>
      graft.operators.Sampling.weightedReservoirPerGroup(
        df, "source", "doc_id", col("n_chars"), n = 3)
        .select("source", "doc_id").as[(String, Long)].collect().toSet
    val a = pick(docs)
    val b = pick(docs.repartition(17))
    assert(a == b) // pure function of (id, salt), not layout
    // every group contributes at most n rows, and members exist
    assert(a.nonEmpty)
    assert(a.groupBy(_._1).values.forall(_.size <= 3))
    // weight sensitivity: with weights swept to ~0 for even ids (key
    // u^(1/w) underflows to 0), an even doc can only be picked when its
    // group has fewer than n odd docs left to fill the reservoir
    val skewed = docs.withColumn("w",
      when(col("doc_id") % 2 === 0, lit(1e-9)).otherwise(col("n_chars")))
    val picked = graft.operators.Sampling.weightedReservoirPerGroup(
      skewed, "source", "doc_id", col("w"), n = 3)
      .select("source", "doc_id").as[(String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val oddBySource = docs.select("source", "doc_id").as[(String, Long)]
      .collect().filter(_._2 % 2 == 1L)
      .groupBy(_._1).view.mapValues(_.length).toMap
    picked.foreach { case (src, ids) =>
      val evensPicked = ids.count(_ % 2 == 0L)
      val oddsAvailable = oddBySource.getOrElse(src, 0)
      assert(evensPicked == math.max(0, 3 - math.min(3, oddsAvailable)),
        s"source=$src picked=$ids oddsAvailable=$oddsAvailable")
    }
  }
}
