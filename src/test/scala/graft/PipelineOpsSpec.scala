package graft

import graft.operators.{Dedup, RangeJoin, Sampling, TextAnalysis}
import org.apache.spark.sql.functions._

/** Round-2 pipeline operators: dedup clustering (connected components),
  * bucketed range join, deterministic reservoir sampling, PII scrubbing,
  * and repetition statistics.
  */
class PipelineOpsSpec extends SparkSpec {

  import spark.implicits._

  test("connectedComponents labels chains, cliques, and isolated vertices") {
    // components: {1,2,3,4} (a chain), {10,11} (an edge), {99} (isolated)
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L)).toDF("a_id", "b_id")
    val vertices = Seq(1L, 2L, 3L, 4L, 10L, 11L, 99L).toDF("doc_id")
    val got = Dedup.connectedComponents(edges, vertices)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 99L -> 99L))
  }

  test("connectedComponents matches brute-force closure on a random graph") {
    val rnd = new scala.util.Random(7)
    val n = 60
    val pairs = Seq.fill(45)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter(p => p._1 != p._2)
    val got = Dedup.connectedComponents(
      pairs.toDF("a_id", "b_id"), (0L until n.toLong).toDF("doc_id"))
      .as[(Long, Long)].collect().toMap
    // brute-force union-find on the driver
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = (0 until n).map { v =>
      val root = find(v)
      val minLabel = (0 until n).filter(find(_) == root).min
      v.toLong -> minLabel.toLong
    }.toMap
    assert(got == expected)
  }

  test("connectedComponents: distributed loop path == local union-find path") {
    val rnd = new scala.util.Random(31)
    val pairs = Seq.fill(120)((rnd.nextInt(150).toLong, rnd.nextInt(150).toLong))
      .filter(p => p._1 != p._2)
    val edges = pairs.toDF("a_id", "b_id")
    val verts = (0L until 150L).toDF("doc_id")
    val local = Dedup.connectedComponents(edges, verts)
      .as[(Long, Long)].collect().toMap
    // localEdgeThreshold = -1 forces every edge count onto the loop path
    val looped = Dedup.connectedComponents(edges, verts, localEdgeThreshold = -1L)
      .as[(Long, Long)].collect().toMap
    assert(local == looped)
  }

  test("connectedComponents handles string vertex ids on the local path") {
    val edges = Seq(("b", "a"), ("c", "b"), ("x", "z")).toDF("a_id", "b_id")
    val verts = Seq("a", "b", "c", "x", "z", "solo").toDF("doc_id")
    val got = Dedup.connectedComponents(edges, verts)
      .as[(String, String)].collect().toMap
    assert(got == Map("a" -> "a", "b" -> "a", "c" -> "a",
      "x" -> "x", "z" -> "x", "solo" -> "solo"))
  }

  test("connectedComponents releases its edge pin when the edge pass throws") {
    def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = persisted
    // a range, not a local Seq: the optimizer would fold a local relation's
    // raise_error at planning time, before any pin exists
    val edges = spark.range(1, 5).select(
      when(col("id") === 3L, raise_error(lit("edge pass failed")))
        .otherwise(col("id")).as("a_id"),
      (col("id") + 1).as("b_id"))
    val verts = (1L to 5L).toDF("doc_id")
    val e = intercept[Exception](Dedup.connectedComponents(edges, verts))
    assert(e.getMessage.contains("edge pass failed"))
    assert(persisted == before, s"leaked ${persisted -- before}")
  }

  test("bucketed range join == naive theta join, across bucket widths") {
    val rnd = new scala.util.Random(11)
    val intervals = (0L until 80L).map { i =>
      val lo = rnd.nextInt(10000).toLong
      (i, lo, lo + 1 + rnd.nextInt(500))
    }.toDF("id", "lo", "hi")
    val points = Seq.fill(600)(rnd.nextInt(11000).toLong).toDF("t")
    val naive = Oracles.intervalPointCountNaive(intervals, "id", points, "t")
      .orderBy("id").as[(Long, Long)].collect().toSeq
    for (w <- Seq(7L, 256L, 5000L)) {
      val bucketed = RangeJoin.intervalPointCount(intervals, "id", points, "t", w)
        .orderBy("id").as[(Long, Long)].collect().toSeq
      assert(bucketed == naive, s"bucketWidth=$w diverged")
    }
  }

  test("range join bounds are half-open [lo, hi)") {
    val intervals = Seq((1L, 10L, 20L)).toDF("id", "lo", "hi")
    val points = Seq(9L, 10L, 19L, 20L).toDF("t")
    val got = RangeJoin.intervalPointCount(intervals, "id", points, "t", 4L)
      .as[(Long, Long)].collect().head
    assert(got == (1L, 2L)) // 10 and 19 in; 9 and 20 out
  }

  test("reservoirPerGroup: caps size, deterministic, partitioning-invariant") {
    val df = (0L until 200L).map(i => (i, s"g${i % 4}")).toDF("doc_id", "source")
    val a = Sampling.reservoirPerGroup(df, "source", "doc_id", 5)
      .orderBy("source", "doc_id").as[(Long, String)].collect().toSeq
    assert(a.groupBy(_._2).forall(_._2.size == 5))
    val b = Sampling.reservoirPerGroup(df.repartition(13, col("doc_id")), "source", "doc_id", 5)
      .orderBy("source", "doc_id").as[(Long, String)].collect().toSeq
    assert(a == b) // pure function of (id, salt): layout must not matter
    val c = Sampling.reservoirPerGroup(df, "source", "doc_id", 5, salt = "other")
      .orderBy("source", "doc_id").as[(Long, String)].collect().toSeq
    assert(a != c) // different salt draws a different sample
  }

  test("budgetPerGroup: prefix of the hash walk, monotone in budget, layout-invariant") {
    val df = (0L until 120L).map(i => (i, s"g${i % 3}", 10L + i % 7))
      .toDF("doc_id", "source", "cost")
    val kept = Sampling.budgetPerGroup(df, "source", "doc_id", "cost", 150L)
      .select("doc_id", "source", "cost", "budget_run")
      .as[(Long, String, Long, Long)].collect().sortBy(r => (r._2, r._4))
    // inclusive running cost never exceeds the budget and is consistent
    kept.groupBy(_._2).foreach { case (_, rows) =>
      rows.foldLeft(0L) { (acc, r) =>
        assert(r._4 == acc + r._3 && r._4 <= 150L); r._4
      }
    }
    // monotone: a larger budget keeps a superset
    val more = Sampling.budgetPerGroup(df, "source", "doc_id", "cost", 300L)
      .select("doc_id").as[Long].collect().toSet
    assert(kept.map(_._1).toSet.subsetOf(more))
    // layout-invariant: repartitioning must not change the kept set
    val rep = Sampling.budgetPerGroup(df.repartition(13, col("doc_id")),
        "source", "doc_id", "cost", 150L)
      .select("doc_id").as[Long].collect().toSet
    assert(rep == kept.map(_._1).toSet)
    // per-group window formulation agrees (the distributed prefix-sum
    // must equal the single-window semantics it stands in for)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source")
      .orderBy(Sampling.hashValue(col("doc_id"), "graft"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val naive = df.withColumn("run", sum(col("cost")).over(w))
      .filter(col("run") <= 150L).select("doc_id").as[Long].collect().toSet
    assert(naive == kept.map(_._1).toSet)
  }

  test("leakageSafeSplit: clusters never straddle splits; singletons == plain id split") {
    val docs = (0L until 60L).toDF("doc_id")
    // chain 0-1-2, pair 10-11, rest isolated
    val edges = Seq((0L, 1L), (1L, 2L), (10L, 11L)).toDF("a_id", "b_id")
    val out = Sampling.leakageSafeSplit(docs, "doc_id", edges, 80, 10)
      .select("doc_id", "comp", "split")
      .as[(Long, Long, String)].collect().toSeq
    assert(out.size == 60)
    // every member of a component shares its split
    out.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).distinct.size == 1)
    }
    assert(out.filter(r => Set(0L, 1L, 2L)(r._1)).map(_._2).distinct == Seq(0L))
    // singleton docs fall back to the plain id-keyed split
    val plain = Sampling.assignSplit(docs, "doc_id", 80, 10)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    out.filter(r => r._1 == r._2 && !Set(0L, 1L, 2L, 10L, 11L)(r._1))
      .foreach(r => assert(r._3 == plain(r._1)))
  }

  test("madOutliers: flags exactly the hand-computed set, robust to one fat outlier") {
    import graft.operators.Anomaly
    // group a: tight cluster + one huge outlier; z-score masks it less
    // robustly than MAD. values are 2-decimal, scale 100 is exact.
    val vals = Seq.tabulate(21)(i => ("a", 10.0 + (i % 5) * 0.01)) :+ (("a", 500.0))
    val df = vals.toDF("k", "v")
    val out = Anomaly.madOutliers(df, "k", "v", z = 3, scale = 100)
      .select("k", "n", "med2", "mad4", "n_outliers")
      .as[(String, Long, Long, Long, Long)].collect().head
    // med of scaled {1000x21 pattern, 50000}: medians land on 1001*2
    assert(out._2 == 22L)
    // hand check: exactly the 500.0 row crosses 3*1.4826*MAD
    assert(out._5 == 1L)
    // null values contribute nothing
    val withNull = (vals.map { case (k, v) => (k, Some(v)) } :+ (("a", Option.empty[Double])))
      .toDF("k", "v")
    val out2 = Anomaly.madOutliers(withNull, "k", "v", z = 3, scale = 100)
      .select("n", "n_outliers").as[(Long, Long)].collect().head
    assert(out2 == ((22L, 1L)))
  }

  test("ksStatistic: identical=0, disjoint=1e6, hand case, layout-invariant") {
    import graft.operators.Profile
    val x = (1 to 100).map(i => Tuple1((i % 10).toDouble)).toDF("v")
    assert(Profile.ksStatistic(x, x, "v").as[(Long, Long, Long)].collect().head._3 == 0L)
    val lo = (1 to 50).map(i => Tuple1(i.toDouble)).toDF("v")
    val hi = (1 to 50).map(i => Tuple1(1000.0 + i)).toDF("v")
    assert(Profile.ksStatistic(lo, hi, "v").as[(Long, Long, Long)].collect().head._3 == 1000000L)
    // hand case: a={1,2,3,4}, b={3,4,5,6} → D = 1/2
    val a = Seq(1.0, 2.0, 3.0, 4.0).map(Tuple1(_)).toDF("v")
    val b = Seq(3.0, 4.0, 5.0, 6.0).map(Tuple1(_)).toDF("v")
    assert(Profile.ksStatistic(a, b, "v").as[(Long, Long, Long)].collect().head._3 == 500000L)
    val big = (1 to 500).map(i => Tuple1((i * 13 % 97).toDouble)).toDF("v")
    val shifted = (1 to 400).map(i => Tuple1((i * 7 % 89).toDouble + 3.0)).toDF("v")
    val one = Profile.ksStatistic(big, shifted, "v").collect().head
    val rep = Profile.ksStatistic(
      big.repartition(13), shifted.repartition(7), "v").collect().head
    assert(one == rep)
  }

  test("langIdConfidence: margin separates clear wins, ties, and und docs") {
    val docs = Seq(
      (1L, "the cat and the dog of the house"), // en: many hits, others 0
      (2L, "la la der der"),                    // exact tie (es/fr 'la' x2, de 'der' x2)
      (3L, "zzz qqq www")                       // no stopwords → und, margin 0
    ).toDF("doc_id", "text")
    val out = docs.select(col("doc_id"),
        TextAnalysis.langIdConfidence(col("text")).as("c"))
      .select(col("doc_id"), col("c.lang_id"), col("c.best"), col("c.margin"))
      .orderBy("doc_id")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(out(0)._2 == "en" && out(0)._4 > 0)
    assert(out(1)._4 == 0L) // tie: margin zero flags the ambiguity
    assert(out(2)._2 == "und" && out(2)._3 == 0L && out(2)._4 == 0L)
  }

  test("robustScale: hand-computed (x-med)/IQR, zero-IQR group scales to null") {
    import graft.operators.Anomaly
    // group a: values 1..5 → med 3, q75 4, q25 2, IQR 2
    val rows = (1 to 5).map(i => ("a", i.toLong, i.toDouble)) ++
      Seq(("b", 10L, 7.0), ("b", 11L, 7.0)) // constant group
    val out = Anomaly.robustScale(rows.toDF("k", "id", "v"), "k", "v")
      .select("id", "scaled").as[(Long, Option[Double])].collect().toMap
    assert(out(1L).contains(-1.0) && out(3L).contains(0.0) && out(5L).contains(1.0))
    assert(out(10L).isEmpty && out(11L).isEmpty)
  }

  test("ewmaSmooth: hand recurrence incl. negatives, key reset, layout-invariant") {
    import graft.operators.Timeseries
    import java.sql.Timestamp
    def ts(s: Long) = new Timestamp(s * 1000L)
    val rows = Seq(
      (1L, ts(1), 10L, 4.00), (1L, ts(2), 11L, 8.00), (1L, ts(3), 12L, -4.00),
      (2L, ts(1), 20L, -1.00), (2L, ts(2), 21L, 3.00)
    ).toDF("user_id", "ts", "event_id", "value")
    val got = Timeseries.ewmaSmooth(rows, "user_id", "ts", "event_id", "value")
      .orderBy("user_id", "event_id")
      .as[(Long, Long, Long, Long)].collect().toSeq
    // key 1: e=400; (800+1200)/4=500; (-400+1500)/4=275
    // key 2: e=-100 (reset); (300-300)/4=0
    assert(got == Seq(
      (1L, 10L, 400L, 400L), (1L, 11L, 800L, 500L), (1L, 12L, -400L, 275L),
      (2L, 20L, -100L, -100L), (2L, 21L, 300L, 0L)))
    // truncation toward zero on a negative intermediate
    val neg = Seq((3L, ts(1), 30L, -1.00), (3L, ts(2), 31L, 2.00))
      .toDF("user_id", "ts", "event_id", "value")
    val g2 = Timeseries.ewmaSmooth(neg, "user_id", "ts", "event_id", "value")
      .orderBy("event_id").as[(Long, Long, Long, Long)].collect().toSeq
    // (200 + 3*(-100))/4 = -100/4 = -25 (trunc toward zero)
    assert(g2(1)._4 == -25L)
    val rep = Timeseries.ewmaSmooth(rows.repartition(7, col("event_id")),
        "user_id", "ts", "event_id", "value")
      .orderBy("user_id", "event_id")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(rep == got)
  }

  test("hardNegatives: near-dup band and self excluded, ranking == windowed naive") {
    import graft.operators.Similarity
    val vecs = (0 until 40).map { i =>
      val r = new scala.util.Random(i)
      (i.toLong, Array.fill(8)((r.nextDouble() - 0.5).toFloat))
    }
    // plant a near-copy of vector 0 (cosine ≈ 1 → must be banded out)
    val planted = vecs :+ ((100L, vecs.head._2.map(x => (x * 1.0001f))))
    val df = planted.toDF("vec_id", "embedding")
    val out = Similarity.hardNegatives(df, df.filter(col("vec_id") === 0L), k = 5)
      .as[(Long, Int, Long, Double)].collect()
    assert(out.length == 5)
    assert(out.forall(_._4 < 0.9))
    assert(!out.exists(_._3 == 100L)) // the planted near-copy is excluded
    assert(!out.exists(_._3 == 0L))   // self excluded
    // == naive: score all, filter, sort by (rounded cos desc, id)
    val q = vecs.head._2.map(_.toDouble)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map(p => p._1 * p._2).sum
      val na = math.sqrt(a.map(x => x * x).sum); val nb = math.sqrt(b.map(x => x * x).sum)
      if (na == 0 || nb == 0) 0.0 else d / (na * nb)
    }
    val naive = planted.filter(_._1 != 0L)
      .map { case (id, v) => (id, BigDecimal(cos(q, v.map(_.toDouble)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) }
      .filter(_._2 < 0.9).sortBy { case (id, c) => (-c, id) }.take(5)
    assert(out.sortBy(_._2).map(r => (r._3, r._4)).toSeq == naive)
  }

  test("ppjoinPairs == all-pairs ngramJaccardPairs across thresholds; no cartesian in plan") {
    val r = new scala.util.Random(7)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
    val base = (0L until 40L).map(i =>
      (i, Seq.fill(12)(vocab(r.nextInt(vocab.size))).mkString(" ")))
    // plant near-copies of every 4th doc (one appended token)
    val planted = base ++ base.filter(_._1 % 4 == 0)
      .map { case (id, t) => (id + 1000L, t + " omega") }
    val docs = planted.toDF("doc_id", "text")
    for (t <- Seq(0.3, 0.5, 0.8)) {
      val pp = Dedup.ppjoinPairs(docs, k = 3, threshold = t)
        .orderBy("a_id", "b_id").collect().toSeq
      val naive = Dedup.ngramJaccardPairs(docs, k = 3, threshold = t)
        .orderBy("a_id", "b_id").collect().toSeq
      assert(pp == naive, s"threshold $t")
    }
    val plan = Dedup.ppjoinPairs(docs, k = 3, threshold = 0.5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "prefix join must not be a cross product")
  }

  test("sourceOverlap: hand-built shingle overlap with exact integer jaccard") {
    val docs = Seq(
      (1L, "srcA", "one two three four"),   // shingles: {one two three, two three four}
      (2L, "srcB", "one two three"),        // {one two three}
      (3L, "srcC", "five six seven eight")  // disjoint
    ).toDF("doc_id", "source", "text")
    val out = TextAnalysis.sourceOverlap(docs, k = 3)
      .as[(String, String, Long, Long)].collect().toSeq
    // only (srcA, srcB) overlap: inter=1, union=2 → jaccard 500000
    assert(out == Seq(("srcA", "srcB", 1L, 500000L)))
  }

  test("tokenEntropyScaled: hand-computed docs, zero/empty edges, table-bound fail-fast") {
    val docs = Seq(
      (1L, "a a a a"),        // uniform single token → H = 0
      (2L, "a b"),            // two distinct → H = 1 bit
      (3L, "a a b b"),        // H = 1 bit
      (4L, ""),               // empty → 0
      (5L, "x y z w")         // 4 distinct → H = 2 bits
    ).toDF("doc_id", "text")
    val got = TextAnalysis.tokenEntropyScaled(docs)
      .orderBy("doc_id")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 4L, 0L),
      (2L, 2L, 1000000000L),
      (3L, 4L, 1000000000L),
      (4L, 0L, 0L),
      (5L, 4L, 2000000000L)))
    // a doc with more tokens than the table must fail loudly, not clamp
    val big = Seq((9L, Seq.fill(300)("t").mkString(" "))).toDF("doc_id", "text")
    // the per-count table lookup trips ANSI element_at bounds first; the
    // n-level branch carries the explicit raise_error — either way, loud
    val e = intercept[Exception] {
      TextAnalysis.tokenEntropyScaled(big, maxN = 256).collect()
    }
    val msgs = Iterator.iterate(e.asInstanceOf[Throwable])(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString("; ")
    assert(msgs.contains("entropy table") || msgs.contains("INVALID_ARRAY_INDEX"))
  }

  test("scrubPii redacts emails, IPs, and phone runs; clean text untouched") {
    val got = Seq(
      "mail bob.smith+x@sub.example.org now",
      "from 192.168.0.1 port 443",
      "call +1 555 010 1234 today",
      "clean text, nothing here 12.5")
      .toDF("text").select(TextAnalysis.scrubPii(col("text"))).as[String].collect()
    assert(got(0) == "mail <EMAIL> now")
    assert(got(1) == "from <IP> port 443")
    assert(got(2) == "call <PHONE> today")
    assert(got(3) == "clean text, nothing here 12.5")
  }

  test("CentroidArgmax picks the max-cosine centroid, smallest index on ties") {
    val cents = Array(
      Array(1.0, 0.0), Array(0.0, 1.0), Array(-1.0, 0.0),
      Array(2.0, 0.0)) // same direction as centroid 0 -> tie, index 0 wins
    val got = Seq(
      Seq(0.9f, 0.1f),   // closest to +x -> 0 (tie with 3 -> 0)
      Seq(0.1f, 5.0f),   // +y -> 1
      Seq(-3.0f, 0.0f),  // -x -> 2
      Seq(0.0f, 0.0f))   // zero vector: all cosines 0.0, first wins -> 0
      .toDF("v")
      .select(graft.functions.CentroidArgmax.argmax(col("v"), cents))
      .as[Int].collect().toSeq
    assert(got == Seq(0, 1, 2, 0))
  }

  test("CentroidArgmax at k=4096 broadcasts the matrix; assignments match the in-plan form") {
    import graft.functions.CentroidArgmax
    val rnd = new scala.util.Random(7)
    val dim = 16
    val cents = Array.fill(4096)(Array.fill(dim)(rnd.nextDouble() * 2 - 1))
    val vecs = Seq.tabulate(200)(i =>
      (i.toLong, Seq.fill(dim)(rnd.nextFloat() * 2 - 1))).toDF("id", "v")
    // k x dim = 65536 elements: force both paths around it
    def assign(threshold: Long) = vecs
      .select(col("id"), CentroidArgmax.argmax(col("v"), cents, threshold).as("c"))
      .orderBy("id").as[(Long, Int)].collect().toSeq
    val viaBroadcast = assign(threshold = 1L)          // always broadcast
    val viaPlan = assign(threshold = Long.MaxValue)    // always in-plan
    assert(viaBroadcast == viaPlan, "broadcast and in-plan forms must agree")
    // the broadcast form's expression carries a handle, not the matrix —
    // the plan string stays small no matter how big the model is
    val bcCol = CentroidArgmax.argmax(col("v"), cents, 1L)
    val bcExpr = org.apache.spark.sql.GraftSqlBridge.expression(bcCol)
      .asInstanceOf[CentroidArgmax]
    assert(bcExpr.bc.isDefined && bcExpr.local.isEmpty)
    val planCol = CentroidArgmax.argmax(col("v"), cents, Long.MaxValue)
    assert(org.apache.spark.sql.GraftSqlBridge.expression(planCol)
      .asInstanceOf[CentroidArgmax].bc.isEmpty)
  }

  test("ivfQuery over a cell-partitioned written index equals the inline path") {
    val e = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val q = e.filter(col("vec_id") < 3)
    val inline = graft.operators.Similarity.ivfKnn(e, q, k = 5, numCentroids = 8, nprobe = 3)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val ix = graft.operators.Similarity.ivfIndex(e, 8)
    val dir = "target/ivf_spec_index"
    ix.assigned.repartition(col("cell")).write.mode("overwrite")
      .partitionBy("cell").parquet(dir)
    val served = ix.copy(assigned = spark.read.parquet(dir)
      .select(col("neighbor_id"), col("c_vec"), col("cell"))) // restore column order
    val fromDisk = graft.operators.Similarity.ivfQuery(served, q, k = 5, nprobe = 3)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(inline == fromDisk)
  }

  test("repetitionStats: exact counts incl. zero-token docs") {
    val docs = Seq((1L, "a a a b"), (2L, ""), (3L, "x y z"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.repetitionStats(docs)
      .orderBy("doc_id").as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 4L, 2L, 3L), (2L, 0L, 0L, 0L), (3L, 3L, 3L, 1L)))
  }

  test("incrementalNew keeps only first-in-batch AND corpus-novel docs") {
    val corpus = Seq((1L, "Hello World"), (2L, "old news"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "HELLO    world"), // fingerprint-dup of corpus doc 1 -> dropped
      (11L, "fresh content"),  // novel -> kept
      (12L, "Fresh   CONTENT"),// intra-batch dup of 11 (normalized) -> dropped
      (13L, "another one"))    // novel -> kept
      .toDF("doc_id", "text")
    val got = Dedup.incrementalNew(corpus, batch)
      .select("doc_id").as[Long].collect().toSet
    assert(got == Set(11L, 13L))
  }

  test("incrementalNew: null text folds into the empty fingerprint, never silently dropped") {
    val corpus = Seq((1L, Some("kept doc"))).toDF("doc_id", "text")
    val batch = Seq((10L, None: Option[String]), (11L, Some("")),
      (12L, Some("real content here"))).toDF("doc_id", "text")
    val got = Dedup.incrementalNew(corpus, batch)
      .select("doc_id").as[Long].collect().toSet
    // null and "" share a fingerprint -> first (10) survives, 11 is its dup
    assert(got == Set(10L, 12L))
  }

  test("dupSpanStats: shared spans counted, short and unique docs exact") {
    // k=3 grams. Docs 1 and 2 share "a b c" and "b c d"; doc 3 is unique;
    // doc 4 is too short for any 3-gram; doc 5 repeats doc 1 verbatim.
    val docs = Seq(
      (1L, "a b c d"),           // grams {a b c, b c d} — both shared
      (2L, "a b c d e"),         // grams {a b c, b c d, c d e}
      (3L, "x y z w"),           // grams {x y z, y z w} — none shared
      (4L, "p q"),               // no grams
      (5L, "a b c d")            // identical to doc 1
    ).toDF("doc_id", "text")
    val got = TextAnalysis.dupSpanStats(docs, k = 3)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq(
      (1L, 2L, 2L, 1.0),
      (2L, 3L, 2L, 2.0 / 3.0),
      (3L, 2L, 0L, 0.0),
      (4L, 0L, 0L, 0.0),
      (5L, 2L, 2L, 1.0)))
  }

  test("tokenChunks: stride offsets, last chunk reaches the end, edge docs") {
    val docs = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // 4 chunks
      (2L, "a b c"),                                  // n < width -> 1 chunk
      (3L, ""),                                       // empty -> none
      (4L, "p q r s")).toDF("doc_id", "text")         // n == width -> 1 chunk
    val got = docs
      .select(col("doc_id"), posexplode(TextAnalysis.tokenChunks(col("text"), 4, 2)))
      .as[(Long, Int, String)].collect().toSeq.sorted
    assert(got == Seq(
      (1L, 0, "w1 w2 w3 w4"), (1L, 1, "w3 w4 w5 w6"),
      (1L, 2, "w5 w6 w7 w8"), (1L, 3, "w7 w8 w9 w10"),
      (2L, 0, "a b c"), (4L, 0, "p q r s")))
  }

  test("vocabCoverage: exact counts against a hand-built vocabulary") {
    val docs = Seq(
      (1L, "the cat sat on the mat"), // the x2 in vocab
      (2L, "dog dog dog zebra"),      // dog x3 in vocab
      (3L, "")).toDF("doc_id", "text")
    // corpus freq: dog 3, the 2, rest 1 -> top-2 vocab = {dog, the}
    val got = TextAnalysis.vocabCoverage(docs, 2)
      .orderBy("doc_id").as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 6L, 2L, 4L), (2L, 4L, 3L, 1L), (3L, 0L, 0L, 0L)))
  }

  test("mixtureSample: binding source kept whole, others thinned to the target mix") {
    val df = (0L until 3000L).map(i => (i, s"s${i % 4}")).toDF("doc_id", "source")
    val out = Sampling.mixtureSample(df, "source", "doc_id",
      Map("s0" -> 0.6, "s1" -> 0.2, "s2" -> 0.1)) // s3 unweighted -> dropped
    val by = out.groupBy("source").count().as[(String, Long)].collect().toMap
    // 750 rows/source; T = min(750/0.6, 750/0.2, 750/0.1) = 1250 -> s0 is
    // binding (rate 1.0); target counts w*T: s1 = 250, s2 = 125
    // (md5-uniform sampling, ~4 sigma bounds)
    assert(by("s0") == 750L)
    assert(math.abs(by("s1") - 250.0) < 55, s"s1=${by("s1")}")
    assert(math.abs(by("s2") - 125.0) < 42, s"s2=${by("s2")}")
    assert(!by.contains("s3"))
    // membership is a pure function of the id: partitioning-invariant
    val again = Sampling.mixtureSample(df.repartition(7), "source", "doc_id",
      Map("s0" -> 0.6, "s1" -> 0.2, "s2" -> 0.1))
      .select("doc_id").as[Long].collect().toSet
    assert(again == out.select("doc_id").as[Long].collect().toSet)
  }

  test("radius join: grid-bucketed == naive theta join, boundary pairs included") {
    import graft.operators.Geo
    val rnd = new scala.util.Random(17)
    val pts = (Seq.tabulate(400)(i =>
      (i.toLong, rnd.nextDouble() * 50, rnd.nextDouble() * 50)) ++
      // exact-boundary pair (distance exactly r) and a cross-cell pair
      Seq((900L, 10.0, 10.0), (901L, 13.0, 14.0), // dist 5 == r
        (902L, 0.999, 0.999), (903L, 1.001, 1.001)))
      .toDF("id", "x", "y").repartition(7)
    for (r <- Seq(2.0, 5.0)) {
      val fast = Geo.radiusSelfJoin(pts, "id", "x", "y", r)
        .select("a_id", "b_id").as[(Long, Long)].collect().toSet
      val naive = Oracles.radiusSelfJoinNaive(pts, "id", "x", "y", r)
        .select("a_id", "b_id").as[(Long, Long)].collect().toSet
      assert(fast == naive, s"r=$r mismatch")
      assert(fast.contains((902L, 903L)), "cross-cell near pair missed")
    }
    assert(Geo.radiusSelfJoin(pts, "id", "x", "y", 5.0)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
      .contains((900L, 901L)), "inclusive boundary pair (dist == r) missed")
  }

  test("skyline: two-phase == naive anti-join; ties kept; nulls dropped") {
    import graft.operators.Skyline
    val rnd = new scala.util.Random(13)
    val rows = Seq.tabulate(500)(i =>
      (i.toLong, rnd.nextInt(100), math.floor(rnd.nextDouble() * 1000) / 10)) ++
      Seq((900L, 100, 0.0), (901L, 100, 0.0)) // mutually non-dominating tie pair
    val df = rows.toDF("id", "size", "price").repartition(11)
    val dims = Seq(("price", true), ("size", false))
    val fast = Skyline.skyline(df, dims).select("id").as[Long].collect().toSet
    val naive = Oracles.skylineNaive(df, dims).select("id").as[Long].collect().toSet
    assert(fast == naive)
    assert(fast.contains(900L) && fast.contains(901L)) // equal points both survive
    // a null in a skyline dimension drops the row, never poisons dominance
    val withNull = df.union(Seq((999L, null.asInstanceOf[Integer], 0.0))
      .toDF("id", "size", "price"))
    val fast2 = Skyline.skyline(withNull, dims).select("id").as[Long].collect().toSet
    assert(fast2 == fast)
    // a NaN dimension likewise drops the row in ALL THREE formulations
    // (NaN compares false both ways, so an unfiltered NaN row would sit
    // in every front forever and diverge from the naive na.drop path)
    val withNaN = df.union(Seq((998L, 100, Double.NaN)).toDF("id", "size", "price"))
    val fastN = Skyline.skyline(withNaN, dims).select("id").as[Long].collect().toSet
    val naiveN = Oracles.skylineNaive(withNaN, dims).select("id").as[Long].collect().toSet
    assert(fastN == fast && naiveN == fast, "NaN row must be dropped, not kept forever")
    val execN = Skyline.skylineExec(withNaN, dims).select("id").as[Long].collect().toSet
    assert(execN == fast, "SkylineExec must drop NaN rows like the other forms")
    // every non-skyline row is dominated by some skyline row
    val sky = rows.filter(r => fast.contains(r._1))
    rows.filterNot(r => fast.contains(r._1)).foreach { a =>
      assert(sky.exists(b => b._3 <= a._3 && b._2 >= a._2 &&
        (b._3 < a._3 || b._2 > a._2)), s"row $a not dominated")
    }
  }

  test("skylineExec: custom logical node plans to SkylineExec, matches the RDD form") {
    import graft.operators.Skyline
    val rnd = new scala.util.Random(23)
    val df = Seq.tabulate(300)(i =>
      (i.toLong, rnd.nextInt(50), math.floor(rnd.nextDouble() * 500) / 10))
      .toDF("id", "size", "price").repartition(9)
    val dims = Seq(("price", true), ("size", false))
    val execDf = Skyline.skylineExec(df, dims)
    // physical nodes print without the Exec suffix
    val plan = execDf.queryExecution.executedPlan.toString
    assert(plan.contains("Skyline ["), s"expected the Skyline physical node in:\n$plan")
    val got = execDf.select("id").as[Long].collect().toSet
    val expected = Skyline.skyline(df, dims).select("id").as[Long].collect().toSet
    assert(got == expected)
    // physical output is a single partition — downstream ops see that
    assert(execDf.rdd.getNumPartitions == 1)
  }

  test("bpeTrain: hand-computed merges, frequency weighting, deterministic ties") {
    // words: "aa" x3 -> [a,a]; "ab" x2 -> [a,b]
    val docs = Seq((1L, "aa ab aa"), (2L, "ab aa")).toDF("doc_id", "text")
    val merges = TextAnalysis.bpeTrain(docs, numMerges = 5)
      .as[(Int, String, String, Long)].collect().toSeq
    // merge 1: (a,a) freq 3; then "aa" is one symbol, leaving (a,b) freq 2;
    // then no pairs remain -> early stop despite numMerges = 5
    assert(merges == Seq((1, "a", "a", 3L), (2, "a", "b", 2L)))
    // ties break lexicographically -> deterministic under any partitioning
    val tied = Seq((1L, "dc dc"), (2L, "ab ab")).toDF("doc_id", "text")
    val m2 = TextAnalysis.bpeTrain(tied.repartition(5), 2)
      .as[(Int, String, String, Long)].collect().toSeq
    assert(m2 == Seq((1, "a", "b", 2L), (2, "d", "c", 2L)))
  }

  test("bpeTrain: maxVocab fail-fast names the contract; minFreq prunes distributed") {
    // 4 distinct words > maxVocab = 3 → the dictionary collect must fail
    // fast NAMING the bound and the distributed lever (minFreq), never
    // silently train on a truncated dictionary
    val docs = Seq((1L, "aa ab ba bb aa")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.bpeTrain(docs, numMerges = 2, maxVocab = 3)
    }
    assert(e.getMessage.contains("maxVocab") && e.getMessage.contains("minFreq"),
      s"fail-fast must name the contract and the lever: ${e.getMessage}")
    // minFreq = 2 prunes the hapax words (ab, ba, bb each f=1) BEFORE the
    // collect: the same corpus now fits maxVocab = 3 and trains only on
    // "aa" (f=2) → the single merge (a,a) with pair count 2
    val m = TextAnalysis.bpeTrain(docs, numMerges = 5, minFreq = 2, maxVocab = 3)
      .as[(Int, String, String, Long)].collect().toSeq
    assert(m == Seq((1, "a", "a", 2L)))
  }

  test("bpe encode: closure with training — learned merges reproduce trainer segmentation") {
    val docs = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val merges = TextAnalysis.bpeTrain(docs, numMerges = 16)
      .orderBy("rank").as[(Int, String, String, Long)].collect()
      .map(m => (m._2, m._3)).toSeq
    assert(merges.size == 16)
    // re-run the trainer's dictionary merge loop independently and
    // compare against the expression's greedy encode per distinct word
    val words = docs
      .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
      .distinct().as[String].collect().toSeq
    val enc = words.toDF("w")
      .select(col("w"), graft.functions.BpeEncode.encode(array(col("w")), merges).as("syms"))
      .as[(String, Seq[String])].collect().toMap
    // applying merges in rank order (the trainer's order) to each word
    words.foreach { w =>
      var syms = w.toCharArray.map(_.toString).toSeq
      merges.foreach { case (l, r) =>
        val next = scala.collection.mutable.ArrayBuffer.empty[String]
        var i = 0
        while (i < syms.length) {
          if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
            next += (l + r); i += 2
          } else { next += syms(i); i += 1 }
        }
        syms = next.toSeq
      }
      assert(enc(w) == syms, s"word '$w': encode ${enc(w)} != trainer-order $syms")
      // reassembling subwords restores the word exactly (losslessness)
      assert(enc(w).mkString == w)
    }
  }

  test("zscoreFlags: exact integer test flags outliers, skips constant groups") {
    import graft.operators.Anomaly
    val rows = Seq.tabulate(100)(i => (i.toLong, "g", 10.0 + (i % 3) * 0.02)) ++
      Seq((900L, "g", 500.0),          // blatant outlier
        (901L, "const", 5.0), (902L, "const", 5.0), (903L, "const", 5.0),
        (904L, "solo", 99.0))          // n = 1: never flagged
    val df = rows.toDF("id", "grp", "value").repartition(7)
    val flagged = Anomaly.zscoreFlags(df, "grp", "value")
      .filter(col("is_anomaly")).select("id").as[Long].collect().toSet
    assert(flagged == Set(900L), s"got $flagged")
    // deterministic under partitioning (the whole point of integer math)
    val again = Anomaly.zscoreFlags(df.repartition(31), "grp", "value")
      .filter(col("is_anomaly")).select("id").as[Long].collect().toSet
    assert(again == flagged)
    // agrees with the float z-score on a clearly-separated case
    val vals = rows.filter(_._2 == "g").map(r => math.floor(r._3 * 100))
    val mu = vals.sum / vals.size
    val sigma = math.sqrt(vals.map(x => (x - mu) * (x - mu)).sum / vals.size)
    assert(math.abs(math.floor(500.0 * 100) - mu) > 3 * sigma)
    // null-key and null-value rows are PRESERVED with definite flags: a
    // null key is a group like any other (null-safe join), a null value
    // flags false (it contributes nothing to its group's sums)
    val withNulls = df.union(Seq[(java.lang.Long, String, java.lang.Double)](
      (905L, null, 7.0), (906L, "g", null), (907L, null, 8.0))
      .toDF("id", "grp", "value"))
    val out = Anomaly.zscoreFlags(withNulls, "grp", "value")
    assert(out.count() == withNulls.count(), "no input row may be dropped")
    assert(out.filter(col("is_anomaly").isNull).count() == 0, "flags must be definite")
    assert(out.filter(col("id").isin(905L, 906L, 907L) && col("is_anomaly"))
      .count() == 0, "null-key/null-value rows must flag false here")
    assert(out.filter(col("is_anomaly")).select("id").as[Long].collect().toSet
      == Set(900L), "null rows must not perturb existing flags")
  }

  test("bigramLm: hand-computed fixed-point scores and cross-entropy") {
    val docs = Seq(
      (1L, "a b a b"), // bigrams: "a b", "b a", "a b"
      (2L, "a b"),
      (3L, "x"),       // one token -> no bigrams
      (4L, "")).toDF("doc_id", "text")
    // corpus: c1(a)=3, c1(b)=3, c1(x)=1; c2("a b")=3, c2("b a")=1
    val got = TextAnalysis.bigramLm(docs).orderBy("doc_id")
      .as[(Long, Long, Option[Long], Option[Double])].collect().toSeq
    // doc1: p x1e6 = (1e6*3/3, 1e6*1/3, 1e6*3/3) = (1000000, 333333, 1000000)
    //   mean = 2333333 DIV 3 = 777777; xent = ln(3)/3
    assert(got(0) == ((1L, 3L, Some(777777L), got(0)._4)))
    assert(math.abs(got(0)._4.get - math.log(3.0) / 3) < 1e-12)
    assert(got(1) == ((2L, 1L, Some(1000000L), Some(0.0))))
    assert(got(2) == ((3L, 0L, None, None)))
    assert(got(3) == ((4L, 0L, None, None)))
  }

  test("collocations: hand-computed integer lift, minCount prune, top-k tie order") {
    val docs = Seq(
      (1L, "a b a b a c"),   // pairs: (a b)(b a)(a b)(b a)(a c)
      (2L, "c z c z"),       // pairs: (c z)(z c)(c z)
      (3L, "b a b"),         // pairs: (b a)(a b)
      (4L, "")).toDF("doc_id", "text")
    // bigram totals: ab=3, ba=3, ac=1, cz=2, zc=1
    // unigrams: a=4, b=4, c=3, z=2 → T = 13
    val uni = Map("a" -> 4L, "b" -> 4L, "c" -> 3L, "z" -> 2L)
    val T = uni.values.sum // 13
    val counts = Map(("a", "b") -> 3L, ("b", "a") -> 3L, ("a", "c") -> 1L,
      ("c", "z") -> 2L, ("z", "c") -> 1L)
    def lift(w1: String, w2: String): Long =
      (BigInt(counts((w1, w2))) * T * 1000000L / (BigInt(uni(w1)) * uni(w2))).toLong
    val got = TextAnalysis.collocations(docs, minCount = 2, topK = 3)
      .as[(String, Long, Long)].collect().toSeq
    // minCount=2 keeps ab(3), ba(3), cz(2); lifts: ab = 3·13e6/16,
    // ba same, cz = 2·13e6/6 — cz ranks first, then "a b" before "b a"
    val expect = Seq(
      ("c z", 2L, lift("c", "z")),
      ("a b", 3L, lift("a", "b")),
      ("b a", 3L, lift("b", "a")))
    assert(got == expect, s"got $got expect $expect")
    assert(got.head._3 == 2L * 13L * 1000000L / 6L)
    // partitioning invariance (integer arithmetic end to end)
    val got2 = TextAnalysis.collocations(docs.repartition(5), minCount = 2, topK = 3)
      .as[(String, Long, Long)].collect().toSeq
    assert(got2 == expect)
  }

  test("fuzzyJoin: blocked match within threshold, prefilter keeps true pairs") {
    import graft.operators.EntityResolution
    val master = Seq(
      (1L, "alpha-001"), (2L, "beta-001"), (3L, "alpha-002"))
      .toDF("m_key", "m_name")
      .withColumn("blk", EntityResolution.suffixBlock(col("m_name"), 3))
    val probe = Seq(
      (10L, "alph-001"), // deletion of 'a': lev 1 to alpha-001, 4 to beta-001
      (11L, "ala-002"))  // two deletions: lev 2 to alpha-002 (len gap 2 also
      .toDF("d_key", "d_name") // exercises the length prefilter at maxDist 1)
      .withColumn("blk", EntityResolution.suffixBlock(col("d_name"), 3))
    val got1 = EntityResolution.fuzzyJoin(probe, master, "blk", "d_name", "m_name", 1)
      .select("d_key", "m_key", "lev").as[(Long, Long, Int)].collect().toSet
    assert(got1 == Set((10L, 1L, 1)))
    // widening the threshold admits the 2-edit pair
    val got2 = EntityResolution.fuzzyJoin(probe, master, "blk", "d_name", "m_name", 2)
      .select("d_key", "m_key", "lev").as[(Long, Long, Int)].collect().toSet
    assert(got2 == Set((10L, 1L, 1), (11L, 3L, 2)))
    // exact duplicates survive at maxDist 0
    val got0 = EntityResolution.fuzzyJoin(
      master.select(col("m_key").as("d_key"), col("m_name").as("d_name"), col("blk")),
      master, "blk", "d_name", "m_name", 0)
      .select("d_key", "m_key", "lev").as[(Long, Long, Int)].collect().toSet
    assert(got0 == Set((1L, 1L, 0), (2L, 2L, 0), (3L, 3L, 0)))
  }

  test("deterministicShuffle: a permutation, equal to the global-sort rank") {
    val df = (0L until 500L).toDF("id")
    val got = Sampling.deterministicShuffle(df, "id", numPartitions = 8)
      .select("id", "shuffle_pos")
    val rows = got.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // positions are exactly 0..n-1 (a permutation, no gaps or dupes)
    assert(rows.map(_._2).sorted == (0L until 500L))
    // and equal to row_number over a plain global sort of the same key
    val expect = df
      .withColumn("k", Sampling.hashValue(col("id"), "graft"))
      .orderBy("k", "id").collect().map(_.getLong(0))
      .zipWithIndex.map { case (id, i) => (id, i.toLong) }.toSet
    assert(rows.toSet == expect)
  }

  test("tokenHash: hand-computed polynomial values, unicode codepoints, 8-char prefix cap") {
    def expected(tok: String): Long =
      tok.take(8).zipWithIndex.map { case (c, i) =>
        c.toLong * math.pow(31, i).toLong }.sum
    // "" is the fold's zero element, NOT a spurious sequence(1,0)
    // descent — the in-hash guard, so direct callers need no pre-filter
    val toks = Seq("ab", "cd", "é", "abcdefghij", "abcdefgh", "z", "")
    val got = toks.toDF("t")
      .select(TextAnalysis.tokenHash(col("t")).as("h"))
      .as[Long].collect().toSeq
    assert(got == toks.map(expected))
    // the prefix cap: 10-char and 8-char tokens sharing a prefix collide
    assert(expected("abcdefghij") == expected("abcdefgh"))
  }

  test("hashedFeatureRows: collision folds counts, sign from higher bits, empty text empty") {
    // h(ab) = 97 + 98*31 = 3135 -> dim 63, sign +1 (3135 DIV 64 = 48, even)
    // h(cd) = 99 + 100*31 = 3199 -> dim 63, sign -1 (49, odd): a real
    // mod-64 collision with opposite signs, the hashing-trick cancellation
    val docs = Seq((1L, "ab ab cd"), (2L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.hashedFeatureRows(docs, "doc_id", "text", dims = 64)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq((1L, 63L, 3L, 1L)))
    val shuffled = TextAnalysis.hashedFeatureRows(
        docs.repartition(4), "doc_id", "text", dims = 64)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(shuffled == out)
  }

  test("deterministicShuffle: invariant under repartitioning and parts count") {
    val df = (0L until 300L).toDF("id")
    val a = Sampling.deterministicShuffle(df, "id", numPartitions = 4)
      .select("id", "shuffle_pos").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = Sampling.deterministicShuffle(df.repartition(13), "id", numPartitions = 9)
      .select("id", "shuffle_pos").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b)
  }

  test("ppsSystematic: hand-computed draw with multiplicity, count identity, invariance, fail-fasts") {
    import spark.implicits._
    // weights [3, 1, 6], W = 10, k = 5 → step = 2, offset = 1: skip
    // points 1,3,5,7,9. Unit a covers (0,3] → points {1,3} → 2 copies;
    // b covers (3,4] → none; c covers (4,10] → {5,7,9} → 3 copies.
    val df = Seq((1L, 3L), (2L, 1L), (3L, 6L)).toDF("id", "w")
    val got = Sampling.ppsSystematic(df, "id", "w", k = 5)
      .orderBy("id").as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 3L, 3L, 2L), (3L, 6L, 10L, 3L)), s"$got")
    graft.operators.Materialize.sweep()
    // the draw-count identity on random weights: Σ copies ==
    // (W − offset) DIV step + 1 exactly; and the sample is invariant
    // to input partitioning
    val rnd = new scala.util.Random(3)
    val big = Seq.tabulate(500)(i => (i.toLong, (1 + rnd.nextInt(40)).toLong))
    val W = big.map(_._2).sum
    val step = W / 37
    val a = Sampling.ppsSystematic(big.toDF("id", "w"), "id", "w", k = 37)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(a.map(_._4).sum == (W - 1) / step + 1,
      s"draw count ${a.map(_._4).sum} != ${(W - 1) / step + 1}")
    graft.operators.Materialize.sweep()
    val b2 = Sampling.ppsSystematic(big.toDF("id", "w").repartition(11),
        "id", "w", k = 37)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(b2 == a, "partitioning must not move the drawn sample")
    graft.operators.Materialize.sweep()
    // PPS property: a unit spanning more than one step is ALWAYS drawn
    a.foreach { case (_, w, _, c) =>
      assert(c >= w / step, s"unit weight $w drew $c < ${w / step}") }
    // fail-fasts: zero weight, W < k, oversized offset
    val zero = Seq((1L, 0L), (2L, 5L)).toDF("id", "w")
    val e1 = intercept[Exception](
      Sampling.ppsSystematic(zero, "id", "w", k = 2).collect())
    assert(e1.getMessage.contains("positive integer"))
    graft.operators.Materialize.sweep()
    val tiny = Seq((1L, 1L), (2L, 1L)).toDF("id", "w")
    val e2 = intercept[Exception](
      Sampling.ppsSystematic(tiny, "id", "w", k = 5).collect())
    assert(e2.getMessage.contains("step would be 0"))
    graft.operators.Materialize.sweep()
    val e3 = intercept[Exception](
      Sampling.ppsSystematic(df, "id", "w", k = 5, offset = 99L).collect())
    assert(e3.getMessage.contains("offset"))
    graft.operators.Materialize.sweep()
  }
}
