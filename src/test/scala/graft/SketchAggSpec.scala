package graft

import graft.functions.{HeavyHittersFunctions, TDigestAgg, TDigestFunctions}
import org.apache.spark.sql.functions._

/** Mergeable sketch aggregates: t-digest quantiles and Misra-Gries heavy
  * hitters — error bounds vs exact computation, partitioning robustness,
  * and the MG presence guarantee under adversarial skew.
  */
class SketchAggSpec extends SparkSpec {

  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  test("t-digest quantiles track exact percentiles within 1% rank error") {
    val events = graft.sources.Tables.load(spark, sfDir, "events")
    val exact = events.agg(
      expr("percentile(value, 0.5)"), expr("percentile(value, 0.9)"),
      expr("percentile(value, 0.99)")).head()
    val approx = events.agg(TDigestFunctions.tdigest_quantiles(
      col("value"), Seq(0.5, 0.9, 0.99)).as("q")).head().getSeq[Double](0)
    // values are a continuous-ish distribution: compare by value with a
    // tolerance derived from the local spread
    val spread = events.agg(max(col("value")) - min(col("value"))).head().getDouble(0)
    Seq(0, 1, 2).foreach { i =>
      val e = exact.getDouble(i)
      assert(math.abs(approx(i) - e) < spread * 0.01,
        s"p index $i: approx=${approx(i)} exact=$e spread=$spread")
    }
  }

  test("t-digest is robust to partitioning (merge path) and bounds its size") {
    val events = graft.sources.Tables.load(spark, sfDir, "events")
    val a = events.agg(TDigestFunctions.tdigest_quantiles(col("value"), Seq(0.9)))
      .head().getSeq[Double](0).head
    val b = events.repartition(29).agg(
      TDigestFunctions.tdigest_quantiles(col("value"), Seq(0.9)))
      .head().getSeq[Double](0).head
    val exact = events.agg(expr("percentile(value, 0.9)")).head().getDouble(0)
    val spread = events.agg(max(col("value")) - min(col("value"))).head().getDouble(0)
    assert(math.abs(a - exact) < spread * 0.01)
    assert(math.abs(b - exact) < spread * 0.01)
    // digest footprint stays O(compression), not O(rows): 10× the input
    // may not even double the centroid count
    val d1 = new TDigestAgg.Digest(100)
    (1 to 20000).foreach(i => d1.add(i.toDouble, 1L))
    val d2 = new TDigestAgg.Digest(100)
    (1 to 200000).foreach(i => d2.add(i.toDouble, 1L))
    assert(d2.centroidCount < 1500, s"centroids=${d2.centroidCount}")
    assert(d2.centroidCount < d1.centroidCount * 2,
      s"10x rows: ${d1.centroidCount} -> ${d2.centroidCount}")
    assert(d2.totalWeight == 200000L)
  }

  test("t-digest tail quantiles are near-exact on a skewed distribution") {
    // lognormal-ish: heavy right tail, where uniform-rank sketches blur
    val d = new TDigestAgg.Digest(100)
    val rnd = new scala.util.Random(7)
    val xs = Array.fill(100000)(math.exp(rnd.nextGaussian() * 2.0))
    xs.foreach(d.add(_, 1L))
    val sorted = xs.sorted
    Seq(0.99, 0.999).foreach { p =>
      val est = d.quantile(p)
      val lo = sorted(math.max(0, (p * xs.length).toInt - xs.length / 200))
      val hi = sorted(math.min(xs.length - 1, (p * xs.length).toInt + xs.length / 200))
      assert(est >= lo && est <= hi, s"p$p: est=$est window=[$lo,$hi]")
    }
  }

  test("heavy hitters is exact when distinct items fit the summary") {
    val docs = graft.sources.Tables.load(spark, sfDir, "documents")
    val hh = docs.agg(HeavyHittersFunctions.heavy_hitters(col("source"), 64).as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e.item"), col("e.cnt")).as[(String, Long)].collect().toMap
    val exact = docs.groupBy("source").count().as[(String, Long)].collect().toMap
    assert(hh == exact)
  }

  test("heavy hitters: dominant item survives adversarial eviction pressure, estimate is a lower bound") {
    // one item at 30%, the rest singletons — far more distinct values
    // than counters, so decrements fire constantly
    val n = 10000
    val rows = (1 to n).map(i =>
      if (i % 10 < 3) "heavy" else s"unique_$i")
    val df = rows.toDF("item").repartition(13)
    val out = df.agg(HeavyHittersFunctions.heavy_hitters(col("item"), 9).as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e.item"), col("e.cnt")).as[(String, Long)].collect().toMap
    val trueCount = rows.count(_ == "heavy").toLong
    assert(out.contains("heavy"),
      s"item above N/(k+1) must be present; got ${out.keys.toSeq.sorted}")
    assert(out("heavy") <= trueCount, "MG estimates are lower bounds")
    assert(out("heavy") >= trueCount - n / 10, // N/(k+1) = n/10
      s"estimate ${out("heavy")} below the MG error bound of ${trueCount - n / 10}")
    assert(out.size <= 9)
  }

  test("KMV: exact below capacity, bounded error when full, set estimates track truth") {
    import graft.functions.KmvFunctions._
    val n = 20000
    // A = even ids in [0, 20000), B = multiples of 3 — |A∩B| = multiples of 6
    val df = (0 until n).flatMap { i =>
      val tags = (if (i % 2 == 0) Seq("a") else Nil) ++ (if (i % 3 == 0) Seq("b") else Nil)
      tags.map(t => (i.toLong, t))
    }.toDF("id", "tag").repartition(17)
    val k = 512
    val r = df.agg(
      kmv_sketch(when(col("tag") === "a", col("id")), k).as("sa"),
      kmv_sketch(when(col("tag") === "b", col("id")), k).as("sb"))
      .select(
        kmv_distinct(col("sa"), k).as("da"), kmv_distinct(col("sb"), k).as("db"),
        kmv_intersect(col("sa"), col("sb"), k).as("di"),
        kmv_union_distinct(col("sa"), col("sb"), k).as("du"))
      .head()
    val ta = (0 until n).count(_ % 2 == 0).toDouble
    val tb = (0 until n).count(_ % 3 == 0).toDouble
    val ti = (0 until n).count(_ % 6 == 0).toDouble
    val tu = ta2(n)
    // ~3/sqrt(k) ≈ 13% bounds (generous; typical error is ~1/sqrt(k))
    assert(math.abs(r.getDouble(0) - ta) / ta < 0.13, s"da=${r.getDouble(0)} vs $ta")
    assert(math.abs(r.getDouble(1) - tb) / tb < 0.13, s"db=${r.getDouble(1)} vs $tb")
    assert(math.abs(r.getDouble(2) - ti) / ti < 0.25, s"di=${r.getDouble(2)} vs $ti")
    assert(math.abs(r.getDouble(3) - tu) / tu < 0.13, s"du=${r.getDouble(3)} vs $tu")
    // below capacity the sketch is the exact distinct set
    val small = (0 until 100).map(i => i.toLong % 37).toDF("id")
    val exact = small.agg(kmv_distinct(kmv_sketch(col("id"), k), k)).head().getDouble(0)
    assert(exact == 37.0)
    // deterministic: a KMV over a value SET ignores partitioning and duplication
    val s1 = df.agg(kmv_sketch(col("id"), k)).head().getSeq[Long](0)
    val s2 = df.union(df).repartition(3).agg(kmv_sketch(col("id"), k)).head().getSeq[Long](0)
    assert(s1 == s2)
  }

  private def ta2(n: Int): Double = // |A ∪ B| for the planted even/mod-3 sets
    (0 until n).count(i => i % 2 == 0 || i % 3 == 0).toDouble

  test("sketch aggregates are SQL-callable via GraftExtensions") {
    val events = graft.sources.Tables.load(spark, sfDir, "events")
    events.createOrReplaceTempView("ev_sketch")
    val viaSql = spark.sql(
      "SELECT element_at(tdigest_quantile(value, 0.5), 1) AS p50, " +
        "heavy_hitters(event_type, 16) AS hh FROM ev_sketch").head()
    val exact = events.agg(expr("percentile(value, 0.5)")).head().getDouble(0)
    val spread = events.agg(max(col("value")) - min(col("value"))).head().getDouble(0)
    assert(math.abs(viaSql.getDouble(0) - exact) < spread * 0.01)
    val hh = viaSql.getSeq[org.apache.spark.sql.Row](1)
    assert(hh.map(_.getString(0)).toSet ==
      events.select("event_type").distinct().as[String].collect().toSet)
  }
}
