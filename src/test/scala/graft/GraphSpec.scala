package graft

import graft.operators.Graph
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Degree-oriented triangle counting vs brute-force enumeration. */
class GraphSpec extends AnyFunSuite with SparkSpec {

  import spark.implicits._

  private def bruteTriangles(edges: Seq[(Long, Long)]): Long = {
    val set = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter(e => e._1 != e._2).toSet
    val verts = set.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    (for {
      i <- verts.indices; j <- (i + 1) until verts.size; k <- (j + 1) until verts.size
      a = verts(i); b = verts(j); c = verts(k)
      if set((a, b)) && set((b, c)) && set((a, c))
    } yield 1).size.toLong
  }

  test("known shapes: triangle, square, K4, disconnected") {
    // one triangle + one square (0 triangles) + K4 (4 triangles)
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 1L),                       // triangle
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 10L),     // square
      (20L, 21L), (20L, 22L), (20L, 23L), (21L, 22L), (21L, 23L), (22L, 23L)) // K4
    val got = Graph.triangleCount(edges.toDF("u", "v"), "u", "v")
      .collect().head.getLong(0)
    assert(got == 5L)
  }

  test("random graph matches brute force; duplicates/reversed/loops ignored") {
    val rnd = new scala.util.Random(13)
    val edges = Seq.fill(400)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
    // feed unclean input: loops, duplicates, both orientations
    val dirty = edges ++ edges.map(_.swap) ++ Seq((5L, 5L), (7L, 7L))
    val got = Graph.triangleCount(dirty.toDF("u", "v"), "u", "v")
      .collect().head.getLong(0)
    assert(got == bruteTriangles(edges))
  }

  test("star graph (max skew): zero triangles, wedges stay linear") {
    // 1 hub connected to 1000 leaves: naive wedge count would be ~10^6/2
    // from the hub; orientation gives the hub the HIGHEST (deg,id) rank,
    // so all edges point INTO it and it generates zero wedges.
    val star = (1L to 1000L).map(i => (0L, i))
    val got = Graph.triangleCount(star.toDF("u", "v"), "u", "v")
      .collect().head.getLong(0)
    assert(got == 0L)
  }

  test("triangleCount: packed-key pinned path equals the two-column path (r17)") {
    // materializeOriented = true + ids under 2^32 takes the packed
    // (a << 32 | c) semi join; both paths must count identically
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(300)((rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
    val df = edges.toDF("u", "v")
    val unpacked = Graph.triangleCount(df, "u", "v").collect().head.getLong(0)
    val packed = Graph.triangleCount(df, "u", "v", materializeOriented = true)
      .collect().head.getLong(0)
    assert(packed == unpacked && unpacked == bruteTriangles(edges))
  }

  test("triangleCount: wide and negative ids take the guarded fallback, count still exact") {
    // ids past 2^32 (and negatives) cannot pack — the pinned path must
    // fall back to the two-column join, never a wrong count
    val base = Seq((1L, 2L), (2L, 3L), (3L, 1L)) // one triangle
    val wide = base.map { case (a, b) => (a + (1L << 40), b + (1L << 40)) }
    assert(Graph.triangleCount(wide.toDF("u", "v"), "u", "v",
      materializeOriented = true).collect().head.getLong(0) == 1L)
    val neg = base.map { case (a, b) => (-a, -b) }
    assert(Graph.triangleCount(neg.toDF("u", "v"), "u", "v",
      materializeOriented = true).collect().head.getLong(0) == 1L)
  }

  test("basketSets + basketPairs: raw fact rows equal the pre-distincted formulation") {
    // collect_set dedups, so feeding duplicated (group, item) rows must
    // yield identical pairs to distinct()-first (the mba/graph1 rewrite)
    val rows = Seq((1L, 10L), (1L, 11L), (1L, 10L), (1L, 12L),
      (2L, 10L), (2L, 11L), (2L, 11L), (3L, 13L)).toDF("g", "item")
    val viaRaw = Graph.cooccurrencePairs(rows, "g", "item")
      .orderBy("pa", "pb").as[(Long, Long)].collect().toSeq
    val viaDistinct = Graph.cooccurrencePairs(rows.distinct(), "g", "item")
      .orderBy("pa", "pb").as[(Long, Long)].collect().toSeq
    assert(viaRaw == viaDistinct)
    assert(viaRaw == Seq((10L, 11L), (10L, 11L), (10L, 12L), (11L, 12L)).sorted)
    // the split entry points compose to the same thing
    val bk = Graph.basketSets(rows, "g", "item")
    assert(bk.orderBy("g").select("basket").as[Seq[Long]].collect().toSeq ==
      Seq(Seq(10L, 11L, 12L), Seq(10L, 11L), Seq(13L)))
    assert(Graph.basketPairs(bk, "basket")
      .orderBy("pa", "pb").as[(Long, Long)].collect().toSeq == viaRaw)
  }

  test("basketPairs: a basket column named like a lambda variable gives the same pairs") {
    val bk = Graph.basketSets(Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 10L),
      (2L, 13L), (3L, 14L)).toDF("g", "item"), "g", "item")
    def pairs(name: String): Seq[(Long, Long)] =
      Graph.basketPairs(bk.withColumnRenamed("basket", name), name)
        .orderBy("pa", "pb").as[(Long, Long)].collect().toSeq
    val expected = Seq((10L, 11L), (10L, 12L), (10L, 13L), (11L, 12L))
    assert(pairs("basket") == expected)
    // `x` and `i` are the names a hand-written SQL lambda would bind; a
    // name with a space must be quoted in SQL text
    for (name <- Seq("x", "i", "my basket"))
      assert(pairs(name) == expected, s"basket column '$name'")
  }

  test("cooccurrencePairs equals the self-join formulation") {
    val rnd = new scala.util.Random(17)
    val rows = Seq.fill(600)((rnd.nextInt(80).toLong, rnd.nextInt(25).toLong))
      .distinct.toDF("g", "item")
    val viaBasket = Graph.cooccurrencePairs(rows, "g", "item")
      .groupBy("pa", "pb").count()
      .orderBy("pa", "pb").collect().toSeq
    val viaJoin = rows.as("a").join(rows.as("b"),
        col("a.g") === col("b.g") && col("a.item") < col("b.item"))
      .groupBy(col("a.item").as("pa"), col("b.item").as("pb")).count()
      .orderBy("pa", "pb").collect().toSeq
    assert(viaBasket == viaJoin)
  }

  test("empty and edgeless inputs count zero") {
    val got = Graph.triangleCount(Seq((1L, 1L)).toDF("u", "v"), "u", "v")
      .collect().head.getLong(0)
    assert(got == 0L)
  }

  test("pageRank: 3-cycle is stationary at scale div n") {
    // a→b→c→a: every vertex has outdeg 1, no dangling mass, so
    // r' = (15·base + 85·base) div 100 = base forever
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("s", "d")
    val got = Graph.pageRank(edges, "s", "d", iterations = 4)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 333333333L), (2L, 333333333L), (3L, 333333333L)))
  }

  test("pageRank: star with dangling leaves, hand-computed one iteration") {
    // a→b, a→c; b and c are dangling. n=3, base=333333333.
    // contrib to b and c = 333333333 div 2 = 166666666
    // dangling = 2·333333333 = 666666666; share = div 3 = 222222222
    // r(a) = (15·333333333 + 85·222222222) div 100 = 238888888
    // r(b) = r(c) = (15·333333333 + 85·(166666666+222222222)) div 100
    //             = 380555554
    val edges = Seq((1L, 2L), (1L, 3L)).toDF("s", "d")
    val got = Graph.pageRank(edges, "s", "d", iterations = 1)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 238888888L), (2L, 380555554L), (3L, 380555554L)))
  }

  test("pageRank: exact result invariant under input partitioning") {
    val rnd = new scala.util.Random(29)
    val edges = Seq.fill(500)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter(e => e._1 != e._2).toDF("s", "d")
    val a = Graph.pageRank(edges, "s", "d", iterations = 3)
      .orderBy("id").collect().toSeq
    val b = Graph.pageRank(edges.repartition(7), "s", "d", iterations = 3)
      .orderBy("id").collect().toSeq
    assert(a == b)
  }

  test("kCore: clique survives, tails and bridges prune; extra rounds are a no-op at fixpoint") {
    import spark.implicits._
    // K4 on {1,2,3,4} + a chain 4-5-6 + a pendant 7 off the clique
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L), (1L, 7L)
    ).toDF("src", "dst")
    val core = Graph.kCore(edges, "src", "dst", k = 3, rounds = 5)
      .orderBy("id").as[(Long, Long, Boolean)].collect().toSeq
    // only the K4 survives; inside it every degree is exactly 3, and the
    // prune has provably converged (every survivor >= k)
    assert(core == Seq((1L, 3L, true), (2L, 3L, true), (3L, 3L, true), (4L, 3L, true)))
    // fixpoint: more rounds change nothing on this graph
    val more = Graph.kCore(edges, "src", "dst", k = 3, rounds = 8)
      .orderBy("id").as[(Long, Long, Boolean)].collect().toSeq
    assert(more == core)
    // k = 2: the 5-6 chain still prunes (degree 1 endpoints cascade)
    val k2 = Graph.kCore(edges, "src", "dst", k = 2, rounds = 5)
      .orderBy("id").as[(Long, Long, Boolean)].collect().toSeq
    assert(k2.map(_._1) == Seq(1L, 2L, 3L, 4L))
  }

  test("kCore: a prune cut short of fixpoint reports converged = false, not a silent wrong core") {
    import spark.implicits._
    // A 10-vertex path needs 8 rounds to fully dissolve at k = 2: each
    // round only peels the two current endpoints. rounds = 1 leaves
    // degree-1 endpoints in the survivor set — converged must read false
    // on every row.
    val chain = (1L to 9L).map(i => (i, i + 1)).toDF("src", "dst")
    val cut = Graph.kCore(chain, "src", "dst", k = 2, rounds = 1)
      .as[(Long, Long, Boolean)].collect().toSeq
    assert(cut.nonEmpty && cut.forall(!_._3),
      s"one-round prune of a chain must be flagged unconverged: $cut")
    // run to the true fixpoint: everything dissolves — empty output is
    // the (vacuously converged) answer, not a flagged one
    val full = Graph.kCore(chain, "src", "dst", k = 2, rounds = 8).collect()
    assert(full.isEmpty)
  }

  test("pageRank: materializeEvery is semantics-neutral — bit-identical ranks at 6 iterations") {
    val rnd = new scala.util.Random(31)
    val edges = Seq.fill(400)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter(e => e._1 != e._2).toDF("s", "d")
    val plain = Graph.pageRank(edges, "s", "d", iterations = 6)
      .orderBy("id").collect().toSeq
    val pinned = Graph.pageRank(edges, "s", "d", iterations = 6,
        materializeEvery = 2)
      .orderBy("id").collect().toSeq
    assert(plain == pinned,
      "per-N materialization must not move a single fixed-point rank")
  }

  private def bruteBfs(edges: Seq[(Long, Long)], sources: Set[Long],
      maxHops: Int): Map[Long, Long] = {
    val adj = edges.distinct.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var dist = sources.map(_ -> 0L).toMap
    var frontier = sources
    for (h <- 1 to maxHops) {
      frontier = frontier.flatMap(u => adj.getOrElse(u, Nil))
        .filterNot(dist.contains)
      dist = dist ++ frontier.map(_ -> h.toLong)
    }
    dist
  }

  test("bfsHops: chain, cycle, and directedness hand cases") {
    // chain 1→2→3→4→5, cycle 10→11→12→10, reverse edge 3→2 irrelevant
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (3L, 2L),
      (10L, 11L), (11L, 12L), (12L, 10L)).toDF("s", "d")
    val seeds = Seq(1L, 10L).toDF("id")
    val got = Graph.bfsHops(edges, "s", "d", seeds, "id", maxHops = 3)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L,
      10L -> 0L, 11L -> 1L, 12L -> 2L),
      s"hand-computed hop counts differ: $got")
    // node 5 is 4 hops out — beyond the bound, absent
    assert(!got.contains(5L))
  }

  test("bfsHops: random graph matches brute force and is partition-invariant") {
    val rnd = new scala.util.Random(47)
    val edges = Seq.fill(500)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter(e => e._1 != e._2)
    val sources = Set(0L, 17L, 34L)
    val want = bruteBfs(edges, sources, maxHops = 4)
    for (parts <- Seq(1, 7)) {
      val df = edges.toDF("s", "d").repartition(parts)
      val got = Graph.bfsHops(df, "s", "d", sources.toSeq.toDF("id"), "id", 4)
        .as[(Long, Long)].collect().toMap
      assert(got == want, s"parts=$parts: BFS disagrees with brute force")
    }
  }

  test("bfsHops: maxHops = 0 returns exactly the source set") {
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("s", "d")
    val got = Graph.bfsHops(edges, "s", "d", Seq(1L, 9L).toDF("id"), "id", 0)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 9L -> 0L))
  }

  test("pageRankKeyed: string vertices get bit-identical ranks to the long fast path") {
    // same topology twice: long ids vs a bijective string relabeling —
    // the fixed-point arithmetic must not care what the key type is
    val raw = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L), (4L, 1L))
    val longs = Graph.pageRank(raw.toDF("s", "d"), "s", "d", iterations = 4)
      .as[(Long, Long)].collect().toMap
    val strs = Graph.pageRankKeyed(
        raw.map { case (a, b) => (s"n$a", s"n$b") }.toDF("s", "d"),
        "s", "d", iterations = 4)
      .as[(String, Long)].collect().toMap
    assert(strs == longs.map { case (k, v) => (s"n$k", v) })
  }
}
