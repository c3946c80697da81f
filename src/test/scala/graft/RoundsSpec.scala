package graft

import graft.operators.Rounds

/** `Rounds.pinned`: the pin, fold, advance and release policy of the
  * RDD-native trainer round loops.
  */
class RoundsSpec extends SparkSpec {

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("pinned: a loop that advances and then throws in its next fold leaves no pin") {
    val before = persisted
    val rows = spark.sparkContext.parallelize(1 to 100, 2).map(_.toDouble)
    var live = Set.empty[Int]
    val e = intercept[Exception] {
      Rounds.pinned(rows, 100) { loop =>
        assert(loop.fold(0.0)(_ + _, _ + _) == 5050.0)
        loop.advance(_ * 2)
        // the first pin is still held: only the next fold frees it
        live = persisted -- before
        loop.fold(0.0)((acc, x) =>
          if (x > 150) throw new IllegalStateException("round failed") else acc + x,
          _ + _)
      }
    }
    assert(e.getMessage.contains("round failed"))
    assert(live.size == 2, s"expected the first and the advanced pin, got $live")
    assert(persisted == before, s"leaked ${persisted -- before}")
  }

  test("pinned: advance frees the previous pin after the next fold; return frees the last") {
    val before = persisted
    val rows = spark.sparkContext.parallelize(1 to 10, 3).map(_.toLong)
    val sums = Rounds.pinned(rows, 10) { loop =>
      val first = loop.fold(0L)(_ + _, _ + _)
      loop.advance(_ + 1)
      loop.advance(_ * 10)
      assert((persisted -- before).size == 3)
      val third = loop.fold(0L)(_ + _, _ + _)
      assert((persisted -- before).size == 1, "superseded pins outlived the fold")
      (first, third)
    }
    assert(sums == ((55L, 650L)))
    assert(persisted == before, s"leaked ${persisted -- before}")
  }

  test("sizedParts: one task per 2^18 rows, clamped to [1, defaultParallelism]") {
    val sc = spark.sparkContext
    assert(Rounds.sizedParts(sc, 0) == 1)
    assert(Rounds.sizedParts(sc, 1L << 18) == 1)
    assert(Rounds.sizedParts(sc, (1L << 18) + 1) == math.min(2, sc.defaultParallelism))
    assert(Rounds.sizedParts(sc, Long.MaxValue / 2) == sc.defaultParallelism)
  }
}
