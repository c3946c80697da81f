package graft

import graft.operators.{Graph, Materialize}
import org.apache.spark.sql.functions._

/** The graft.materialize.mode knob: every mode must produce identical
  * results — the conf trades fault-tolerance against speed, never
  * semantics.
  */
class MaterializeSpec extends SparkSpec {

  import spark.implicits._

  private val modes = Seq("localCheckpoint", "persist", "off")

  private def withMode[A](mode: String)(f: => A): A = {
    spark.conf.set(Materialize.ConfKey, mode)
    try f finally spark.conf.unset(Materialize.ConfKey)
  }

  test("kCore is identical under every materialize mode") {
    val edges = Seq(
      (1L, 2L), (2L, 3L), (1L, 3L), // triangle
      (3L, 4L), (4L, 5L), (3L, 5L), // triangle
      (5L, 6L), (6L, 7L)            // dangling path
    ).toDF("u", "v")
    val results = modes.map { m =>
      withMode(m)(Graph.kCore(edges, "u", "v", k = 2, rounds = 3)
        .orderBy("id").collect().toSeq)
    }
    assert(results.distinct.size == 1,
      s"modes diverged: ${modes.zip(results.map(_.size))}")
    assert(results.head.nonEmpty) // the two triangles must survive the prune
  }

  test("triangleCount(materializeOriented) is identical under every mode") {
    val edges = Seq(
      (1L, 2L), (2L, 3L), (1L, 3L), // triangle
      (3L, 4L), (4L, 5L), (3L, 5L), // triangle
      (5L, 6L)                      // dangling edge
    ).toDF("u", "v")
    val counts = modes.map { m =>
      withMode(m)(Graph.triangleCount(edges, "u", "v", materializeOriented = true)
        .collect().head.getLong(0))
    }
    assert(counts.forall(_ == 2L), s"expected 2 triangles under all modes, got $counts")
  }

  test("persist pin: flat plan, released pin recomputes from lineage, release safe everywhere") {
    val df = Seq.tabulate(100)(i => (i.toLong, i * 2L)).toDF("id", "v")
    withMode("persist") {
      val pinned = Materialize(df.filter(org.apache.spark.sql.functions.col("id") < 50))
      // flat LogicalRDD plan: the iterative-loop 2^rounds blowup is gone
      assert(pinned.queryExecution.logical.toString.contains("LogicalRDD") ||
        pinned.queryExecution.optimizedPlan.toString.contains("LogicalRDD") ||
        pinned.queryExecution.logical.toString.contains("ExistingRDD"),
        s"persist mode must return a flat scan plan:\n${pinned.queryExecution.logical}")
      val before = pinned.collect().toSeq
      // releasing the pin must not change results — the RDD lineage
      // recomputes the rows (the fault-tolerance property)
      Materialize.release(pinned)
      val after = pinned.collect().toSeq
      assert(before == after && before.size == 50)
    }
    // localCheckpoint: the checkpoint blocks are the ONLY copy, so the
    // SAFE release() must be a no-op (the frame stays re-readable), and
    // the loop-internal releaseSuperseded() frees the blocks so
    // per-round loop storage stays bounded under the DEFAULT mode too
    withMode("localCheckpoint") {
      val lc = Materialize(df)
      assert(lc.count() == 100L)
      val before = spark.sparkContext.getPersistentRDDs.size
      Materialize.release(lc)
      assert(spark.sparkContext.getPersistentRDDs.size == before,
        "safe release() must not free a lineage-truncated pin")
      assert(lc.count() == 100L, "frame must stay readable after release()")
      Materialize.releaseSuperseded(lc)
      val after = spark.sparkContext.getPersistentRDDs.size
      assert(after < before,
        s"releaseSuperseded must drop the localCheckpoint pin ($before -> $after)")
    }
    withMode("off") {
      val off = Materialize(df)
      Materialize.release(off)
      Materialize.releaseSuperseded(off)
      assert(off.count() == 100L)
    }
  }

  test("localCheckpoint pin carries MEASURED stats that stay bounded through a self-joining loop") {
    // Dataset.localCheckpoint preserves the ORIGIN plan's estimated
    // Statistics; when a loop joins a round's pin against itself, that
    // estimate SQUARES per round — sizeInBytes is a BigInt, so its digit
    // count doubles per round and planning goes exponential (observed:
    // 0.25 s/round through round 14, then 2.3x/round on a FOUR-ROW
    // table). Materialize must instead attach the true post-checkpoint
    // block size: exact, and a fixed point under any loop algebra.
    val df = Seq.tabulate(50)(i => (i.toLong, i.toDouble)).toDF("k", "v")
    withMode("localCheckpoint") {
      var cur = Materialize(df)
      val firstSize = cur.queryExecution.optimizedPlan.stats.sizeInBytes
      assert(firstSize > 0 && firstSize < BigInt(10).pow(9),
        s"expected measured block size, got $firstSize")
      for (_ <- 1 to 12) {
        val a = cur.select(col("k"), col("v").as("va"))
        val b = cur.select(col("k"), col("v").as("vb"))
        val next = Materialize(a.join(b, "k")
          .select(col("k"), (col("va") + col("vb")).as("v")))
        Materialize.releaseSuperseded(cur)
        cur = next
        val bits = cur.queryExecution.optimizedPlan.stats.sizeInBytes.bitLength
        assert(bits < 64,
          s"pin stats must not compound round over round (sizeInBytes has $bits bits)")
      }
      assert(cur.count() == 50)
      Materialize.releaseSuperseded(cur)
    }
  }

  test("localCheckpoint pin of an EMPTY frame stays broadcastable (no Long.MaxValue stats)") {
    // When the block manager has nothing stored for the pinned RDD (an
    // empty result stores no blocks), originStats must NOT fall through
    // to None: LogicalRDD.computeStats would then take
    // spark.sql.defaultSizeInBytes (Long.MaxValue) and the pin could
    // never broadcast — a regression vs the plain localCheckpoint path.
    // An empty relation is honestly tiny: sizeInBytes = 1.
    val df = Seq.tabulate(50)(i => (i.toLong, i.toDouble)).toDF("k", "v")
      .filter(col("k") < 0)
    withMode("localCheckpoint") {
      val pin = Materialize(df)
      val size = pin.queryExecution.optimizedPlan.stats.sizeInBytes
      assert(size < BigInt(10).pow(6),
        s"empty pin must carry tiny stats, got $size")
      assert(pin.count() == 0L)
      Materialize.releaseSuperseded(pin)
    }
  }

  test("kCore loop under localCheckpoint releases superseded rounds (bounded pins)") {
    Materialize.sweep()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    withMode("localCheckpoint") {
      val edges = Seq.tabulate(200)(i => (i.toLong, (i + 1).toLong))
        .toDF("u", "v")
      val out = Graph.kCore(edges, "u", "v", k = 2, rounds = 6)
      out.collect()
      val pinnedNow = spark.sparkContext.getPersistentRDDs.size
      assert(pinnedNow <= 2,
        s"superseded k-core rounds must be released under the default " +
          s"mode too, $pinnedNow RDDs still pinned")
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
  }

  test("kCore loop under persist releases superseded rounds (bounded pins)") {
    // drain pins left by earlier tests (plus any weak-ref stragglers GC
    // has not collected yet) so the bound below measures ONLY the loop
    Materialize.sweep()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    withMode("persist") {
      val edges = Seq.tabulate(200)(i => (i.toLong, (i + 1).toLong))
        .toDF("u", "v")
      val out = Graph.kCore(edges, "u", "v", k = 2, rounds = 6)
      out.collect() // force the full loop
      // only the final round's pin (plus possibly one in flight) may
      // remain registered; 6 rounds must NOT leave 6 pinned RDDs
      val pinnedNow = spark.sparkContext.getPersistentRDDs.size
      assert(pinnedNow <= 2,
        s"superseded k-core rounds must be released, $pinnedNow RDDs still pinned")
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
  }

  test("sweep frees exactly the pins Materialize owns, in both modes") {
    Materialize.sweep() // drain pins left behind by the suites before us
    for (mode <- Seq("localCheckpoint", "persist")) withMode(mode) {
      // an RDD persisted OUTSIDE Materialize must survive the sweep —
      // the blanket getPersistentRDDs sweep this replaced would kill it
      val foreign = spark.sparkContext.parallelize(1 to 10)
      foreign.persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
      foreign.count()
      val baseline = spark.sparkContext.getPersistentRDDs.keySet
      val m = Materialize(Seq((1L, "x"), (2L, "y")).toDF("id", "s"))
      m.count()
      val added = spark.sparkContext.getPersistentRDDs.keySet -- baseline
      assert(added.nonEmpty, s"mode=$mode: Materialize must register a pinned RDD")
      Materialize.sweep()
      // unpersist(blocking=false) completes asynchronously; poll briefly
      def leftover = added.intersect(spark.sparkContext.getPersistentRDDs.keySet)
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (leftover.nonEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      assert(leftover.isEmpty, s"mode=$mode: sweep must free Materialize's own pins")
      assert(spark.sparkContext.getPersistentRDDs.contains(foreign.id),
        s"mode=$mode: sweep must NOT touch RDDs it does not own")
      foreign.unpersist(blocking = false)
    }
  }

  /** `Observation.get` with a bounded wait: a pin that swallows the
    * observation fails here in a minute instead of stalling the suite.
    */
  private def observedRows(obs: org.apache.spark.sql.Observation): Long = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    Await.result(Future(obs.get("rows").asInstanceOf[Long]),
      scala.concurrent.duration.Duration(60, "s"))
  }

  test("a pin delivers the observations upstream of it, under every mode") {
    for (mode <- modes) withMode(mode) {
      val obs = org.apache.spark.sql.Observation(s"pin_upstream_$mode")
      val observed = spark.range(0, 100, 1, 3)
        .select(col("id"), (col("id") % 7L).as("g"))
        .observe(obs, count(lit(1)).as("rows"))
      val pinned = Materialize(observed.filter(col("g") =!= 0L))
      assert(pinned.groupBy("g").count().count() == 6L)
      assert(observedRows(obs) == 100L, s"mode=$mode")
      Materialize.releaseSuperseded(pinned)
    }
  }

  test("a pin inside a foreachBatch body delivers its observations") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc: org.apache.spark.sql.SQLContext = spark.sqlContext
    for (mode <- Seq("localCheckpoint", "persist")) withMode(mode) {
      val got = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val mem = MemoryStream[Long]
      // the micro-batch already runs inside a SQL execution, so the
      // pin's execution nests under the caller's id
      val q = mem.toDF().writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          val obs = org.apache.spark.sql.Observation()
          val pinned = Materialize(batch.observe(obs, count(lit(1)).as("rows")))
          got.add(pinned.count())
          got.add(observedRows(obs))
          Materialize.releaseSuperseded(pinned)
          ()
        }.start()
      try {
        mem.addData(1L to 10L)
        q.processAllAvailable()
      } finally q.stop()
      assert(got.toArray.toSeq == Seq(10L, 10L), s"mode=$mode")
    }
  }

  test("unknown mode fails fast with the contract message") {
    val edges = Seq((1L, 2L)).toDF("u", "v")
    val e = intercept[IllegalArgumentException] {
      withMode("cache")(Graph.kCore(edges, "u", "v", k = 1).collect())
    }
    assert(e.getMessage.contains(Materialize.ConfKey))
  }
}
