package graft

import java.util.concurrent.atomic.AtomicBoolean

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import graft.operators.{Dedup, Trainer}
import org.apache.spark.sql.Row

/** Iterative operators share their caller's session: no round loop may
  * change the session conf another query on it is planned with, and
  * results must not depend on what else runs on the session meanwhile.
  */
class SessionConcurrencySpec extends SparkSpec {

  import spark.implicits._

  private val Watched = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")

  private def comparisons = {
    val strengths = Seq(1.0, 2.0, 4.0, 8.0, 16.0)
    val rows = for {
      i <- strengths.indices
      j <- (i + 1) until strengths.size
      wi = math.round(60 * strengths(i) / (strengths(i) + strengths(j))).toInt
      (w, l) <- Seq.fill(wi)((i.toLong, j.toLong)) ++ Seq.fill(60 - wi)((j.toLong, i.toLong))
    } yield (w, l)
    rows.toDF("winner", "loser")
  }

  /** Thread A's work: a Bradley–Terry fit, then connected components
    * forced onto the distributed label-propagation loop.
    */
  private def loops(): (Seq[Row], Seq[Row]) = {
    val fit = Trainer.bradleyTerryFit(comparisons, "winner", "loser", rounds = 20)
      .orderBy("item").collect().toSeq
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L), (7L, 5L)).toDF("a_id", "b_id")
    val cc = Dedup.connectedComponents(edges, (0L until 9L).toDF("doc_id"),
        localEdgeThreshold = -1L)
      .orderBy("doc_id").collect().toSeq
    (fit, cc)
  }

  private def tpch(): Seq[Row] =
    SparkEntry.queries("q6_forecast_revenue")(spark, SparkSpec.sfDir).collect().toSeq

  test("round loops leave a concurrent query's session conf and results alone") {
    val conf = Watched.map(k => k -> spark.conf.get(k)).toMap
    val (fitSerial, ccSerial) = loops()
    val tpchSerial = tpch()

    val done = new AtomicBoolean(false)
    val a = Future(try loops() finally done.set(true))
    val b = Future {
      var seen = Set(conf)
      var reads = 0
      var result = Seq.empty[Row]
      while (!done.get() || result.isEmpty) {
        seen += Watched.map(k => k -> spark.conf.get(k)).toMap
        reads += 1
        if (result.isEmpty) result = tpch()
        Thread.sleep(1)
      }
      (seen, reads, result)
    }
    val (fit, cc) = Await.result(a, 5.minutes)
    val (seen, reads, tpchConcurrent) = Await.result(b, 5.minutes)

    assert(reads > 1)
    assert(seen == Set(conf), s"the session conf changed under a concurrent query: $seen")
    assert(fit == fitSerial)
    assert(cc == ccSerial)
    assert(tpchConcurrent == tpchSerial)
  }

  test("pref1, v4 and sem1 leave the session conf as they found it") {
    for (name <- Seq("pref1_bradley_terry", "v4_kmeans_ivf", "sem1_semdedup")) {
      val before = spark.conf.getAll
      SparkEntry.queries(name)(spark, SparkSpec.sfDir).collect()
      assert(spark.conf.getAll == before, s"$name changed the session conf")
    }
  }
}
