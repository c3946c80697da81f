package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** Scratch profiler for the c1_dedup_clusters bench query — per-stage
  * wall-clock breakdown (pair generation vs connected components vs the
  * final label join). Not part of the engine; run manually.
  */
object ProfileC1 {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"  $label%-28s ${(System.nanoTime() - t0) / 1e9}%.3f s"); r
    }
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // warmup
    docs.count()
    (1 to 2).foreach { round =>
      println(s"-- round $round --")
      val sub = docs.filter(col("doc_id") % 10 === 0)
      val edges = time("pairs (count)") {
        val e = Dedup.ngramJaccardPairs(sub, k = 3, threshold = 0.02).select("a_id", "b_id")
        e.count(); e
      }
      val cc = time("connectedComponents") {
        val c = Dedup.connectedComponents(edges, sub.select("doc_id"))
        c.count(); c
      }
      time("orderBy+count") { cc.orderBy("doc_id").count() }
      time("full query end-to-end") {
        val e2 = Dedup.ngramJaccardPairs(sub, k = 3, threshold = 0.02).select("a_id", "b_id")
        Dedup.connectedComponents(e2, sub.select("doc_id")).orderBy("doc_id").count()
      }
    }
    spark.stop()
  }
}
