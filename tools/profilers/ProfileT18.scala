package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scratch A/B probe for t18's pageRankKeyed plan-size cost (round 17):
  * materializeEvery 0 (lazy 3-iteration plan, ReuseExchange dedup) vs 2
  * (one mid-loop rank pin). Run: sbt "runMain graft.ProfileT18"
  */
object ProfileT18 {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    BenchKit.warmFiles(new java.io.File(sfDir))

    def edges: DataFrame = {
      val toksF = filter(graft.operators.TextAnalysis.tokens(col("text")),
        tk => tk.rlike("^[a-z]{3,}$"))
      val base = graft.sources.Tables.load(spark, sfDir, "documents")
        .select(toksF.as("toks")).filter(size(col("toks")) >= 2)
      val adj = base.select(explode(transform(
          sequence(lit(1), size(col("toks")) - 1),
          i => struct(element_at(col("toks"), i).as("a"),
            element_at(col("toks"), i + 1).as("b")))).as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b"))
      adj.select(col("a").as("src"), col("b").as("dst"))
        .unionByName(adj.select(col("b").as("src"), col("a").as("dst")))
    }

    def run(me: Int): Long = graft.operators.Graph.pageRankKeyed(
        edges, "src", "dst", iterations = 3, materializeEvery = me)
      .select(col("id").as("word"), col("rank_scaled"))
      .orderBy(col("rank_scaled").desc, col("word")).limit(15).count()

    for (me <- Seq(0, 2, 1); r <- 1 to 3) {
      graft.operators.Materialize.sweep(); System.gc()
      val t0 = System.nanoTime()
      val n = run(me)
      println(f"materializeEvery=$me run $r: wall=${(System.nanoTime() - t0) / 1e9}%.3f s rows=$n")
    }
    spark.stop()
  }
}
