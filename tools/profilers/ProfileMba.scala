package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scratch A/B probe for the mba basket-pair pipeline variants (round
  * 17). Times each variant with the noop sink (guide §1.4) and reports
  * wall + summed task time via ProfileQuery's listener. Not part of the
  * engine; run: sbt "runMain graft.ProfileMba"
  */
object ProfileMba {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    BenchKit.warmFiles(new java.io.File(sfDir))
    val acc = new ProfileQuery.Acc
    spark.sparkContext.addSparkListener(acc)

    def li = graft.sources.Tables.load(spark, sfDir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))

    def pairsAgg(p: DataFrame): DataFrame =
      p.groupBy("pa", "pb").agg(count(lit(1)).as("support"))
        .filter(col("support") >= 2)

    def time(name: String, mk: () => DataFrame): Unit = {
      (1 to 3).foreach { r =>
        graft.operators.Materialize.sweep()
        System.gc()
        acc.reset()
        val t0 = System.nanoTime()
        mk().write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(300)
        println(f"$name run $r: wall=$wall%.3f taskTime=${acc.taskTimeMs / 1e3}%.2f s " +
          f"tasks=${acc.tasks} shufW=${acc.shuffleWrite / 1e6}%.1f MB")
      }
    }

    // A: old formulation — distinct then cooccurrencePairs
    time("A old-distinct      ", () =>
      pairsAgg(graft.operators.Graph.cooccurrencePairs(li.distinct(), "ok", "pk")))
    // B: baskets pinned, no widen
    time("B pin-nowiden       ", () => {
      val bk = graft.operators.Materialize(
        graft.operators.Graph.basketSets(li, "ok", "pk"))
      pairsAgg(graft.operators.Graph.basketPairs(bk, "basket"))
    })
    // C: baskets pinned + round-robin widen
    time("C pin-widen-rr      ", () => {
      val bk = graft.operators.Materialize(
        graft.operators.Graph.basketSets(li, "ok", "pk"))
      pairsAgg(graft.operators.Graph.basketPairs(
        graft.operators.Rounds.widen(bk), "basket"))
    })
    // D: baskets pinned + hash widen on the group key
    time("D pin-widen-hash    ", () => {
      val bk = graft.operators.Materialize(
        graft.operators.Graph.basketSets(li, "ok", "pk"))
      val p = bk.sparkSession.sparkContext.defaultParallelism
      pairsAgg(graft.operators.Graph.basketPairs(
        bk.repartition(p, col("g")), "basket"))
    })
    // E: no pin, no distinct — straight pipeline
    time("E nopin-nodistinct  ", () =>
      pairsAgg(graft.operators.Graph.cooccurrencePairs(li, "ok", "pk")))

    // FULL-QUERY paired A/B (the VERDICT #6 done-criterion needs a
    // same-window old-vs-new comparison at 10×): the r16 unpinned mba2
    // formulation vs the round-17 shrink-then-pin one
    def fullOld(): DataFrame = {
      val op = li.distinct()
      val item = op.groupBy(col("pk")).agg(count(lit(1)).as("cnt"))
      graft.operators.Graph.cooccurrencePairs(op, "ok", "pk")
        .groupBy("pa", "pb").agg(count(lit(1)).as("support"))
        .filter(col("support") >= 2)
        .join(broadcast(item.select(col("pk").as("pa"), col("cnt").as("ca"))), "pa")
        .join(broadcast(item.select(col("pk").as("pb"), col("cnt").as("cb"))), "pb")
        .select(col("pa"), col("pb"), col("support"),
          expr("CAST((support * 1000000) div ca AS BIGINT)").as("conf_ab_micro"),
          expr("CAST((support * 1000000) div cb AS BIGINT)").as("conf_ba_micro"))
        .orderBy("pa", "pb")
    }
    def fullNew(): DataFrame = {
      val bk = graft.operators.Materialize(
        graft.operators.Graph.basketSets(li, "ok", "pk"))
      val item = bk.select(explode(col("basket")).as("pk"))
        .groupBy(col("pk")).agg(count(lit(1)).as("cnt"))
      graft.operators.Graph
        .basketPairs(graft.operators.Rounds.widen(bk), "basket")
        .groupBy("pa", "pb").agg(count(lit(1)).as("support"))
        .filter(col("support") >= 2)
        .join(broadcast(item.select(col("pk").as("pa"), col("cnt").as("ca"))), "pa")
        .join(broadcast(item.select(col("pk").as("pb"), col("cnt").as("cb"))), "pb")
        .select(col("pa"), col("pb"), col("support"),
          expr("CAST((support * 1000000) div ca AS BIGINT)").as("conf_ab_micro"),
          expr("CAST((support * 1000000) div cb AS BIGINT)").as("conf_ba_micro"))
        .orderBy("pa", "pb")
    }
    time("F full-mba2-OLD     ", fullOld _)
    time("G full-mba2-NEW     ", fullNew _)
    spark.stop()
  }
}
