package graft

import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.execution.{FileSourceScanExec, LocalTableScanExec, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}

/** Prints executed-plan summaries for selected queries so shuffle count,
  * broadcast choice, pushdown, and codegen spans can be audited. Run:
  *   sbt "runMain graft.PlanAudit sf0.01 q1_pricing_summary j1_broadcast_dim_join"
  * With no query names: audits a representative set. With `--all`: one
  * line per registry query with its exchange and scan counts.
  */
object PlanAudit {

  /** Every node the plan's tree string prints: children, subqueries and
    * cached plans (innerChildren), through AQE wrappers. A reused
    * exchange is a leaf: its target is planned once, where it first
    * appears.
    */
  private def nodes(p: QueryPlan[_]): Seq[QueryPlan[_]] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case _ => p +: (p.children.asInstanceOf[Seq[QueryPlan[_]]] ++ p.innerChildren)
      .flatMap(nodes)
  }

  /** Node counts by operator type, so a `ReusedExchange` line is never
    * read as extra shuffles the way substring counting did.
    */
  case class Counts(shuffle: Int, broadcast: Int, reused: Int,
      parquet: Int, rdd: Int, local: Int)

  def counts(plan: SparkPlan): Counts = {
    val ns = nodes(plan)
    def n(f: PartialFunction[QueryPlan[_], Boolean]) = ns.collect(f).count(identity)
    Counts(
      shuffle = n { case _: ShuffleExchangeExec => true },
      broadcast = n { case _: BroadcastExchangeExec => true },
      reused = n { case _: ReusedExchangeExec => true },
      parquet = n { case f: FileSourceScanExec => f.relation.fileFormat.isInstanceOf[ParquetFileFormat] },
      rdd = n { case _: RDDScanExec => true },
      local = n { case _: LocalTableScanExec => true })
  }

  def main(args: Array[String]): Unit = {
    val sfDir = s"/root/testdata/${args.headOption.getOrElse("sf0.01")}"
    val names = if (args.length > 1) args.tail.toSeq else Seq(
      "q1_pricing_summary", "j1_broadcast_dim_join", "j2_fact_join_agg",
      "p2_range_filter", "a3_filtered_count", "d5_minhash_lsh",
      "v1_knn_brute", "set1_intersect", "sub1_above_avg", "w1_window_topn")
    val spark = GraftSession.local(4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val qs = SparkEntry.queries
    // compact sweep mode: one line per registry query — exchange and
    // scan counts only, for finding repeated-subtree offenders cheaply
    if (args.drop(1).contains("--all")) {
      qs.foreach { case (n, fn) =>
        try {
          val df = fn(spark, sfDir)
          val k = counts(df.queryExecution.executedPlan)
          println(f"[sweep] $n%-34s shuf=${k.shuffle}%3d bcast=${k.broadcast}%3d reused=${k.reused}%3d pq=${k.parquet}%3d rdd=${k.rdd}%3d local=${k.local}%3d")
        } catch { case e: Throwable =>
          println(s"[sweep] $n FAILED ${e.getClass.getSimpleName}")
        } finally {
          spark.sharedState.cacheManager.clearCache()
          graft.operators.Materialize.sweep()
        }
      }
      spark.stop(); return
    }
    names.foreach { n =>
      println(s"\n======== $n ========")
      val df = qs(n)(spark, sfDir)
      df.explain("formatted")
      val k = counts(df.queryExecution.executedPlan)
      println(s"[audit] shuffle=${k.shuffle} broadcast=${k.broadcast} reused=${k.reused}")
    }
    spark.stop()
  }
}
