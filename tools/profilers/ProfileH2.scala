package graft

import org.apache.spark.sql.functions._

/** Scratch profiler for the h2_equidepth bench query — isolates the exact
  * percentile boundary aggregation from the bucket-assignment pass.
  * Not part of the engine; run manually.
  */
object ProfileH2 {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"  $label%-32s ${(System.nanoTime() - t0) / 1e9}%.3f s"); r
    }
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    li.count()
    val ps = (1 until 8).map(_.toDouble / 8)
    (1 to 3).foreach { round =>
      println(s"-- round $round --")
      time("percentile array(7) agg") {
        li.select(col("l_extendedprice").as("v")).filter(col("v").isNotNull)
          .agg(expr(s"percentile(v, array(${ps.mkString("D,")}D))")).collect()
      }
      time("percentile single p") {
        li.select(col("l_extendedprice").as("v")).filter(col("v").isNotNull)
          .agg(expr("percentile(v, 0.5D)")).collect()
      }
      time("percentile on LONG col") {
        li.select((col("l_extendedprice") * 100).cast("long").as("v"))
          .agg(expr(s"percentile(v, array(${ps.mkString("D,")}D))")).collect()
      }
      time("median() builtin") {
        li.select(col("l_extendedprice").as("v")).agg(expr("median(v)")).collect()
      }
      time("groupBy(v).count exact") {
        import org.apache.spark.sql.expressions.Window
        val c = li.select(col("l_extendedprice").as("v")).filter(col("v").isNotNull)
          .groupBy("v").agg(count(lit(1)).as("c"))
        val w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = c.select(col("v"), col("c"), sum("c").over(w).as("cum"))
        cum.agg(max("cum")).collect()
      }
      time("sort().mapPartitions 2pass") {
        val vs = li.select(col("l_extendedprice").as("v")).filter(col("v").isNotNull)
          .groupBy("v").agg(count(lit(1)).as("c")).repartitionByRange(32, col("v"))
          .sortWithinPartitions("v")
        vs.count()
      }
    }
    spark.stop()
  }
}
