package graft

import graft.sources.IO
import org.apache.spark.sql.functions._

/** Scratch profiler for the partitioned-sink bench queries. */
object ProfileSink {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus)
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version",
        sys.env.getOrElse("PROF_COMMIT_ALGO", "1"))
      .config("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs",
        sys.env.getOrElse("PROF_SUCCESS", "true"))
      .config("spark.sql.maxConcurrentOutputFileWriters",
        sys.env.getOrElse("PROF_CONCURRENT_WRITERS", "0"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"  $label%-34s ${(System.nanoTime() - t0) / 1e9}%.3f s"); r
    }
    val events0 = graft.sources.Tables.load(spark, sfDir, "events")
    events0.count()
    (1 to 2).foreach { round =>
      println(s"-- round $round --")
      val events = events0.withColumn("date", date_format(col("ts"), "yyyy-MM-dd"))
      time("derive+collect (no write)") { events.count() }
      time("write dynamic partitioned") { IO.writeCuratedParquet(events, "target/qtmp/prof_dyn") }
      time("write static partitioned") {
        events.write.mode("overwrite").option("partitionOverwriteMode", "static")
          .partitionBy("date").parquet("target/qtmp/prof_static")
      }
      time("write unpartitioned") {
        events.write.mode("overwrite").parquet("target/qtmp/prof_flat")
      }
      time("write compact partitioned") {
        IO.writeCuratedParquet(events, "target/qtmp/prof_comp", compact = true)
      }
      time("read back + agg") {
        spark.read.parquet("target/qtmp/prof_dyn")
          .groupBy("date").agg(count(lit(1))).count()
      }
    }
    spark.stop()
  }
}
