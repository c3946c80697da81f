package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._

/** Scratch per-query profiler for the optimization round — runs named
  * registry queries on the shipped session (`GraftSession.local`) and
  * reports, per run: wall seconds, Spark job count, stage count, task
  * count, generated-class compiles (a recompiling query shows up here),
  * summed task time, shuffle bytes, and per-job wall breakdown with the
  * job's callsite description. Not part of the engine; run manually:
  *
  *   SPARK_GRAFT_PROFILE=stat13_mad_outliers,ml11_per_group_logreg \
  *     sbt "runMain graft.ProfileQuery"
  */
object ProfileQuery {

  final class Acc extends SparkListener {
    case class J(id: Int, t0: Long, var t1: Long = 0L, desc: String = "")
    val jobs = new scala.collection.mutable.ArrayBuffer[J]()
    var stages = 0
    var tasks = 0L
    var taskTimeMs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    case class St(name: String, var ms: Long = 0L, var n: Int = 0)
    val stageAgg = new scala.collection.mutable.LinkedHashMap[String, St]()
    // per-stage summed TASK time (executorRunTime) — wall-based stage
    // aggregation hides where CPU goes when stages overlap
    val stageTaskMs = new scala.collection.mutable.HashMap[Int, Long]()
    val stageName = new scala.collection.mutable.HashMap[Int, String]()
    private val byId = new scala.collection.mutable.HashMap[Int, J]()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      val ms = (for (a <- i.submissionTime; b <- i.completionTime) yield b - a).getOrElse(0L)
      val graftLine = i.details.linesIterator
        .find(l => l.contains("graft.") && !l.contains("ProfileQuery"))
        .getOrElse(i.name).trim
      val key = s"${i.name} | $graftLine"
      val s = stageAgg.getOrElseUpdate(key, St(key))
      s.ms += ms; s.n += 1
      stageName(i.stageId) = key
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val d = e.stageInfos.lastOption.map(_.name).getOrElse("")
      val j = J(e.jobId, System.nanoTime(), desc = d)
      jobs += j; byId(e.jobId) = j
      stages += e.stageInfos.size
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      byId.get(e.jobId).foreach(_.t1 = System.nanoTime())
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        taskTimeMs += m.executorRunTime
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        stageTaskMs(e.stageId) = stageTaskMs.getOrElse(e.stageId, 0L) +
          m.executorRunTime
      }
    }
    def reset(): Unit = synchronized {
      jobs.clear(); byId.clear(); stages = 0; tasks = 0L
      taskTimeMs = 0L; shuffleRead = 0L; shuffleWrite = 0L
      stageAgg.clear(); stageTaskMs.clear(); stageName.clear()
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val names = sys.env.getOrElse("SPARK_GRAFT_PROFILE", "stat13_mad_outliers")
      .split(",").toSeq
    val runs = sys.env.getOrElse("SPARK_GRAFT_PROFILE_RUNS", "3").toInt
    val spark = GraftSession.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    BenchKit.warmFiles(new java.io.File(sfDir))
    val acc = new Acc
    spark.sparkContext.addSparkListener(acc)
    val qmap = SparkEntry.queries
    for (name <- names) {
      val fn = qmap.getOrElse(name, sys.error(s"unknown query $name"))
      println(s"== $name ==")
      (1 to runs).foreach { r =>
        graft.operators.Materialize.sweep()
        System.gc()
        acc.reset()
        val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
        // listener bus is async; give it a beat to drain
        Thread.sleep(300)
        println(f"run $r: wall=$wall%.3f s rows=$n jobs=${acc.jobs.size} " +
          f"stages=${acc.stages} tasks=${acc.tasks} compiles=$compiles " +
          f"taskTime=${acc.taskTimeMs / 1e3}%.2f s " +
          f"shufR=${acc.shuffleRead / 1e6}%.1f MB shufW=${acc.shuffleWrite / 1e6}%.1f MB")
        if (r == runs) {
          acc.stageTaskMs.toSeq.sortBy(-_._2).take(16).foreach { case (sid, ms) =>
            val nm = acc.stageName.getOrElse(sid, s"stage $sid")
            println(f"    taskTime ${ms}%7d ms  [sid $sid%4d] ${nm.take(160)}")
          }
        }
      }
    }
    spark.stop()
  }
}
