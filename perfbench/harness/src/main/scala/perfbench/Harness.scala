package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import graft.GraftSession
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.perfbench.{Counters, Meter}

/** One timed operation of a workload's closed loop. */
final case class Op(ms: Double, items: Long, failed: Boolean = false,
    rootSpan: Option[String] = None)

/** What a workload hands the harness. */
trait Workload {
  /** Minimum operations per measured window (percentiles need them). */
  def minOps: Int
  /** A measured window ends on a multiple of this many operations. */
  def roundOps: Int = 1
  /** One set-up pass: generate the inputs into fresh paths. */
  def setupPass(pass: Int): Unit
  /** Warm the engine once on the generated inputs (part of set-up). */
  def warmUp(): Unit
  /** One timed operation; `i` counts from 0 across the run. With tracing
    * on, the operation runs inside one root span and returns its id.
    */
  def op(i: Int): Op
  /** Issue-named end-to-end figures of the workload, from its ops. */
  def named(ops: Seq[Op]): Seq[(String, Double)]
  /** Trace-only isolated layer calls; returns per-layer figures. */
  def probe(): Seq[(String, Double)]
  /** Paths and facts the out-of-process checker needs (JSON fields). */
  def checkInputs(): Seq[(String, String)]
}

final class Ctx(val spark: SparkSession, val work: Path, val seed: Seeded, val cores: Int,
    val meter: Meter, val tracer: Tracer) {
  def dir(parts: String*): String = parts.foldLeft(work)(_.resolve(_)).toString

  /** Wall time of `body` in ms. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }
}

/** Benchmark JVM: builds the shipped session (`GraftSession.builder()`),
  * runs one workload's set-up passes and closed loop, and writes a
  * result record for `perfbench/run.py` to check and report.
  *
  * Usage: Harness <workload> <workDir> <seed> <seconds> <trace 0|1> <cores>
  */
object Harness {

  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  private def vmHwmMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Fixed pure-CPU contention probe (best of 3), outside every counter
    * that the workload reports: it runs under its own job group.
    */
  def sentinel(spark: SparkSession, cores: Int): Double = {
    spark.sparkContext.setJobGroup("sentinel", "sentinel", interruptOnCancel = false)
    try (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(0, 50000000L, 1, cores).selectExpr("sum(id * 3 + 1)").collect()
      (System.nanoTime() - t0) / 1e6
    }.min
    finally spark.sparkContext.clearJobGroup()
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, workDir, seedS, secondsS, traceS, coresS) = args
    val work = Paths.get(workDir).toAbsolutePath
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val cores = coresS.toInt
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = GraftSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.streaming.checkpointLocation", work.resolve("checkpoints").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3

    val meter = new Meter(spark).install()
    val tracer = new Tracer(spark.sparkContext, s"$workload-$seedS")
    val ctx = new Ctx(spark, work, Seeded(seedS.toLong), cores, meter, tracer)
    val wl: Workload = workload match {
      case "lake_etl" => new LakeEtl(ctx)
      case "serve_sql" => new ServeSql(ctx)
      case "corpus_curate" => new CorpusCurate(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up = session start + input generation (three passes, median) + one warm-up
    val passMs = (1 to 3).map(p => ctx.timed(wl.setupPass(p))._2)
    val warmMs = ctx.timed(wl.warmUp())._2
    val setupS = sessionS + (median(passMs) + warmMs) / 1e3

    // one untimed probe first: a cold plan would read slower before than after
    sentinel(spark, cores)
    val sentinelBefore = sentinel(spark, cores)
    meter.drain()
    val before = meter.total

    // A traced run alternates untraced and traced operations, so both
    // halves see the same JIT and cache state; it makes at least two rounds
    // (serve_sql: each query once each way).
    val minOps =
      if (!trace) wl.minOps else 2 * math.max(2, wl.minOps / 2 / wl.roundOps * wl.roundOps)
    val ops = mutable.ArrayBuffer.empty[Op]
    val t0 = System.nanoTime()
    def elapsedS = (System.nanoTime() - t0) / 1e9
    meter.resetPeakCached()
    while ((elapsedS < seconds || ops.size < minOps || ops.size % wl.roundOps != 0) &&
        elapsedS < 150.0) {
      tracer.enabled = trace && ops.size % 2 == 1
      ops += wl.op(ops.size)
    }
    tracer.enabled = false
    val loopWall = elapsedS
    val (tracedOps, plainOps) = ops.toSeq.partition(_.rootSpan.isDefined)
    meter.drain()
    val counters = meter.total - before
    val sentinelAfter = sentinel(spark, cores)

    val e2e = Seq(
      "setup_s" -> setupS,
      "peak_rss_mb" -> vmHwmMb(),
      "op_p50_ms" -> median(plainOps.map(_.ms)),
      "items_per_s" -> plainOps.map(_.items).sum * 1000.0 / plainOps.map(_.ms).sum)

    val perLayer: Seq[(String, Double)] =
      if (!trace) Seq.empty
      else {
        val layer = layerMetrics(ctx, tracedOps, plainOps)
        tracer.enabled = true
        val probed = wl.probe()
        tracer.enabled = false
        meter.drain()
        layer ++ probed
      }

    val rec = Seq(
      "workload" -> Json.str(workload), "seed" -> seedS, "trace" -> Json.str(traceS),
      "cores" -> cores.toString,
      "session_start_s" -> Json.num(sessionS),
      "setup_pass_ms" -> Json.arr(passMs.map(Json.num)),
      "warm_up_ms" -> Json.num(warmMs),
      "sentinel_before_ms" -> Json.num(sentinelBefore),
      "sentinel_after_ms" -> Json.num(sentinelAfter),
      "measured_wall_s" -> Json.num(loopWall),
      "attempted" -> ops.size.toString,
      "failed" -> ops.count(_.failed).toString,
      "op_ms" -> Json.arr(plainOps.map(o => Json.num(o.ms))),
      "end_to_end" -> Json.nums(e2e),
      "named" -> Json.nums(wl.named(plainOps)),
      "counters" -> Json.nums(counters.toMap),
      "per_layer" -> Json.nums(perLayer)) ++ wl.checkInputs()
    if (trace) tracer.writeJsonl(work.resolve("spans.jsonl"))
    Files.write(work.resolve("result.json"), Json.obj(rec).getBytes("UTF-8"))
    meter.uninstall()
    spark.stop()
  }

  /** Per-layer figures of the traced half, from its spans and the
    * counters attributed to them.
    */
  private def layerMetrics(ctx: Ctx, traced: Seq[Op], plain: Seq[Op]): Seq[(String, Double)] = {
    val tr = ctx.tracer
    val groups = ctx.meter.byGroup
    val rootOf = tr.rootOf
    val opRoots = traced.flatMap(_.rootSpan)
    val spanById = tr.spans.map(s => s.id -> s).toMap
    // counters per op root: every group whose span (or alias) descends from it
    val perOp: Map[String, Counters] = opRoots.map(_ -> new Counters).toMap
    groups.foreach { case (g, c) =>
      tr.spanOf(g).flatMap(rootOf.get).flatMap(perOp.get).foreach(_ += c)
    }
    val ops = opRoots.map(perOp)
    val n = math.max(1, ops.size).toDouble
    def mean(f: Counters => Double): Double = ops.map(f).sum / n
    val opWallMs = opRoots.flatMap(spanById.get).map(_.durMs).sum
    val self = tr.selfMs
    val inOps = tr.spans.filter(s => rootOf.get(s.id).exists(perOp.contains))
    def share(layer: String): Double =
      inOps.filter(_.layer == layer).map(s => self(s.id)).sum / math.max(opWallMs, 1e-9)
    val overhead = median(traced.map(_.ms)) / median(plain.map(_.ms)) - 1.0
    Seq(
      "harness.self_share" -> share("harness"),
      "engine.self_share" -> share("engine"),
      "streaming.self_share" -> share("streaming"),
      "sources.self_share" -> share("sources"),
      "operators.self_share" -> share("operators"),
      "queries.self_share" -> share("queries"),
      "sources.bytes_read_per_op" -> mean(_.bytesRead.toDouble),
      "sources.files_read_per_op" -> mean(_.filesRead.toDouble),
      "sources.bytes_written_per_op" -> mean(_.bytesWritten.toDouble),
      "engine.jobs_per_op" -> mean(_.jobs.toDouble),
      "engine.tasks_per_op" -> mean(_.tasks.toDouble),
      "engine.sched.delay_ms_per_op" -> mean(_.schedDelayMs),
      "engine.exec.run_ms_per_op" -> mean(_.runMs),
      "engine.exec.cpu_ms_per_op" -> mean(_.cpuMs),
      "engine.exec.util" -> ops.map(_.runMs).sum / math.max(opWallMs * ctx.cores, 1e-9),
      "engine.catalyst.analysis_ms_per_op" -> mean(_.analysisMs),
      "engine.catalyst.optimization_ms_per_op" -> mean(_.optimizationMs),
      "engine.catalyst.planning_ms_per_op" -> mean(_.planningMs),
      "engine.catalyst.total_ms_per_op" -> mean(_.catalystMs),
      "engine.catalyst.share" -> ops.map(_.catalystMs).sum / math.max(opWallMs, 1e-9),
      "engine.shuffle.write_bytes_per_op" -> mean(_.shuffleWriteBytes.toDouble),
      "engine.shuffle.read_bytes_per_op" -> mean(_.shuffleReadBytes.toDouble),
      "engine.shuffle.spill_bytes_per_op" -> mean(_.spillBytes.toDouble),
      "engine.storage.peak_cached_bytes" -> ctx.meter.peakCachedBytes.toDouble,
      "trace.ops" -> ops.size.toDouble,
      "trace.overhead_frac" -> overhead)
  }
}
