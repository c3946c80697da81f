package graft
object Bench {
  // JSON number formatting, page-cache pre-fault, and the contention
  // sentinel live in BenchKit — shared with ScaleCurve so both timing
  // harnesses agree on what "idle" and "steady state" mean
  private def jn(x: Double, prec: Int): String = BenchKit.jn(x, prec)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.local(cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Same pass-through Verify has: SPARK_GRAFT_MATERIALIZE routes every
    // Materialize point through the named mode for mode A/B runs; the
    // driver never sets it, so the default methodology is unchanged.
    sys.env.get("SPARK_GRAFT_MATERIALIZE")
      .foreach(spark.conf.set(graft.operators.Materialize.ConfKey, _))
    // Warmup: JIT + codegen + parquet-reader init on the smallest SF, so
    // whichever query happens to run first isn't charged session startup.
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    // IO warmup: fault every input byte into the page cache BEFORE any
    // timing (BenchKit.warmFiles — see its doc for why a count() can't)
    BenchKit.warmFiles(new java.io.File(sfDir))
    // Best-of-N per query (default 2): the first run pays page-cache and
    // codegen warmup; the min reflects steady-state engine cost. The
    // session's generated-class cache (GraftSession.CodegenCacheEntries)
    // holds the whole registry's classes, so a query's classes stay
    // compiled between its runs and across the board.
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt.max(1)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    // Contention sentinel (BenchKit.sentinel): re-timed at start /
    // quarter points of the sweep; spread = max/min over the steady-
    // state probes, > ~1.5 means "re-run exclusively".
    def sentinel(): Double = BenchKit.sentinel(spark)
    val sentStart = BenchKit.warmedSentinel(spark)
    val all = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // Spread is computed over the 1/4, 1/2, 3/4, and end probes ONLY:
    // by a quarter of the sweep the JVM has executed tens of seconds of
    // real queries and the probe is at steady state, so max/min over
    // these four isolates EXTERNAL load. The start probe is recorded
    // for the log but excluded — even with converged warm-up it reads
    // ~1.4× the steady-state time (C2 keeps compiling through the
    // early sweep), which made the old {start,mid,end} spread flag
    // every clean run on an idle machine (observed rounds 5 and 6).
    val q1Pos = all.size / 4
    val midPos = all.size / 2
    val q3Pos = 3 * all.size / 4
    var sentQ1 = -1.0; var sentMid = -1.0; var sentQ3 = -1.0
    val results = all.zipWithIndex.map { case ((name, fn), i) =>
      if (i == q3Pos) sentQ3 = sentinel()
      else if (i == midPos) sentMid = sentinel()
      else if (i == q1Pos) sentQ1 = sentinel()
      // A crashing query reports -1, never its elapsed-to-crash time —
      // failures must be distinguishable from fast passes in BENCH output.
      // Sweep the previous query's materializations (Materialize's own
      // registry — see Verify for why the blanket getPersistentRDDs sweep
      // is wrong), then GC, so a query is never charged the storage or
      // allocation debt (dead broadcasts, codegen classes, agg buffers)
      // of the 50+ queries before it — without this, late-running queries
      // measure the session's garbage, not their own cost.
      graft.operators.Materialize.sweep()
      System.gc()
      val times = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true } catch { case _: Throwable => false }
        if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
      }
      name -> (if (times.contains(-1.0)) -1.0 else times.min)
    }
    val sentEnd = sentinel()
    // Streaming throughput micro-bench (rate source → Firehose-analog
    // landing sink): a fixed ~6 s wall budget of 1 s triggers at a rate
    // well above what one trigger can admit, so the measured figure is
    // SINK-BOUND rows/s (sum of input rows over completed triggers ÷ sum
    // of their triggerExecution time), not the configured rate. Skipped
    // under SPARK_GRAFT_BENCH_ONLY iteration runs. Informational — no
    // regression gate yet.
    val streaming = if (only.isDefined) "null" else try {
      val tmp = java.nio.file.Files.createTempDirectory("graft-sbench")
      val readings = graft.streaming.Streams.syntheticIotStream(
        spark, Seq("metropolis", "gotham", "atlantis", "zion"),
        sensorsPerCity = 4, rowsPerSecond = 200000)
      val q = graft.streaming.Streams.startRawLandingSink(readings,
        s"$tmp/out", s"$tmp/ckpt", s"$tmp/err",
        org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 second"))
      val deadline = System.nanoTime() + 6L * 1000 * 1000 * 1000
      while (System.nanoTime() < deadline) Thread.sleep(100)
      q.stop()
      q.awaitTermination(30000)
      val prog = q.recentProgress.filter(_.numInputRows > 0)
      val rows = prog.map(_.numInputRows).sum
      val secs = prog.map(_.durationMs.get("triggerExecution").toLong).sum / 1e3
      def rmRf(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rmRf)
        f.delete(); ()
      }
      rmRf(tmp.toFile)
      if (secs > 0) s"""{"rows_per_sec":${jn(rows / secs, 0)},"triggers":${prog.length},"rows":$rows}"""
      else "null"
    } catch { case e: Throwable =>
      System.err.println(s"bench: streaming micro-bench failed: $e"); "null"
    }
    // Spread drops the single worst in-sweep probe before taking max/min.
    // Rationale: the contamination this sentinel exists to flag — a
    // concurrent build/test run — lasts minutes and inflates at LEAST
    // two of the four probes, so it still flags after the drop. A lone
    // outlier is internal noise (observed on an exclusive run: q3 read
    // 1.7× after l4_cow_merge's file churn, while q1/mid/end agreed
    // within 1.3×) and must not cry wolf.
    val sents = Seq(sentQ1, sentMid, sentQ3, sentEnd).filter(_ > 0)
    val kept = if (sents.size >= 3) sents.sorted.dropRight(1) else sents
    val spread = if (kept.nonEmpty) kept.max / kept.min else -1.0
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val failed = results.count(_._2 < 0)
    val sj = s"""{"start":${jn(sentStart, 3)},"q1":${jn(sentQ1, 3)},"mid":${jn(sentMid, 3)},"q3":${jn(sentQ3, 3)},"end":${jn(sentEnd, 3)},"spread":${jn(spread, 3)}}"""
    val line = s"""{"metric":"total","value":$total,"unit":"sec","failed":$failed,"sentinel":$sj,"streaming":$streaming,"queries":$qs,"sf":"$sfDir"}"""
    println(line)
    // Stdout capture has truncated the tail of this line four rounds
    // running (driver-side log limits), leaving the official record
    // unparseable. The authoritative record is therefore this file — at a
    // TRACKED path by default (bench/ is not gitignored), so every
    // bench run leaves a committable, parseable artifact.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench/bench.json")
    try {
      val p = java.nio.file.Paths.get(outPath)
      Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.write(p,
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case e: Throwable =>
      System.err.println(s"bench: could not write $outPath: $e")
    }
    // Cross-round trend record: bench.json is overwritten per run, and
    // same-machine drift (71-105 s observed across same-day runs) makes
    // "regression or noise?" undecidable from a single snapshot. One
    // compact APPENDED line per run — timestamp, totals, sentinel spread,
    // query count — so drift vs regression is a one-file diff. Full
    // per-query detail stays in bench.json / BENCH_r{N}.json.
    try {
      val ts = java.time.format.DateTimeFormatter.ISO_INSTANT
        .format(java.time.Instant.now().truncatedTo(java.time.temporal.ChronoUnit.SECONDS))
      // per-query times ride the history line too (3 decimals — enough
      // for the 1.5x drift gate), so tools/bench_diff.py can derive the
      // rolling per-query best from committed records alone
      val qsHist = results.map { case (k, v) =>
        s"\"" + k + "\":" + (if (v < 0) "-1" else jn(v, 3)) }
        .mkString("{", ",", "}")
      // mode rides the record so an A/B run (SPARK_GRAFT_MATERIALIZE)
      // is distinguishable from the default methodology in the history.
      // Read the SESSION conf, not the env var (ADVICE r16): a mode set
      // by any other path would otherwise be mislabeled here.
      val mode = spark.conf.getOption(graft.operators.Materialize.ConfKey)
        .getOrElse("localCheckpoint")
      val hist = s"""{"utc":"$ts","total":${jn(total, 1)},"failed":$failed,"n_queries":${results.size},"spread":${jn(spread, 3)},"runs":$runs,"cpus":$cpus,"sf":"$sfDir","subset":${only.isDefined},"mode":"$mode","queries":$qsHist}"""
      java.nio.file.Files.write(java.nio.file.Paths.get("bench/history.jsonl"),
        (hist + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    } catch { case e: Throwable =>
      System.err.println(s"bench: could not append bench/history.jsonl: $e")
    }
    spark.stop()
  }
}
