package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The measured scale curve — the round-14 shift from ARGUING "this
  * plan survives 100×" from plan shapes to DEMONSTRATING it: the
  * bench-heaviest board queries run unmodified at sf0.1 and at a
  * synthesized ~10× sf0.1, and the per-query wall-clock ratios are
  * committed to `bench/scaling.json` with an n·log n envelope gate
  * (default: ratio ≤ 15 for 10× data, or the run fails).
  *
  * Synthesis is STRUCTURE-PRESERVING replication, not resampling: each
  * keyed table is unioned `factor` times with copy i's keys shifted by
  * i·K (K = max base key + 1), and FOREIGN keys shifted by the SAME K
  * as the table they reference — so per-copy join fan-outs, group
  * sizes, and null patterns replicate the base distribution exactly
  * and the scaled dataset is what the same pipeline would see with 10×
  * the traffic. Two honest caveats, documented rather than hidden:
  * value DOMAINS don't grow (replicated prices/words/vectors — so an
  * operator whose state is bounded by DISTINCT values, like stat11's
  * per-(flag, price) table, legitimately scales sublinearly: that IS
  * its scale story), and copies are disconnected (no cross-copy edges
  * or baskets — per-copy cluster structure replicates instead).
  *
  * The query list is DYNAMIC (round 15): the 10 bench-heaviest board
  * queries of the CURRENT committed full-board record
  * (`bench/bench.json`), so a newly-landed heavyweight (stat13 was the
  * round-14 example: board-heaviest, no 10× point) gets a ratio the
  * next time the curve runs instead of waiting for a hand-edit.
  * `s10_streaming_landing` is excluded by name: it generates a fixed
  * 960-row synthetic stream regardless of sfDir, so a "10×" run would
  * time the identical workload; the next-ranked query takes its slot.
  * Exclusions and the selection source are recorded in the JSON;
  * `SPARK_GRAFT_SCALE_QUERIES` overrides, and the frozen round-14 list
  * remains as the fallback when no bench record exists.
  *
  * Measurement mirrors [[Bench]] exactly (same BenchKit sentinel, page
  * -cache pre-fault, Materialize sweep + GC between queries, best-of-N
  * timing) so the base-side numbers are comparable with bench.json.
  *
  * Usage: `sbt "runMain graft.ScaleCurve"` — synthesizes to
  * target/scale10x on first run (~1 GiB; reused if present, force with
  * SPARK_GRAFT_SCALE_RESYNTH=1), writes bench/scaling.json, and FAILS
  * the JVM if any ratio exceeds the envelope.
  */
object ScaleCurve {

  /** Fallback measurement set (the frozen round-14 top-10) — used only
    * when `bench/bench.json` is absent or unreadable; see
    * [[selectQueries]] for the live selection rule.
    */
  val defaultQueries: Seq[String] = Seq(
    "ml11_per_group_logreg", "ml15_conformal", "ml13_boosted_stumps",
    "stat11_trimmed_mean", "t18_textrank", "mba2_confidence",
    "graph1_triangles", "l4_cow_merge", "v4_kmeans_ivf", "samp8_bootstrap")

  val excluded: Map[String, String] = Map(
    "s10_streaming_landing" ->
      "fixed-size synthetic stream; never scans the sf directory") ++
    // the media queries generate fixed-size synthetic payloads (PNGs,
    // WAVs, byte blobs) regardless of sfDir — a "10x" run would time
    // the identical workload, so the dynamic selection must skip them
    // just like s10 if they ever rank into the top-10
    Seq("m1_media_features", "m2_video_phash_neardup",
      "m3_imageio_features", "m4_imageio_phash_neardup",
      "m5_imageio_resize", "m6_audio_features", "m7_video_features")
      .map(_ -> "fixed-size synthetic media; never scans the sf directory")
      .toMap +
    ("sem1_semdedup" ->
      ("fixed 2000-row planted-geometry fixture: the value-carrying " +
        "oracle pins k = 8 cells, and SemDeDup's cost is ~n^2/k — " +
        "production scale comes from k growing with n (operator " +
        "parameter; spec-covered), which the k-frozen oracle query " +
        "deliberately does not exercise"))

  /** The `topN` heaviest queries of the committed full-board bench
    * record, skipping [[excluded]] names (the next-ranked query takes
    * the slot) and anything no longer in the registry. None when the
    * record is absent/unreadable — callers fall back to
    * [[defaultQueries]]. Ties in seconds break by name so the selection
    * is deterministic for a given record.
    */
  def selectQueries(spark: SparkSession, benchPath: String,
      topN: Int = 10): Option[Seq[String]] = {
    val f = new java.io.File(benchPath)
    if (!f.exists()) return None
    try {
      val df = spark.read.option("multiLine", "true")
        .json(f.getAbsolutePath).select(col("queries.*"))
      val row = df.head()
      val times = df.schema.fields.zipWithIndex.map { case (fld, i) =>
        fld.name -> (row.get(i) match {
          case d: java.lang.Double => d.doubleValue()
          case l: java.lang.Long   => l.toDouble
          case _                   => -1.0
        })
      }
      val picked = times.toSeq
        .filter { case (n, t) =>
          t > 0 && !excluded.contains(n) && SparkEntry.queries.contains(n) }
        .sortBy { case (n, t) => (-t, n) }
        .take(topN).map(_._1)
      if (picked.isEmpty) None else Some(picked)
    } catch {
      case e: Exception =>
        System.err.println(s"scale: cannot parse $benchPath ($e) — " +
          "falling back to the frozen default list")
        None
    }
  }

  /** Per-table key-shift plan: (column → home table whose K shifts it).
    * A column absent here is copied verbatim. region/nation are fixed-
    * cardinality dimensions at every TPC-H scale factor — copied 1×.
    */
  private val keyPlan: Map[String, Seq[(String, (String, String))]] = Map(
    "customer" -> Seq("c_custkey" -> ("customer", "c_custkey")),
    "supplier" -> Seq("s_suppkey" -> ("supplier", "s_suppkey")),
    "part" -> Seq("p_partkey" -> ("part", "p_partkey")),
    "orders" -> Seq(
      "o_orderkey" -> ("orders", "o_orderkey"),
      "o_custkey" -> ("customer", "c_custkey")),
    "lineitem" -> Seq(
      "l_orderkey" -> ("orders", "o_orderkey"),
      "l_partkey" -> ("part", "p_partkey"),
      "l_suppkey" -> ("supplier", "s_suppkey")),
    "events" -> Seq(
      "event_id" -> ("events", "event_id"),
      "user_id" -> ("events", "user_id")),
    "documents" -> Seq("doc_id" -> ("documents", "doc_id")),
    "embeddings" -> Seq("vec_id" -> ("embeddings", "vec_id")))

  private val copyOnly = Seq("region", "nation")

  /** Replicate every base table `factor`× into outDir (see object doc).
    * Returns (table → (base rows, scaled rows)) for the JSON record.
    */
  def synthesize(spark: SparkSession, baseDir: String, outDir: String,
      factor: Int): Seq[(String, (Long, Long))] = {
    require(factor >= 2, s"scale factor must be >= 2, got $factor")
    // K per (table, key column): max+1 over the HOME table, so every
    // referencing table shifts by the identical constant and copy i's
    // join graph is the base graph translated, never cross-linked
    val ks: Map[(String, String), Long] =
      keyPlan.values.flatten.map(_._2).toSet.map { home: (String, String) =>
        val (tbl, c) = home
        val m = graft.sources.Tables.load(spark, baseDir, tbl)
          .agg(max(col(c))).head()
        home -> (if (m.isNullAt(0)) 0L else m.getLong(0) + 1L)
      }.toMap
    val counts = (copyOnly.map { tbl =>
      val df = graft.sources.Tables.load(spark, baseDir, tbl)
      df.write.mode("overwrite").parquet(s"$outDir/$tbl.parquet")
      tbl -> (df.count(), df.count())
    }) ++ (keyPlan.toSeq.sortBy(_._1).map { case (tbl, shifts) =>
      val df = graft.sources.Tables.load(spark, baseDir, tbl)
      val shiftFor = shifts.toMap
      val copies = spark.range(factor).select(col("id").as("__c"))
      val scaled = df.crossJoin(copies).select(df.columns.map { c =>
        shiftFor.get(c) match {
          // null keys (events.user_id) stay null: null + x = null —
          // the base null pattern replicates per copy
          case Some(home) => (col(c) + col("__c") * lit(ks(home))).as(c)
          case None => col(c)
        }
      }: _*)
      scaled.write.mode("overwrite").parquet(s"$outDir/$tbl.parquet")
      val base = df.count()
      tbl -> (base, base * factor)
    })
    // row-count audit: a silent partial write would invalidate every
    // ratio downstream, so re-read and fail fast on any mismatch
    counts.foreach { case (tbl, (_, expect)) =>
      val got = spark.read.parquet(s"$outDir/$tbl.parquet").count()
      require(got == expect,
        s"scale synthesis wrote $got rows for $tbl, expected $expect")
    }
    counts
  }

  def main(args: Array[String]): Unit = {
    val baseDir = if (args.length > 0) args(0)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = if (args.length > 1) args(1) else "target/scale10x"
    val factor = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR", "10").toInt
    val runs = sys.env.getOrElse("SPARK_GRAFT_SCALE_RUNS", "2").toInt.max(1)
    val maxRatio =
      sys.env.getOrElse("SPARK_GRAFT_SCALE_MAX_RATIO", "15.0").toDouble
    val benchPath = sys.env.getOrElse("SPARK_GRAFT_SCALE_BENCH",
      "bench/bench.json")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import BenchKit.jn

    val (picked, selBase) = sys.env.get("SPARK_GRAFT_SCALE_QUERIES")
      .map(q => (q.split(",").toSeq, "env:SPARK_GRAFT_SCALE_QUERIES"))
      .orElse(selectQueries(spark, benchPath)
        .map(q => (q, s"top-10 of $benchPath")))
      .getOrElse((defaultQueries, "fallback: frozen r14 default list"))
    // SPARK_GRAFT_SCALE_EXTRA appends named queries BEYOND the dynamic
    // top-10 (e.g. newly-landed operators not yet heavy enough to rank
    // but whose scale story should be measured at birth) — recorded in
    // the selection string so the JSON stays honest about what was
    // ranked vs added
    val extras = sys.env.get("SPARK_GRAFT_SCALE_EXTRA")
      .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)
      .filterNot(picked.contains)
    val names = picked ++ extras
    val selection = selBase +
      (if (extras.isEmpty) "" else s" + extras: ${extras.mkString(",")}")
    System.err.println(s"scale: query selection = $selection: " +
      names.mkString(", "))

    // The synthesis-reuse marker records WHAT the replica was built from
    // (base dir + per-table base row counts), not just that one exists:
    // reusing a replica synthesized from a DIFFERENT base would make
    // every base/scaled ratio cross-dataset and meaningless, silently.
    val allTables = copyOnly ++ keyPlan.keys.toSeq.sorted
    val marker = new java.io.File(s"$outDir/_SYNTH_OK_x$factor")
    val resynth = sys.env.get("SPARK_GRAFT_SCALE_RESYNTH").exists(_ == "1")
    val t0s = System.nanoTime()
    val baseRows: Map[String, Long] = allTables.map(tbl =>
      tbl -> graft.sources.Tables.load(spark, baseDir, tbl).count()).toMap
    val markerContent = (s"base=$baseDir" +:
      allTables.map(tbl => s"$tbl=${baseRows(tbl)}")).mkString("\n")
    val reuse = marker.exists() && !resynth && {
      val ok = try java.nio.file.Files.readString(marker.toPath) == markerContent
        catch { case _: java.io.IOException => false }
      if (!ok) System.err.println("scale: marker present but its recorded " +
        s"base (dir or row counts) differs from $baseDir — resynthesizing")
      ok
    }
    val rows: Seq[(String, (Long, Long))] =
      if (reuse) {
        System.err.println(s"scale: reusing $outDir (marker matches $baseDir)")
        allTables.map { tbl =>
          tbl -> (baseRows(tbl), spark.read.parquet(s"$outDir/$tbl.parquet").count())
        }
      } else {
        val r = synthesize(spark, baseDir, outDir, factor)
        marker.getParentFile.mkdirs()
        java.nio.file.Files.write(marker.toPath,
          markerContent.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        r
      }
    val synthSecs = (System.nanoTime() - t0s) / 1e9

    // timing discipline = Bench's: JIT/codegen warmup, page-cache
    // pre-fault of BOTH directories, converged start sentinel, sweep +
    // GC between queries, best-of-N, quarter-point sentinels
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    BenchKit.warmFiles(new java.io.File(baseDir))
    BenchKit.warmFiles(new java.io.File(outDir))
    val sentStart = BenchKit.warmedSentinel(spark)

    def time(name: String, dir: String): Double = {
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"scale: unknown query '$name'"))
      graft.operators.Materialize.sweep()
      System.gc()
      val times = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        val ok = try { fn(spark, dir).count(); true }
          catch { case e: Throwable =>
            System.err.println(s"scale: $name failed at $dir: $e"); false }
        if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
      }
      if (times.contains(-1.0)) -1.0 else times.min
    }

    // base sweep, then scaled sweep — a sentinel between and after, so
    // contamination localizes to one side of the ratio
    val baseTimes = names.map(n => n -> time(n, baseDir))
    val sentMid = BenchKit.sentinel(spark)
    val scaledTimes = names.map(n => n -> time(n, outDir))
    val sentEnd = BenchKit.sentinel(spark)
    val sents = Seq(sentMid, sentEnd).filter(_ > 0)
    val spread = if (sents.nonEmpty) sents.max / sents.min else -1.0

    val perQuery = names.map { n =>
      val b = baseTimes.toMap.apply(n)
      val s10 = scaledTimes.toMap.apply(n)
      val ratio = if (b > 0 && s10 > 0) s10 / b else -1.0
      (n, b, s10, ratio, ratio >= 0 && ratio <= maxRatio)
    }
    val allPass = perQuery.forall(_._5)
    val qj = perQuery.map { case (n, b, s10, r, p) =>
      s""""$n":{"base":${jn(b, 3)},"scaled":${jn(s10, 3)},"ratio":${jn(r, 2)},"pass":$p}"""
    }.mkString("{", ",", "}")
    val rj = rows.map { case (t, (b, s)) => s""""$t":[$b,$s]""" }
      .mkString("{", ",", "}")
    val ej = excluded.map { case (k, v) => s""""$k":"$v"""" }
      .mkString("{", ",", "}")
    val sj = s"""{"start":${jn(sentStart, 3)},"mid":${jn(sentMid, 3)},"end":${jn(sentEnd, 3)},"spread":${jn(spread, 3)}}"""
    val line = s"""{"metric":"scale_curve","factor":$factor,"base":"$baseDir","scaled":"$outDir","runs":$runs,"cpus":$cpus,"max_ratio":${jn(maxRatio, 1)},"all_pass":$allPass,"selection":"$selection","synth_sec":${jn(synthSecs, 1)},"rows":$rj,"queries":$qj,"excluded":$ej,"sentinel":$sj}"""
    println(line)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "bench/scaling.json")
    val p = java.nio.file.Paths.get(outPath)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    // One JSON line PER FACTOR (round 16): a 30× deep-point run must not
    // clobber the 10× full-selection record — the line with this run's
    // factor is replaced, every other factor's line is kept, sorted by
    // factor so the file reads as an ascending curve.
    val factorRe = """"factor":(\d+)""".r
    def factorOf(l: String): Int =
      factorRe.findFirstMatchIn(l).map(_.group(1).toInt).getOrElse(Int.MaxValue)
    val kept =
      if (java.nio.file.Files.exists(p))
        scala.jdk.CollectionConverters.ListHasAsScala(
          java.nio.file.Files.readAllLines(p)).asScala.toSeq
          .filter(l => l.trim.nonEmpty && factorOf(l) != factor)
      else Seq.empty[String]
    val merged = (kept :+ line).sortBy(factorOf)
    java.nio.file.Files.write(p,
      (merged.mkString("\n") + "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
    if (!allPass) {
      val bad = perQuery.filterNot(_._5)
        .map(q => s"${q._1} ratio ${jn(q._4, 2)}").mkString("; ")
      sys.error(s"SCALE-GATE FAIL (> ${jn(maxRatio, 1)}x for ${factor}x " +
        s"data): $bad")
    }
  }
}
