package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.operators.{Ingest, Pipeline, Transforms, Validation}
import graft.sources.{IO, Schemas}
import graft.streaming.Streams
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Size of one ingest-to-catalog lifecycle. */
final case class LakeShape(batches: Int, rowsPerBatch: Int, days: Int, sensorsPerCity: Int) {
  def rows: Long = batches.toLong * rowsPerBatch
}

/** One run of the reference lifecycle: landing, weather ingest, and both
  * Glue-style transforms with catalog registration and repair.
  */
final case class LakeRun(root: String, landMs: Double, landRows: Long,
    addBatchMs: Seq[Double], transformMs: Double,
    iot: Pipeline.TransformOutcome, weather: Pipeline.TransformOutcome,
    transformSpans: Seq[String]) {
  def rawIot: String = s"$root/raw/iot"
  def rawWeather: String = s"$root/raw/weather"
  def curatedIot: String = s"$root/curated/iot"
  def curatedWeather: String = s"$root/curated/weather"
  def curatedRows: Long = iot.rowsWritten + weather.rowsWritten
}

object Lake {

  def files(dir: String, suffix: String): Seq[java.nio.file.Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Seq.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(f => Files.isRegularFile(f) &&
        f.getFileName.toString.endsWith(suffix) && !f.getFileName.toString.startsWith(".")).toSeq
      finally s.close()
    }
  }

  def bytes(dir: String, suffix: String): Long = files(dir, suffix).map(Files.size).sum

  /** Write the seed's Open-Meteo responses (set-up; not timed). */
  def writeResponses(ctx: Ctx, shape: LakeShape, path: String): Unit =
    Gen.weatherResponses(ctx.spark, ctx.seed, shape.days).coalesce(1)
      .write.mode("overwrite").json(path)

  def build(ctx: Ctx, shape: LakeShape, root: String, responses: String): LakeRun = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val s = ctx.seed
    val raw = s"$root/raw"
    // landing: a bounded, closed-loop stream of `batches` micro-batches
    val (addBatch, landMs) = ctx.timed(tr.span("Streams.startRawLandingSink", "streaming") {
      val mem = MemoryStream[Long](spark, ctx.cores)(Encoders.scalaLong)
      val readings = Ingest.readingProjection(Gen.iotIds(s, mem.toDF(), shape.rows, shape.days),
        s.cities, shape.sensorsPerCity)
      val q = Streams.startRawLandingSink(readings, s"$raw/iot", s"$root/checkpoint",
        s"$root/errors", Trigger.ProcessingTime(0L))
      tr.alias(q.runId.toString)
      try {
        (0 until shape.batches).foreach { b =>
          val from = b.toLong * shape.rowsPerBatch
          mem.addData(from until from + shape.rowsPerBatch)
          q.processAllAvailable()
        }
        q.exception.foreach(e => throw e)
        q.recentProgress.filter(_.numInputRows > 0).toSeq
          .map(_.durationMs.asScala.get("addBatch").map(_.toDouble).getOrElse(0.0))
      } finally q.stop()
    })
    tr.span("weather.flatten_write", "sources") {
      val flat = tr.span("Ingest.flattenOpenMeteo", "operators") {
        Ingest.flattenOpenMeteo(spark.read.schema(Gen.responseSchema).json(responses))
          .withColumn("date", substring(col("ingested_at"), 1, 10))
      }
      IO.writeNdjson(flat, s"$raw/weather", Seq("date"))
    }
    val ((iot, weather, spans), transformMs) = ctx.timed {
      val i = tr.span("Pipeline.transformIot", "operators") {
        Pipeline.transformIot(spark, s"$raw/iot", s"$root/curated/iot",
          Some("curated_sensor_readings"))
      }
      val iSpan = tr.lastId
      val w = tr.span("Pipeline.transformWeather", "operators") {
        Pipeline.transformWeather(spark, s"$raw/weather", s"$root/curated/weather",
          Some("curated_weather"))
      }
      (i, w, (iSpan ++ tr.lastId).toSeq)
    }
    LakeRun(root, landMs, shape.rows, addBatch, transformMs, iot, weather, spans)
  }

  /** Storage and read-amplification figures of one traced lake run. */
  def layerStats(ctx: Ctx, run: LakeRun): Seq[(String, Double)] = {
    ctx.meter.drain()
    val groups = ctx.meter.byGroup
    val transformRead = groups.collect {
      case (g, c) if ctx.tracer.spanOf(g).exists(run.transformSpans.contains) => c.bytesRead
    }.sum
    val rawBytes = bytes(run.rawIot, ".json") + bytes(run.rawWeather, ".json")
    val curatedBytes = bytes(run.curatedIot, ".parquet") + bytes(run.curatedWeather, ".parquet")
    Seq(
      "streaming.land.batches" -> run.addBatchMs.size.toDouble,
      "streaming.land.add_batch_ms_p50" -> Harness.median(run.addBatchMs),
      "streaming.land.files_written" -> files(run.rawIot, ".json").size.toDouble,
      "sources.raw_read_amplification" -> transformRead.toDouble / math.max(rawBytes, 1L),
      "sources.curated_files_written" ->
        (files(run.curatedIot, ".parquet").size + files(run.curatedWeather, ".parquet").size)
          .toDouble,
      "sources.curated_bytes_per_raw_byte" -> curatedBytes.toDouble / math.max(rawBytes, 1L))
  }

  /** Isolated layer calls on one raw zone, each the median of three. */
  def isolatedCalls(ctx: Ctx, rawIot: String): Seq[(String, Double)] = {
    val spark = ctx.spark
    val tr = ctx.tracer
    def raw = IO.readNdjson(spark, Schemas.rawIot, rawIot)
    def med(f: Int => Unit): Double = Harness.median((1 to 3).map(i => ctx.timed(f(i))._2))
    val validate = med(_ => tr.span("Validation.validate", "operators") {
      Validation.validate(raw, "raw_iot_sensors", Validation.iotSuite)
    })
    val deriveWrite = med(i => tr.span("Transforms.deriveIot+IO.writeCuratedParquet", "operators") {
      IO.writeCuratedParquet(Transforms.deriveIot(raw), ctx.dir("probe", s"curated-$i"))
    })
    val schema = Transforms.deriveIot(raw).schema
    val register = med(i => tr.span("IO.createExternalTable", "sources") {
      IO.createExternalTable(spark, "probe_sensor_readings", "PARQUET", schema, Seq("date"),
        ctx.dir("probe", s"curated-$i"))
    })
    Seq("operators.validate_ms" -> validate, "operators.derive_write_ms" -> deriveWrite,
      "sources.catalog_register_ms" -> register)
  }

  /** Athena-style ad-hoc SQL over the curated tables; DuckDB runs the same
    * text over the curated Parquet as the oracle.
    */
  def curatedQueries(s: Seeded): Seq[(String, String)] = Seq(
    "c1_pruned_count" ->
      s"SELECT count(*) AS n FROM curated_sensor_readings WHERE date = '${s.date(3)}'",
    "c2_by_city" ->
      ("SELECT city, count(*) AS n, CAST(sum(CAST(temperature_c AS DECIMAL(18,1))) AS DOUBLE)" +
        " AS sum_temp_c, max(aqi) AS max_aqi FROM curated_sensor_readings" +
        " GROUP BY city ORDER BY city"),
    "c3_by_quality" ->
      ("SELECT quality_score, count(*) AS n, min(battery_level) AS min_battery," +
        " max(battery_level) AS max_battery FROM curated_sensor_readings" +
        " GROUP BY quality_score ORDER BY quality_score"),
    "c4_date_range" ->
      ("SELECT date, count(*) AS n, max(temperature_c) AS max_temp_c," +
        " min(humidity_pct) AS min_humidity FROM curated_sensor_readings" +
        s" WHERE date BETWEEN '${s.date(5)}' AND '${s.date(12)}' GROUP BY date ORDER BY date"),
    "c5_weather_join" ->
      ("WITH w AS (SELECT city, date, max(temperature_f) AS max_temp_f FROM curated_weather" +
        " GROUP BY city, date) SELECT s.city, s.date, count(*) AS n," +
        " max(w.max_temp_f) AS max_temp_f FROM curated_sensor_readings s" +
        " JOIN w ON s.city = w.city AND s.date = w.date" +
        " GROUP BY s.city, s.date ORDER BY s.city, s.date"),
    "c6_weather_daily" ->
      ("SELECT city, date, CAST(sum(CAST(precipitation_mm AS DECIMAL(18,1))) AS DOUBLE)" +
        " AS precip_mm, count(*) AS n FROM curated_weather" +
        s" WHERE date >= '${s.date(10)}' GROUP BY city, date ORDER BY city, date"))

  /** Median build time (`spark.sql` up to the action) of the curated mix. */
  def buildCurated(ctx: Ctx): Double =
    Harness.median(curatedQueries(ctx.seed).map { case (name, sql) =>
      ctx.timed(ctx.tracer.span(s"sql:$name", "queries")(ctx.spark.sql(sql)))._2
    })

  def validationJson(o: Pipeline.TransformOutcome): String = o.validation match {
    case None => "null"
    case Some(r) =>
      val counts = r.results.flatMap(x => x.details.get("total_count")
        .orElse(x.details.get("row_count")).map(v => Json.num(v.toString.toDouble)))
      Json.obj(Seq("evaluated" -> r.expectationsEvaluated.toString,
        "passed" -> r.expectationsPassed.toString, "success" -> r.success.toString,
        "counts" -> Json.arr(counts)))
  }

  def runJson(r: LakeRun): String = Json.obj(Seq(
    "raw_iot" -> Json.str(r.rawIot), "raw_weather" -> Json.str(r.rawWeather),
    "curated_iot" -> Json.str(r.curatedIot), "curated_weather" -> Json.str(r.curatedWeather),
    "land_rows" -> r.landRows.toString,
    "iot_rows" -> r.iot.rowsWritten.toString, "weather_rows" -> r.weather.rowsWritten.toString,
    "iot_validation" -> validationJson(r.iot), "weather_validation" -> validationJson(r.weather)))
}

/** `lake_etl`: the reference's ingest-to-catalog lifecycle as a closed
  * loop. One operation is one full lifecycle into fresh paths.
  */
final class LakeEtl(ctx: Ctx) extends Workload {
  private val shape = LakeShape(batches = 10, rowsPerBatch = 5000, days = 20, sensorsPerCity = 25)
  private val responses = ctx.dir("responses")
  private val runs = scala.collection.mutable.ArrayBuffer.empty[(LakeRun, Boolean)]

  val minOps = 3

  def setupPass(pass: Int): Unit = Lake.writeResponses(ctx, shape, responses)

  def warmUp(): Unit = Lake.build(ctx, shape, ctx.dir("lake", "warm-up"), responses)

  def op(i: Int): Op = {
    val (run, ms) = ctx.timed(ctx.tracer.span("op:lake_cycle", "harness") {
      Lake.build(ctx, shape, ctx.dir("lake", s"cycle-$i"), responses)
    })
    val ok = !run.iot.skippedEmpty && !run.weather.skippedEmpty
    runs += run -> ctx.tracer.enabled
    Op(ms, run.curatedRows, failed = !ok, rootSpan = ctx.tracer.lastId)
  }

  def named(ops: Seq[Op]): Seq[(String, Double)] = {
    val plain = runs.filterNot(_._2).map(_._1)
    Seq(
      "land_rows_per_s" -> plain.map(_.landRows).sum * 1000.0 / plain.map(_.landMs).sum,
      "transform_rows_per_s" -> plain.map(_.curatedRows).sum * 1000.0 / plain.map(_.transformMs).sum)
  }

  def probe(): Seq[(String, Double)] = {
    val last = runs.filter(_._2).last._1
    Lake.layerStats(ctx, last) ++ Lake.isolatedCalls(ctx, last.rawIot) ++
      Seq("queries.build_ms_p50" -> Lake.buildCurated(ctx)) ++ Corpus.absent
  }

  def checkInputs(): Seq[(String, String)] =
    Seq("lake_runs" -> Json.arr(runs.map(r => Lake.runJson(r._1)).toSeq))
}
