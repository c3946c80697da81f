package graft

import graft.operators.{Ingest, Pipeline}
import graft.sources.{IO, Schemas}

/** End-to-end smoke of the reference lifecycle (SURVEY.md §3): synthetic
  * producers → raw NDJSON zone → validate → transform → curated partitioned
  * Parquet → catalog → SQL serving. Run:
  *   sbt "runMain graft.Demo /tmp/graft-demo"
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val root = args.headOption.getOrElse("target/demo")
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val cities = Seq("New York", "Tokyo", "Sao Paulo", "Berlin", "Nairobi")

    // Batch ingest path (§3.1): Open-Meteo-shaped fetch → zip-flatten → raw.
    val weatherRaw = Ingest.flattenOpenMeteo(Ingest.syntheticOpenMeteo(spark, cities))
      .withColumn("date", graft.operators.Transforms.eventDate(
        org.apache.spark.sql.functions.col("timestamp")))
    IO.writeNdjson(weatherRaw, s"$root/raw/weather", Seq("date"))

    // Streaming-ingest analog (§3.2, batch variant): synthetic IoT → raw.
    val iotRaw = Ingest.syntheticIotBatch(spark, cities, sensorsPerCity = 3, ticks = 12)
    IO.writeNdjson(iotRaw, s"$root/raw/iot-sensors", Seq.empty)

    // Transform job (§3.3): validate → derive → curated → register + repair.
    val w = Pipeline.transformWeather(spark, s"$root/raw/weather",
      s"$root/curated/weather", registerAs = Some("curated_weather"))
    val i = Pipeline.transformIot(spark, s"$root/raw/iot-sensors",
      s"$root/curated/sensor_readings", registerAs = Some("curated_sensor_readings"))
    println(s"[demo] weather: rows=${w.rowsWritten} validation=${w.validation.map(v => s"${v.expectationsPassed}/${v.expectationsEvaluated} pass")}")
    println(s"[demo] iot:     rows=${i.rowsWritten} validation=${i.validation.map(v => s"${v.expectationsPassed}/${v.expectationsEvaluated} pass")}")

    // Empty-input short-circuit (transform.py:145-147 parity).
    val e = Pipeline.transformWeather(spark, s"$root/raw/does-not-exist",
      s"$root/curated/nothing")
    println(s"[demo] empty-guard: skipped=${e.skippedEmpty} rows=${e.rowsWritten}")

    // Serving layer (§3.4): the documented flagship query (README.md:130-131).
    println("[demo] flagship over curated_sensor_readings:")
    spark.sql(
      "SELECT city, COUNT(*) AS cnt FROM curated_sensor_readings GROUP BY city ORDER BY city")
      .show(truncate = false)
    println("[demo] quality_score distribution:")
    spark.sql(
      "SELECT quality_score, COUNT(*) AS cnt FROM curated_sensor_readings GROUP BY quality_score ORDER BY quality_score")
      .show(truncate = false)
    println("[demo] partition-pruned count plan (date filter):")
    spark.sql("SELECT COUNT(*) FROM curated_sensor_readings WHERE date = '2026-08-12'")
      .explain()
    spark.stop()
  }
}
