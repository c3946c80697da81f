package graft

import graft.operators.Pipeline
import graft.sources.{IO, Schemas}
import java.nio.file.Files

/** End-to-end lifecycle test on FIXTURES.md §C-style tiny NDJSON fixtures:
  * raw NDJSON → validate → transform → partitioned parquet → re-read.
  */
class PipelineSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "pipespec").toString

  private val iotLines = Seq(
    // battery>=50, all present -> PASS
    """{"sensor_id":"s1","city":"Tokyo","timestamp":"2026-08-12T06:05:00+00:00","temperature_c":31.4,"humidity_pct":44.0,"aqi":37.2,"battery_level":80.0}""",
    // 20<=battery<50 -> WARN; humidity out of range (101) -> validation failure
    """{"sensor_id":"s2","city":"Tokyo","timestamp":"2026-08-12T07:05:00+00:00","temperature_c":30.0,"humidity_pct":101.0,"aqi":40.0,"battery_level":30.0}""",
    // battery<20 -> FAIL; null temperature -> not_null failure
    """{"sensor_id":"s3","city":"Berlin","timestamp":"2026-08-13T06:05:00+00:00","temperature_c":null,"humidity_pct":50.0,"aqi":20.0,"battery_level":10.0}""")

  test("backfill rewrites only the targeted date partitions") {
    val root = tmp()
    val rawPath = s"$root/raw"
    Files.createDirectories(java.nio.file.Paths.get(rawPath))
    Files.write(java.nio.file.Paths.get(s"$rawPath/part-0.json"),
      iotLines.mkString("\n").getBytes)
    Pipeline.transformIot(spark, rawPath, s"$root/curated")

    def files(date: String): Map[String, Long] = {
      val d = new java.io.File(s"$root/curated/date=$date")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val before12 = files("2026-08-12")
    val before13 = files("2026-08-13")

    // a late row lands for 2026-08-13; backfill ONLY that date
    Files.write(java.nio.file.Paths.get(s"$rawPath/part-1.json"),
      """{"sensor_id":"s9","city":"Berlin","timestamp":"2026-08-13T09:00:00+00:00","temperature_c":22.0,"humidity_pct":40.0,"aqi":15.0,"battery_level":90.0}"""
        .getBytes)
    Thread.sleep(1100) // mtime granularity
    val outcome = Pipeline.backfillIot(spark, rawPath, s"$root/curated",
      Seq("2026-08-13"))
    assert(outcome.rowsWritten == 2) // old 08-13 row + the late one

    // untouched partition: identical file set AND mtimes
    assert(files("2026-08-12") == before12)
    // targeted partition: rewritten (different files or newer mtimes)
    assert(files("2026-08-13") != before13)
    val curated = spark.read.parquet(s"$root/curated")
    assert(curated.count() == 4)
    assert(curated.filter(
      org.apache.spark.sql.functions.col("date") === "2026-08-13").count() == 2)
  }

  test("iot transform: validate -> pseudonymize -> score -> partitioned write") {
    val root = tmp()
    val rawPath = s"$root/raw"
    Files.createDirectories(java.nio.file.Paths.get(rawPath))
    Files.write(java.nio.file.Paths.get(s"$rawPath/part-0.json"),
      iotLines.mkString("\n").getBytes)

    val outcome = Pipeline.transformIot(spark, rawPath, s"$root/curated")
    assert(!outcome.skippedEmpty && outcome.rowsWritten == 3)

    val v = outcome.validation.get
    assert(v.dataset == "raw_iot_sensors")
    assert(v.expectationsEvaluated == 9)
    assert(!v.success)
    val failed = v.results.filterNot(_.success)
    assert(failed.map(r => r.details.get("column")).toSet ==
      Set(Some("temperature_c"), Some("humidity_pct")))

    val curated = spark.read.parquet(s"$root/curated")
    assert(curated.columns.sorted.sameElements(
      (Schemas.curatedSensorReadings.fieldNames :+ "date").sorted))
    val byHash = curated.collect().map(r =>
      r.getAs[String]("quality_score")).sorted
    assert(byHash.sameElements(Array("FAIL", "PASS", "WARN")))
    // partition layout: event-date derived from the timestamp STRING
    assert(new java.io.File(s"$root/curated/date=2026-08-12").exists)
    assert(new java.io.File(s"$root/curated/date=2026-08-13").exists)
    // PII column is gone; hash is the sha256 of the original id
    assert(!curated.columns.contains("sensor_id"))
  }

  test("weather transform derives temperature_f and event date") {
    val root = tmp()
    val rawPath = s"$root/raw"
    Files.createDirectories(java.nio.file.Paths.get(rawPath))
    Files.write(java.nio.file.Paths.get(s"$rawPath/w.json"),
      """{"ingestion_id":"i1","city":"X","latitude":1.0,"longitude":2.0,"timestamp":"2026-08-12T07:00","temperature_c":24.3,"humidity_pct":61.0,"windspeed_kmh":11.2,"precipitation_mm":0.0,"ingested_at":"2026-08-12T06:00:01+00:00"}""".getBytes)
    val outcome = Pipeline.transformWeather(spark, rawPath, s"$root/curated")
    assert(outcome.rowsWritten == 1 && outcome.validation.get.success)
    val row = spark.read.parquet(s"$root/curated").collect().head
    assert(row.getAs[Double]("temperature_f") == 75.74) // 24.3*1.8+32
    assert(row.getAs[String]("date") == "2026-08-12")
  }

  test("empty/missing input short-circuits without writing") {
    val root = tmp()
    val outcome = Pipeline.transformWeather(spark, s"$root/nope", s"$root/curated")
    assert(outcome.skippedEmpty && outcome.rowsWritten == 0)
    assert(!new java.io.File(s"$root/curated").exists)
  }

  test("corrupt NDJSON lines are dead-lettered, clean rows survive") {
    val root = tmp()
    Files.createDirectories(java.nio.file.Paths.get(s"$root/raw"))
    Files.write(java.nio.file.Paths.get(s"$root/raw/mixed.json"),
      (iotLines.take(2) :+ "{not valid json at all" :+ "\"scalar\"").mkString("\n").getBytes)
    val (clean, corrupt) = IO.readNdjsonWithCorrupt(spark, Schemas.rawIot, s"$root/raw")
    assert(clean.count() == 2)
    assert(corrupt.count() == 2)
    assert(corrupt.collect().map(_.getString(0)).exists(_.startsWith("{not valid")))
  }

  test("compacted curated write produces one file per partition") {
    val root = tmp()
    import spark.implicits._
    val df = (1 to 100).map(i => (s"k$i", f"2026-08-${i % 2 + 1}%02d")).toDF("k", "date")
      .repartition(8) // many tasks -> would write 8 files per partition uncompacted
    IO.writeCuratedParquet(df, s"$root/curated", compact = true)
    Seq("2026-08-01", "2026-08-02").foreach { d =>
      val files = new java.io.File(s"$root/curated/date=$d")
        .listFiles().count(_.getName.endsWith(".parquet"))
      assert(files == 1, s"expected 1 compacted file for $d, got $files")
    }
    assert(spark.read.parquet(s"$root/curated").count() == 100)
  }

  test("curated write replaces only the partitions it carries, whatever the session mode") {
    import spark.implicits._
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.get(key)
    try Seq("dynamic", "static").foreach { mode =>
      spark.conf.set(key, mode)
      val path = s"${tmp()}/curated"
      IO.writeCuratedParquet(
        Seq(("a", 1, "2026-08-01"), ("b", 2, "2026-08-01"), ("c", 3, "2026-08-02"))
          .toDF("k", "v", "date"), path)
      IO.writeCuratedParquet(
        Seq(("c", 30, "2026-08-02"), ("d", 40, "2026-08-02")).toDF("k", "v", "date"), path)
      val rows = spark.read.parquet(path).as[(String, Int, String)].collect().toSet
      assert(rows == Set(("a", 1, "2026-08-01"), ("b", 2, "2026-08-01"),
        ("c", 30, "2026-08-02"), ("d", 40, "2026-08-02")), s"session mode $mode")
    } finally spark.conf.set(key, prev)
  }

  test("ndjson round-trip preserves values") {
    val root = tmp()
    import spark.implicits._
    val df = Seq(("a", 1.5), ("b", 2.25)).toDF("k", "v")
    IO.writeNdjson(df, s"$root/nd", Seq.empty)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.DoubleType)))
    val back = IO.readNdjson(spark, schema, s"$root/nd")
      .orderBy("k").as[(String, Double)].collect()
    assert(back.sameElements(Array(("a", 1.5), ("b", 2.25))))
  }
}
