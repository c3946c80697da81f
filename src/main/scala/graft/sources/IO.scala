package graft.sources

import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The reference's storage model (SURVEY.md §2.1): row-oriented NDJSON in
  * the raw zone, date-partitioned snappy Parquet in the curated zone, with
  * tables registered in a catalog and partitions repaired after writes.
  */
object IO {

  /** S1/S2 — schema-explicit NDJSON scan (reference
    * scripts/glue_transform/transform.py:139-144,198-203 infers; we pin the
    * declared DDL schema for determinism — SURVEY.md §1.3).
    * S3 — the reference try/warn/return-empty behavior on a missing or
    * empty prefix (transform.py:143-149): reading a nonexistent path with
    * an explicit schema must not kill the pipeline.
    */
  def readNdjson(spark: SparkSession, schema: StructType, path: String): DataFrame =
    try {
      val df = spark.read.schema(schema).json(path)
      // force path resolution so a missing prefix surfaces here, not later
      df.queryExecution.analyzed
      df
    } catch {
      case _: AnalysisException =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }

  /** S1 variant with corrupt-record capture: malformed JSON lines don't
    * poison the scan (PERMISSIVE mode) — they surface in a
    * `_corrupt_record` column and are split off to a dead-letter frame,
    * the batch-scan analog of the Firehose `firehose-errors/` prefix
    * (reference terraform/modules/kinesis/main.tf:39).
    * Returns (clean rows, corrupt raw lines).
    */
  def readNdjsonWithCorrupt(spark: SparkSession, schema: StructType,
      path: String): (DataFrame, DataFrame) = {
    val withCorrupt = schema.add("_corrupt_record", org.apache.spark.sql.types.StringType)
    val df = spark.read
      .schema(withCorrupt)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)
      .cache() // required: corrupt-record column cannot be filtered from an uncached json scan twice
    val clean = df.filter(df.col("_corrupt_record").isNull).drop("_corrupt_record")
    val corrupt = df.filter(df.col("_corrupt_record").isNotNull)
      .select(df.col("_corrupt_record").as("raw_line"))
    (clean, corrupt)
  }

  /** S9 — NDJSON writer for the raw zone, Hive-partitioned like the batch
    * ingest lambda's `raw/weather/date=YYYY-MM-DD/` layout
    * (scripts/batch_ingest/lambda_function.py:76-93). File-per-partition
    * naming differs from the lambda's `<city>_<uuid8>.json`; contents are
    * equivalent (SURVEY.md S9).
    */
  def writeNdjson(df: DataFrame, path: String, partitionCols: Seq[String]): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).json(path)
  }

  /** S4 — curated-zone sink: date-partitioned snappy Parquet
    * (transform.py:179-185,259-265). The reference overwrites the whole
    * curated root each run; with
    * `spark.sql.sources.partitionOverwriteMode=dynamic` only the partitions
    * present in `df` are replaced — same idempotence, no O(all-data)
    * clobber (SURVEY.md §4). At 100 TB the dynamic mode is the only one
    * that survives: an hourly sweep rewrites hours, not history.
    */
  def writeCuratedParquet(df: DataFrame, path: String,
      partitionCols: Seq[String] = Seq("date"), compact: Boolean = false): Unit = {
    // compact=true repartitions on the partition cols first, so each
    // output partition is written by one task — instead of one file per
    // task per partition, which at tasks × partitions fan-out is the
    // small-file catastrophe (measured here: 12M rows across 1737 date
    // partitions wrote 32× more files uncompacted and made even
    // partition-pruned reads listing-bound). Costs one shuffle.
    val src = if (compact) df.repartition(partitionCols.map(df.col): _*) else df
    src.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .option("compression", "snappy")
      .parquet(path)
  }

  /** S7 — external-table DDL, the Spark equivalent of the four Glue catalog
    * declarations (terraform/modules/glue/main.tf:37-290).
    */
  def createExternalTable(spark: SparkSession, table: String, format: String,
      schema: StructType, partitionCols: Seq[String], location: String): Unit = {
    val dataCols = schema.fields.filterNot(f => partitionCols.contains(f.name))
    val colsDdl = dataCols.map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
    val partDdl =
      if (partitionCols.isEmpty) ""
      else partitionCols.map(c => s"`$c` STRING").mkString(" PARTITIONED BY (", ", ", ")")
    // LOCATION resolves relative paths against the warehouse dir; pin to an
    // absolute URI when no scheme is given.
    val loc =
      if (location.contains("://")) location
      else new java.io.File(location).getAbsoluteFile.toURI.toString.stripSuffix("/")
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    spark.sql(
      s"CREATE TABLE `$table` ($colsDdl) USING $format$partDdl LOCATION '$loc'")
    if (partitionCols.nonEmpty) repairPartitions(spark, table)
  }

  /** CSV scan with a pinned schema (inference re-reads the data and can
    * drift between runs — always declare). `header=true` and RFC-4180
    * quoting; timestamps must be pre-formatted to strings by the writer
    * so the round-trip is byte-stable.
    */
  def readCsv(spark: SparkSession, schema: StructType, path: String): DataFrame =
    spark.read.schema(schema).option("header", "true").csv(path)

  /** CSV sink (header, RFC-4180 quoting, one file per task). */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  /** ORC scan with a pinned schema — the second columnar format of the
    * lake (row-group stats, predicate pushdown, and vectorized reads all
    * work as with parquet; Spark's reader is native).
    */
  def readOrc(spark: SparkSession, schema: StructType, path: String): DataFrame =
    spark.read.schema(schema).orc(path)

  /** ORC sink (snappy, matching the parquet sink's codec choice). */
  def writeOrc(df: DataFrame, path: String, partitionCols: Seq[String] = Seq.empty): Unit = {
    val w = df.write.mode("overwrite").option("compression", "snappy")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).orc(path)
  }

  /** S5 — `MSCK REPAIR TABLE` after every write (transform.py:188,268). */
  def repairPartitions(spark: SparkSession, table: String): Unit =
    spark.sql(s"MSCK REPAIR TABLE `$table`")
}
