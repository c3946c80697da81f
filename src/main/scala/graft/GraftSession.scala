package graft

import org.apache.spark.sql.SparkSession

/** The engine's canonical session entry point: one place that encodes the
  * configuration the operators are designed against, instead of every
  * caller rediscovering it.
  *
  * What it pins and why:
  *  - UTC session timezone — the reference's string-timestamp data model
  *    derives dates by substring; any other zone silently shifts
  *    date-partition boundaries (SURVEY.md §7.4).
  *  - parquet timestamp inference pinned to LTZ (inferTimestampNTZ off) —
  *    upstream writers (pandas/pyarrow) emit naive `timestamp[us]`; with
  *    the session zone pinned to UTC, reading those as LTZ makes
  *    `unix_micros`/window/as-of arithmetic well-typed and numerically
  *    identical to a naive reading, where NTZ inference would reject
  *    `unix_micros` outright and fork the type surface per writer.
  *  - dynamic partition overwrite — an hourly sweep must rewrite hours,
  *    not history (reference overwrites the whole curated root each run;
  *    scripts/glue_transform/transform.py:179-185).
  *  - AQE on (default in Spark 4, pinned explicitly) — runtime shuffle
  *    coalescing and skew-join splitting are part of the operators'
  *    skew story.
  *  - GraftExtensions — custom expressions as SQL functions, the jaccard
  *    prefilter and range-join optimizer rules, the skyline strategy.
  *  - generated-class cache of [[CodegenCacheEntries]] (4,096) entries —
  *    Spark's default of 100 is smaller than the engine's query surface,
  *    so a session that cycles through more distinct plan shapes than
  *    that evicts each class before its next use and recompiles it: one
  *    run of the 23-query `serve_sql` mix compiles 359 classes and the
  *    whole 275-query registry at sf0.01 3,353 (5,422 compiles in one
  *    pass at the default cap). At 100 a serve loop recompiled ~13
  *    classes on every query (~590 compiles per 46 timed queries, about
  *    a third of its p50); at 4,096 the same loop compiles 0–6. The cap
  *    is a static conf: Spark's `CodeGenerator` cache is JVM-global and
  *    is sized once, from the active session's conf at the JVM's first
  *    code generation, so it only takes effect through the builder of
  *    the JVM's first session.
  *
  * Cluster sizing is deliberately NOT hardcoded — it is data-dependent:
  *  - `spark.sql.shuffle.partitions`: ~2-3× total executor cores, raised
  *    until the largest shuffle partition fits executor memory (at
  *    100 TB inputs with 1000 executors × 8 cores, tens of thousands —
  *    or leave AQE's coalescing to trim an over-provisioned width).
  *  - `spark.sql.files.maxPartitionBytes`: 128-256 MB so scan tasks
  *    amortize scheduling but never hold more than a few row groups.
  *  [[local]] is the local entry point: one shuffle partition per core.
  *  Bench, Verify, ScaleCurve, PlanAudit, Demo and the test suite all
  *  build their session through it, so what is tested and benched is
  *  the session the engine ships.
  */
object GraftSession {

  /** Builder preloaded with the engine's defaults; callers add master,
    * app name, and size-dependent confs, then `getOrCreate()`.
    */
  def builder(): SparkSession.Builder =
    SparkSession.builder()
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)

  /** Generated-class cache size: the whole registry's 3,353 classes at
    * sf0.01 rounded up to a power of two (see "What it pins and why").
    */
  val CodegenCacheEntries: Int = 4096

  /** [[builder]] on `local[cores]`, with one shuffle partition per core
    * and the UI off; callers add only their own extras (app name,
    * warehouse dir), then `getOrCreate()`.
    */
  def local(cores: Int): SparkSession.Builder =
    builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
}
