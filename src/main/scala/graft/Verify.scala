package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.local(cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // SPARK_GRAFT_MATERIALIZE=persist|localCheckpoint|off routes every
    // Materialize point through the named mode — the fault-tolerance
    // equivalence sweep (COVERAGE.md) runs the WHOLE registry under
    // `persist` and diffs against the default-mode run.
    sys.env.get("SPARK_GRAFT_MATERIALIZE")
      .foreach(spark.conf.set(graft.operators.Materialize.ConfKey, _))
    new java.io.File(outDir).mkdirs()
    // Iteration aid (driver ignores it): restrict to a comma-separated
    // subset of query names.
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY").map(_.split(",").toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // a finished query's materializations are dead weight for the next
      // one, so free them at the query boundary: the cache manager for
      // Dataset-level caches, and Materialize's OWN pin registry for its
      // RDD-level pins (both modes — localCheckpoint blocks accrue too).
      // Scoped deliberately: a blanket getPersistentRDDs sweep would also
      // destroy localCheckpoint'd RDDs it does not own — blocks that are
      // their RDD's ONLY copy (lineage truncated), safe to drop here only
      // because the query has finished, and not safe to drop at all for
      // pins belonging to a concurrently-running plan.
      spark.sharedState.cacheManager.clearCache()
      graft.operators.Materialize.sweep()
    }
    // Full runs leave EXACTLY registry dirs + oracle_sql.json: a stale
    // directory from a renamed/removed query (s10_csv_roundtrip after
    // the s13 rename, round 14) survives otherwise and poisons ad-hoc
    // re-checks that glob the out dir instead of reading the oracle map.
    // Subset runs (SPARK_GRAFT_VERIFY_ONLY) skip the cleanup — they
    // deliberately leave other queries' outputs in place. Guarded on a
    // prior run's oracle_sql.json being present (round-15 advisory): a
    // directory WITHOUT one was never a verify out-dir, so sweeping it
    // would delete files this program does not own — first runs into a
    // fresh/foreign directory clean nothing.
    if (only.isEmpty &&
        new java.io.File(outDir, "oracle_sql.json").exists()) {
      val keep = SparkEntry.queries.keySet + "oracle_sql.json"
      Option(new java.io.File(outDir).listFiles()).getOrElse(Array.empty)
        .filterNot(f => keep.contains(f.getName))
        .foreach { f =>
          System.err.println(s"[verify] removing stale output ${f.getName}")
          org.apache.commons.io.FileUtils.deleteQuietly(f)
        }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson(only))
    spark.stop()
  }

  /** The oracle map as the JSON document the driver (and the
    * OracleLintSpec type gate) consume — ONE serializer so the escaping
    * rules are decided once. Escapes backslash, quote, and ALL control
    * chars (<0x20): a tab or CR in builder-authored SQL would otherwise
    * make the driver's json.load fail and silently zero the round's
    * correctness.
    */
  def oracleJson(only: Option[Set[String]] = None): String = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    SparkEntry.oracleSql
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
  }
}
