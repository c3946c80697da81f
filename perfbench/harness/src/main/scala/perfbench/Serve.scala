package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.queries.QueryDef
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType

/** `serve_sql`: a closed loop over a fixed query mix — the TPC-H-shaped
  * registry queries over generated star-schema tables plus ad-hoc SQL over
  * the curated lake tables that the lake code builds during set-up. One
  * operation is one query, timed from calling its builder (`QueryDef.fn`
  * or `spark.sql`) to the last collected row.
  */
final class ServeSql(ctx: Ctx) extends Workload {
  private val lakeShape = LakeShape(batches = 1, rowsPerBatch = 10000, days = 20, sensorsPerCity = 25)
  private val tpchScale = 0.01
  private var tpchDir = ""
  private var lake: LakeRun = _

  private val registry: Seq[QueryDef] = graft.SparkEntry.registry
    .filter(q => q.name.matches("q\\d+_.*") && q.oracle.isDefined)

  /** (name, builder, oracle SQL): registry queries then curated queries. */
  private lazy val mix: Seq[(String, () => DataFrame, String)] =
    registry.map(q => (q.name, () => q.fn(ctx.spark, tpchDir), q.oracle.get)) ++
      Lake.curatedQueries(ctx.seed).map { case (n, sql) => (n, () => ctx.spark.sql(sql), sql) }

  private val firstRows = mutable.LinkedHashMap.empty[String, (StructType, Array[Row])]
  private val tracedBuilds = mutable.ArrayBuffer.empty[Double]

  /** Two whole rounds of the mix: every query weighs the same in a run. */
  val minOps: Int = 2 * mix.size
  override def roundOps: Int = mix.size

  def setupPass(pass: Int): Unit = {
    // fresh paths per pass: the engine memoizes file listings per path
    val dir = ctx.dir(s"tpch-$pass")
    val spark = ctx.spark
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try Gen.tpch(spark, ctx.seed, tpchScale).foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    } finally spark.conf.unset("spark.sql.parquet.outputTimestampType")
    tpchDir = dir
  }

  /** Builds the curated tables with the lake code, then runs the mix once. */
  def warmUp(): Unit = {
    val responses = ctx.dir("responses")
    Lake.writeResponses(ctx, lakeShape, responses)
    lake = Lake.build(ctx, lakeShape, ctx.dir("lake", "serving"), responses)
    mix.foreach { case (_, build, _) => build().collect() }
  }

  def op(i: Int): Op = {
    val (name, build, _) = mix(i % mix.size)
    val tr = ctx.tracer
    val ((schema, rows, buildMs), ms) = ctx.timed(tr.span(s"op:$name", "harness") {
      val (df, buildMs) = ctx.timed(tr.span(s"build:$name", "queries")(build()))
      (df.schema, tr.span(s"collect:$name", "engine")(df.collect()), buildMs)
    })
    if (tr.enabled) tracedBuilds += buildMs
    val same = firstRows.get(name) match {
      case None => firstRows(name) = (schema, rows); true
      case Some((_, first)) => first.sameElements(rows)
    }
    Op(ms, 1L, failed = !same, rootSpan = ctx.tracer.lastId)
  }

  def named(ops: Seq[Op]): Seq[(String, Double)] = Seq(
    "serve_p50_ms" -> Harness.quantile(ops.map(_.ms), 0.5),
    "serve_p90_ms" -> Harness.quantile(ops.map(_.ms), 0.9),
    "serve_qps" -> ops.size * 1000.0 / ops.map(_.ms).sum)

  def probe(): Seq[(String, Double)] = {
    val run = Lake.build(ctx, lakeShape, ctx.dir("lake", "probe"), ctx.dir("responses"))
    Lake.layerStats(ctx, run) ++ Lake.isolatedCalls(ctx, run.rawIot) ++
      Seq("queries.build_ms_p50" -> Harness.median(tracedBuilds.toSeq)) ++ Corpus.absent
  }

  def checkInputs(): Seq[(String, String)] = {
    val out = ctx.dir("results")
    val entries = firstRows.toSeq.map { case (name, (schema, rows)) =>
      ctx.spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$out/$name")
      val sql = mix.find(_._1 == name).get._3
      Json.obj(Seq("name" -> Json.str(name), "rows" -> rows.length.toString,
        "result" -> Json.str(s"$out/$name"), "oracle" -> Json.str(sql)))
    }
    Seq("tpch_dir" -> Json.str(tpchDir),
      "curated_iot" -> Json.str(lake.curatedIot),
      "curated_weather" -> Json.str(lake.curatedWeather),
      "lake_run" -> Lake.runJson(lake),
      "queries" -> Json.arr(entries))
  }
}
