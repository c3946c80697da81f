package perfbench

import graft.operators.{Curation, Dedup}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

object Corpus {
  val stages: Seq[String] =
    Seq("language", "quality", "exact_dedup", "near_dedup", "decontaminate", "mixture")

  /** The corpus-only per-layer figures, for workloads that do not curate. */
  val absent: Seq[(String, Double)] =
    stages.map(s => s"operators.curate.rows.$s" -> 0.0) :+ ("operators.near_dup.pairs" -> 0.0)

  /** Docs in the warm-up slice; it holds every planted group (ids below 240). */
  val warmSliceDocs = 800L
  val nearDupThreshold = 0.7
  val minTokens = 20
}

/** `corpus_curate`: `Curation.curate` (language, quality, exact dedup,
  * MinHash-LSH near-dup clustering, decontamination, mixture sample) over
  * a seeded synthetic corpus with planted duplicate groups. One operation
  * is one curate call ending in a Parquet write of the curated corpus.
  */
final class CorpusCurate(ctx: Ctx) extends Workload {
  private val shape = Gen.CorpusShape(docs = 3500, exactGroups = 30, nearGroups = 30,
    benchDocs = 20)
  private var corpusDir = ""
  private var benchDir = ""
  private var setupOut = ""
  private var stageCounts = Seq.empty[Curation.StageCount]
  private val outs = scala.collection.mutable.ArrayBuffer.empty[String]
  private val lakeShape = LakeShape(batches = 3, rowsPerBatch = 5000, days = 20, sensorsPerCity = 25)

  val minOps = 2

  private def docs: DataFrame =
    ctx.spark.read.parquet(corpusDir).select("doc_id", "text", "source")

  private def config: Curation.Config = Curation.Config(
    languages = Set("en"), minTokens = Corpus.minTokens, dedupExact = true,
    nearDupThreshold = Some(Corpus.nearDupThreshold),
    benchmark = Some(ctx.spark.read.parquet(benchDir)), contaminationK = 8,
    mixture = Gen.mixture)

  def setupPass(pass: Int): Unit = {
    corpusDir = ctx.dir(s"corpus-$pass")
    benchDir = ctx.dir(s"bench-$pass")
    Gen.corpus(ctx.spark, ctx.seed, shape).write.mode("overwrite").parquet(corpusDir)
    Gen.benchmarkDocs(ctx.spark, ctx.seed, shape).coalesce(1)
      .write.mode("overwrite").parquet(benchDir)
  }

  /** One untimed `curate` call on a slice that holds every planted group
    * (it pays the cold JIT and code generation on under a quarter of the
    * corpus), then the reference call: its per-stage counts and survivors
    * are checked, and every timed call must reproduce its survivors.
    */
  def warmUp(): Unit = {
    Curation.curate(docs.where(col("doc_id") < Corpus.warmSliceDocs), config)
      .write.mode("overwrite").parquet(ctx.dir("curated", "warm-up"))
    setupOut = ctx.dir("curated", "reference")
    val (out, counts) = Curation.curateObserved(docs, config)
    out.write.mode("overwrite").parquet(setupOut)
    stageCounts = counts()
  }

  def op(i: Int): Op = {
    val path = ctx.dir("curated", s"op-$i")
    val (_, ms) = ctx.timed(ctx.tracer.span("op:curate", "harness") {
      ctx.tracer.span("Curation.curate+write", "operators") {
        Curation.curate(docs, config).write.mode("overwrite").parquet(path)
      }
    })
    outs += path
    Op(ms, shape.docs, rootSpan = ctx.tracer.lastId)
  }

  def named(ops: Seq[Op]): Seq[(String, Double)] =
    Seq("curate_docs_per_s" -> ops.map(_.items).sum * 1000.0 / ops.map(_.ms).sum)

  def probe(): Seq[(String, Double)] = {
    val tr = ctx.tracer
    // stage counts come from the set-up reference call (`curateObserved`)
    val observed = stageCounts.map(c => c.stage -> c.rows).toMap
    val exact = Curation.curate(docs, config.copy(nearDupThreshold = None, benchmark = None,
      mixture = Map.empty))
    val pairs = tr.span("Dedup.minhashNearDups", "operators") {
      Dedup.minhashNearDups(exact, shingleK = 3, numHashes = 16, bands = 4,
        threshold = Corpus.nearDupThreshold).count()
    }
    val responses = ctx.dir("responses")
    Lake.writeResponses(ctx, lakeShape, responses)
    val run = Lake.build(ctx, lakeShape, ctx.dir("lake", "probe"), responses)
    Corpus.stages.map(s => s"operators.curate.rows.$s" -> observed.getOrElse(s, 0L).toDouble) ++
      Seq("operators.near_dup.pairs" -> pairs.toDouble) ++
      Lake.layerStats(ctx, run) ++ Lake.isolatedCalls(ctx, run.rawIot) ++
      Seq("queries.build_ms_p50" -> Lake.buildCurated(ctx))
  }

  def checkInputs(): Seq[(String, String)] = Seq(
    "corpus_dir" -> Json.str(corpusDir),
    "setup_output" -> Json.str(setupOut),
    "outputs" -> Json.arr(outs.toSeq.map(Json.str)),
    "stage_counts" -> Json.obj(stageCounts.map(c => c.stage -> c.rows.toString)),
    "exact_groups" -> shape.exactGroups.toString,
    "near_groups" -> shape.nearGroups.toString)
}
