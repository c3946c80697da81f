package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The end-to-end training-data curation pipeline — the operators of this
  * engine composed in their canonical order (the CCNet/Gopher/LLM-corpus
  * shape). Every stage is one of the individually-verified operators;
  * this object fixes the ORDER and the data handed between them:
  *
  *   1. language filter        (map-only; cheapest first, biggest cut)
  *   2. quality filter         (map-only integer signals)
  *   3. LM band-pass           (optional; corpus-trained bigram model
  *                              drops the boilerplate and garble tails)
  *   4. exact dedup            (one hash repartition on the fingerprint,
  *                              keep the smallest id per group)
  *   5. near-dup clustering    (MinHash-LSH pairs → connected-component
  *                              labels of the edge-touched docs → drop the
  *                              non-representatives by a broadcast
  *                              anti-join)
  *   6. decontamination        (map-only probe of each doc's k-grams
  *                              against the broadcast benchmark k-gram set)
  *   7. source-mixture sample  (target proportions, map-only rates)
  *
  * Stage order matters at 100 TB: the map-only filters run at scan speed
  * and shrink the corpus BEFORE anything shuffles; exact dedup halves
  * typical crawl volume before the (costlier) near-dup pass; the
  * benchmark probe and the mixture sampler touch only survivors.
  *
  * Each stage is optional (None/empty config skips it) so ablations and
  * incremental rollouts reuse the same entry point.
  *
  * Pin point: when the near-dup stage runs, the exact-dedup output is
  * pinned once with [[Materialize]]. Near-dup reads it three times
  * (minhash shingling, both verify sides) plus once for the keep
  * anti-join, and the mixture's count collect and the caller's action
  * read the survivors again; the prefix behind it crosses the exact-dedup
  * shuffle, so unpinned, each read re-ran the scan, language, quality and
  * exact-dedup stages. Exact dedup reads its input once, so one call
  * scans the corpus once — in the pin's job. Behind the pin every stage
  * is map-only on the pin's partitions (the session's shuffle width, kept
  * by exact dedup's explicit repartition): the near-dup keep broadcasts
  * the non-representative ids, decontamination probes a broadcast set,
  * and the mixture applies per-source rates, so the write's plan holds
  * no shuffle after the pin (the mixture's per-source count is a
  * separate small job). The pin's job is a SQL execution, so
  * [[curateObserved]]'s upstream counts are delivered by it. The pin
  * outlives the call — the returned frame reads it — and is freed by
  * [[Materialize.sweep]] at the caller's query boundary, or by Spark's
  * ContextCleaner once the frame is garbage-collected (Materialize
  * keeps only weak references). Under `graft.materialize.mode=off`
  * nothing is pinned and the results are the same.
  */
object Curation {

  final case class Config(
      languages: Set[String] = Set("en"),
      minTokens: Int = 20,
      /** CCNet-style LM band-pass on TextAnalysis.bigramLm's fixed-point
        * mean bigram probability ×10⁶: keep docs inside
        * [lmMinProb, lmMaxProb]. Low = garbled/rare text, high =
        * boilerplate — corpus curation drops both tails. None skips the
        * stage (it costs the bigram-model shuffles; the map-only filters
        * above stay the cheap first cut).
        */
      lmBand: Option[(Long, Long)] = None,
      dedupExact: Boolean = true,
      nearDupThreshold: Option[Double] = Some(0.8),
      benchmark: Option[DataFrame] = None,
      contaminationK: Int = 8,
      mixture: Map[String, Double] = Map.empty)

  final case class StageCount(stage: String, rows: Long)

  /** Run the pipeline; returns the curated corpus. When `audit` is set,
    * per-stage row counts are appended to it — the lineage record a
    * production pipeline publishes next to the output (each count forces
    * one extra action re-evaluating its pipeline prefix; measured 140 s
    * vs 87 s single-pass at 1M docs — prefer [[curateObserved]], which
    * collects the same counts DURING the one action).
    */
  def curate(docs: DataFrame, config: Config,
      audit: Option[scala.collection.mutable.Buffer[StageCount]] = None): DataFrame = {
    curateImpl(docs, config, (stage, df) => {
      audit.foreach(_ += StageCount(stage, df.count()))
      df
    })
  }

  /** [[curate]] with a FREE audit trail: each stage is wrapped in a
    * `CollectMetrics` node (`Dataset.observe`), so the per-stage row
    * counts ride the single materializing action instead of forcing one
    * extra action per stage — O(stages) saved full-pipeline evaluations.
    * Call the returned thunk AFTER an action on the DataFrame has
    * completed (it blocks otherwise); counts reflect the rows that
    * flowed through each stage during that action.
    */
  def curateObserved(docs: DataFrame,
      config: Config): (DataFrame, () => Seq[StageCount]) = {
    val obs = scala.collection.mutable.Buffer.empty[(String, org.apache.spark.sql.Observation)]
    val out = curateImpl(docs, config, (stage, df) => {
      val o = org.apache.spark.sql.Observation(s"curation_$stage")
      obs += stage -> o
      df.observe(o, count(lit(1)).as("rows"))
    })
    (out, () => obs.toSeq.map { case (s, o) =>
      StageCount(s, o.get("rows").asInstanceOf[Long])
    })
  }

  private def curateImpl(docs: DataFrame, config: Config,
      note: (String, DataFrame) => DataFrame): DataFrame = {
    val langed =
      if (config.languages.isEmpty) docs
      else note("language", docs.filter(
        TextAnalysis.langId(col("text")).isin(config.languages.toSeq: _*)))
    val qualified =
      if (config.minTokens <= 0) langed
      else note("quality", langed.filter(
        TextAnalysis.tokenCount(col("text")) >= config.minTokens))
    val lmFiltered = config.lmBand match {
      case None => qualified
      case Some((lo, hi)) =>
        // the LM trains on the post-filter corpus (garbage removed by
        // the cheap stages doesn't pollute the model), then scores it
        val scores = TextAnalysis.bigramLm(qualified)
          .filter(col("mean_prob_x1e6").between(lo, hi))
          .select("doc_id")
        note("lm_filter", qualified.join(scores, Seq("doc_id"), "left_semi"))
    }
    val deduped =
      if (!config.dedupExact) lmFiltered
      else note("exact_dedup", Dedup.exactRows(
        lmFiltered.withColumn("__fp", TextAnalysis.fingerprint(col("text"))),
        "__fp", "doc_id").drop("__fp"))
    // the pin point (see the object doc): near-dup makes it multi-consumer
    val exact =
      if (config.nearDupThreshold.isEmpty) deduped else Materialize(deduped)
    val nearDeduped = config.nearDupThreshold match {
      case None => exact
      case Some(t) =>
        val pairs = Dedup.minhashNearDups(exact, shingleK = 3,
          numHashes = 16, bands = 4, threshold = t)
        // keep each cluster's representative = the component label
        // (smallest doc_id in the cluster); singletons keep themselves, so
        // only the edge-touched labels are needed: drop the docs whose
        // label is another doc. Those are bare ids, at most one per
        // edge-touched vertex — broadcast on either path, so the pin side
        // is never shuffled.
        val nonReps = Dedup.componentLabels(pairs)
          .filter(col("doc_id") =!= col("comp")).select("doc_id")
        note("near_dedup", exact.join(broadcast(nonReps), Seq("doc_id"), "left_anti"))
    }
    val clean = config.benchmark match {
      case None => nearDeduped
      case Some(bench) =>
        note("decontaminate", Dedup.decontaminate(
          nearDeduped, bench, k = config.contaminationK))
    }
    if (config.mixture.isEmpty) clean
    else note("mixture", Sampling.mixtureSample(
      clean, "source", "doc_id", config.mixture))
  }

  /** Curriculum ordering: bucket docs into score quantiles (easy → hard)
    * and give each doc a deterministic position within its bucket —
    * reading order (bucket asc, pos asc) is the curriculum-learning
    * schedule, reproducible across runs and partitionings. Boundaries
    * come from ONE exact percentile aggregate broadcast back (h2's
    * equi-depth pattern — never a global ntile window); positions from
    * the distributed per-group prefix-sum at cost 1 (never one window
    * per bucket). At 100 TB swap `exact` percentile state for the
    * t-digest boundary form, the same trade Histograms documents.
    */
  def curriculumOrder(docs: DataFrame, idCol: String, scoreCol: String,
      buckets: Int = 10, salt: String = "graft"): DataFrame = {
    require(buckets >= 2, s"curriculum needs >= 2 buckets, got $buckets")
    val ps = (1 until buckets).map(_.toDouble / buckets)
    val scored = docs.filter(col(scoreCol).isNotNull)
    val stats = scored.agg(
      expr(s"percentile($scoreCol, array(${ps.mkString("D,")}D))").as("__qs"))
    val withBucket = scored.crossJoin(broadcast(stats))
      .withColumn("bucket", ps.indices
        .map(i => (col(scoreCol) > element_at(col("__qs"), i + 1)).cast("long"))
        .reduce(_ + _) + lit(1L))
      .drop("__qs")
      .withColumn("__one", lit(1L))
    Sampling.groupRunningCost(withBucket, "bucket", idCol, "__one", salt)
      .withColumn("pos_in_bucket", col("budget_run") - 1)
      .drop("__one", "budget_run")
  }
}
