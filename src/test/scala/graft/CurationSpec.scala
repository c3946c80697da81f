package graft

import graft.operators.{Curation, Materialize}
import org.apache.spark.sql.functions._

/** End-to-end curation pipeline: each stage drops exactly the planted
  * offender, the audit trail records the shrinking corpus, and the
  * survivors are the intended representatives.
  */
class CurationSpec extends SparkSpec {

  import spark.implicits._

  private val base = "the cat and the dog walked to the park and it was " +
    "a fine day for every one of them to play"

  /** One doc per stage offender, plus two survivors (1 and 7). */
  private def fixtureDocs = Seq(
    (1L, base, "s0"),                                    // survives
    (2L, "der hund und die katze sind mit den kindern zu dem haus " +
      "gelaufen und das war ein guter tag", "s0"),       // german -> language
    (3L, "the end", "s0"),                               // short -> quality
    (4L, base, "s0"),                                    // exact dup of 1
    (5L, base.replace("play", "rest"), "s0"),            // near dup of 1
    (6L, "this sentence contains the secret benchmark overlap eight gram " +
      "sequence right here in the middle of it and some extra words " +
      "to pad the length out", "s0"),                    // contaminated
    (7L, "a quick brown fox jumped over a lazy dog near the river bank " +
      "where children were playing games in the bright afternoon sun", "s0"))
    .toDF("doc_id", "text", "source")

  private def fixtureBench = Seq(
    (100L, "the secret benchmark overlap eight gram sequence right"))
    .toDF("doc_id", "text")

  test("curate: language -> quality -> exact -> near-dup -> decontaminate") {
    val docs = fixtureDocs
    val bench = fixtureBench

    val audit = scala.collection.mutable.Buffer.empty[Curation.StageCount]
    val out = Curation.curate(docs, Curation.Config(
      languages = Set("en"), minTokens = 20, dedupExact = true,
      nearDupThreshold = Some(0.7), benchmark = Some(bench)),
      audit = Some(audit))

    assert(out.select("doc_id").as[Long].collect().toSet == Set(1L, 7L))
    assert(audit.map(s => s.stage -> s.rows).toList == List(
      "language" -> 6L, "quality" -> 5L, "exact_dedup" -> 4L,
      "near_dedup" -> 3L, "decontaminate" -> 2L))
    // survivors keep their full rows
    assert(out.columns.toSeq == Seq("doc_id", "text", "source"))

    // the observed variant: same survivors, same counts, zero extra actions
    val (outObs, stageCounts) = Curation.curateObserved(docs, Curation.Config(
      languages = Set("en"), minTokens = 20, dedupExact = true,
      nearDupThreshold = Some(0.7), benchmark = Some(bench)))
    assert(outObs.select("doc_id").as[Long].collect().toSet == Set(1L, 7L))
    assert(stageCounts().map(s => s.stage -> s.rows).toList ==
      audit.map(s => s.stage -> s.rows).toList)
  }

  test("curateObserved: same survivors and audit counts under every materialize mode") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val config = Curation.Config(
      languages = Set("en"), minTokens = 20, dedupExact = true,
      nearDupThreshold = Some(0.7), benchmark = Some(fixtureBench))
    for (mode <- Seq("localCheckpoint", "persist", "off")) {
      spark.conf.set(Materialize.ConfKey, mode)
      try {
        val audit = scala.collection.mutable.Buffer.empty[Curation.StageCount]
        val out = Curation.curate(fixtureDocs, config, audit = Some(audit))
        assert(out.select("doc_id").as[Long].collect().toSet == Set(1L, 7L), s"mode=$mode")
        val (outObs, stageCounts) = Curation.curateObserved(fixtureDocs, config)
        assert(outObs.select("doc_id").as[Long].collect().toSet == Set(1L, 7L), s"mode=$mode")
        // bounded: a pin that swallowed the upstream observations would
        // block counts() forever
        val observed = Await.result(Future(stageCounts()),
          scala.concurrent.duration.Duration(60, "s"))
        assert(observed.map(s => s.stage -> s.rows).toList ==
          audit.map(s => s.stage -> s.rows).toList, s"mode=$mode")
        assert(audit.map(_.stage).toList == List(
          "language", "quality", "exact_dedup", "near_dedup", "decontaminate"))
      } finally spark.conf.unset(Materialize.ConfKey)
    }
  }

  test("curate: LM band-pass drops the boilerplate and garble tails") {
    // boilerplate: one sentence repeated -> very high mean bigram prob;
    // garble: unique-word soup -> every bigram rare; normal docs between
    val normal = (1L to 20L).map(i =>
      (i, s"the cat number $i walked to the park and it was a fine day " +
        s"for the dog number $i to play in the sun", "s0"))
    val boiler = (100L to 104L).map(i =>
      (i, Seq.fill(6)("click here to subscribe now").mkString(" "), "s0"))
    // garble = the NORMAL vocabulary in scrambled order: common words
    // (high c1) in never-seen transitions (c2 ≈ 1) score low — which is
    // exactly what p(w2|w1) punishes (all-unique word soup would score
    // HIGH: a hapax bigram after a hapax unigram is conditionally certain)
    val garbleWords = "the cat walked park and it was fine day for dog play sun to in a".split(" ")
    val garble = (200L to 204L).map { i =>
      val rot = garbleWords.indices.map(j =>
        garbleWords(((j * 7 + i.toInt) % garbleWords.length + garbleWords.length)
          % garbleWords.length))
      (i, rot.reverse.mkString(" "), "s0")
    }
    val docs = (normal ++ boiler ++ garble).toDF("doc_id", "text", "source")
    // find the empirical band between the tails, then assert the stage
    // keeps exactly the normal docs
    val scored = graft.operators.TextAnalysis.bigramLm(docs)
      .select("doc_id", "mean_prob_x1e6").as[(Long, Option[Long])].collect().toMap
    val normalScores = normal.map(d => scored(d._1).get)
    val lo = normalScores.min
    val hi = normalScores.max
    assert(boiler.forall(d => scored(d._1).get > hi), "boilerplate must score above")
    assert(garble.forall(d => scored(d._1).get < lo), "garble must score below")
    val out = Curation.curate(docs, Curation.Config(
      languages = Set.empty, minTokens = 0, lmBand = Some((lo, hi)),
      dedupExact = false, nearDupThreshold = None))
    assert(out.select("doc_id").as[Long].collect().toSet == normal.map(_._1).toSet)
  }

  test("curate: disabled stages are identity; mixture stage composes") {
    val docs = (0L until 400L)
      .map(i => (i, s"the unique document number $i has plenty of words " +
        s"in it to pass the quality gate for token count reasons", s"s${i % 2}"))
      .toDF("doc_id", "text", "source")
    val out = Curation.curate(docs, Curation.Config(
      languages = Set.empty, minTokens = 0, dedupExact = false,
      nearDupThreshold = None, benchmark = None,
      mixture = Map("s0" -> 0.8, "s1" -> 0.2)))
    val by = out.groupBy("source").count().as[(String, Long)].collect().toMap
    // 200 per source; T = 200/0.8 = 250 -> s0 whole, s1 ~ 0.2*250 = 50
    assert(by("s0") == 200L)
    assert(math.abs(by("s1") - 50.0) < 30, s"s1=${by("s1")}")
  }

  test("curriculumOrder: monotone buckets, dense positions, layout-invariant") {
    val docs = (0L until 200L).map(i => (i, (i * 37L) % 500L)).toDF("doc_id", "score")
    val out = Curation.curriculumOrder(docs, "doc_id", "score", buckets = 5)
      .select("doc_id", "score", "bucket", "pos_in_bucket")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(out.size == 200)
    // buckets ordered by score: every score in bucket b is <= any in b+1
    val byBucket = out.groupBy(_._3).toSeq.sortBy(_._1)
    byBucket.sliding(2).foreach {
      case Seq((_, lo), (_, hi)) => assert(lo.map(_._2).max <= hi.map(_._2).min)
      case _ => ()
    }
    // dense 0-based positions within each bucket
    byBucket.foreach { case (_, rows) =>
      assert(rows.map(_._4).sorted == (0L until rows.size.toLong))
    }
    // roughly balanced (exact fifths for 200 distinct-ish scores ± ties)
    byBucket.foreach { case (b, rows) =>
      assert(math.abs(rows.size - 40) <= 5, s"bucket $b size ${rows.size}")
    }
    val rep = Curation.curriculumOrder(docs.repartition(13, col("doc_id")),
        "doc_id", "score", buckets = 5)
      .select("doc_id", "bucket", "pos_in_bucket")
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(rep == out.map(r => (r._1, r._3, r._4)).sortBy(_._1))
  }
}
