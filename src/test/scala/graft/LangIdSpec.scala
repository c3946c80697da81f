package graft

import graft.operators.TextAnalysis
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `TextAnalysis.langId` (the one-loop `lang_id` kernel) must label every
  * document exactly as the per-language `ArrayFilter` formulation
  * (`Oracles.langIdHof`) does — ties, shared stopwords, null and blank
  * text, odd whitespace and case included — on both evaluation paths:
  * interpreted (a projection over a local relation is folded into it at
  * optimization time) and whole-stage codegen (behind a shuffle).
  */
class LangIdSpec extends SparkSpec {

  import spark.implicits._

  private def both(docs: DataFrame): Seq[(Long, String, String)] =
    docs.select(col("id"), TextAnalysis.langId(col("text")).as("got"),
        Oracles.langIdHof(col("text")).as("want"))
      .orderBy("id").as[(Long, String, String)].collect().toSeq

  private def assertParity(docs: DataFrame): Map[Long, String] = {
    val interpreted = both(docs)
    val codegen = both(docs.repartition(3))
    assert(interpreted == codegen)
    interpreted.foreach { case (id, got, want) =>
      assert(got == want, s"doc $id: lang_id=$got, column form=$want")
    }
    interpreted.map { case (id, got, _) => id -> got }.toMap
  }

  test("langId equals the per-language filter formulation on the edge fixture") {
    val docs = Seq[(Long, String)](
      (1L, "la la der der"),                   // three-way tie: de first
      (2L, "la que un"),                       // fr/es share all three: es first
      (3L, "la que un le"),                    // shared words, fr pulls ahead
      (4L, "the cat and the dog of the house"),
      (5L, null),
      (6L, ""),
      (7L, "   "),
      (8L, "\tthe\tcat\nand\nthe dog"),       // tabs and newlines split too
      (9L, "THE Cat AND The DOG"),             // lowercased before matching
      (10L, "zzz qqq www"),                    // zero hits
      (11L, "  der und die  "),
      (12L, "y el los las es por la")          // es only, plus one shared
    ).toDF("id", "text")
    val got = assertParity(docs)
    assert(got == Map(1L -> "de", 2L -> "es", 3L -> "fr", 4L -> "en",
      5L -> "und", 6L -> "und", 7L -> "und", 8L -> "en", 9L -> "en",
      10L -> "und", 11L -> "de", 12L -> "es"))
  }

  test("langId equals the per-language filter formulation on 2,000 seeded docs") {
    val rnd = new scala.util.Random(20261019L)
    val vocab = TextAnalysis.unionStopwords ++
      Seq("cat", "haus", "perro", "maison", "zzz", "data", "lake", "spark")
    val seps = Seq(" ", "  ", "\t", "\n", " \t ")
    val docs = (0L until 2000L).map { id =>
      val n = rnd.nextInt(30)
      val words = Seq.fill(n) {
        val w = vocab(rnd.nextInt(vocab.size))
        if (rnd.nextInt(8) == 0) w.toUpperCase else w
      }
      val body = words.map(_ + seps(rnd.nextInt(seps.size))).mkString
      val text = if (rnd.nextInt(50) == 0) null else (if (rnd.nextBoolean()) " " else "") + body
      (id, text)
    }.toDF("id", "text")
    val got = assertParity(docs)
    // the fixture reaches every label, "und" included
    assert(got.values.toSet == TextAnalysis.stopwords.keySet + "und")
  }

  test("langId plans one lang_id call a reference and no lambda filter") {
    val plan = Seq("the cat").toDF("text").repartition(2)
      .select(TextAnalysis.langId(col("text")).as("l"))
      .queryExecution.optimizedPlan.toString
    assert("lang_id".r.findAllMatchIn(plan).size == 1, plan)
    assert(!plan.contains("filter("), plan)
  }
}
