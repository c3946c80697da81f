package graft

import graft.functions.SketchFunctions
import graft.operators.{Dedup, Pq, Similarity, TextAnalysis}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Slow, obviously-correct formulations the specs compare the engine's
  * fast paths against. They live on the test side: nothing in the engine
  * calls them, and none is fit to run at scale.
  */
object Oracles {

  private def asDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Dot product via zip_with + aggregate — sequential left-to-right fold,
    * deterministic, no UDF.
    */
  private def dot(a: Column, b: Column): Column =
    aggregate(zip_with(asDouble(a), asDouble(b), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)

  private def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine via built-in higher-order functions — identical semantics to
    * `Similarity.cosine`, ~an order of magnitude slower (three
    * intermediate arrays + interpreted lambdas).
    */
  def cosineHof(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val n = norm(a) * norm(b)
    when(n === 0, lit(0.0)).otherwise(d / n)
  }

  /** `TextAnalysis.shingles` via built-in higher-order functions. */
  def shinglesHof(text: Column, k: Int): Column = {
    val toks = TextAnalysis.tokens(text)
    when(size(toks) < k, array().cast("array<string>"))
      .otherwise(array_distinct(transform(
        sequence(lit(1), size(toks) - lit(k - 1)),
        i => concat_ws(" ", slice(toks, i, lit(k))))))
  }

  /** `TextAnalysis.langId` as plain columns: one `stopwordHits`
    * (`size(filter(tokens, array_contains(list, t)))`, an interpreted
    * `ArrayFilter`) per language, `greatest` of them, then a `when` chain
    * over the alphabetical order. CollapseProject inlines every hit
    * count into both the `greatest` and its `when` arm, so a row pays
    * for 20 filters with four languages.
    */
  def langIdHof(text: Column): Column = {
    val ordered = TextAnalysis.stopwords.keys.toSeq.sorted
    val hits = ordered.map(l => TextAnalysis.stopwordHits(text, l))
    val best = hits.reduce((a, b) => greatest(a, b))
    ordered.zip(hits).foldRight(lit("und")) { case ((l, h), acc) =>
      when(best > 0 && h === best, lit(l)).otherwise(acc)
    }
  }

  /** `Pq.ivfPqQuery` without its cell prefilter, one query at a time:
    * route the query to its `nprobe` nearest cells (the same driver
    * cosine and (−cosine, cell) order), then plain `Pq.query` over the
    * encoded members of those cells only.
    */
  def ivfPqQueryUnpruned(index: Similarity.IvfIndex, model: Pq.PqModel,
      queries: DataFrame, topK: Int, nprobe: Int): DataFrame = {
    def cosine(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val nn = math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum)
      if (nn == 0.0) 0.0 else dot / nn
    }
    val qs = queries.select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    qs.toSeq.map { case (qid, qv) =>
      val cells = index.cents
        .map { case (cid, cv) => (cid, cosine(qv, cv.map(_.toDouble))) }
        .sortBy { case (cid, cs) => (-cs, cid) }.take(nprobe).map(_._1)
      val members = index.assigned.filter(col("cell").isin(cells: _*))
        .select(col("neighbor_id").as("vec_id"),
          Pq.codesCol(col("c_vec"), model).as("codes"))
      Pq.query(members, queries.filter(col("vec_id") === qid), model, topK)
    }.reduce(_ unionByName _)
  }

  /** The naive O(n²) theta-join form of `Geo.radiusSelfJoin`. */
  def radiusSelfJoinNaive(points: DataFrame, idCol: String, xCol: String,
      yCol: String, radius: Double): DataFrame = {
    val a = points.select(col(idCol).as("a_id"),
      col(xCol).cast("double").as("ax"), col(yCol).cast("double").as("ay"))
    val b = points.select(col(idCol).as("b_id"),
      col(xCol).cast("double").as("bx"), col(yCol).cast("double").as("by"))
    val d2 = (col("ax") - col("bx")) * (col("ax") - col("bx")) +
      (col("ay") - col("by")) * (col("ay") - col("by"))
    a.crossJoin(b).filter(col("a_id") < col("b_id"))
      .withColumn("dist2", d2)
      .filter(col("dist2") <= radius * radius)
      .select("a_id", "b_id", "dist2")
  }

  /** The naive O(I×P) theta-join form of `RangeJoin.intervalPointCount`. */
  def intervalPointCountNaive(intervals: DataFrame, idCol: String,
      points: DataFrame, tCol: String): DataFrame = {
    val p = points.select(col(tCol).as("__t"))
    intervals.join(p, col("__t") >= col("lo") && col("__t") < col("hi"), "left")
      .groupBy(col(idCol))
      .agg(sum(when(col("__t").isNotNull, 1L).otherwise(0L)).as("matches"))
  }

  /** `Dedup.exactRows` as groupBy+min semi-joined back on (byCol, keyCol):
    * the same survivors, but the input is read twice.
    */
  def exactRowsSemiJoin(df: DataFrame, byCol: String, keyCol: String): DataFrame =
    df.join(
      df.groupBy(col(byCol)).agg(min(col(keyCol)).as(keyCol)),
      Seq(byCol, keyCol), "left_semi")
      .select(df.columns.map(col).toIndexedSeq: _*) // using-join puts keys first; restore order

  /** `Dedup.decontaminate` as an id-keyed anti-join against
    * `Dedup.contaminationReport`: the train side is planned twice.
    */
  def decontaminateJoin(train: DataFrame, bench: DataFrame, k: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    train.join(Dedup.contaminationReport(train, bench, k, idCol, textCol)
        .select(col(idCol)),
      Seq(idCol), "left_anti")

  /** LSH banding of a minhash signature as plain columns: `bands` rows of
    * `rowsPerBand` hashes each, band key xxhash64(band index, slice). The
    * fused `lsh_bands` expression must be bit-identical to it. Feeding it
    * a signature through an alias is a trap: CollapseProject inlines the
    * signature into every `element_at`.
    */
  def bandHashesColumns(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      xxhash64((lit(b) +: (0 until rowsPerBand).map(r =>
        element_at(sig, b * rowsPerBand + r + 1))): _*)
    }: _*)

  /** `Dedup.minhashNearDups` with the textbook bucket SELF-JOIN for
    * candidates: the same shingle hashes, bands and exact-Jaccard verify,
    * but pairs come from an equi-join on (band, band hash) — which plans
    * the signature pass once per join side.
    */
  def minhashNearDupsSelfJoin(docs: DataFrame, shingleK: Int, numHashes: Int,
      bands: Int, threshold: Double): DataFrame = {
    val sh = docs.select(col("doc_id"),
      TextAnalysis.shingleHashes(col("text"), shingleK).as("sh"))
    val banded = sh.filter(size(col("sh")) > 0).select(col("doc_id"),
      posexplode(SketchFunctions.lsh_bands(col("sh"), numHashes, bands)).as(Seq("band", "bh")))
    banded.select(col("band"), col("bh"), col("doc_id").as("a_id"))
      .join(banded.select(col("band"), col("bh"), col("doc_id").as("b_id")),
        Seq("band", "bh"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
      .join(sh.select(col("doc_id").as("a_id"), col("sh").as("a_sh")), "a_id")
      .join(sh.select(col("doc_id").as("b_id"), col("sh").as("b_sh")), "b_id")
      .withColumn("jaccard", Dedup.jaccardOfShingleArrays(col("a_sh"), col("b_sh")))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** `Dedup.winnowingNearDups` as a document-frequency join plus a
    * fingerprint SELF-JOIN, instead of one grouped relation: the
    * fingerprint pass is planned once per leaf occurrence (~6×).
    */
  def winnowingNearDupsSelfJoin(docs: DataFrame, k: Int, w: Int,
      minContainment: Double, maxDocFreq: Int): DataFrame = {
    val exploded = docs.select(col("doc_id"),
      explode(TextAnalysis.winnowingFingerprints(col("text"), k, w)).as("fp"))
    val dfByFp = exploded.groupBy("fp").agg(count(lit(1)).as("df"))
    val kept = exploded.join(dfByFp.filter(col("df") <= maxDocFreq).select("fp"), "fp")
    val sizes = kept.groupBy("doc_id").agg(count(lit(1)).as("n_fps"))
    val pairable = exploded.join(
      dfByFp.filter(col("df") >= 2 && col("df") <= maxDocFreq).select("fp"), "fp")
    val shared = pairable.select(col("fp"), col("doc_id").as("a_id"))
      .join(pairable.select(col("fp"), col("doc_id").as("b_id")), "fp")
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("shared_fps"))
    shared
      .join(sizes.select(col("doc_id").as("a_id"), col("n_fps").as("a_n")), "a_id")
      .join(sizes.select(col("doc_id").as("b_id"), col("n_fps").as("b_n")), "b_id")
      .withColumn("containment",
        col("shared_fps").cast("double") / least(col("a_n"), col("b_n")))
      .filter(col("containment") >= minContainment)
      .select(col("a_id"), col("b_id"), col("shared_fps"),
        round(col("containment"), 6).as("containment"))
  }

  /** One stump of [[boostStumpsSlow]], with the gain it won by and the
    * best gain of any other (feature, bin) candidate that round.
    */
  final case class SlowStump(feature: Int, splitBin: Int, left: Double,
      right: Double, gain: Double, runnerUp: Double)

  /** `Trainer.boostStumps` the slow way, on collected (label, features)
    * rows: the same fixed-width binning, base mean, SSE-reduction split
    * sweep and lowest-(feature, bin) tie-break, but every round
    * recomputes each residual from scratch as y − (base + Σ deltas)
    * instead of folding the new stump into a stored residual.
    */
  def boostStumpsSlow(rows: Seq[(Double, Array[Double])], rounds: Int,
      bins: Int, lr: Double = 1.0, tol: Double = 1e-12): Seq[SlowStump] = {
    val d = rows.head._2.length
    val lo = Array.tabulate(d)(i => rows.map(_._2(i)).min)
    val hi = Array.tabulate(d)(i => rows.map(_._2(i)).max)
    val bin = rows.map { case (_, xs) => Array.tabulate(d)(i =>
      math.min(math.floor((xs(i) - lo(i)) / ((hi(i) - lo(i)) / bins)), bins - 1.0).toInt)
    }
    val base = rows.map(_._1).sum / rows.size
    val stumps = scala.collection.mutable.ArrayBuffer.empty[SlowStump]
    var done = false
    while (stumps.size < rounds && !done) {
      val resid = rows.indices.map(j => rows(j)._1 - (base + stumps.map(s =>
        if (bin(j)(s.feature) <= s.splitBin) s.left else s.right).sum))
      val tot = resid.sum
      val cands = for { f <- 0 until d; b <- 0 until bins - 1 } yield {
        val left = resid.indices.filter(j => bin(j)(f) <= b)
        val (nL, nR) = (left.size, resid.size - left.size)
        val sL = left.map(resid).sum
        val sR = tot - sL
        val gain = if (nL > 0 && nR > 0)
          sL * sL / nL + sR * sR / nR - tot * tot / resid.size
        else Double.NegativeInfinity
        SlowStump(f, b, lr * sL / nL, lr * sR / nR, gain, Double.NaN)
      }
      val best = cands.indices.reduceLeft((a, c) => if (cands(c).gain > cands(a).gain) c else a)
      if (cands(best).gain <= 0.0 || cands(best).gain < tol) done = true
      else stumps += cands(best).copy(runnerUp =
        cands.indices.filter(_ != best).map(cands(_).gain).max)
    }
    stumps.toSeq
  }

  /** The naive O(n²) anti-join formulation — the semantic reference
    * `Skyline.skyline` is spec-tested against; never use at scale.
    */
  def skylineNaive(df: DataFrame, dims: Seq[(String, Boolean)]): DataFrame = {
    val clean = df.na.drop(dims.map(_._1))
    val a = clean.alias("a")
    val b = clean.alias("b")
    val geq = dims.map { case (c, asc) =>
      if (asc) col(s"b.$c") <= col(s"a.$c") else col(s"b.$c") >= col(s"a.$c")
    }.reduce(_ && _)
    val strict = dims.map { case (c, asc) =>
      if (asc) col(s"b.$c") < col(s"a.$c") else col(s"b.$c") > col(s"a.$c")
    }.reduce(_ || _)
    a.join(b, geq && strict, "left_anti")
  }
}
