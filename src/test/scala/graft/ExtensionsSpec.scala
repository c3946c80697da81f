package graft

/** SQL-surface registration of the custom expressions through
  * GraftExtensions. The shared test session is built by
  * `GraftSession.local`, so the functions resolve with no manual
  * registration — exactly as in the shipped session.
  */
class ExtensionsSpec extends SparkSpec {

  test("the shared test session is the shipped GraftSession") {
    import spark.implicits._
    Seq("a", "b", "a").toDF("item").createOrReplaceTempView("shipped_items")
    val row = spark.sql(
      """SELECT cosine_sim(array(1.0D, 0.0D), array(0.0D, 1.0D)) AS cos,
        |  count_min(item, 64, 4, array('a')) AS cms
        |FROM shipped_items""".stripMargin).head()
    assert(row.getDouble(0) == 0.0)
    assert(row.getSeq[org.apache.spark.sql.Row](1).map(_.getAs[Long]("est_cnt")) == Seq(2L))
    assert(spark.conf.get("spark.sql.extensions").split(",").map(_.trim)
      .contains(classOf[GraftExtensions].getName))
    assert(spark.conf.get("spark.sql.sources.partitionOverwriteMode")
      .equalsIgnoreCase("dynamic"))
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
  }

  test("the shipped session keeps every generated class: a repeated query compiles nothing") {
    import org.apache.spark.metrics.source.CodegenMetrics
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries").toInt ==
      GraftSession.CodegenCacheEntries)
    // 128 shapes that differ only in an inlined integer literal, so each
    // compiles its own classes: one pass needs more than Spark's default
    // 100-entry cache, which would evict every class before its reuse
    val shapes = (1 to 128).map(i => s"id * $i + ${i + 7} AS v")
    def compiles(): Long = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      shapes.foreach(e => spark.range(0, 1, 1, 1).selectExpr(e).collect())
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    val first = compiles()
    assert(first > 100, s"the shapes must outgrow the default cache; compiled $first")
    val second = compiles()
    assert(second == 0, s"a repeated pass recompiled $second generated classes")
  }

  test("custom expressions are callable from SQL via GraftExtensions") {
    val row = spark.sql(
      """SELECT
        |  cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS cos,
        |  simhash64(array('a', 'b', 'a')) AS sh,
        |  size(minhash_sig(array('x y z'), 16)) AS mh_len,
        |  word_shingles(array('a', 'b', 'c'), 2) AS shingles,
        |  jaccard_sim(array('a b', 'b c'), array('a b', 'c d')) AS jac,
        |  jaccard_sim(word_shingle_hashes(array('a','b','c'), 2),
        |              word_shingle_hashes(array('a','b','d'), 2)) AS jac_h,
        |  size(winnow_fingerprints('the quick brown fox', 5, 4)) AS n_fps,
        |  size(lsh_bands(word_shingle_hashes(array('a','b','c','d'), 2), 16, 4)) AS n_bands
        |""".stripMargin).head()
    assert(row.getDouble(0) == 1.0)
    assert(row.getLong(1) != 0L)
    assert(row.getInt(2) == 16)
    assert(row.getSeq[String](3) == Seq("a b", "b c"))
    assert(row.getDouble(4) == 1.0 / 3.0)
    assert(row.getDouble(5) == 1.0 / 3.0) // {a b} shared; {b c} vs {b d} differ
    assert(row.getInt(6) > 0)
    assert(row.getInt(7) == 4)
  }

  test("aggregate sketches are SQL-callable: count_min over a grouped stream") {
    import spark.implicits._
    Seq("a", "b", "a", "a", "b", "c").toDF("item")
      .createOrReplaceTempView("cms_items")
    val out = spark.sql(
      """SELECT e.item, e.est_cnt FROM (
        |  SELECT explode(count_min(item, 64, 4, array('a', 'b', 'c'))) AS e
        |  FROM cms_items)
        |ORDER BY e.item""".stripMargin)
      .as[(String, Long)].collect().toSeq
    assert(out == Seq(("a", 3L), ("b", 2L), ("c", 1L)))

    // non-literal query list must fail with the expected shape, not an
    // opaque cast error
    val err = intercept[Exception] {
      spark.sql("SELECT count_min(item, 64, 4, array(item)) FROM cms_items").head()
    }
    assert(err.getMessage.contains("string literals"))

    // a NULL element in an otherwise-foldable literal array must fail
    // with the shaped message too, not an NPE
    val errNull = intercept[Exception] {
      spark.sql(
        "SELECT count_min(item, 64, 4, array('a', CAST(NULL AS STRING))) FROM cms_items")
        .head()
    }
    assert(errNull.getMessage.contains("NULL"), s"got: ${errNull.getMessage}")
  }
}
