package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generators. They live here, not in the engine: the engine
  * only ever receives what these produce. The seed changes the hash salt
  * of every generated value, the IoT id and epoch offsets, and the city
  * list; sizes never depend on it.
  */
final case class Seeded(seed: Long) {
  private def mix(tag: String): Long =
    scala.util.hashing.MurmurHash3.stringHash(s"$tag:$seed").toLong & 0x7fffffffL

  val salt: String = s"pb$seed"
  val idOffset: Long = mix("ids") * 1000L
  /** First event second: 2025-01-01 plus 0..699 days. */
  val epochSec: Long = 1735689600L + (mix("epoch") % 700L) * 86400L

  val cities: Seq[String] = Gen.cityPool.sortBy(c => scala.util.hashing.MurmurHash3.stringHash(c, seed.toInt))
    .take(8)

  def date(dayOffset: Int): String =
    java.time.LocalDate.ofEpochDay(epochSec / 86400L + dayOffset).toString
}

object Gen {

  val cityPool: Seq[String] = Seq("New York", "Tokyo", "Sao Paulo", "Berlin", "Nairobi",
    "Sydney", "Toronto", "Mumbai", "Cairo", "Lima", "Oslo", "Seoul", "Madrid", "Lagos",
    "Chicago", "Jakarta", "Dublin", "Hanoi", "Denver", "Athens", "Bogota", "Manila",
    "Vienna", "Perth")

  /** Uniform double in [lo, hi) from a salted hash of `keys`. */
  def uniform(s: Seeded, tag: String, lo: Double, hi: Double, keys: Column*): Column =
    lit(lo) + (pmod(xxhash64((keys :+ lit(s.salt + tag)): _*), lit(1000000000L))
      .cast("double") / 1e9) * lit(hi - lo)

  def pick(s: Seeded, tag: String, values: Seq[String], keys: Column*): Column =
    element_at(array(values.map(lit): _*),
      (pmod(xxhash64((keys :+ lit(s.salt + tag)): _*), lit(values.size.toLong)) + 1).cast("int"))

  // ---------------------------------------------------------------- IoT

  /** The landing stream's rows: `value` is the position in the run, mapped
    * to the engine's reading projection input (`id`, `event_ts`). Event
    * times spread `days` days from the seed's epoch.
    */
  def iotIds(s: Seeded, stream: DataFrame, totalRows: Long, days: Int): DataFrame = {
    val stepSec = days.toLong * 86400L / totalRows
    stream.select((col("value") + lit(s.idOffset)).as("id"),
      timestamp_seconds(lit(s.epochSec) + col("value") * lit(stepSec)).as("event_ts"))
  }

  // ------------------------------------------------------------ weather

  val responseSchema: StructType = graft.sources.Schemas.openMeteoResponse
    .add("ingestion_id", StringType).add("city", StringType).add("ingested_at", StringType)

  /** One Open-Meteo-shaped forecast response per (city, day), 24 hourly
    * values each, as the batch-ingest lambda would receive them.
    */
  def weatherResponses(spark: SparkSession, s: Seeded, days: Int): DataFrame = {
    val cities = s.cities
    val hours = sequence(lit(0), lit(23))
    spark.range(cities.size.toLong * days)
      .select(
        element_at(array(cities.map(lit): _*), (col("id") % cities.size).cast("int") + 1)
          .as("city"),
        (col("id") / cities.size).cast("int").as("day"))
      .withColumn("date", date_format(timestamp_seconds(lit(s.epochSec) +
        col("day").cast("long") * 86400L), "yyyy-MM-dd"))
      .select(
        round(uniform(s, "lat", -60, 60, col("city")), 4).as("latitude"),
        round(uniform(s, "lon", -180, 180, col("city")), 4).as("longitude"),
        struct(
          transform(hours, h => format_string("%sT%02d:00", col("date"), h)).as("time"),
          transform(hours, h => round(uniform(s, "t2m", -10, 38, col("city"), col("day"), h), 1))
            .as("temperature_2m"),
          transform(hours, h => round(uniform(s, "rh", 10, 99, col("city"), col("day"), h), 1))
            .as("relative_humidity_2m"),
          transform(hours, h => round(uniform(s, "ws", 0, 60, col("city"), col("day"), h), 1))
            .as("wind_speed_10m"),
          transform(hours, h => round(uniform(s, "pr", 0, 8, col("city"), col("day"), h), 1))
            .as("precipitation")).as("hourly"),
        concat(lit("run-"), col("date")).as("ingestion_id"),
        col("city"),
        concat(col("date"), lit("T06:00:00+00:00")).as("ingested_at"))
  }

  // ------------------------------------------------------------- TPC-H

  /** TPC-H-shaped star schema with the column set and value domains the
    * registry's q-queries read (the same shapes as the sf0.01 test data:
    * 60k lineitem, 15k orders, 2k parts, 1.5k customers, 100 suppliers).
    */
  def tpch(spark: SparkSession, s: Seeded, scale: Double): Map[String, DataFrame] = {
    val nCust = (150000 * scale).toLong
    val nSupp = math.max(10L, (10000 * scale).toLong)
    val nPart = (200000 * scale).toLong
    val nOrd = (1500000 * scale).toLong
    val nLine = (6000000 * scale).toLong
    def money(tag: String, lo: Double, hi: Double, k: Column): Column =
      round(uniform(s, tag, lo, hi, k), 2)
    def day(base: String, tag: String, span: Int, k: Column): Column =
      to_timestamp(date_add(lit(base).cast("date"),
        pmod(xxhash64(k, lit(s.salt + tag)), lit(span.toLong)).cast("int")))
    val region = spark.range(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        col("id").cast("int") + 1).as("r_name"))
    val nation = spark.range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"), (col("id") % 5).cast("int").as("n_regionkey"))
    val customer = spark.range(nCust).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      pmod(xxhash64(col("id"), lit(s.salt + "cn")), lit(25L)).cast("int").as("c_nationkey"),
      money("cab", -999.99, 9999.99, col("id")).as("c_acctbal"),
      pick(s, "seg", Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"),
        col("id")).as("c_mktsegment"))
    val supplier = spark.range(nSupp).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      pmod(xxhash64(col("id"), lit(s.salt + "sn")), lit(25L)).cast("int").as("s_nationkey"),
      money("sab", -999.99, 9999.99, col("id")).as("s_acctbal"))
    val part = spark.range(nPart).select(col("id").as("p_partkey"),
      concat_ws(" ",
        pick(s, "pa", Seq("small", "red", "blue", "hot", "old", "large", "new", "green"), col("id")),
        pick(s, "pn", Seq("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"),
          col("id"))).as("p_name"),
      concat(lit("Brand#"), pmod(xxhash64(col("id"), lit(s.salt + "pb")), lit(25L)) + 1)
        .as("p_brand"),
      pick(s, "pt", Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"), col("id"))
        .as("p_type"),
      (pmod(xxhash64(col("id"), lit(s.salt + "ps")), lit(50L)) + 1).cast("int").as("p_size"),
      (lit(900.0) + (col("id") % 1000).cast("double") / 10.0).as("p_retailprice"))
    val orders = spark.range(nOrd).select(col("id").as("o_orderkey"),
      pmod(xxhash64(col("id"), lit(s.salt + "oc")), lit(nCust)).as("o_custkey"),
      pick(s, "os", Seq("F", "O", "P"), col("id")).as("o_orderstatus"),
      money("otp", 1000.0, 500000.0, col("id")).as("o_totalprice"),
      day("1995-01-01", "od", 2405, col("id")).as("o_orderdate"),
      pick(s, "op", Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), col("id"))
        .as("o_orderpriority"))
    val lineitem = spark.range(nLine).select(
      pmod(xxhash64(col("id"), lit(s.salt + "lo")), lit(nOrd)).as("l_orderkey"),
      pmod(xxhash64(col("id"), lit(s.salt + "lp")), lit(nPart)).as("l_partkey"),
      pmod(xxhash64(col("id"), lit(s.salt + "ls")), lit(nSupp)).as("l_suppkey"),
      (pmod(xxhash64(col("id"), lit(s.salt + "ln")), lit(7L)) + 1).cast("int").as("l_linenumber"),
      (pmod(xxhash64(col("id"), lit(s.salt + "lq")), lit(50L)) + 1).cast("double")
        .as("l_quantity"),
      money("lep", 900.0, 105000.0, col("id")).as("l_extendedprice"),
      (pmod(xxhash64(col("id"), lit(s.salt + "ld")), lit(11L)).cast("double") / 100.0)
        .as("l_discount"),
      (pmod(xxhash64(col("id"), lit(s.salt + "lt")), lit(9L)).cast("double") / 100.0)
        .as("l_tax"),
      pick(s, "lrf", Seq("A", "N", "R"), col("id")).as("l_returnflag"),
      pick(s, "lls", Seq("F", "O"), col("id")).as("l_linestatus"),
      day("1995-01-02", "lsd", 2499, col("id")).as("l_shipdate"))
    Map("region" -> region, "nation" -> nation, "customer" -> customer,
      "supplier" -> supplier, "part" -> part, "orders" -> orders, "lineitem" -> lineitem)
  }

  // ------------------------------------------------------------- corpus

  private val enStop = Seq("the", "a", "and", "of", "to", "in", "is", "it", "that", "for")
  private val deStop = Seq("der", "die", "das", "und", "ist", "ein", "zu", "mit", "den", "von")

  /** Corpus layout. Ids [0, 4·exactGroups) form exact-duplicate groups of
    * four (copies differ only in letter case); the next 4·nearGroups ids
    * form near-duplicate groups of four (each copy mutates one token at a
    * position of its own plus ~1% of the rest, so no two copies are equal). Every other doc is a single, labelled by a salted hash as
    * foreign (German stopwords), short (below the quality cut),
    * contaminated (carries a 12-token span of a benchmark doc) or plain.
    * The `kind` and `grp` labels are ground truth for the checker; the
    * engine only sees doc_id, text and source.
    */
  final case class CorpusShape(docs: Long, exactGroups: Long, nearGroups: Long,
      benchDocs: Long, tokens: Int = 100, vocab: Long = 20000L)

  def corpus(spark: SparkSession, s: Seeded, c: CorpusShape): DataFrame = {
    val exactEnd = 4 * c.exactGroups
    val nearEnd = exactEnd + 4 * c.nearGroups
    val id = col("doc_id")
    val u = pmod(xxhash64(id, lit(s.salt + "kind")), lit(100L))
    val kind =
      when(id < exactEnd, "exact").when(id < nearEnd, "near")
        .when(u < 5, "foreign").when(u < 10, "short").when(u < 13, "contaminated")
        .otherwise("plain")
    val grp = when(id < nearEnd, (id / 4).cast("long")).otherwise(lit(-1L))
    // template key: group members share one; singles use their own id
    val tmpl = when(id < nearEnd, (id / 4).cast("long")).otherwise(id + lit(1000000000L))
    val bench = pmod(xxhash64(id, lit(s.salt + "bench")), lit(c.benchDocs))
    val base = spark.range(c.docs).select(col("id").as("doc_id"))
      .withColumn("kind", kind).withColumn("grp", grp).withColumn("tmpl", tmpl)
      .withColumn("bench", bench)
      .withColumn("len", when(col("kind") === "short", 12).otherwise(c.tokens))
    val stop = when(col("kind") === "foreign", array(deStop.map(lit): _*))
      .otherwise(array(enStop.map(lit): _*))
    val toks = transform(sequence(lit(0), col("len") - 1), i =>
      when(col("kind") === "near" &&
          (pmod(xxhash64(col("doc_id"), i, lit(s.salt + "mut")), lit(100L)) === 0 ||
            i === pmod(col("doc_id"), lit(4L)) * 24 + 10),
          concat(lit("m"), pmod(xxhash64(col("doc_id"), i, lit(s.salt + "mv")), lit(1000000L))))
        .when(col("kind") === "contaminated" && i >= 40 && i < 52,
          benchToken(s, c, col("bench"), i - 40))
        .when(pmod(i, lit(4)) === 1,
          element_at(stop, (pmod(xxhash64(col("tmpl"), i, lit(s.salt + "sw")), lit(10L)) + 1)
            .cast("int")))
        .otherwise(concat(lit("w"),
          pmod(xxhash64(col("tmpl"), i, lit(s.salt + "tok")), lit(c.vocab)))))
    val text = concat_ws(" ", toks)
    base.select(col("doc_id"),
      when(col("kind") === "exact" && pmod(col("doc_id"), lit(2L)) === 1, upper(text))
        .otherwise(text).as("text"),
      concat(lit("src"), pmod(xxhash64(col("doc_id"), lit(s.salt + "src")), lit(4L)))
        .as("source"),
      col("kind"), col("grp"))
  }

  private def benchToken(s: Seeded, c: CorpusShape, b: Column, i: Column): Column =
    when(pmod(i, lit(4)) === 1,
      element_at(array(enStop.map(lit): _*),
        (pmod(xxhash64(b, i, lit(s.salt + "bsw")), lit(10L)) + 1).cast("int")))
      .otherwise(concat(lit("w"), pmod(xxhash64(b, i, lit(s.salt + "btok")), lit(c.vocab))))

  /** The benchmark (evaluation) set decontamination runs against. */
  def benchmarkDocs(spark: SparkSession, s: Seeded, c: CorpusShape): DataFrame =
    spark.range(c.benchDocs).select(col("id").plus(lit(-1000000L)).as("doc_id"),
      concat_ws(" ", transform(sequence(lit(0), lit(59)), i => benchToken(s, c, col("id"), i)))
        .as("text"))

  val mixture: Map[String, Double] = Map("src0" -> 0.4, "src1" -> 0.3, "src2" -> 0.2, "src3" -> 0.1)
}
