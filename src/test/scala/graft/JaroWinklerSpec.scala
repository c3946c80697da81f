package graft

import graft.functions.JaroWinklerSim
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Jaro-Winkler expression: published vectors, edge cases, codegen parity. */
class JaroWinklerSpec extends AnyFunSuite with SparkSpec {

  import spark.implicits._

  private def jw(a: String, b: String): Double =
    JaroWinklerSim.similarity(UTF8String.fromString(a), UTF8String.fromString(b))

  test("published reference vectors") {
    assert(math.abs(jw("MARTHA", "MARHTA") - 0.9611111111111111) < 1e-12)
    assert(math.abs(jw("DWAYNE", "DUANE") - 0.8400000000000001) < 1e-12)
    assert(math.abs(jw("DIXON", "DICKSONX") - 0.8133333333333332) < 1e-9)
  }

  test("edge cases: empties, identity, disjoint, boost threshold") {
    assert(jw("", "") == 0.0)          // DuckDB convention: empty → 0
    assert(jw("", "abc") == 0.0)
    assert(jw("abc", "abc") == 1.0)
    assert(jw("a", "b") == 0.0)        // no matches
    // jaro = 0.444 < 0.7: shared prefix must NOT trigger the boost
    assert(math.abs(jw("aXXXXX", "aYYYYY") - 4.0 / 9.0) < 1e-12)
  }

  test("symmetry and range on random strings") {
    val rnd = new scala.util.Random(3)
    (1 to 500).foreach { _ =>
      val a = rnd.alphanumeric.take(rnd.nextInt(12)).mkString
      val b = rnd.alphanumeric.take(rnd.nextInt(12)).mkString
      val s = jw(a, b)
      assert(s >= 0.0 && s <= 1.0)
      assert(s == jw(b, a))
    }
  }

  test("column API and SQL registration agree with the static scorer") {
    val df = Seq(("MARTHA", "MARHTA"), ("NATION_1", "NATION_12"), ("", "x"))
      .toDF("a", "b")
    val viaCol = df.select(
      JaroWinklerSim.jaro_winkler(col("a"), col("b")).as("jw"))
      .collect().map(_.getDouble(0)).toSeq
    val expected = Seq(jw("MARTHA", "MARHTA"), jw("NATION_1", "NATION_12"), 0.0)
    assert(viaCol == expected)
    df.createOrReplaceTempView("jw_pairs")
    val viaSql = spark.sql("SELECT jaro_winkler(a, b) AS jw FROM jw_pairs")
      .collect().map(_.getDouble(0)).toSeq
    assert(viaSql == expected)
  }

  test("non-ASCII scope: code-point semantics pinned, byte-view divergence asserted") {
    // Hand-computed under the CODE-POINT view this expression implements:
    // "café"/"cafe" → 4 vs 4 code points, 3 matches, 0 transpositions,
    // jaro = (3/4 + 3/4 + 1)/3 = 5/6, prefix 3 → 5/6 + 0.3·(1/6) = 53/60.
    assert(math.abs(jw("café", "cafe") - 53.0 / 60.0) < 1e-12)
    // An astral char (𝕏, U+1D54F, a surrogate PAIR in UTF-16) is ONE code
    // point: "𝕏y"/"Xy" → 1 match of 2, jaro = (1/2 + 1/2 + 1)/3 = 2/3,
    // below the 0.7 boost threshold.
    assert(math.abs(jw("𝕏y", "Xy") - 2.0 / 3.0) < 1e-12)

    // Independent re-implementation of the same formulation over raw
    // UTF-8 BYTES — the view DuckDB's RapidFuzz backend takes. The
    // scaladoc documents that the two views diverge on multi-byte text;
    // this asserts it (and pins the byte-view number) instead of assuming.
    def generic(s: Array[Int], t: Array[Int]): Double = {
      val (n, m) = (s.length, t.length)
      if (n == 0 || m == 0) return 0.0
      val window = math.max(0, math.max(n, m) / 2 - 1)
      val sM = new Array[Boolean](n); val tM = new Array[Boolean](m)
      var matches = 0
      for (i <- 0 until n) {
        var j = math.max(0, i - window); var found = false
        while (j <= math.min(m - 1, i + window) && !found) {
          if (!tM(j) && s(i) == t(j)) { sM(i) = true; tM(j) = true; matches += 1; found = true }
          j += 1
        }
      }
      if (matches == 0) return 0.0
      var trans = 0; var k = 0
      for (i <- 0 until n) if (sM(i)) {
        while (!tM(k)) k += 1
        if (s(i) != t(k)) trans += 1
        k += 1
      }
      val mm = matches.toDouble
      val jaro = (mm / n + mm / m + (mm - trans / 2) / mm) / 3.0
      if (jaro <= 0.7) return jaro
      var p = 0
      while (p < math.min(4, math.min(n, m)) && s(p) == t(p)) p += 1
      jaro + p * 0.1 * (1.0 - jaro)
    }
    def bytes(x: String): Array[Int] = x.getBytes("UTF-8").map(_ & 0xff)

    // "café" is 5 UTF-8 bytes (é = C3 A9): 3 matches of 5 vs 4, jaro =
    // (3/5 + 3/4 + 1)/3 = 47/60, prefix 3 → 47/60 + 0.3·(13/60) = 0.8483…
    val byteView = generic(bytes("café"), bytes("cafe"))
    assert(math.abs(byteView - 0.8483333333333334) < 1e-12)
    assert(byteView != jw("café", "cafe"), "views must diverge on multi-byte input")

    // On pure ASCII (one byte == one code point) the views coincide —
    // exactly the scope the er2 DuckDB pin relies on.
    val rnd = new scala.util.Random(11)
    (1 to 200).foreach { _ =>
      val a = rnd.alphanumeric.take(rnd.nextInt(10)).mkString
      val b = rnd.alphanumeric.take(rnd.nextInt(10)).mkString
      assert(generic(bytes(a), bytes(b)) == jw(a, b),
        s"ASCII views diverged on ($a, $b)")
    }
  }

  test("null propagation") {
    val df = Seq((Some("x"), None: Option[String]), (None, Some("y")))
      .toDF("a", "b")
    val out = df.select(JaroWinklerSim.jaro_winkler(col("a"), col("b"))).collect()
    assert(out.forall(_.isNullAt(0)))
  }
}
