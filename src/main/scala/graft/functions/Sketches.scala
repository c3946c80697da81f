package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64, XxHash64Function}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused sketch expressions. The built-in formulations
  * (`transform(sequence(...), i -> array_min(transform(...)))` for minhash,
  * 64 × `size(filter(...))` for simhash) evaluate an interpreted lambda per
  * element per hash — O(n·k) closure dispatches and k intermediate arrays
  * per row. These expressions do the same arithmetic in one JVM loop.
  * Hash family matches the column formulation: xxhash64(string, seed=42)
  * base, then xxhash64(longValue, seed=i) per permutation.
  */

/** Shared semi-codegen for the sketch family: the generated code calls
  * the expression's `kernel` directly on the child's already-computed
  * local value via a reference object — unlike CodegenFallback, which
  * routes through `eval(InternalRow)` and forces the enclosing
  * whole-stage pipeline to materialize an input row per call. One
  * virtual call per row remains; the loops inside the kernels dominate
  * it by orders of magnitude.
  */
trait SketchCodegen extends UnaryExpression {

  /** Per-row kernel over the non-null child value; boxed result. */
  def kernel(input: Any): AnyRef

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val ref = ctx.addReferenceObj("sketchExpr", this, classOf[SketchCodegen].getName)
    val boxed = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
      .boxedType(dataType)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = ($boxed) $ref.kernel($c);")
  }
}

/** MinHash signature of a shingle set → array<long> of length
  * `numHashes`. Accepts array<string> (shingles hashed here with
  * xxhash64 seed 42) OR array<long> (shingles already hashed by
  * [[WordShingleHashes]] with the SAME family — signatures are
  * bit-identical, but the per-element string hash is skipped). Null
  * input → null; null elements are skipped; empty array →
  * Long.MaxValue sentinels (array_min of empty is null in the HOF form —
  * a doc with no shingles matches nothing either way).
  */
case class MinHashSig(child: Expression, numHashes: Int)
    extends UnaryExpression with SketchCodegen {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType | LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig expects array<string> or array<long>, got ${t.sql}")
  }

  private lazy val prehashed = child.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def nullSafeEval(input: Any): Any = kernel(input)

  override def kernel(input: Any): AnyRef = {
    val arr = input.asInstanceOf[ArrayData]
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        // XXH64.hashLong/hashUTF8String are the exact routines
        // XxHash64Function.hash dispatches to — called directly because
        // the dispatch (a runtime match over every supported type) costs
        // more than the hash itself in this n·numHashes inner loop (the
        // measured majority of the whole LSH pipeline).
        val base =
          if (prehashed) arr.getLong(i)
          else XXH64.hashUTF8String(arr.getUTF8String(i), 42L)
        var k = 0
        while (k < numHashes) {
          val h = XXH64.hashLong(base, k.toLong)
          if (h < mins(k)) mins(k) = h
          k += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Fused MinHash + LSH banding: shingle set → array<long> of `bands`
  * band keys, where band b's key hashes the b-th `numHashes/bands`-slice
  * of the minhash signature. Bit-identical to
  * `bandHashes(MinHashSig(sh))` formulated as columns —
  * xxhash64(lit(b), sig(b·r+1..b·r+r)) with seed 42 — but ONE pass:
  * the column form is a correctness trap as well as an overhead, because
  * CollapseProject inlines the signature alias into every element_at,
  * evaluating the full minhash loop numHashes times per row (measured:
  * the majority of the d5 pipeline).
  */
case class LshBands(child: Expression, numHashes: Int, bands: Int)
    extends UnaryExpression with SketchCodegen {
  require(numHashes >= 1 && bands >= 1 && numHashes % bands == 0,
    "numHashes must be a positive multiple of bands")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType | LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"lsh_bands expects array<string> or array<long>, got ${t.sql}")
  }

  private lazy val prehashed = child.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def nullSafeEval(input: Any): Any = kernel(input)

  override def kernel(input: Any): AnyRef = {
    val arr = input.asInstanceOf[ArrayData]
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val base =
          if (prehashed) arr.getLong(i)
          else XXH64.hashUTF8String(arr.getUTF8String(i), 42L)
        var k = 0
        while (k < numHashes) {
          val h = XXH64.hashLong(base, k.toLong)
          if (h < mins(k)) mins(k) = h
          k += 1
        }
      }
      i += 1
    }
    val rowsPerBand = numHashes / bands
    val out = new Array[Any](bands)
    var b = 0
    while (b < bands) {
      // same fold as the column form `xxhash64(lit(b), sig…)`: seed 42,
      // int literal first (hashInt), then each signature long in order
      var h = XXH64.hashInt(b, 42L)
      var r = 0
      while (r < rowsPerBand) {
        h = XXH64.hashLong(mins(b * rowsPerBand + r), h)
        r += 1
      }
      out(b) = h
      b += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "lsh_bands"
}

/** Stopword language ID of an array<string> token list → the label
  * whose stopword list the tokens hit most. ONE loop over the tokens
  * against a token → languages index counts every language at once (a
  * stopword shared by several lists counts for each), where the column
  * form ran one `size(filter(tokens, array_contains(list, t)))` pass per
  * language per reference — an interpreted `ArrayFilter` each, since it
  * has no codegen. Most hits wins; ties go to the alphabetically first
  * language; zero hits, and null input, give "und". Returns the label
  * itself, never a hits array picked from by reference: CollapseProject
  * would inline the kernel into every pick (the trap [[LshBands]]
  * records).
  */
case class LangId(child: Expression, stopwords: Map[String, Seq[String]])
    extends UnaryExpression with SketchCodegen {

  override def dataType: DataType = StringType
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"lang_id expects array<string>, got ${t.sql}")
  }

  @transient private lazy val labels: Array[UTF8String] =
    stopwords.keys.toArray.sorted.map(UTF8String.fromString)

  @transient private lazy val index: java.util.HashMap[UTF8String, Array[Int]] = {
    val m = new java.util.HashMap[UTF8String, Array[Int]]()
    for ((label, i) <- labels.zipWithIndex; w <- stopwords(label.toString).distinct) {
      val k = UTF8String.fromString(w)
      m.put(k, m.getOrDefault(k, Array.emptyIntArray) :+ i)
    }
    m
  }

  private val Und = UTF8String.fromString("und")

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    kernel(child.eval(input))

  /** Null tokens are a valid input ("und"), so the generated code calls
    * the kernel outside the null-safe wrapper the other sketches use.
    */
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val ref = ctx.addReferenceObj("langIdExpr", this, classOf[SketchCodegen].getName)
    val c = child.genCode(ctx)
    val javaType = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
      .javaType(dataType)
    ev.copy(code = code"""
      ${c.code}
      $javaType ${ev.value} = ($javaType) $ref.kernel(${c.isNull} ? null : ${c.value});""",
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override def kernel(input: Any): AnyRef = {
    if (input == null) return Und
    val arr = input.asInstanceOf[ArrayData]
    val hits = new Array[Int](labels.length)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val langs = index.get(arr.getUTF8String(i))
        if (langs != null) {
          var j = 0
          while (j < langs.length) { hits(langs(j)) += 1; j += 1 }
        }
      }
      i += 1
    }
    // strict > over the alphabetical order: a tie keeps the earlier label
    var best = -1
    var bestHits = 0
    var l = 0
    while (l < hits.length) {
      if (hits(l) > bestHits) { best = l; bestHits = hits(l) }
      l += 1
    }
    if (best < 0) Und else labels(best)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "lang_id"
}

/** 64-bit SimHash of an array<string> token list → long. Per token: base
  * xxhash64; each of the 64 signature bits is the majority vote of that
  * bit across token hashes (ties → 0). One loop, no intermediate arrays,
  * no shuffle — signature computation is map-only at any scale.
  */
case class SimHash64(child: Expression)
    extends UnaryExpression with SketchCodegen {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"simhash64 expects array<string>, got ${t.sql}")
  }

  override def nullSafeEval(input: Any): Any = kernel(input)

  override def kernel(input: Any): AnyRef = {
    val arr = input.asInstanceOf[ArrayData]
    val votes = new Array[Int](64)
    var total = 0
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = XXH64.hashUTF8String(arr.getUTF8String(i), 42L)
        var b = 0
        while (b < 64) {
          votes(b) += ((h >>> b) & 1L).toInt
          b += 1
        }
        total += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) * 2 > total) sig |= (1L << b)
      b += 1
    }
    java.lang.Long.valueOf(sig)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Distinct word k-shingles from an array<string> token list: contiguous
  * k-grams joined by a single space, first-occurrence order, deduplicated.
  * Replaces `transform(sequence, i -> concat_ws(slice(...)))` +
  * `array_distinct` — which allocates a sub-array and an interpreted
  * lambda frame per position — with one loop and a hash set.
  * Fewer than k tokens → empty array (matches TextAnalysis.shingles).
  */
case class WordShingles(child: Expression, k: Int)
    extends UnaryExpression with SketchCodegen {
  require(k >= 1, "shingle size must be >= 1")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"word_shingles expects array<string>, got ${t.sql}")
  }

  override def nullSafeEval(input: Any): Any = kernel(input)

  override def kernel(input: Any): AnyRef = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n < k) return new GenericArrayData(Array.empty[Any])
    val space = UTF8String.fromString(" ")
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var i = 0
    while (i <= n - k) {
      val parts = new Array[UTF8String](k)
      var j = 0
      while (j < k) {
        parts(j) = if (arr.isNullAt(i + j)) UTF8String.EMPTY_UTF8 else arr.getUTF8String(i + j)
        j += 1
      }
      seen.add(UTF8String.concatWs(space, parts: _*))
      i += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[Any]])
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Jaccard similarity |A∩B| / |A∪B| of two DISTINCT arrays — both
  * array<string> (membership loop over a hash set, no intersection/union
  * array materialized) or both array<long> (pre-hashed shingles: copy,
  * sort, merge-count — primitive longs, zero boxing). Union size uses
  * |A|+|B|−|A∩B| (valid for distinct inputs). Null input → null;
  * both empty → 0.0.
  *
  * Participates in whole-stage codegen: the generated code calls the
  * static kernels below directly, so the LSH verify join's hot loop —
  * the measured bottleneck at 10⁶ docs — stays inside the fused stage
  * instead of bouncing through CodegenFallback's per-row interpreted
  * eval (InternalRow wrapping + boxing per candidate pair).
  */
case class JaccardSim(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(StringType, _), ArrayType(StringType, _)) => TypeCheckResult.TypeCheckSuccess
    case (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"jaccard_sim expects two array<string> or two array<long>, got ${l.sql} / ${r.sql}")
  }

  private lazy val onLongs = left.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def nullSafeEval(l: Any, r: Any): Any =
    if (onLongs) JaccardSim.jaccardLongs(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
    else JaccardSim.jaccardStrings(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val kernel = if (onLongs) "jaccardLongs" else "jaccardStrings"
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.JaccardSim$$.MODULE$$.$kernel($a, $b);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object JaccardSim {

  /** Long-array kernel: copy non-null elements, sort, merge-count.
    * Null elements are SKIPPED on both paths (SQL-registered, so
    * array<long> with containsNull can reach here — a null slot must
    * not read as 0 and fake an intersection hit).
    */
  def jaccardLongs(l: ArrayData, r: ArrayData): Double = {
    var a = l; var b = r
    if (a.numElements() > b.numElements()) { val t = a; a = b; b = t }
    val na = a.numElements(); val nb = b.numElements()
    if (na + nb == 0) return 0.0
    var inter = 0
    var ca = 0; var cb = 0
    val xs = new Array[Long](na); val ys = new Array[Long](nb)
    var i = 0
    while (i < na) { if (!a.isNullAt(i)) { xs(ca) = a.getLong(i); ca += 1 }; i += 1 }
    i = 0
    while (i < nb) { if (!b.isNullAt(i)) { ys(cb) = b.getLong(i); cb += 1 }; i += 1 }
    java.util.Arrays.sort(xs, 0, ca); java.util.Arrays.sort(ys, 0, cb)
    var j = 0; i = 0
    while (i < ca && j < cb) {
      if (xs(i) == ys(j)) { inter += 1; i += 1; j += 1 }
      else if (xs(i) < ys(j)) i += 1
      else j += 1
    }
    val union = ca + cb - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  /** String-array kernel: membership loop over a hash set of the smaller
    * side; null elements skipped (see [[jaccardLongs]]).
    */
  def jaccardStrings(l: ArrayData, r: ArrayData): Double = {
    var a = l; var b = r
    if (a.numElements() > b.numElements()) { val t = a; a = b; b = t }
    val na = a.numElements(); val nb = b.numElements()
    if (na + nb == 0) return 0.0
    var inter = 0
    var ca = 0; var cb = 0
    val set = new java.util.HashSet[UTF8String](na * 2)
    var i = 0
    while (i < na) { if (!a.isNullAt(i)) { set.add(a.getUTF8String(i)); ca += 1 }; i += 1 }
    i = 0
    while (i < nb) {
      if (!b.isNullAt(i)) {
        if (set.contains(b.getUTF8String(i))) inter += 1
        cb += 1
      }
      i += 1
    }
    val union = ca + cb - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }
}

/** Distinct word k-shingles as 64-bit hashes (xxhash64 seed 42 of the
  * space-joined k-gram — the exact family [[MinHashSig]] applies to
  * string shingles, so the two paths produce identical signatures).
  * For pipelines that only compare shingle SETS (LSH banding +
  * Jaccard verification), carrying 8-byte hashes instead of ~25-byte
  * strings cuts the verify join's shuffle ~3× and skips re-hashing
  * every shingle downstream. Fewer than k tokens → empty array.
  */
case class WordShingleHashes(child: Expression, k: Int)
    extends UnaryExpression with SketchCodegen {
  require(k >= 1, "shingle size must be >= 1")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"word_shingle_hashes expects array<string>, got ${t.sql}")
  }

  override def nullSafeEval(input: Any): Any = kernel(input)

  override def kernel(input: Any): AnyRef = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n < k) return new GenericArrayData(Array.empty[Any])
    val space = UTF8String.fromString(" ")
    // TreeSet → the output array is SORTED, so downstream merge-joins
    // (JaccardSim's long-merge) see presorted input
    val seen = new java.util.TreeSet[java.lang.Long]()
    var i = 0
    while (i <= n - k) {
      val parts = new Array[UTF8String](k)
      var j = 0
      while (j < k) {
        parts(j) = if (arr.isNullAt(i + j)) UTF8String.EMPTY_UTF8 else arr.getUTF8String(i + j)
        j += 1
      }
      seen.add(XXH64.hashUTF8String(UTF8String.concatWs(space, parts: _*), 42L))
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    i = 0
    while (it.hasNext) { out(i) = it.next().longValue(); i += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken): rolling
  * Rabin-Karp hash over character k-grams of the normalized text, then the
  * minimum hash of each sliding window of `w` consecutive k-gram hashes
  * (rightmost minimum on ties). Guarantees any shared substring of length
  * ≥ k + w − 1 produces at least one common fingerprint — the classic
  * MOSS-style containment detector, here one fused per-row loop emitting a
  * distinct sorted array<long>. Map-only; pairs join on exploded
  * fingerprints downstream.
  */
case class WinnowFingerprints(child: Expression, k: Int, w: Int)
    extends UnaryExpression with SketchCodegen {
  require(k >= 2 && w >= 1, "need k >= 2 and w >= 1")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"winnow_fingerprints expects string, got ${t.sql}")
  }

  private val B = 1000000007L // Rabin-Karp base (odd, fits mixing in 64-bit wrap)

  override def nullSafeEval(input: Any): Any = kernel(input)

  override def kernel(input: Any): AnyRef = {
    // normalize: lowercase, collapse non-alphanumerics to single spaces
    val raw = input.asInstanceOf[UTF8String].toString.toLowerCase
    val sb = new java.lang.StringBuilder(raw.length)
    var prevSpace = true
    var ci = 0
    while (ci < raw.length) {
      val c = raw.charAt(ci)
      if (Character.isLetterOrDigit(c)) { sb.append(c); prevSpace = false }
      else if (!prevSpace) { sb.append(' '); prevSpace = true }
      ci += 1
    }
    val s = sb.toString.trim
    val n = s.length
    if (n < k) return new GenericArrayData(Array.empty[Any])

    // rolling hashes of all k-grams (wrapping 64-bit arithmetic)
    val m = n - k + 1
    val hashes = new Array[Long](m)
    var pow = 1L
    var h = 0L
    var i = 0
    while (i < k) { h = h * B + s.charAt(i); if (i < k - 1) pow *= B; i += 1 }
    hashes(0) = finalMix(h)
    i = 1
    while (i < m) {
      h = (h - s.charAt(i - 1) * pow) * B + s.charAt(i + k - 1)
      hashes(i) = finalMix(h)
      i += 1
    }

    // winnow: rightmost minimum of each window of w hashes
    val out = new java.util.TreeSet[java.lang.Long]()
    if (m <= w) {
      var minIdx = 0
      i = 1
      while (i < m) { if (hashes(i) <= hashes(minIdx)) minIdx = i; i += 1 }
      out.add(hashes(minIdx))
    } else {
      var start = 0
      while (start + w <= m) {
        var minIdx = start
        i = start + 1
        while (i < start + w) { if (hashes(i) <= hashes(minIdx)) minIdx = i; i += 1 }
        out.add(hashes(minIdx))
        start += 1
      }
    }
    val arr = new Array[Any](out.size)
    val it = out.iterator()
    i = 0
    while (it.hasNext) { arr(i) = it.next().longValue(); i += 1 }
    new GenericArrayData(arr)
  }

  /** xorshift-multiply avalanche so nearby k-grams don't get nearby hashes. */
  private def finalMix(x: Long): Long = {
    var z = x + -7046029254386353131L
    z = (z ^ (z >>> 30)) * -4658895280553007687L
    z = (z ^ (z >>> 27)) * -7723592293110705685L
    z ^ (z >>> 31)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object SketchFunctions {
  def word_shingles(tokens: Column, k: Int): Column =
    GraftSqlBridge.column(WordShingles(GraftSqlBridge.expression(tokens), k))

  def word_shingle_hashes(tokens: Column, k: Int): Column =
    GraftSqlBridge.column(WordShingleHashes(GraftSqlBridge.expression(tokens), k))

  def winnow_fingerprints(text: Column, k: Int = 5, w: Int = 4): Column =
    GraftSqlBridge.column(WinnowFingerprints(GraftSqlBridge.expression(text), k, w))

  def jaccard_sim(a: Column, b: Column): Column =
    GraftSqlBridge.column(JaccardSim(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  def minhash_sig(shingles: Column, numHashes: Int): Column =
    GraftSqlBridge.column(MinHashSig(GraftSqlBridge.expression(shingles), numHashes))

  def lsh_bands(shingles: Column, numHashes: Int, bands: Int): Column =
    GraftSqlBridge.column(LshBands(GraftSqlBridge.expression(shingles), numHashes, bands))

  def simhash64(tokens: Column): Column =
    GraftSqlBridge.column(SimHash64(GraftSqlBridge.expression(tokens)))

  def lang_id(tokens: Column, stopwords: Map[String, Seq[String]]): Column =
    GraftSqlBridge.column(LangId(GraftSqlBridge.expression(tokens), stopwords))
}
