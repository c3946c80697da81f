package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines over the
  * `documents` table (doc_id, text, lang, source, n_chars). The per-row
  * ones are column expressions — embarrassingly parallel, no shuffle, so
  * they stream through 100 TB at scan speed. Language ID is one native
  * kernel ([[langId]]: a single loop over the tokens counts every
  * language); forms built on `filter`/`transform` lambdas, such as
  * [[stopwordHits]], run interpreted, since Spark's higher-order
  * functions have no codegen.
  */
object TextAnalysis {

  /** Whitespace tokens, lowercased. Empty/blank text → empty array (a bare
    * split of "" yields [""], which would miscount).
    */
  def tokens(text: Column): Column =
    when(length(trim(text)) === 0, array().cast("array<string>"))
      .otherwise(split(lower(trim(text)), "\\s+"))

  /** Token count (whitespace tokenization). */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count: word-boundary regex splitting off punctuation
    * and digit runs, the usual pre-tokenizer shape. Counted directly from
    * the regex split — no UDF.
    */
  def subwordCount(text: Column): Column = {
    val pieces = when(length(trim(text)) === 0, array().cast("array<string>"))
      .otherwise(split(lower(trim(text)), "[^\\p{L}\\p{N}]+"))
    size(filter(pieces, p => length(p) > 0))
  }

  /** Prefix-8 polynomial token hash h = Σ_{i≤min(len,8)} cp(cᵢ)·31^(i−1)
    * — the deterministic, ENGINE-PORTABLE hash under the hashing-trick
    * vectorizer ([[hashedFeatureRows]]): plain integer arithmetic over
    * the first 8 codepoints (31⁷·maxCp stays far inside a long for any
    * BMP text), so any SQL engine restates it exactly — unlike
    * murmur-style built-ins, which differ per engine and would make the
    * featurization unauditable across systems. The 8-char prefix is a
    * deliberate collision/portability trade: a vectorizer's hash only
    * needs dispersion, and tokens sharing an 8-char prefix colliding is
    * the same class of loss as any mod-D collision. Codegen'd built-ins
    * only (sequence/aggregate/ascii/substr) — no UDF.
    */
  def tokenHash(tok: Column): Column = {
    val pows = array((0 until 8).map(i =>
      lit(math.pow(31, i).toLong)): _*)
    // empty-input guard INSIDE the hash, not at call sites: without it
    // sequence(1, least(0, 8)) = sequence(1, 0) DESCENDS ([1, 0]) and
    // substr at position 0 feeds a spurious codepoint into the fold —
    // the hash of "" must be the fold's zero element, 0
    when(length(tok) === 0, lit(0L)).otherwise(
      aggregate(
        sequence(lit(1), least(length(tok), lit(8))),
        lit(0L),
        (acc, i) => acc + ascii(tok.substr(i, lit(1))).cast("long") *
          element_at(pows, i)))
  }

  /** Hashing-trick featurization (Weinberger et al. 2009, "Feature
    * Hashing for Large Scale Multitask Learning"): each token lands in
    * dimension h mod D with a ±1 sign drawn from the hash's higher bits
    * (h DIV D mod 2 — independent bits from the same integer hash, the
    * single-hash simplification of the paper's two-hash scheme), so
    * inner products are unbiased estimates of the exact ones and the
    * vectorizer needs NO vocabulary — no dictionary build pass, no
    * driver state, no OOV handling: the property that makes it the
    * 100 TB featurizer (a vocabulary-keyed vectorizer needs the
    * bpeTrain-style bounded-collect contract; this needs nothing).
    *
    * Output is the sparse LONG form (id, dim, cnt, signed): `cnt` raw
    * occurrences, `signed` the ±1-summed hashed value. One map-side
    * explode + ONE partial-aggregated groupBy — all integer, engine-
    * and partitioning-exact.
    */
  def hashedFeatureRows(docs: DataFrame, idCol: String, textCol: String,
      dims: Int): DataFrame = {
    require(dims >= 2, s"hashedFeatureRows: dims must be >= 2, got $dims")
    // tokenize + per-token polynomial hash is a heavy narrow map —
    // floor its parallelism at the core count (Rounds.widen; no-op on
    // multi-split inputs), shipping only the two projected columns
    Rounds.widen(docs.select(col(idCol), col(textCol)))
      .select(col(idCol), explode(tokens(col(textCol))).as("__t"))
      // a zero-length token (unreachable from tokens(), but cheap to
      // guard) would make sequence(1, 0) DESCEND in Spark while the
      // oracle's range(1, 1) is empty — exclude it from both sides
      .filter(length(col("__t")) > 0)
      .select(col(idCol), tokenHash(col("__t")).as("__h"))
      .select(col(idCol), pmod(col("__h"), lit(dims.toLong)).as("dim"),
        (lit(1L) - lit(2L) * pmod(expr(s"__h DIV ${dims}L"), lit(2L)))
          .as("__sign"))
      .groupBy(col(idCol), col("dim"))
      .agg(count(lit(1)).as("cnt"), sum(col("__sign")).as("signed"))
  }

  /** Tiny per-language stopword lists for the language-ID heuristic; public
    * so oracle SQL can be generated from the same source of truth.
    */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is", "it", "that", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "zu", "mit", "den", "von"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "des", "que", "pour"),
    "es" -> Seq("el", "la", "los", "las", "y", "es", "un", "una", "que", "por"))

  /** Stopword hits for one language's list — the building block of the
    * n-gram/stopword language-ID heuristic.
    */
  def stopwordHits(text: Column, lang: String): Column =
    size(filter(tokens(text), t => array_contains(
      array(stopwords(lang).map(lit): _*), t)))

  /** Language-ID heuristic: most stopword hits wins; ties resolve in fixed
    * (alphabetical) language order; zero hits everywhere, or null text →
    * "und". Integer comparisons only — no float boundary risk between
    * engines. One pass: the `lang_id` kernel counts every language's hits
    * over [[tokens]] in a single loop (graft.functions.LangId).
    */
  def langId(text: Column): Column =
    graft.functions.SketchFunctions.lang_id(tokens(text), stopwords)

  /** Language-ID with a CONFIDENCE MARGIN: the winning language's
    * stopword-hit count minus the runner-up's — the gate a curation
    * pipeline actually filters on ("en, but barely" is a mixed-language
    * or low-signal doc; the argmax alone can't say). All exact integers
    * (hit counts and a sorted-array pick), map-only. Margin 0 means an
    * exact tie (or an all-zero 'und' doc) — route to review, don't trust
    * the alphabetical tiebreak.
    */
  def langIdConfidence(text: Column): Column = {
    val ordered = stopwords.keys.toSeq.sorted
    val hits = ordered.map(l => stopwordHits(text, l))
    val arr = array_sort(array(hits: _*))
    val n = ordered.size
    val best = element_at(arr, n)
    val second = element_at(arr, n - 1)
    struct(langId(text).as("lang_id"), best.cast("long").as("best"),
      second.cast("long").as("second"),
      (best - second).cast("long").as("margin"))
  }

  /** Quality signals, integer/exact where possible: char count, token
    * count, mean token length ×100 (integer), punctuation count, stopword
    * hit count. A 3-arm verdict mirrors the reference's PASS/WARN/FAIL
    * quality gate (reference scripts/glue_transform/transform.py:239-251).
    */
  def qualitySignals(text: Column): Seq[(String, Column)] = {
    val toks = tokens(text)
    val nTok = size(toks)
    val nChar = length(text)
    val punct = nChar - length(regexp_replace(text, "[\\p{Punct}]", ""))
    val stop = stopwordHits(text, "en")
    Seq(
      "n_chars_calc" -> nChar.cast("long"),
      "n_tokens" -> nTok.cast("long"),
      "mean_token_len_x100" ->
        when(nTok > 0, (length(regexp_replace(trim(text), "\\s+", "")) * 100L / nTok))
          .otherwise(0L).cast("long"),
      "punct_count" -> punct.cast("long"),
      "stopword_hits" -> stop.cast("long"))
  }

  /** Broadcast linear quality model: a fixed-point integer score
    * `Σ wᵢ·signalᵢ + bias` over the integer [[qualitySignals]] — the
    * fastText-style learned-filter shape (model weights ride in the plan
    * as literals; scoring is map-only at scan speed, no shuffle, no
    * UDF). Integer weights over integer features keep the score exactly
    * reproducible across engines and partitionings, unlike a float
    * dot-product + sigmoid (the sigmoid is monotone, so thresholding the
    * linear score IS thresholding the probability). Unknown weight names
    * are rejected rather than silently ignored.
    */
  def qualityModelScore(text: Column, weights: Map[String, Long], bias: Long): Column = {
    val sigs = qualitySignals(text)
    val names = sigs.map(_._1).toSet
    val unknown = weights.keySet -- names
    require(unknown.isEmpty, s"unknown signal names: ${unknown.mkString(", ")}")
    sigs.collect { case (n, c) if weights.getOrElse(n, 0L) != 0L =>
      c * lit(weights(n))
    }.foldLeft(lit(bias).cast("long"))(_ + _)
  }

  /** Quality verdict: PASS needs enough tokens and some stopword signal;
    * WARN for short-but-plausible; FAIL for degenerate rows.
    */
  def qualityVerdict(text: Column): Column = {
    val nTok = size(tokens(text))
    when(nTok >= 20 && stopwordHits(text, "en") >= 1, lit("PASS"))
      .when(nTok >= 5, lit("WARN"))
      .otherwise(lit("FAIL"))
  }

  /** Union of every language's stopword list, deduped and sorted — the
    * language-agnostic "does this look like natural text at all" signal
    * the Gopher rule battery uses. Public so the oracle SQL interpolates
    * the identical list.
    */
  val unionStopwords: Seq[String] =
    stopwords.values.flatten.toSeq.distinct.sorted

  /** Gopher-style quality rule battery (Rae et al. 2021, "Scaling
    * Language Models", table A1) as ONE fused map-only pass: five
    * per-document format/quality rules plus the conjunctive keep bit.
    * Every rule is an INTEGER comparison — ratio thresholds are
    * cross-multiplied (`10·symbols ≤ n_words` instead of
    * `symbols/n_words ≤ 0.1`), so there is no float boundary and no
    * division anywhere, and the verdicts are bit-identical across
    * engines and partitionings.
    *
    *  - `wc_ok`     word count within [minWords, maxWords]
    *  - `wlen_ok`   mean word length within [4.0, 5.0] (as 4n ≤ Σlen ≤ 5n)
    *  - `sym_ok`    symbol-to-word ratio ≤ 0.1 ('#' and '…' as in Gopher)
    *  - `alpha_ok`  ≥ 80 % of words contain an alphabetic character
    *  - `stop_ok`   ≥ 2 hits against [[unionStopwords]]
    *
    * At 100 TB this is scan-speed curation: five codegen'd expressions in
    * one projection, no shuffle, no UDF; the keep bit feeds the same
    * filter-pushdown path as any other predicate. Repetition rules are
    * deliberately not duplicated here — [[repetitionStats]] and
    * [[dupSpanStats]] already cover them with their own oracles.
    */
  def gopherRules(text: Column, minWords: Int = 20, maxWords: Int = 80): Column = {
    val toks = tokens(text)
    val n = size(toks)
    val sumLen = aggregate(toks, lit(0), (acc, t) => acc + length(t))
    // '#' count ×3 + ellipsis bytes, vs 3·n — the ratio ≤0.1 rule with the
    // /3 of the ellipsis byte count cross-multiplied away.
    val hashBytes = length(text) - length(regexp_replace(text, "#", ""))
    val ellBytes = length(text) - length(regexp_replace(text, "\\.\\.\\.", ""))
    val alphaWords = size(filter(toks, t => t.rlike("[a-z]")))
    val stopHits = size(filter(toks, t =>
      array_contains(array(unionStopwords.map(lit): _*), t)))
    struct(
      (n >= minWords && n <= maxWords).as("wc_ok"),
      (n > 0 && sumLen >= n * 4 && sumLen <= n * 5).as("wlen_ok"),
      ((hashBytes * 3 + ellBytes) * 10 <= n * 3).as("sym_ok"),
      (alphaWords * 5 >= n * 4).as("alpha_ok"),
      (stopHits >= 2).as("stop_ok"))
  }

  /** Duplicated-span REMOVAL — the transform face of [[dupSpanStats]]
    * (Lee et al. 2022's "deduplicate substrings" recipe): every token
    * covered by a k-gram that occurs MORE THAN ONCE in the corpus
    * (across docs or within one) is cut, and the survivors re-join into
    * `clean_text`. Where t11 only measures the duplicated share, this
    * produces the training corpus with the boilerplate actually gone.
    *
    * Shape at 100 TB: positional k-grams explode once (ordered, NOT the
    * distinct [[shingles]] set — positions matter here); occurrence
    * counts are one partial-agg shuffle keyed on the gram; duplicated
    * positions come back via a gram-keyed join and collapse to ONE
    * bounded array per doc (≤ doc length, never corpus state); the cut
    * itself is a map-only higher-order filter — token j survives iff no
    * duplicated gram start p covers it (p ≤ j ≤ p+k−1). All integer
    * positions, no hashes — the oracle replays it verbatim.
    *
    * Output: (id, n_tokens, n_removed, clean_text).
    */
  def removeDupSpans(docs: DataFrame, k: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(k >= 2, "span gram size k must be >= 2")
    val toks = tokens(col(textCol))
    val grams = docs
      .select(col(idCol), toks.as("__toks"))
      .filter(size(col("__toks")) >= k)
      .select(col(idCol), posexplode(
        transform(sequence(lit(0), size(col("__toks")) - k),
          i => array_join(slice(col("__toks"), i + 1, lit(k)), " "))))
      .withColumnRenamed("col", "gram")
    val occ = grams.groupBy("gram").agg(count(lit(1)).as("__occ"))
    val dupPos = grams.join(occ.filter(col("__occ") >= 2), Seq("gram"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("pos"))).as("__dup_pos"))
    docs.join(dupPos, Seq(idCol), "left")
      .withColumn("__dup_pos",
        coalesce(col("__dup_pos"), array().cast("array<int>")))
      .withColumn("__t", toks)
      .withColumn("__kept", filter(col("__t"), (t, j) =>
        !exists(col("__dup_pos"), p => j >= p && j <= p + (k - 1))))
      .select(col(idCol),
        size(col("__t")).cast("long").as("n_tokens"),
        (size(col("__t")) - size(col("__kept"))).cast("long").as("n_removed"),
        array_join(col("__kept"), " ").as("clean_text"))
  }

  /** Document fingerprint: md5 of the normalized text (lowercase, strip
    * non-alphanumerics). Identical content → identical fingerprint, the
    * exact-dedup key that survives formatting noise.
    */
  /** Cross-source contamination matrix: for every source pair, how many
    * distinct word k-shingles they share, plus the fixed-point Jaccard
    * — the curation diagnostic that surfaces a crawl slice duplicated
    * under two names, or boilerplate bleeding across domains, BEFORE
    * per-doc dedup hides it in pair soup. Shingle-keyed equi-join on
    * the distinct (source, shingle) set (one partial-agg shuffle in,
    * one keyed join — never an all-docs cross product); per-source
    * totals broadcast back. Jaccard is inter·10⁶ ∕ union in integer
    * division, so the matrix is engine-exact.
    */
  def sourceOverlap(docs: org.apache.spark.sql.DataFrame, k: Int = 3)
      : org.apache.spark.sql.DataFrame = {
    val sh = docs.select(col("source"),
      explode(shingles(col("text"), k)).as("sh")).distinct()
    val cnt = sh.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val inter = sh.select(col("source").as("src_a"), col("sh"))
      .join(sh.select(col("source").as("src_b"), col("sh")), Seq("sh"))
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_shared"))
    inter
      .join(broadcast(cnt.select(col("source").as("src_a"), col("n").as("__na"))), Seq("src_a"))
      .join(broadcast(cnt.select(col("source").as("src_b"), col("n").as("__nb"))), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("n_shared"),
        expr("n_shared * 1000000 DIV (__na + __nb - n_shared)").as("jaccard_x1e6"))
  }

  /** Shannon token-entropy lookup table: L[c] = round(log2(c)·10⁹), index
    * 0 padded. Generated ONCE here and interpolated into BOTH the Spark
    * expression and the oracle SQL as literals — neither engine computes
    * a log at query time, so there is no cross-engine ulp surface at all.
    */
  def log2Table(maxN: Int): Array[Long] =
    Array.tabulate(maxN + 1)(c =>
      if (c < 2) 0L else math.round(math.log(c.toDouble) / math.log(2.0) * 1e9))

  /** Per-doc token Shannon entropy, exact fixed-point: H·10⁹ =
    * L[n] − (Σ_t c_t·L[c_t]) / n over token counts c_t (the identity
    * H = log n − (1/n)Σ c log c, all integer once L is a shared table).
    * Low entropy ⇒ repetitive/boilerplate/spam; high ⇒ diverse text —
    * the quality-filter signal next to [[repetitionStats]]. Zero-token
    * docs score 0. One explode + two partial-aggregated groupBys on
    * doc_id (token counts collapse map-side); the table broadcast is a
    * literal array. Counts above `maxN` would index past the table —
    * fail-fast instead of silently clamping.
    */
  def tokenEntropyScaled(docs: org.apache.spark.sql.DataFrame,
      maxN: Int = 256): org.apache.spark.sql.DataFrame = {
    val lt = log2Table(maxN)
    val arr = array(lt.toIndexedSeq.map(lit): _*)
    val tf = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("__t"))
      .groupBy("doc_id", "__t").agg(count(lit(1)).as("__c"))
    val ag = tf.groupBy("doc_id").agg(
      sum(col("__c")).as("__n"),
      sum(col("__c") * element_at(arr, (col("__c") + 1).cast("int"))).as("__s"))
    docs.select("doc_id").join(ag, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("__n"), lit(0L)).as("n_tok"),
        when(col("__n").isNull || col("__n") === 0, 0L)
          .when(col("__n") > maxN,
            raise_error(concat(lit(s"token count exceeds entropy table ($maxN): "),
              col("__n").cast("string"))).cast("long"))
          .otherwise(
            element_at(arr, (col("__n") + 1).cast("int")) -
              expr("__s DIV __n")).as("h_x1e9"))
  }

  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(text), "[^a-z0-9]+", " "))

  /** Corpus-level term statistics: term frequency per (doc, term) and
    * document frequency per term — the TF-IDF building blocks, kept as
    * exact integers (a float idf would hit libm log() differences across
    * engines). Shuffles once on the term key for DF, once on doc for the
    * per-doc ranking; both partial-aggregated map-side.
    */
  def termStats(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val terms = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    // tf IS the distinct (doc, term) relation — deriving DF from it
    // replaces the explode+distinct third shuffle with a groupBy over
    // the already-aggregated (and far smaller) tf rows
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(df, "term").select("doc_id", "term", "tf", "df")
  }

  /** Top-n most distinctive terms per document: highest tf, ties broken
    * by rarest (lowest df) then term text — a pure-integer ordering, so
    * both engines rank identically.
    */
  def distinctiveTerms(docs: org.apache.spark.sql.DataFrame, n: Int): org.apache.spark.sql.DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
      .orderBy(col("tf").desc, col("df").asc, col("term").asc)
    termStats(docs)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= n)
  }

  /** Per-document repetition statistics — the boilerplate/spam signal a
    * training-data pipeline filters on: total tokens, distinct tokens, and
    * the highest single-token frequency. All exact integers (no float
    * ratio boundary risk across engines); the caller derives ratios.
    * One explode + two partial-aggregated shuffles keyed on doc_id.
    */
  def repetitionStats(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val tf = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val agg = tf.groupBy("doc_id").agg(
      sum(col("tf")).as("n_tokens"),
      count(lit(1)).as("n_distinct"),
      max(col("tf")).as("top_tf"))
    // zero-token docs never reach the explode — restore them with zeros
    docs.select(col("doc_id"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        coalesce(col("top_tf"), lit(0L)).as("top_tf"))
  }

  /** PII scrubbing: redact emails, IPv4 addresses, and phone-shaped digit
    * runs with typed placeholders. Patterns stay in the common
    * Java-regex/RE2 subset (no backrefs, no lookaround) so the DuckDB
    * oracle applies the byte-identical rewrite. Order matters: IPs are
    * redacted before phones so a dotted quad is never half-eaten as a
    * phone number. Map-only — scrubbing streams at scan speed.
    */
  val piiEmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val piiIpRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val piiPhoneRe = "\\+?\\d[0-9 -]{7,}\\d"

  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, piiEmailRe, "<EMAIL>"),
        piiIpRe, "<IP>"),
      piiPhoneRe, "<PHONE>")

  /** Overlapping token chunks (the RAG / context-window chunking shape):
    * chunk i covers tokens [i·stride, i·stride + width). Chunks are
    * emitted until one reaches the end of the document — a final chunk
    * fully contained in its predecessor is never produced (so a doc with
    * n ≤ width tokens yields exactly one chunk, and an empty doc none).
    * Pure per-row expression: chunking streams at scan speed, no
    * shuffle, no UDF.
    */
  def tokenChunks(text: Column, width: Int, stride: Int): Column = {
    require(width >= 1, "chunk width must be >= 1")
    require(stride >= 1 && stride <= width,
      "stride must be in [1, width] (stride > width would drop tokens)")
    val toks = tokens(text)
    val n = size(toks)
    // number of chunks: 1 while n <= width, else ceil((n-width)/stride)+1
    // (int operands stay far below 2^53, so the double ceil is exact)
    val k = when(n <= lit(width), lit(1))
      .otherwise(ceil((n - lit(width)).cast("double") / lit(stride)).cast("int") + 1)
    // sequence(0, k-1) would count DOWN for k = 0 — guard the empty doc
    when(n === 0, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), k - 1),
        i => array_join(slice(toks, i * stride + 1, lit(width)), " ")))
  }

  /** Vocabulary-coverage statistics — the OOV-rate quality filter: per
    * document, total token occurrences and how many fall inside the
    * corpus's `topK`-term vocabulary (by corpus frequency, ties to the
    * lexicographically smaller term — a total order, so the vocabulary
    * is deterministic).
    *
    * Scale shape: term frequencies are partial-aggregated per (doc,
    * term); the vocabulary is a groupBy over the tiny term relation and
    * is BROADCAST into the coverage join — the corpus side never
    * shuffles on the term key a second time. All counts are exact
    * integers (no float ratio drift across engines); callers derive
    * oov_rate = n_oov / n_tokens.
    */
  def vocabCoverage(docs: org.apache.spark.sql.DataFrame, topK: Int): org.apache.spark.sql.DataFrame = {
    require(topK >= 1, "vocabulary size must be >= 1")
    val tf = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val vocab = tf.groupBy("term").agg(sum(col("tf")).as("cf"))
      .orderBy(col("cf").desc, col("term").asc).limit(topK).select("term")
    val hits = tf.join(broadcast(vocab), Seq("term"), "left_semi")
      .groupBy("doc_id").agg(sum(col("tf")).as("n_in_vocab"))
    docs.select(col("doc_id"), tokenCount(col("text")).cast("long").as("n_tokens"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_in_vocab"), lit(0L)).as("n_in_vocab"),
        (col("n_tokens") - coalesce(col("n_in_vocab"), lit(0L))).as("n_oov"))
  }

  /** Corpus bigram language model + per-document predictability scores —
    * the CCNet/KenLM-style "perplexity filter" shape: train n-gram counts
    * on the corpus itself, score each document by how predictable its
    * token transitions are. Boilerplate scores high, rare/garbled text
    * scores low; a curation pipeline drops both tails.
    *
    * Two scores per document:
    *  - `mean_prob_x1e6` — mean conditional bigram probability
    *    p(w2|w1) = c(w1 w2)/c(w1), fixed-point ×10⁶ per occurrence via
    *    INTEGER division, then an integer mean. Exact across engines
    *    (the DuckDB oracle reproduces it bit-for-bit) — the same
    *    libm-divergence dodge as [[termStats]]' integer ranking.
    *  - `xent` — the conventional float cross-entropy
    *    −mean ln p(w2|w1) (spec-tested; kept OUT of oracle-compared
    *    projections because ln is libm-dependent).
    *
    * Scale shape: bigrams are generated per-row (map-only transform, no
    * self-join); the model is two partial-aggregated count shuffles
    * (unigram + bigram vocab); scoring joins each bigram occurrence to
    * its two counts — N:1 hash joins keyed on uniformly-hashed terms,
    * hot keys (stopword bigrams) handled by AQE skew splitting — then
    * one per-doc aggregation. Long arithmetic: 10⁶·c(bigram) stays under
    * 2⁶³ while the corpus holds < ~9·10¹² occurrences of any single
    * bigram — beyond that, scale the fixed point down.
    */
  def bigramLm(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val base = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
    val bg = base.filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("toks")) - 1),
        i => struct(
          element_at(col("toks"), i).as("w1"),
          concat_ws(" ", element_at(col("toks"), i), element_at(col("toks"), i + 1)).as("b")))).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.b").as("b"))
    val uni = base.select(explode(col("toks")).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("c1"))
    val big = bg.groupBy("b").agg(count(lit(1)).as("c2"))
    // c(w1 w2) ≤ c(w1-as-first) ≤ c(w1), so p ∈ (0, 1] and the model never
    // needs smoothing on its own training corpus.
    val scored = bg.join(big, "b").join(uni, "w1")
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_bigrams"),
        sum(expr("(1000000 * c2) DIV c1")).as("psum"),
        sum(log(col("c1")) - log(col("c2"))).as("nll_sum"))
    docs.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        when(col("n_bigrams") > 0, expr("psum DIV n_bigrams")).as("mean_prob_x1e6"),
        when(col("n_bigrams") > 0, col("nll_sum") / col("n_bigrams")).as("xent"))
  }

  /** PMI collocations — the corpus's top-k bigrams by pointwise lift
    * p(ab)/(p(a)p(b)) (Church & Hanks 1990's association ratio), the
    * phrase-mining pass a tokenizer/curation pipeline runs to find
    * multiword units worth preserving. Exact integer fixed point: with
    * one normalizer T = total tokens,
    *   lift_x1e6 = c_ab·T·10⁶ div (c_a·c_b)
    * — the product runs in DECIMAL(38,0) (c_ab·T·10⁶ ≤ 10¹²·10¹⁵·10⁶ =
    * 10³³ at a 100 TB corpus, inside 38 digits; an oracle's HUGEINT is
    * the same 127-bit class), so the ranking is engine- and
    * partitioning-exact — no transcendental log anywhere.
    *
    * Scale shape: one unigram partial-agg shuffle, one bigram
    * partial-agg shuffle with `minCount` pruning FIRST (the long tail
    * of hapax bigrams never reaches the joins), two keyed joins against
    * the unigram table, the scalar T as a broadcast row (never a
    * collect), and a distributed TakeOrderedAndProject top-k — no
    * global sort. Ties are impossible across rows (the bigram string is
    * unique), so (lift desc, bigram) is a total order.
    *
    * Unigram-join strategy is DELIBERATELY AQE-decides, no hint: the
    * unigram table is vocab-sized — KBs at test SF, but a web corpus's
    * vocabulary (hundreds of millions of tokens × short strings) can
    * run to GBs, past any sane broadcast threshold. A broadcast hint
    * would OOM the driver exactly at the scale this operator targets; a
    * shuffle hint would forfeit the broadcast that is strictly better
    * whenever the dictionary fits. AQE's measured post-shuffle sizes
    * pick the right side of that line at runtime — both outcomes are
    * keyed equi joins on w1/w2, never a nested loop. PlanSpec pins the
    * at-threshold behavior (broadcast at dictionary scale).
    */
  def collocations(docs: org.apache.spark.sql.DataFrame, minCount: Long = 5,
      topK: Int = 20): org.apache.spark.sql.DataFrame = {
    // NOT widened (cf. hashedFeatureRows): both widen placements were
    // measured SLOWER here at sf0.1 (0.66 → ~1.0 s) — the added
    // exchange + per-branch fan-out costs more than the single-task
    // tokenize it parallelizes on this op's two-branch shape
    val base = docs.select(tokens(col("text")).as("toks"))
    val uni = base.select(explode(col("toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val tot = uni.agg(sum(col("c")).as("T"))
    val bg = base.filter(size(col("toks")) >= 2)
      .select(explode(transform(
        sequence(lit(1), size(col("toks")) - 1),
        i => struct(element_at(col("toks"), i).as("w1"),
          element_at(col("toks"), i + 1).as("w2")))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minCount)
    bg.join(uni.select(col("w").as("w1"), col("c").as("c_a")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("c_b")), "w2")
      .crossJoin(broadcast(tot))
      .select(concat_ws(" ", col("w1"), col("w2")).as("bigram"), col("c_ab"),
        expr("CAST(CAST(c_ab AS DECIMAL(38,0)) * T * 1000000 div " +
          "(CAST(c_a AS DECIMAL(38,0)) * c_b) AS BIGINT)").as("lift_x1e6"))
      .orderBy(col("lift_x1e6").desc, col("bigram"))
      .limit(topK)
  }

  /** BPE tokenizer training (Sennrich et al. 2016, "Neural Machine
    * Translation of Rare Words with Subword Units"): learn `numMerges`
    * byte-pair merges from the corpus.
    *
    * The scale split mirrors production BPE trainers (the original
    * subword-nmt and HF tokenizers both work this way): the CORPUS-scale
    * work — counting word frequencies over every token occurrence — is
    * one distributed partial-aggregated groupBy; the VOCAB-scale work —
    * the iterative merge loop — runs on the collected word dictionary.
    * That dictionary is bounded by distinct-word count, not corpus size,
    * but web-scale text (typos, URLs, unicode junk, code) routinely has
    * HUNDREDS of millions of distinct tokens — so the collect carries the
    * house explicit-bound contract: `maxVocab` fail-fasts past the bound
    * (enforced with limit(maxVocab+1), so the driver never materializes
    * more than the bound either way), and `minFreq` prunes the hapax
    * tail DISTRIBUTED (a HAVING on the frequency groupBy, before
    * anything ships) — the standard BPE-trainer floor (subword-nmt's
    * --min-frequency) that makes the bound reachable on honest data:
    * pairs supported by sub-`minFreq` words can't beat pairs the kept
    * dictionary supports at any realistic corpus skew, and rare-word
    * spellings contribute nothing a tokenizer should learn.
    * Each iteration merges the most frequent adjacent symbol pair; ties
    * break lexicographically on (left, right) so training is
    * deterministic across runs, partitionings, and engines.
    *
    * Returns the merge table: (rank, left, right, pair_count) — rank 1 =
    * first merge. Word boundaries are never crossed (pairs are counted
    * within words, weighted by word frequency); the per-word symbol
    * sequence starts as its characters.
    */
  def bpeTrain(docs: org.apache.spark.sql.DataFrame, numMerges: Int,
      textCol: String = "text", minFreq: Long = 1,
      maxVocab: Int = 1000000): org.apache.spark.sql.DataFrame = {
    require(numMerges >= 1, "numMerges must be >= 1")
    require(minFreq >= 1, "minFreq must be >= 1")
    require(maxVocab >= 1, "maxVocab must be >= 1")
    val spark = docs.sparkSession
    // distributed: corpus -> (distinct word, frequency), hapax tail
    // pruned BEFORE anything leaves the executors; limit caps what the
    // driver can ever materialize even when the require below fires
    val dict: Array[(String, Long)] = docs
      .select(explode(tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("f"))
      .filter(col("f") >= minFreq)
      .limit(maxVocab + 1)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    require(dict.length <= maxVocab,
      s"bpeTrain: more than $maxVocab distinct words survive minFreq=" +
        s"$minFreq — the merge loop's dictionary lives on the driver; " +
        "raise minFreq (prunes distributed) or raise maxVocab deliberately")

    // driver: iterative merges over the dictionary's symbol sequences
    var words: Array[(Array[String], Long)] =
      dict.map { case (w, f) => (w.toCharArray.map(_.toString), f) }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var rank = 1
    var continue = true
    while (rank <= numMerges && continue) {
      val counts = new java.util.HashMap[(String, String), Long]()
      words.foreach { case (syms, f) =>
        var i = 0
        while (i < syms.length - 1) {
          counts.merge((syms(i), syms(i + 1)), f, (a, b) => a + b)
          i += 1
        }
      }
      if (counts.isEmpty) continue = false
      else {
        var best: ((String, String), Long) = null
        counts.forEach { (p, c) =>
          if (best == null || c > best._2 ||
            (c == best._2 && (p._1 < best._1._1 ||
              (p._1 == best._1._1 && p._2 < best._1._2)))) best = (p, c)
        }
        val (l, r) = best._1
        merges += ((rank, l, r, best._2))
        val fused = l + r
        words = words.map { case (syms, f) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < syms.length) {
            if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
              out += fused; i += 2
            } else { out += syms(i); i += 1 }
          }
          (out.toArray, f)
        }
        rank += 1
      }
    }
    import spark.implicits._
    merges.toSeq.toDF("rank", "left", "right", "pair_count")
  }

  /** Winnowing fingerprints (rolling Rabin-Karp over char k-grams, window
    * minima) — graft.functions.WinnowFingerprints. Any shared substring of
    * length ≥ k+w−1 yields at least one common fingerprint; the
    * containment-detection primitive (MOSS).
    */
  def winnowingFingerprints(text: Column, k: Int = 5, w: Int = 4): Column =
    graft.functions.SketchFunctions.winnow_fingerprints(text, k, w)

  /** Distinct word k-shingles (contiguous k-grams joined by a space),
    * computed by the fused native expression graft.functions.WordShingles.
    * Fewer than k tokens → empty array.
    */
  def shingles(text: Column, k: Int): Column =
    graft.functions.SketchFunctions.word_shingles(tokens(text), k)

  /** Distinct word k-shingles as 64-bit xxhash64 values — the
    * set-comparison form of `shingles` (identical minhash signatures,
    * ~3× narrower shuffle payload; see functions.WordShingleHashes).
    */
  def shingleHashes(text: Column, k: Int): Column =
    graft.functions.SketchFunctions.word_shingle_hashes(tokens(text), k)

  /** Per-document duplicated-span share — the exact-substring-duplication
    * curation signal (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better": spans repeated across the corpus are memorized
    * disproportionately). For each doc: how many of its distinct word
    * k-grams also occur in at least one OTHER document, and the fraction.
    * Near-1 ⇒ boilerplate/template/duplicated content even when no full-doc
    * fingerprint matches.
    *
    * Plan shape: explode distinct k-grams (map-side, the fused WordShingles
    * expression), one hash-aggregate shuffle keyed on the gram for corpus
    * document frequencies, one shuffle back on the gram to tag each doc's
    * grams, one keyed aggregate per doc — all partial-aggregated, no
    * self-join, no driver state. At 100 TB swap `shingles` for
    * `shingleHashes` (same set semantics, 64-bit keys ⇒ ~3× narrower
    * shuffles); the string form is kept here for oracle comparability.
    */
  def dupSpanStats(
      docs: DataFrame,
      k: Int,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val grams = docs.select(col(idCol), explode(shingles(col(textCol), k)).as("gram"))
    // df counts docs per gram: gram lists are distinct within a doc, so
    // count(*) == count(DISTINCT doc) without the expensive distinct agg.
    val df = grams.groupBy("gram").agg(count(lit(1)).as("df"))
    val perDoc = grams.join(df, "gram")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") > 1, 1L).otherwise(0L)).as("n_dup"))
    // Keep docs too short to have any k-gram (explode dropped them): 0/0.
    docs.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"))
      .withColumn("dup_frac",
        when(col("n_grams") === 0, lit(0.0))
          .otherwise(col("n_dup").cast("double") / col("n_grams").cast("double")))
  }
}
