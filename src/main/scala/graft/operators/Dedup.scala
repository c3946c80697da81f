package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Deduplication operators for training-data pipelines, each designed
  * around its 100 TB shuffle shape. Exact dedup is one hash-partitioned
  * groupBy on the dedup key (map-side partial aggregation halves the
  * shuffle); its full-row form [[exactRows]] is one hash repartition on
  * the key with a group-min window inside each partition — one pass over
  * its input, never a join back to it.
  *
  * The near-duplicate family is filter-then-verify over two shared
  * steps; each operator keeps only its blocking key, its pruning and its
  * similarity:
  *
  *  - candidates, [[inListPairs]]: a document's blocking keys (minhash
  *    band bucket, ppjoin prefix token, signature chunk, winnowing
  *    fingerprint) are grouped to one sorted member list per key, and
  *    every in-list pair is emitted in-row. One key-hashed shuffle of
  *    O(docs × keys) small rows; the quadratic work stays inside a
  *    bucket, spread across tasks by the uniform key. The textbook
  *    self-join on the blocking key emits the same pairs but plans its
  *    input once per join side (the two exchange subtrees canonicalize
  *    differently once AQE wraps them, so ReuseExchange never fires) —
  *    for minhash that is the whole signature pass twice, plus a third
  *    shuffle for the pair distinct. The specs check the grouped form
  *    against the self-join form (`Oracles` in the test tree).
  *  - verify, [[jaccardAbove]]: exact shingle Jaccard ≥ threshold,
  *    rounded to 6 places, on candidate pairs only, after
  *    [[withShingles]] joins both sides' shingle arrays back by id.
  *    [[ngramJaccardPairs]] feeds it the all-pairs product instead — the
  *    exact reference the candidate paths are measured against.
  */
object Dedup {

  /** Exact dedup: keep the smallest `keyCol` per distinct `byCol`.
    * groupBy+min (partial agg, single shuffle) rather than
    * dropDuplicates (non-deterministic keeper) or a row_number window
    * (full sort per partition).
    */
  def exact(df: DataFrame, byCol: String, keyCol: String): DataFrame =
    df.groupBy(col(byCol)).agg(min(col(keyCol)).as(keyCol), count(lit(1)).as("copies"))

  /** Exact dedup returning the FULL surviving rows (the rows holding the
    * smallest `keyCol` per `byCol` value; rows tied on (byCol, keyCol) all
    * survive, and a null `byCol` or `keyCol` drops the row): ONE pass —
    * one hash repartition on `byCol`, then a group-min window inside each
    * partition. A groupBy+min semi-joined back to its input reads `df`
    * twice, so everything upstream of it (scan, filters, fingerprint)
    * runs twice per row.
    *
    * The partition count is explicit (the session's
    * `spark.sql.shuffle.partitions`): a plain window's shuffle is one AQE
    * may coalesce, and on a small input it coalesced to ONE partition —
    * every stage downstream of the dedup (a pin, near-dup, the write)
    * then ran in a single task. A repartition by number is never
    * coalesced, so the output keeps the full width.
    */
  def exactRows(df: DataFrame, byCol: String, keyCol: String): DataFrame = {
    val width = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    df.filter(col(byCol).isNotNull)
      .repartition(width, col(byCol))
      .withColumn("__min_key", min(col(keyCol)).over(Window.partitionBy(col(byCol))))
      .filter(col(keyCol) === col("__min_key"))
      .drop("__min_key")
  }

  /** Exact dedup on a fingerprint (formatting-insensitive). */
  def exactByFingerprint(docs: DataFrame): DataFrame =
    docs.withColumn("fp", TextAnalysis.fingerprint(col("text")))
      .groupBy("fp").agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("copies"))

  /** One sorted member list `m` per blocking key: the input of
    * [[inListPairs]].
    */
  private def blocks(rows: DataFrame, member: Column, keys: String*): DataFrame =
    rows.groupBy(keys.map(col): _*).agg(sort_array(collect_list(member)).as("m"))

  /** The family's candidate step: one (a, b) row for each pair of members
    * sharing a list of the `members` column, a before b in list order.
    * A member is an id, or a struct whose first field is the id (its
    * payload rides into the pair); ids are distinct within a list, so
    * a < b. Lists shorter than two are dropped first, and the posexplode
    * keeps per-row memory at O(list), never an O(list²) pair array.
    */
  private[operators] def inListPairs(lists: DataFrame, members: String): DataFrame =
    lists.select(col(members).as("m")).filter(size(col("m")) >= 2)
      .select(posexplode(col("m")).as(Seq("i", "a")), col("m"))
      .select(col("a"),
        explode(slice(col("m"), col("i") + 2, size(col("m")) - col("i") - 1)).as("b"))

  /** Attach both sides' shingle arrays from a per-doc (doc_id, sh)
    * relation to candidate (a_id, b_id) rows: two id-keyed joins.
    */
  private def withShingles(cands: DataFrame, sh: DataFrame): DataFrame =
    cands.join(sh.select(col("doc_id").as("a_id"), col("sh").as("a_sh")), "a_id")
      .join(sh.select(col("doc_id").as("b_id"), col("sh").as("b_sh")), "b_id")

  /** The family's verify step over (a_id, b_id, a_sh, b_sh) rows: exact
    * Jaccard of the two distinct shingle arrays, kept at ≥ `threshold`,
    * rounded to 6 places.
    */
  private def jaccardAbove(pairs: DataFrame, threshold: Double): DataFrame =
    pairs.withColumn("jaccard", jaccardOfShingleArrays(col("a_sh"), col("b_sh")))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("jaccard"), 6).as("jaccard"))

  /** MinHash+LSH near-duplicate pairs with exact Jaccard verification.
    * Blocking keys are the (band, band hash) buckets of each doc's
    * signature; a pair sharing several bands is emitted once per band,
    * so candidates are made distinct before the verify. The only shuffles
    * are the bucket groupBy and the distinct — both keyed on uniformly
    * hashed values, so they stay balanced under skew.
    */
  def minhashNearDups(docs: DataFrame, shingleK: Int = 3, numHashes: Int = 16,
      bands: Int = 4, threshold: Double = 0.6): DataFrame = {
    // Shingle ONCE per document — recomputing per candidate pair would be
    // O(pairs × doc-length), the difference between scan-bound and dead at
    // scale. The shingle relation is reused for both candidate generation
    // and verification, and carries 64-bit shingle HASHES, not strings:
    // signatures are bit-identical (same xxhash64 family) while the
    // verify join — the measured bottleneck at 10⁶ docs — ships a ~3×
    // narrower payload and compares primitive longs.
    val sh = docs.select(col("doc_id"),
      TextAnalysis.shingleHashes(col("text"), shingleK).as("sh"))

    // Docs too short to produce a shingle would all share the sentinel
    // signature and collide in every band — a self-inflicted hot bucket
    // (O(shortDocs²) candidates that exact-Jaccard then discards). They
    // can never reach any threshold > 0, so drop them before banding.
    val banded = sh.filter(size(col("sh")) > 0).select(col("doc_id"),
        posexplode(graft.functions.SketchFunctions.lsh_bands(col("sh"), numHashes, bands)))
      .select(col("doc_id"), col("pos").as("band"), col("col").as("bh"))
    // No singleton-bucket prefilter: it would compute `banded` (the
    // minhash pass) a third time — measured 25→40 s on a 1M-doc corpus.
    val candidates = inListPairs(blocks(banded, col("doc_id"), "band", "bh"), "m")
      .select(col("a").as("a_id"), col("b").as("b_id"))
      .dropDuplicates("a_id", "b_id")
    jaccardAbove(withShingles(candidates, sh), threshold)
  }

  /** Minhash signature from a precomputed shingle array — fused native
    * expression (graft.functions.MinHashSig): one loop hashing each
    * shingle string once and mixing per permutation, instead of
    * numHashes × interpreted transform passes.
    */
  def minhashFromShingles(sh: Column, numHashes: Int): Column =
    graft.functions.SketchFunctions.minhash_sig(sh, numHashes)

  /** Jaccard of two precomputed DISTINCT shingle arrays — fused native
    * expression (graft.functions.JaccardSim): one membership loop, no
    * intersect/union array materialization.
    */
  def jaccardOfShingleArrays(sa: Column, sb: Column): Column =
    graft.functions.SketchFunctions.jaccard_sim(sa, sb)

  /** Size-ratio prefilter: for distinct sets, jaccard ≤ min/max of the two
    * set sizes, so pairs with min < threshold·max can never reach the
    * threshold — skip their membership loop entirely. Semantics-preserving.
    */
  private def sizeRatioMayReach(sa: Column, sb: Column, threshold: Double): Column =
    size(sa).cast("double") >= lit(threshold) * size(sb) &&
      size(sb).cast("double") >= lit(threshold) * size(sa)

  /** All-pairs n-gram Jaccard above a threshold. Exact but O(n²) pairs —
    * the verification metric; use minhashNearDups for candidate generation
    * at scale. Shingles are computed once per doc, not per pair.
    *
    * The streamed side is repartitioned to the session's default
    * parallelism first: a small doc subset otherwise sits in one input
    * split, and the nested-loop join runs its n²/2 Jaccard evaluations on
    * a single core while the rest of the cluster idles.
    */
  def ngramJaccardPairs(docs: DataFrame, k: Int = 3, threshold: Double = 0.5): DataFrame = {
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val sh = docs.select(col("doc_id"), TextAnalysis.shingles(col("text"), k).as("sh"))
    val a = sh.repartition(par).select(col("doc_id").as("a_id"), col("sh").as("a_sh"))
    val b = sh.select(col("doc_id").as("b_id"), col("sh").as("b_sh"))
    jaccardAbove(a.crossJoin(b).filter(col("a_id") < col("b_id"))
      .filter(sizeRatioMayReach(col("a_sh"), col("b_sh"), threshold)), threshold)
  }

  /** Prefix-filtered exact set-similarity join (the PPJoin family, Xiao
    * et al. 2008 "Efficient Similarity Joins for Near Duplicate
    * Detection") — the EXACT-Jaccard scale path. Same output contract as
    * [[ngramJaccardPairs]] (every pair with shingle-Jaccard ≥ threshold),
    * but the blocking keys are each doc's PREFIX tokens under a global
    * rarest-first token order instead of an all-pairs product: two sets
    * with J ≥ t and sizes n must share a token among their first
    * n − ⌈t·n⌉ + 1 rarest shingles (pigeonhole on the required overlap),
    * so pairing on prefix tokens loses nothing, and at t = 0.9 the prefix
    * is ~10% of each doc. Flow: document-frequency pass → rarest-first
    * sort per doc → prefix explode → in-list pairs per token, members
    * carrying their set size for the size-compatibility prune
    * t·nb ≤ na ∧ t·na ≤ nb → exact Jaccard verify on the candidate pairs
    * only. Every shuffle is keyed (token or doc id); nothing is quadratic
    * in the corpus — verification work is proportional to candidates,
    * which the prefix theorem bounds to genuinely-similar +
    * rare-token-sharing pairs.
    */
  def ppjoinPairs(docs: DataFrame, k: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold in (0, 1]")
    // NOT pinned, decided by a 10× scale test: the executed plan does
    // carry twelve corpus scans (the shingle pass re-executed per
    // consumer), but a Materialize pin of the shingle table measured
    // pinned 2.69 s vs unpinned 2.43 s at 10× data — the shingle arrays
    // are LARGER than the text they derive from, so checkpointing them
    // costs more than the shuffle-free scan+map recompute. Pin only
    // relations smaller than their recompute, or whose recompute crosses
    // a shuffle.
    val sh = docs.select(col("doc_id"),
      TextAnalysis.shingles(col("text"), k).as("sh"))
      .filter(size(col("sh")) > 0)
    val tok = sh.select(col("doc_id"), explode(col("sh")).as("t"))
    val freq = tok.groupBy("t").agg(count(lit(1)).as("df"))
    // rarest-first total order: (document frequency, token) ascending
    val ordered = tok.join(freq, "t")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("df"), col("t")))).as("toks"))
      .select(col("doc_id"), col("toks"),
        size(col("toks")).as("n"),
        (size(col("toks")) - ceil(lit(threshold) * size(col("toks"))) + 1)
          .cast("int").as("p"))
    val prefix = ordered
      .select(struct(col("doc_id"), col("n")).as("d"),
        explode(slice(col("toks"), lit(1), col("p"))).as("pt"))
      .select(col("d"), col("pt.t").as("t"))
    val cands = inListPairs(blocks(prefix, col("d"), "t"), "m")
      .filter(lit(threshold) * col("b.n") <= col("a.n") &&
        lit(threshold) * col("a.n") <= col("b.n"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id")).distinct()
    jaccardAbove(withShingles(cands, sh), threshold)
  }

  /** 64-bit SimHash of the token multiset: per bit, majority vote of the
    * tokens' xxhash64 bits (ties → 0). Computed entirely per-row by a
    * fused native expression (graft.functions.SimHash64) — no explode, no
    * groupBy, ZERO shuffle: at 100 TB the signature pass is map-only and
    * runs at scan speed; only the candidate step afterwards shuffles (and
    * that is keyed on 16-bit chunks).
    */
  def simhashExpr(text: Column): Column =
    graft.functions.SketchFunctions.simhash64(TextAnalysis.tokens(text))

  def simhash(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol), simhashExpr(col(textCol)).as("simhash"))

  /** Hamming near-dup pairs over ANY 64-bit signature column (simhash,
    * perceptual hash, …): split each signature into equal chunks — by
    * pigeonhole, Hamming ≤ h forces at least one chunk equal when there
    * are > h chunks — pair the members of each (chunk index, chunk value)
    * list, each member carrying its signature, then keep true Hamming
    * ≤ `maxHamming` via bit_count(xor). The chunk count is the smallest
    * power of two giving the guarantee, so the keys stay as wide
    * (selective) as correctness allows. Rows with a null id or signature
    * can never pair and are dropped up front.
    */
  def hammingNearDups(sigs: DataFrame, idCol: String, sigCol: String,
      maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 15, "maxHamming must be in [0, 15]")
    val chunks = if (maxHamming < 4) 4 else if (maxHamming < 8) 8 else 16
    val width = 64 / chunks
    val mask = (1L << width) - 1
    // The signature relation has one consumer (the chunk groupBy), so the
    // upstream signature pass (codec feature extraction for media,
    // tokenize+simhash for text) runs once without a pin.
    // blocking key: (pos, col) = (chunk index, chunk value)
    val chunked = sigs.filter(col(idCol).isNotNull && col(sigCol).isNotNull)
      .select(struct(col(idCol).as("id"), col(sigCol).as("sig")).as("s"),
        posexplode(array((0 until chunks).map(c =>
          shiftrightunsigned(col(sigCol), c * width).bitwiseAND(lit(mask))): _*)))
    // a pair sharing several chunks is emitted once per chunk
    inListPairs(blocks(chunked, col("s"), "pos", "col"), "m")
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("a_id", "b_id")
  }

  /** SimHash near-dup candidates: [[hammingNearDups]] over the map-only
    * text signatures.
    */
  def simhashNearDups(docs: DataFrame, maxHamming: Int = 3): DataFrame =
    hammingNearDups(simhash(docs), "doc_id", "simhash", maxHamming)

  /** Winnowing-based containment pairs: documents whose shared winnowing
    * fingerprints cover at least `minContainment` of the smaller one's
    * fingerprints (each doc counting only fingerprints in ≤ `maxDocFreq`
    * docs). Fingerprinting is map-only; the blocking key is the
    * fingerprint value (uniform 64-bit hashes → balanced shuffle), never
    * O(docs²).
    */
  def winnowingNearDups(docs: DataFrame, k: Int = 5, w: Int = 4,
      minContainment: Double = 0.5, maxDocFreq: Int = 50): DataFrame = {
    val exploded = docs.select(col("doc_id"),
      explode(TextAnalysis.winnowingFingerprints(col("text"), k, w)).as("fp"))
    // ONE shuffle keyed on fp groups each fingerprint to its sorted
    // member list; everything downstream (document frequency = list
    // size, per-doc surviving-fp counts, in-list pair emission) derives
    // from this relation, so the rolling-hash fingerprint pass runs twice
    // (once per consumer below). Fingerprints are distinct per doc, so
    // size(m) IS document frequency; a fp in more than `maxDocFreq` docs
    // is boilerplate, not evidence of copying — and exactly what would
    // make pair emission quadratic (d docs → d² pairs), so the cap also
    // bounds every bucket's fan-out.
    // The grouped relation is deliberately not pinned: measured on the
    // d7 corpus (sf0.1, min-of-3), a pin cost 27.7 s vs 27.1 s unpinned,
    // and a parquet scratch copy 60 s vs 22 s at 1M docs — fingerprinting
    // rides the page cache, so one recompute is cheaper than either copy.
    val grouped = blocks(exploded, col("doc_id"), "fp")
      .filter(size(col("m")) <= maxDocFreq)
    // containment denominator: how many sub-cap fps each doc kept
    val sizes = grouped.select(explode(col("m")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_fps"))
    // shared fps per in-list pair
    val shared = inListPairs(grouped, "m")
      .groupBy(col("a").as("a_id"), col("b").as("b_id"))
      .agg(count(lit(1)).as("shared_fps"))
    // containment = shared / |smaller surviving fp set| — robust to length
    // asymmetry (detects a document embedded inside a larger one)
    shared
      .join(sizes.select(col("doc_id").as("a_id"), col("n_fps").as("a_n")), "a_id")
      .join(sizes.select(col("doc_id").as("b_id"), col("n_fps").as("b_n")), "b_id")
      .withColumn("containment",
        col("shared_fps").cast("double") / least(col("a_n"), col("b_n")))
      .filter(col("containment") >= minContainment)
      .select(col("a_id"), col("b_id"), col("shared_fps"),
        round(col("containment"), 6).as("containment"))
  }

  /** Connected components over a near-duplicate pair list — the step that
    * turns pairwise matches into dedup clusters (keep one representative
    * per component).
    *
    * Two execution paths, chosen by the size of the EDGE list (never the
    * corpus): near-dup edges are a small fraction of the corpus that
    * produced them, and only edge-touched vertices need any graph work at
    * all — every other vertex is its own singleton component, labeled by
    * one final map-side-prunable left join.
    *
    *  - edge count ≤ `localEdgeThreshold`: union-find ON THE DRIVER over
    *    the collected edge list — the same small-graph finish GraphFrames
    *    performs after contraction. 10⁶ edges is a few tens of MB, well
    *    inside any driver. The label table comes back as a LocalRelation,
    *    so the final corpus join broadcasts it without running a job, and
    *    downstream actions re-evaluate a driver-local array instead of
    *    re-running the (possibly expensive) edge generator per action.
    *  - above the threshold: the distributed min-label-propagation loop
    *    below, seeded with edge-touched vertices only. Each round every
    *    vertex adopts the smallest label among (its own, its neighbors',
    *    its label's label) — propagation plus pointer jumping. The jump is
    *    what makes long chains cheap: propagation alone needs diameter
    *    rounds (a 230-vertex chainy component measured 18), with jumping
    *    label paths halve every round — O(log diameter). Each round is two
    *    id-keyed joins + one partial-aggregated groupBy, nothing ever
    *    O(V²).
    *
    * Precondition (both paths, matching the DuckDB closure oracle): edge
    * endpoints are drawn from `vertices` — true for every dedup pair list,
    * which is generated from the corpus itself.
    *
    * Output: (id, comp) where comp = smallest vertex id in the component;
    * vertices absent from `edges` keep comp = id. The two halves are
    * [[componentLabels]] (the edge-touched vertices) and the singleton
    * fill here.
    */
  def connectedComponents(edges: DataFrame, vertices: DataFrame,
      idCol: String = "doc_id", aCol: String = "a_id", bCol: String = "b_id",
      maxIter: Int = 50, loopShufflePartitions: Int = 0,
      localEdgeThreshold: Long = 1000000L): DataFrame =
    vertices.select(col(idCol))
      .join(componentLabels(edges, idCol, aCol, bCol, maxIter,
        loopShufflePartitions, localEdgeThreshold), Seq(idCol), "left")
      .select(col(idCol), coalesce(col("comp"), col(idCol)).as("comp"))

  /** The labels half of [[connectedComponents]]: (idCol, comp) for the
    * edge-touched vertices only, computed eagerly. A caller that only
    * needs the non-representatives (comp ≠ id) anti-joins these and never
    * reads the vertex set. On the small path the table is a LocalRelation
    * under a broadcast hint, so that join runs without a job of its own
    * and keeps the corpus side map-only; above the threshold it
    * shuffle-joins keyed on id.
    */
  private[operators] def componentLabels(edges: DataFrame, idCol: String = "doc_id",
      aCol: String = "a_id", bCol: String = "b_id", maxIter: Int = 50,
      loopShufflePartitions: Int = 0, localEdgeThreshold: Long = 1000000L): DataFrame = {
    val spark = edges.sparkSession
    val eSrc = edges.select(col(aCol).as("src"), col(bCol).as("dst"))
    val idType = eSrc.schema.head.dataType
    val ord = idOrdering(idType)
    // both paths consume the edges eagerly, so the pin is released on
    // every exit — a throwing edge pass included
    val eRdd = eSrc.rdd.persist()
    val (small, touched) = try { // touched: (id, comp), edge-touched vertices only
      val small = eRdd.count() <= localEdgeThreshold && ord.isDefined
      (small,
        if (small) localUnionFind(eRdd, idType, ord.get, spark)
        else labelPropagation(eRdd, idType, spark, maxIter, loopShufflePartitions))
    } finally eRdd.unpersist(blocking = false)
    val t = touched.withColumnRenamed("id", idCol)
    if (small) broadcast(t) else t
  }

  /** Soft dedup: instead of DROPPING near-duplicates, keep every doc
    * downweighted by its cluster size — weight = ⌊10⁶ / |cluster|⌋
    * micro-units, so each near-dup cluster contributes ~one doc's worth
    * of training mass in expectation (the SoftDeDup / "document-level
    * duplication count" recipe: hard dedup loses the signal that a doc
    * was popular; soft dedup keeps it, bounded). Exact integer weights —
    * engine-stable, and Σ weights over a cluster never exceeds 10⁶.
    *
    * Composition on top of [[connectedComponents]]: one partial-agg
    * shuffle for cluster sizes keyed on the component label, one keyed
    * join back — both scale-safe; singletons get weight exactly 10⁶.
    */
  def softDedupWeights(edges: DataFrame, vertices: DataFrame,
      idCol: String = "doc_id"): DataFrame = {
    val comps = connectedComponents(edges, vertices, idCol)
    val sizes = comps.groupBy("comp").agg(count(lit(1)).as("cluster_size"))
    comps.join(sizes, Seq("comp"))
      .withColumn("weight_x1e6", expr("1000000 div cluster_size"))
      .select(col(idCol), col("comp"), col("cluster_size"), col("weight_x1e6"))
  }

  /** Orderings for min-label id types (mirrors Spark's `least`/`min`
    * ordering on these types). Unsupported id types fall back to the
    * distributed loop, which orders via Spark itself.
    */
  private def idOrdering(dt: org.apache.spark.sql.types.DataType): Option[Ordering[Any]] = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType    => Some(Ordering.by[Any, Long](_.asInstanceOf[Long]))
      case IntegerType => Some(Ordering.by[Any, Int](_.asInstanceOf[Int]))
      case ShortType   => Some(Ordering.by[Any, Short](_.asInstanceOf[Short]))
      case StringType  => Some(Ordering.by[Any, String](_.asInstanceOf[String]))
      case _           => None
    }
  }

  /** Small-graph path: union-find over the collected edge list ON THE
    * DRIVER (one collect job from the persisted edge RDD; ≤ the 10⁶-edge
    * threshold = tens of MB). Path-halving keeps finds near-O(1); roots
    * are the component minima by construction (union always points the
    * larger root at the smaller). Returns a LocalRelation of (id, comp)
    * for every vertex appearing in an edge — re-evaluating it downstream
    * costs nothing, unlike a task-side formulation whose union-find (and
    * the whole edge generator above it) re-runs on every action.
    */
  private def localUnionFind(eRdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.Row],
      idType: org.apache.spark.sql.types.DataType, ord: Ordering[Any],
      spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StructField, StructType}
    val parent = new java.util.HashMap[Any, Any]()
    def find(x0: Any): Any = {
      if (!parent.containsKey(x0)) { parent.put(x0, x0); x0 }
      else {
        var x = x0
        var p = parent.get(x)
        while (p != x) { // path halving
          val gp = parent.get(p)
          parent.put(x, gp)
          x = gp
          p = parent.get(x)
        }
        x
      }
    }
    eRdd.collect().foreach { r =>
      val (ra, rb) = (find(r.get(0)), find(r.get(1)))
      if (ra != rb) {
        if (ord.lt(ra, rb)) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    val rows = new java.util.ArrayList[Row](parent.size())
    val it = parent.keySet().iterator()
    while (it.hasNext) { val k = it.next(); rows.add(Row(k, find(k))) }
    spark.createDataFrame(rows,
      StructType(Seq(StructField("id", idType), StructField("comp", idType))))
  }

  /** Distributed path: min-label propagation + pointer jumping over the
    * edge-touched vertex set.
    *
    * Two things make the loop viable: the edge relation is persisted once
    * (or an expensive upstream pair generator re-executes every round),
    * and each round's labels are materialized through an RDD round-trip
    * (localCheckpoint + createDataFrame), which BOTH truncates lineage
    * AND resets plan statistics. Plain persist leaves the logical plan
    * growing a round deeper every iteration; `Dataset.localCheckpoint`
    * truncates the plan but REWRITES the old plan's stats into the new
    * leaf — and since each round's plan references the label relation
    * several times, the size-in-bytes estimate is raised to a power every
    * round: double-exponential growth that ends with Catalyst multiplying
    * megabit-long BigIntegers on the driver (measured: the loop went from
    * seconds to never-terminating around round 10). The RDD round-trip
    * pins stats at the default leaf estimate instead. On a cluster,
    * prefer a reliable `checkpoint` directory to survive executor loss.
    */
  private def labelPropagation(eRdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.Row],
      idType: org.apache.spark.sql.types.DataType,
      spark: org.apache.spark.sql.SparkSession,
      maxIter: Int, loopShufflePartitions: Int): DataFrame = {
    import org.apache.spark.sql.types.{StructField, StructType}
    // The loop's relations are label tables, orders of magnitude smaller
    // than the corpus that produced the edges — running its joins at the
    // session's corpus-sized shuffle width burns a fixed per-round
    // scheduling cost that dominates the whole operator. The loop runs in
    // a CHILD session (same SparkContext, its own SQLConf) with the width
    // scoped down (explicit param wins; else a label-count heuristic) —
    // mutating the caller's session conf would silently re-plan any
    // concurrent query on it at the scoped-down width.
    val loop = spark.newSession()
    val eSchema = StructType(Seq(
      StructField("src", idType), StructField("dst", idType)))
    val half = loop.createDataFrame(eRdd, eSchema)
    val sym = half.union(half.select(col("dst").as("src"), col("src").as("dst")))
    // materialize: truncate lineage AND reset plan stats (see Scaladoc)
    // each round's pinned RDD is unpersisted as soon as the NEXT round is
    // materialized (its blocks are dead weight the moment the successor
    // exists); the final round's pin is handed to Materialize's registry
    // so the batch-driver sweep frees it at the query boundary
    var prevPin: org.apache.spark.rdd.RDD[_] = null
    var labels = {
      val df = sym.select(col("src").as("id")).distinct()
        .select(col("id"), col("id").as("comp"))
      val rdd = df.rdd
      rdd.localCheckpoint()
      rdd.count()
      prevPin = rdd
      loop.createDataFrame(rdd, df.schema)
    }
    val loopWidth =
      if (loopShufflePartitions > 0) loopShufflePartitions
      else math.max(1, math.min(
        spark.conf.get("spark.sql.shuffle.partitions").toInt,
        (labels.count() / 250000L).toInt + 1))
    loop.conf.set("spark.sql.shuffle.partitions", loopWidth.toString)
    var changed = 1L
    var it = 0
    while (changed > 0 && it < maxIter) {
        val neighborMin = sym
          .join(labels.select(col("id").as("dst"), col("comp")), "dst")
          .groupBy(col("src").as("id")).agg(min(col("comp")).as("ncomp"))
        // pointer jumps: resolve each label through the current mapping
        // twice — a chain a→b→c→d collapses to a→d within one round. The
        // extra join is stages inside the SAME job; in a loop whose cost
        // is per-round job overhead, trading a join for fewer rounds wins.
        val jump1 = labels.select(col("id").as("m1"), col("comp").as("j1"))
        val jump2 = labels.select(col("id").as("m2"), col("comp").as("j2"))
        val next = labels
          .join(neighborMin, Seq("id"), "left")
          .withColumn("m1", least(col("comp"), coalesce(col("ncomp"), col("comp"))))
          .join(jump1, Seq("m1"), "left")
          .withColumn("m2", least(col("m1"), coalesce(col("j1"), col("m1"))))
          .join(jump2, Seq("m2"), "left")
          .withColumn("newcomp", least(col("m2"), coalesce(col("j2"), col("m2"))))
          .select(col("id"), col("newcomp").as("comp"),
            (col("newcomp") < col("comp")).as("ch"))
        // one job per round: the changed-row tally rides the
        // materialization pass as an accumulator instead of a second
        // count. Task retries can only OVERcount a non-zero tally (a
        // zero stays zero), so the convergence exit is never premature.
        val acc = spark.sparkContext.longAccumulator("cc_changed")
        val rdd = next.rdd.map { r => if (r.getBoolean(2)) acc.add(1L); r }
        rdd.localCheckpoint()
        rdd.count()
        if (prevPin != null) prevPin.unpersist(blocking = false)
        prevPin = rdd
        changed = acc.value
        labels = loop.createDataFrame(rdd, next.schema).select("id", "comp")
        it += 1
    }
    if (prevPin != null) Materialize.registerPinned(prevPin)
    // hand the result back as a DataFrame of the CALLER's session (the
    // checkpointed label RDD underneath is session-independent)
    spark.createDataFrame(labels.rdd, labels.schema)
  }

  /** Embedding-cosine near-duplicates: pairs with cosine ≥ `threshold`.
    * Exact form is the O(n²) cross join (verification metric); the scale
    * path buckets by random-hyperplane LSH first (Similarity.hyperplaneLsh)
    * so only same-bucket pairs are compared.
    */
  def embeddingNearDups(embeddings: DataFrame, threshold: Double = 0.95,
      lsh: Boolean = false, planes: Int = 8): DataFrame = {
    val base = embeddings.select(col("vec_id"), col("embedding"))
    val withKey =
      if (lsh) base.withColumn("bucket", Similarity.hyperplaneLsh(col("embedding"), planes))
      else base.withColumn("bucket", lit(0))
    val a = withKey.select(col("bucket"), col("vec_id").as("a_id"), col("embedding").as("a_vec"))
    val b = withKey.select(col("bucket"), col("vec_id").as("b_id"), col("embedding").as("b_vec"))
    a.join(b, Seq("bucket")).filter(col("a_id") < col("b_id"))
      .withColumn("cosine", Similarity.cosine(col("a_vec"), col("b_vec")))
      .filter(col("cosine") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("cosine"), 6).as("cosine"))
  }

  /** Non-overlapping `words`-word passages of a document (CCNet-style
    * units). Whitespace tokens, lowercased; the last passage may be
    * shorter; an empty/whitespace-only document has no passages.
    */
  def passages(text: Column, words: Int): Column = {
    require(words >= 1, "passage width must be >= 1")
    val toks = TextAnalysis.tokens(text)
    when(size(toks) === 0, array().cast("array<string>"))
      .otherwise(transform(
        // int operands stay well under 2^53, so the double division
        // truncates exactly; floor makes the intent explicit anyway
        sequence(lit(0), floor((size(toks) - 1) / lit(words)).cast("int")),
        i => array_join(slice(toks, i * words + 1, lit(words)), " ")))
  }

  /** Passage-level exact dedup (the CCNet/Gopher paragraph-dedup shape,
    * over word windows since the corpus has no paragraph marks): split
    * every document into non-overlapping `words`-word passages, keep only
    * the corpus-wide FIRST occurrence of each distinct passage (ordered
    * by (doc id, passage index)), and reassemble each document from its
    * surviving passages.
    *
    * Shuffle shape at scale: one partial-aggregated groupBy keyed on the
    * passage text (uniformly distributed — boilerplate passages collapse
    * map-side), one co-keyed join back, one groupBy on doc id to
    * reassemble. Nothing is ever O(docs²) and no window sort over the
    * corpus. At 100 TB, key the first-occurrence groupBy on
    * xxhash64(passage) instead of the string to cut the shuffle width
    * ~4×; the string form is kept here for cross-engine verifiability.
    *
    * Output: (idCol, n_passages, n_kept, clean_text) for EVERY input
    * document — a fully-deduplicated doc keeps 0 passages and an empty
    * clean_text.
    */
  def passageDedup(docs: DataFrame, words: Int = 25,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val ex = docs.select(col(idCol),
      posexplode(passages(col(textCol), words)).as(Seq("p_idx", "passage")))
    // first occurrence = min (doc, idx) pair under struct ordering —
    // partial-aggregated, unlike a row_number window over the corpus
    val first = ex.groupBy("passage")
      .agg(min(struct(col(idCol), col("p_idx"))).as("f"))
    val kept = ex.join(first, "passage")
      .filter(col(idCol) === col(s"f.$idCol") && col("p_idx") === col("f.p_idx"))
      .select(col(idCol), col("p_idx"), col("passage"))
    val perDoc = ex.groupBy(idCol).agg(count(lit(1)).as("n_passages"))
    val keptAgg = kept.groupBy(idCol).agg(
      count(lit(1)).as("n_kept"),
      array_join(transform(
        array_sort(collect_list(struct(col("p_idx"), col("passage")))),
        x => x.getField("passage")), " ").as("clean_text"))
    docs.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .join(keptAgg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_passages"), lit(0L)).as("n_passages"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Benchmark decontamination report (the GPT-3/PaLM eval-overlap
    * check): for each training document, the number of distinct word
    * `k`-grams it shares with ANY benchmark document. Only contaminated
    * docs appear (n_shared ≥ 1).
    *
    * Scale shape: the benchmark side is always tiny next to a training
    * corpus, so its distinct shingle set is BROADCAST — the 100 TB side
    * is scanned map-only (shingle, hash-probe, discard), and the only
    * shuffle is the per-doc count over the few rows that actually hit.
    * At 100 TB carry `TextAnalysis.shingleHashes` instead of shingle
    * strings (identical join semantics, ~3× narrower rows).
    */
  def contaminationReport(train: DataFrame, bench: DataFrame, k: Int = 8,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val tsh = train.select(col(idCol),
      explode(TextAnalysis.shingles(col(textCol), k)).as("sh"))
    val bsh = bench.select(explode(TextAnalysis.shingles(col(textCol), k)).as("sh"))
      .distinct()
    tsh.join(broadcast(bsh), "sh")
      .groupBy(idCol).agg(count(lit(1)).as("n_shared"))
  }

  /** Drop every training document sharing at least one word `k`-gram with
    * the benchmark set — the keep side of [[contaminationReport]].
    *
    * A map-only exact probe, not a join: the benchmark side's k-grams are
    * collected once, at call time, into a driver hash set that is
    * broadcast, and each training row loops over its own k-grams against
    * it (graft.functions.AnyInSet: string hash, then byte equality; stops
    * at the first hit). An id-keyed anti-join against the report would
    * read `train` twice (once for the report, once for the keep): the
    * planner then hash-partitions the full rows by id, AQE coalesces that
    * small shuffle to one partition, and the k-gram explode and probe run
    * in a single task, once per action on the result. The probe keeps the
    * input's partitioning and plans no exchange. It is as scale-safe as
    * the join: the join's `BroadcastExchange` collects this same set onto
    * the driver.
    *
    * The collect is capped at [[MaxBenchShingles]] k-gram occurrences
    * (each benchmark doc's distinct k-grams, summed over docs); past it
    * the call fails with [[BenchmarkTooLargeException]] before anything
    * larger reaches the driver — [[decontaminateBloom]] is the path for
    * such a benchmark. A row is judged on its own text: null text and
    * docs shorter than `k` tokens are kept.
    */
  def decontaminate(train: DataFrame, bench: DataFrame, k: Int = 8,
      textCol: String = "text"): DataFrame = {
    val grams = bench.select(explode(TextAnalysis.shingles(col(textCol), k)))
      .limit(MaxBenchShingles + 1).collect()
    checkBenchShingles(grams.length)
    val set = new java.util.HashSet[UTF8String](grams.length * 2)
    grams.foreach(r => set.add(UTF8String.fromString(r.getString(0))))
    val probe = graft.functions.AnyInSet.anyInSet(
      TextAnalysis.shingles(col(textCol), k), train.sparkSession.sparkContext.broadcast(set))
    // null text -> null k-gram array -> null probe: no k-grams, no overlap
    train.filter(!coalesce(probe, lit(false)))
  }

  /** The most benchmark k-gram occurrences [[decontaminate]] collects
    * onto the driver; it bounds the driver's string set and each
    * executor's broadcast copy of it.
    */
  final val MaxBenchShingles = 2000000

  /** Thrown by [[decontaminate]] when the benchmark side has more than
    * [[MaxBenchShingles]] k-gram occurrences.
    */
  final class BenchmarkTooLargeException extends IllegalArgumentException(
    s"the benchmark side has more than $MaxBenchShingles k-gram occurrences, too " +
      "many to collect onto the driver for the exact probe; use " +
      "Dedup.decontaminateBloom, which builds its filter distributed")

  /** The bound check of [[decontaminate]]'s driver collect. */
  private[graft] def checkBenchShingles(occurrences: Long): Unit =
    if (occurrences > MaxBenchShingles) throw new BenchmarkTooLargeException

  /** Incremental exact dedup — the daily-batch shape of [[exactByFingerprint]]:
    * from a new `batch`, keep only rows that are (a) the first occurrence
    * of their normalized fingerprint WITHIN the batch and (b) novel
    * against the already-curated `corpus`. The curated table never gets
    * rewritten and never re-deduplicates itself — each increment costs
    * O(batch) work plus one anti-join against the corpus fingerprints.
    *
    * Scale shape: the intra-batch dedup is a partial-aggregated groupBy
    * on the (uniform) md5 key; the anti-join shuffles batch and corpus
    * on that same key — balanced under any skew, and in production the
    * corpus side is the STORED fingerprint column of the curated table
    * (a narrow index scan), not a re-fingerprinting of 100 TB of text.
    */
  def incrementalNew(corpus: DataFrame, batch: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // NULL text -> NULL fingerprint would fail BOTH equi-joins below and
    // silently drop the row; fold it into the empty-text fingerprint so
    // null/empty documents dedup against each other like any other value
    def fp(c: org.apache.spark.sql.Column) =
      TextAnalysis.fingerprint(coalesce(c, lit("")))
    val bfp = batch.withColumn("__fp", fp(col(textCol)))
    val firstInBatch = bfp.join(
      bfp.groupBy(col("__fp")).agg(min(col(idCol)).as(idCol)),
      Seq("__fp", idCol), "left_semi")
    firstInBatch
      .join(corpus.select(fp(col(textCol)).as("__fp")), Seq("__fp"), "left_anti")
      .select(batch.columns.map(col).toIndexedSeq: _*)
  }

  /** Bloom-filter decontamination — the scale path for benchmark sets
    * too large to broadcast as an exact shingle set (1e9 distinct
    * 8-grams ≈ 60+ GB of strings; the Bloom filter at the same
    * cardinality and fpp=1e-3 is ~1.7 GB of bits, and smaller benches
    * shrink proportionally). The filter is built DISTRIBUTED over the
    * bench side (`stat.bloomFilter` tree-aggregates partial filters),
    * then probes ride the training scan as a per-row bit test — the
    * 100 TB side stays map-only with no join at all.
    *
    * Guarantee: NO false negatives — every truly contaminated document
    * is dropped; an ~fpp fraction of clean documents is dropped with
    * them (the conservative direction for decontamination). The exact
    * [[decontaminate]] is the verification metric.
    */
  def decontaminateBloom(train: DataFrame, bench: DataFrame, k: Int = 8,
      fpp: Double = 0.001, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    // NO distinct before the build: Bloom insertion is idempotent, so
    // deduplicating first would only add a full shuffle of the shingle
    // set. Sizing by the raw occurrence count (≥ the distinct count)
    // over-provisions bits — the realized fpp is at most the requested
    // one. Both passes over the bench side stay shuffle-free.
    val bsh = bench.select(
      explode(TextAnalysis.shingleHashes(col(textCol), k)).as("h"))
    val expected = math.max(1L, bsh.count())
    val bloom = bsh.stat.bloomFilter("h", expected, fpp)
    val probe = graft.functions.BloomMightContain.mightContain _
    // coalesce: a NULL text yields a NULL shingle array -> NULL exists()
    // -> filter would silently DROP the row, where the exact path's
    // explode produces no rows and KEEPS it. No shingles = no overlap.
    train.filter(!coalesce(exists(
      TextAnalysis.shingleHashes(col(textCol), k), h => probe(h, bloom)),
      lit(false)))
  }
}
