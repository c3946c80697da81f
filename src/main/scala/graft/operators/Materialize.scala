package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Fault-tolerance knob for the multi-consumer materialization points
  * (the oriented edge set in [[Graph.triangleCount]], each round's
  * survivor set in [[Graph.kCore]]): one relation feeds
  * several differently-keyed joins, so without pinning it the expensive
  * upstream pass re-executes once per consumer (Spark has no
  * cross-consumer subplan reuse, and AQE-wrapped exchanges never
  * canonicalize equal).
  *
  * `graft.materialize.mode` (session conf) picks HOW it is pinned:
  *
  *  - `localCheckpoint` (default): eager, truncates lineage. Fastest
  *    locally and the blocks ride executor storage — but TRUNCATED
  *    lineage means an executor loss makes the blocks unrecoverable and
  *    FAILS the job on a real cluster (there is no plan left to
  *    recompute them from). The right trade on local[] and on clusters
  *    with task-level retry only.
  *  - `persist`: `MEMORY_AND_DISK`, lineage kept. An executor loss
  *    recomputes the lost partitions from source — the fault-tolerant
  *    choice for long-running 100 TB jobs, at the cost of keeping the
  *    (cheap, spillable) recompute path alive.
  *  - `off`: no pinning; the upstream pass runs once per consumer.
  *    Semantics-identical under every mode (spec-pinned by
  *    MaterializeSpec) — but the escape hatch is for ONE-SHOT
  *    multi-consumer points (the oriented edge set), NOT for iterative
  *    loops: without per-round truncation a loop's plan references its
  *    predecessor several times per round, so plan size and analysis
  *    cost grow O(consumers^rounds) — a full-SF kCore(rounds = 5) under
  *    `off` exhausts a 16 GB driver heap in Catalyst before a task runs
  *    (observed round 10). Run iterative operators under
  *    `localCheckpoint` or `persist`.
  *
  * Both pinning modes run their eager job as a SQL execution of the
  * pinned frame's plan (see GraftSqlBridge), so a `Dataset.observe`
  * upstream of a pin is delivered by the pin's own job: the pinned
  * frame's flat plan no longer holds the CollectMetrics node, and a
  * bare RDD action would leave its `Observation` waiting forever.
  *
  * The RDD-level checkpoints inside the label-propagation loop
  * ([[Dedup]] connected components) are NOT governed by this knob: they
  * exist to reset Catalyst plan statistics, not to dedup consumers (see
  * the scaladoc there), and swapping them for plain persist reintroduces
  * the double-exponential stats blow-up.
  */
object Materialize {

  val ConfKey = "graft.materialize.mode"

  def apply(df: DataFrame): DataFrame =
    df.sparkSession.conf.getOption(ConfKey).getOrElse("localCheckpoint") match {
      case "localCheckpoint" =>
        // NOT Dataset.localCheckpoint: that preserves the ORIGIN plan's
        // estimated Statistics, whose sizeInBytes SQUARES per round when
        // an iterative loop joins a round's pin against itself — the
        // BigInt's digits then double per round and planning cost turns
        // exponential (see GraftSqlBridge.pinLocalCheckpoint). The
        // bridge pins the same blocks but attaches the MEASURED block
        // size as the stats — exact, loop-stable, broadcast-friendly.
        // The RDD entry also makes releaseSuperseded work — df.unpersist
        // on the returned frame cannot reach RDD-level blocks, so
        // without it per-round release would free nothing under the
        // DEFAULT mode and an iterative loop's storage would grow
        // linearly with rounds until the batch-boundary sweep.
        val (flat, rdd) = org.apache.spark.sql.GraftSqlBridge.pinLocalCheckpoint(df)
        pinned.put(flat, Pin(rdd, truncated = true))
        registerPinned(rdd)
        flat
      case "persist" =>
        // Eager RDD-level pin with lineage kept + a FLAT LogicalRDD plan
        // (GraftSqlBridge.pinWithLineage): Dataset-level persist keeps
        // the full logical plan, so iterative loops (kCore, pageRank)
        // double their plan per round — 2^rounds analysis cost, the
        // graph3_kcore heap exhaustion. Lineage lives on in the RDD DAG,
        // so a lost block still recomputes from source — the
        // fault-tolerance property this mode exists for.
        val (flat, rdd) = org.apache.spark.sql.GraftSqlBridge.pinWithLineage(df)
        pinned.put(flat, Pin(rdd, truncated = false))
        registerPinned(rdd)
        flat
      case "off"             => df
      case other => throw new IllegalArgumentException(
        s"$ConfKey must be one of localCheckpoint|persist|off, got '$other'")
    }

  /** Collect a SMALL multi-consumer relation (O(groups) by the caller's
    * contract) and re-inject it as a LocalRelation. Why: a lazily-built
    * per-group aggregate consumed through several `broadcast(df)` joins
    * re-executes its full upstream plan once per consumer (no
    * cross-consumer subplan reuse — see the class doc), and for a
    * per-group summary that upstream is a corpus-sized pass; measured on
    * stat13_mad_outliers, the med/mad/tot re-evaluations were 6 of the
    * query's 33 jobs and over a third of its task time. The collect is
    * the SAME driver state the broadcast itself would have built
    * (BroadcastExchange collects to the driver first), so this adds no
    * new scale bottleneck — it just builds it once. `maxRows` fail-fast
    * (never silent truncation) keeps the contract honest: callers pass
    * their documented group-cardinality bound. The result needs no
    * storage pin, plans as a LocalRelation, and broadcasts in
    * microseconds.
    */
  def local(df: DataFrame, maxRows: Int = 1 << 20): DataFrame = {
    val rows = df.collect()
    require(rows.length <= maxRows,
      s"Materialize.local: relation has ${rows.length} rows, over the " +
        s"caller's bound of $maxRows — the group-cardinality contract " +
        "this collect rides on does not hold; aggregate further first")
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), df.schema)
  }

  /** Pinned-RDD bookkeeping for [[release]]: the flat DataFrame returned
    * under persist mode carries no cache entry of its own (the pin is
    * the underlying RDD), so release must find the RDD by the DataFrame
    * identity. Weak keys: an un-released materialization is reclaimed
    * with its DataFrame, never leaked.
    */
  private final case class Pin(rdd: org.apache.spark.rdd.RDD[_],
      truncated: Boolean)

  private val pinned: java.util.Map[DataFrame, Pin] =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[DataFrame, Pin]())

  /** True when `df` IS a frame this object pinned (both modes) — the
    * exact key identity the release path uses. Multi-pass operators
    * (the [[Rank]] family) consult it to skip their own internal pin
    * when the caller already pinned the input: re-materializing a
    * pinned frame copies every block for zero benefit (measured on
    * stat13: two redundant ~600k-row checkpoint copies per call chain).
    * Under `off` nothing is ever pinned and this is always false, so
    * the operator's own Materialize call (itself a no-op under `off`)
    * still runs — behavior is identical across modes.
    */
  def isPinned(df: DataFrame): Boolean = pinned.containsKey(df)

  /** Release a materialization that is SAFE to re-evaluate afterwards:
    * frees the pin when lineage was kept (`persist` mode — a late
    * consumer recomputes from source) and is a deliberate no-op when the
    * pin's lineage was TRUNCATED (`localCheckpoint` — the blocks are the
    * only copy, so freeing them would fail any later consumer at
    * runtime). This is the public-API-safe entry point: calling it and
    * then re-reading the frame never fails under any mode. Loop-internal
    * callers that KNOW the frame is superseded and will never be read
    * again use [[releaseSuperseded]], which frees under both modes.
    * Truncated pins left behind by release are still freed at the next
    * query boundary by [[sweep]] (or by GC via the weak map).
    */
  def release(df: DataFrame): Unit = {
    val pin = pinned.get(df)
    if (pin != null) { if (!pin.truncated) releaseSuperseded(df) }
    else df.unpersist(blocking = false)
    ()
  }

  /** Release a materialization this loop iteration has SUPERSEDED:
    * iterative operators (kCore's pruned edge set, pageRank's ranks)
    * materialize once per round, and WITHOUT releasing the previous
    * round the storage bill grows linearly with rounds under BOTH
    * pinning modes. Call it only once the successor round is pinned
    * (Materialize is eager, so by the time apply returns, the new
    * checkpoint has already consumed the old one's blocks): under
    * `persist` the released RDD keeps its lineage and a late consumer
    * recomputes from source, but under `localCheckpoint` the freed
    * blocks were the ONLY copy — re-evaluating a released round FAILS,
    * exactly like re-reading after a mid-query [[sweep]] would. That
    * makes this the loop-internal knife; external callers unsure
    * whether a frame will be read again want [[release]], which never
    * frees an only-copy. Under `off` there is no pin entry and the call
    * is a no-op.
    */
  def releaseSuperseded(df: DataFrame): Unit = {
    val pin = pinned.remove(df)
    if (pin != null) {
      live.synchronized {
        live.removeIf(ref => { val r = ref.get(); r == null || (r eq pin.rdd) })
      }
      pin.rdd.unpersist(blocking = false)
    }
    else df.unpersist(blocking = false)
    ()
  }

  /** Registry of every RDD this object pinned (both modes) since the
    * last [[sweep]], so a batch driver (Verify/Bench) can promptly free a
    * finished query's materializations without touching persistent RDDs
    * it does not own. WEAK references deliberately: a pin whose DataFrame
    * has been garbage-collected is already on ContextCleaner's path
    * (persist registers it for GC-driven cleanup), and holding it
    * strongly here would defeat that — a session that never sweeps would
    * accumulate every pin it ever made.
    */
  private val live: java.util.List[java.lang.ref.WeakReference[org.apache.spark.rdd.RDD[_]]] =
    java.util.Collections.synchronizedList(
      new java.util.ArrayList[java.lang.ref.WeakReference[org.apache.spark.rdd.RDD[_]]]())

  /** Register an RDD pinned OUTSIDE [[apply]] (e.g. the final round of
    * Dedup's label-propagation loop, an RDD-level localCheckpoint) so the
    * batch-driver [[sweep]] frees it at the query boundary like any other
    * materialization.
    */
  private[operators] def registerPinned(rdd: org.apache.spark.rdd.RDD[_]): Unit = {
    live.add(new java.lang.ref.WeakReference(rdd)); ()
  }

  /** Free every materialization registered since the last sweep. Callers
    * invoke this BETWEEN queries, when no plan that references the
    * blocks is still live: for a localCheckpoint'd RDD the blocks are
    * the ONLY copy (lineage truncated), so a mid-query sweep would not
    * merely deoptimize but FAIL any consumer that re-evaluates — the
    * boundary, not luck, is what makes the sweep safe.
    */
  def sweep(): Unit = {
    val snapshot = live.synchronized {
      val s = new java.util.ArrayList(live); live.clear(); s
    }
    snapshot.forEach { ref =>
      val rdd = ref.get()
      if (rdd != null) rdd.unpersist(blocking = false)
    }
  }
}
