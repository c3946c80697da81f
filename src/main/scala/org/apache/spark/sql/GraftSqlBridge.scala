package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into `private[sql]` Column↔Expression conversion (Spark 4 moved
  * the Expression-backed Column constructor behind
  * org.apache.spark.sql.classic.ExpressionUtils). Needed to expose custom
  * Catalyst expressions (graft.functions.*) through the Column API.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** DataFrame from a custom LogicalPlan (Dataset.ofRows is private[sql]) —
    * the construction path for custom logical operators like
    * graft.plans.SkylineNode.
    */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Pin a DataFrame's rows on executor storage WITH the RDD lineage
    * kept (fault-tolerant: a lost block recomputes from source), while
    * returning a FLAT LogicalRDD plan — localCheckpoint's plan shape
    * without its unrecoverable truncation. This is what `persist` on the
    * Dataset cannot give: Dataset-level persist caches data but keeps
    * the full logical plan, so an iterative loop's plan doubles per
    * round (each round references the previous twice) and analysis cost
    * grows 2^rounds — the graph3_kcore heap exhaustion under the
    * fault-tolerance sweep. The `.map(_.copy())` is mandatory: codegen
    * reuses UnsafeRow buffers per partition, and caching uncopied rows
    * corrupts the store (same copy Dataset.checkpoint performs).
    *
    * Returns the flat DataFrame and the pinned RDD (for release).
    */
  def pinWithLineage(df: DataFrame)
      : (DataFrame, org.apache.spark.rdd.RDD[_]) = {
    val classicDf = df.asInstanceOf[classic.Dataset[Row]]
    val spark = classicDf.sparkSession
    val rdd = asSqlExecution(classicDf) {
      val r = classicDf.queryExecution.toRdd.map(_.copy())
      r.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      r.count()
      r
    }
    (spark.internalCreateDataFrame(rdd, classicDf.schema), rdd)
  }

  /** Run a pin's eager job as a tracked SQL execution of the pinned
    * frame's own QueryExecution — what `Dataset.localCheckpoint` does
    * through `withAction`. A bare RDD action is invisible to the SQL
    * listeners, so the `Observation`s of `Dataset.observe` nodes inside
    * the pinned plan would never be delivered: the pinned frame's plan
    * is a flat scan with no CollectMetrics left, and `Observation.get`
    * would block forever. Nests under a caller's execution (a
    * `foreachBatch` body already holds one).
    */
  private def asSqlExecution[T](df: classic.Dataset[Row])(body: => T): T =
    execution.SQLExecution.withNewExecutionId(df.queryExecution, Some("materialize"))(body)

  /** localCheckpoint-mode pin with MEASURED statistics — the fix for the
    * iterative-loop planning blow-up `Dataset.localCheckpoint` has in its
    * originStats: fromDataset preserves the ORIGIN plan's ESTIMATED
    * Statistics, and when a loop's round joins the previous round's
    * checkpoint against itself (Bradley–Terry's si⋈sj, any
    * self-comparing propagation), the estimate SQUARES per round —
    * sizeInBytes is a BigInt, so its digit count doubles per round and
    * BigInt arithmetic inside join-size estimation turns planning
    * exponential (observed: constant 0.25 s/round through round 14, then
    * 2.3×/round — 128 s at round 22 — on a FOUR-ROW table; constant
    * forever once stats are measured). The blocks are already on the
    * executors when this returns, so instead of propagating the
    * estimate we attach the TRUE post-checkpoint size from the block
    * manager — strictly better information for broadcast planning, and
    * a fixed point under any loop algebra.
    */
  def pinLocalCheckpoint(df: DataFrame)
      : (DataFrame, org.apache.spark.rdd.RDD[_]) = {
    val classicDf = df.asInstanceOf[classic.Dataset[Row]]
    val spark = classicDf.sparkSession
    // same row copy Dataset.checkpoint performs — codegen reuses
    // UnsafeRow buffers per partition; caching uncopied rows corrupts
    val (rdd, rowCount) = asSqlExecution(classicDf) {
      val r = classicDf.queryExecution.toRdd.map(_.copy())
      r.localCheckpoint()
      (r, r.count())
    }
    // Prefer the TRUE post-checkpoint block size; when the block manager
    // has no entry or reports 0 (empty result — nothing was stored — or
    // a racing eviction), never fall through to None: LogicalRDD's
    // computeStats would then take spark.sql.defaultSizeInBytes
    // (Long.MaxValue) and the pinned frame could never broadcast — a
    // regression vs even the old localCheckpoint path. An EMPTY result
    // is honestly tiny (sizeInBytes = 1, the convention empty relations
    // get). A NON-empty miss is a racing eviction: retry the lookup once
    // (the race window is block-report latency, not real absence), and
    // if it still misses, take the origin plan's estimate FLOORED at
    // rowCount × the schema's default row width — the origin estimate
    // alone can UNDER-state the pinned frame (the opposite error from
    // the compounding it was guarded against) and slip a large relation
    // under autoBroadcastJoinThreshold into a driver-side broadcast OOM;
    // the row-count floor is information this method already paid for.
    // One estimate on one round cannot compound: the next round's pin
    // measures.
    def storageSize: Option[BigInt] = spark.sparkContext.getRDDStorageInfo
      .find(_.id == rdd.id)
      .map(i => BigInt(i.memSize + i.diskSize))
      .filter(_ > 0)
    val measured = storageSize
      .orElse(if (rowCount > 0L) storageSize else None) // one retry on the racy path
      .map(bytes => catalyst.plans.logical.Statistics(sizeInBytes = bytes))
      .orElse(Some(
        if (rowCount == 0L) catalyst.plans.logical.Statistics(sizeInBytes = 1)
        else {
          val floor = BigInt(rowCount) * (8 + classicDf.schema.defaultSize)
          catalyst.plans.logical.Statistics(sizeInBytes =
            classicDf.queryExecution.optimizedPlan.stats.sizeInBytes.max(floor))
        }))
    // fromDataset for the parts worth preserving — output attributes and
    // the REWRITTEN outputPartitioning/outputOrdering (losing those makes
    // every loop that re-aggregates on the same key re-shuffle each
    // round) — then rebuild the node with the measured stats in place of
    // the compounding estimate, and no origin constraints (they carry
    // whole expression trees round over round).
    val template = execution.LogicalRDD.fromDataset(rdd, classicDf, isStreaming = false)
    val plan = execution.LogicalRDD(template.output, template.rdd,
      template.outputPartitioning, template.outputOrdering,
      template.isStreaming, template.stream)(spark,
      originStats = measured, originConstraints = None)
    (classic.Dataset.ofRows(spark, plan), rdd)
  }
}
