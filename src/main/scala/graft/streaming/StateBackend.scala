package graft.streaming

import org.apache.spark.sql.SparkSession

/** State-store backend selection for the stateful streaming operators
  * ([[Streams.dedupStream]], windowed/session aggregation,
  * mapGroupsWithState — everything that keeps per-key state between
  * micro-batches).
  *
  * Spark's default `HDFSBackedStateStoreProvider` keeps EVERY key's
  * state as JVM objects on the executor heap (one in-memory map per
  * state partition, snapshot-uploaded to the checkpoint). That is the
  * binding constraint for the pipelines this engine targets: streaming
  * dedup over a firehose retains `arrival-rate × lateness` keys, and at
  * 100 TB/day even a 10-minute horizon is tens of millions of keys per
  * partition — heap-resident state means OOM or giant executors.
  * RocksDB keeps state off-heap on executor-local disk with a bounded
  * block cache, so state capacity scales with local SSD instead of
  * heap, and (with changelog checkpointing) per-batch checkpoint cost
  * scales with the DELTA, not the full store size.
  *
  * Backend choice is a session conf read when a streaming query STARTS
  * (it is then pinned into the query's checkpoint lineage — switching
  * providers on an existing checkpoint is not supported by Spark), so
  * these helpers configure the session, not the query.
  */
object StateBackend {

  val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val ChangelogKey =
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"

  /** Point the session at RocksDB state stores. `changelog = true` also
    * enables changelog checkpointing: each commit uploads the batch's
    * key-delta instead of a full snapshot — the difference between
    * O(state) and O(churn) checkpoint traffic on a large store.
    */
  def useRocksDb(spark: SparkSession, changelog: Boolean = true): Unit = {
    spark.conf.set(ProviderKey, RocksDbProvider)
    spark.conf.set(ChangelogKey, changelog.toString)
  }

  /** Run `body` (typically: build + start + drain one streaming query)
    * with RocksDB state stores, restoring the previous backend after.
    * Queries STARTED inside keep RocksDB for their lifetime; the
    * restore only affects queries started later.
    */
  def withRocksDb[T](spark: SparkSession, changelog: Boolean = true)(body: => T): T = {
    val prevProvider = spark.conf.getOption(ProviderKey)
    val prevChangelog = spark.conf.getOption(ChangelogKey)
    useRocksDb(spark, changelog)
    try body
    finally {
      prevProvider.fold(spark.conf.unset(ProviderKey))(spark.conf.set(ProviderKey, _))
      prevChangelog.fold(spark.conf.unset(ChangelogKey))(spark.conf.set(ChangelogKey, _))
    }
  }
}
