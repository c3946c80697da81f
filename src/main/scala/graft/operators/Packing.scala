package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing: assign documents to fixed-token-budget training
  * sequences (the concat-and-pack step every LLM data pipeline runs
  * between curation and tokenization).
  *
  * Packing is assignment-by-offset over a GLOBAL deterministic order:
  * with `start(d)` = sum of token counts of all docs before `d` in
  * `orderCol` order, doc `d` goes to pack `floor(start / budget)`. Every
  * pack's payload is ≥ budget except the last (a pack is "full" once the
  * next doc starts past its boundary), assignment is a pure function of
  * the ordered corpus — reproducible across runs and engines — and it is
  * exactly expressible in SQL for the oracle.
  *
  * The global running sum is the engine's distributed prefix sum
  * ([[Rank.bucketStats]]), never an `orderBy`-without-`partitionBy`
  * window (that collapses to ONE task — dead at any scale).
  */
object Packing {

  /** Add `pack_id` (0-based) and `start_offset` to `docs`, packing in
    * ascending `orderCol` (a UNIQUE numeric key — ties would make the
    * within-group order, and so the offsets, ambiguous) into
    * `budget`-token sequences. `numPartitions` <= 0 ⇒ session default
    * parallelism. A null order value fails fast.
    */
  def packByOffset(docs: DataFrame, tokenCol: String, orderCol: String,
      budget: Long, numPartitions: Int = 0): DataFrame = {
    require(budget >= 1, "budget must be >= 1")
    val b = Rank.bucketStats("packByOffset", docs, orderCol, numPartitions)(
      sum(col(tokenCol).cast("long")).as("t"))
    val local = Window.partitionBy("__g").orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    b.grouped
      .withColumn("start_offset",
        b.offsetExpr(0) + sum(col(tokenCol).cast("long")).over(local) - col(tokenCol))
      .withColumn("pack_id", floor(col("start_offset") / budget))
      .drop("__g")
  }

  /** Length-bucketed inference batching: group rows into fixed-size
    * batches WITHIN length buckets, so a batch's padding waste is
    * bounded by the bucket width (batching unsorted docs pads everything
    * to the longest — at bucket width w, padding ≤ w−1 per row).
    * Positions come from [[Sampling.groupRunningCost]] at cost 1 — a
    * distributed per-bucket row number (hash-of-id order, reproducible
    * anywhere), never one window per bucket. Emits (len_bucket,
    * batch_id, pos_in_batch); batch_id is dense 0-based per bucket.
    */
  def inferenceBatches(docs: DataFrame, idCol: String, lenCol: String,
      bucketWidth: Int, batchSize: Int, salt: String = "graft",
      numPartitions: Int = 0): DataFrame = {
    require(bucketWidth >= 1 && batchSize >= 1,
      "bucketWidth and batchSize must be >= 1")
    val bucketed = docs
      .withColumn("len_bucket", expr(s"CAST($lenCol AS BIGINT) DIV $bucketWidth"))
      .withColumn("__one", lit(1L))
    Sampling.groupRunningCost(bucketed, "len_bucket", idCol, "__one",
        salt, numPartitions)
      .withColumn("batch_id", expr(s"(budget_run - 1) DIV $batchSize"))
      .withColumn("pos_in_batch", expr(s"(budget_run - 1) % $batchSize"))
      .drop("__one", "budget_run")
  }

  /** Per-pack summary: document count and token payload. A pack's payload
    * can exceed `budget` (its last doc runs past the boundary) but never
    * by more than one document; only the final pack can be under-full.
    */
  def packSummary(packed: DataFrame, tokenCol: String): DataFrame =
    packed.groupBy("pack_id")
      .agg(count(lit(1)).as("n_docs"), sum(col(tokenCol).cast("long")).as("n_tokens"))
}
