package graft.operators

import scala.reflect.ClassTag

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.storage.StorageLevel

/** Helpers for DRIVER-BOUND iterative rounds (IRLS/Newton, boosting,
  * k-means centroid refinement): loops that run one tiny-output
  * aggregation per round over a pinned relation. [[Rounds.pinned]] is
  * the one round-loop helper: it runs such rounds as RDD folds and never
  * touches the caller's session conf, so a loop can share its session
  * with concurrent queries.
  */
object Rounds {

  /** Round-robin repartition to `defaultParallelism` IFF the plan's
    * current width is below it — a conditional parallelism floor for
    * HEAVY per-row map pipelines (per-replicate hashing, tokenization)
    * whose input is a raw scan. A parquet file is splittable only at
    * row-group boundaries, so a single-row-group file scans as ONE task
    * and serializes every narrow transformation above it no matter what
    * `spark.sql.files.minPartitionNum` asks for (the testdata fixtures
    * are exactly this shape; measured on samp8's ×10 bootstrap explode:
    * 1.11 s → 0.49 s at sf0.1/local[32]). On a real multi-split input
    * the width test fails and NO shuffle is added — this must never
    * become an unconditional `repartition(n)` (guide §2.4: that is the
    * textbook accidental exchange). The width probe reads the physical
    * plan's partitioning (no job); the shuffle, when taken, moves only
    * the operator's already-projected input columns.
    */
  def widen(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= p) df else df.repartition(p)
  }

  /** Rows per task of a [[pinned]] loop: the per-round fold does a
    * handful of flops per row, so below ~2¹⁸ rows a task is pure
    * scheduling overhead.
    */
  private val RowsPerTask = 1L << 18

  /** Partition count for an RDD-native round loop, derived from the
    * loop's OWN row count (guide §2: scale-adaptive, never a constant
    * tuned to one box): ⌈rows / [[RowsPerTask]]⌉ clamped to
    * [1, defaultParallelism]. A blanket widen-to-defaultParallelism
    * measured WORSE on the trainers — at sf0.1 the rounds were 32
    * scheduling-overhead tasks over 5000 rows.
    */
  def sizedParts(sc: SparkContext, rows: Long): Int =
    math.max(1L, math.min(sc.defaultParallelism.toLong,
      (rows + RowsPerTask - 1) / RowsPerTask)).toInt

  /** RDD-NATIVE ROUNDS for a driver-bound iterative loop (the Newton
    * trainers, histogram boosting, k-means refinement): `body` runs its
    * rounds as `treeAggregate` folds over a pinned RDD of `n` rows
    * instead of as one SQL aggregation per round.
    *
    * Why (round 17, profiled): the loops' cost was never compute. A
    * bare, bit-identical 2·d·bins aggregate over an unchanged 5000-row
    * pin still cost ~0.43 s per repetition — codegen caches after round
    * 1, catalyst analysis/optimization of the wide sum(when) plan does
    * not — so every SQL formulation paid ~0.4 s of driver work per
    * round however its expressions were arranged (19 IRLS rounds made
    * ml11 the board's #2 query on driver time). The round accumulations
    * are trivial folds, so running them on the RDD costs zero catalyst
    * and zero codegen per round. Callers replicate the SQL expressions'
    * per-row float ops in order, and the per-partition accumulation +
    * merge keeps the partial-aggregate + exchange order class: weights
    * stay reproducible up to the documented FP-sum noise.
    *
    * This helper owns the pin policy: `rows` is repartitioned UP to
    * [[sizedParts]]`(n)` when it came in narrower (a single-row-group
    * scan) and left alone otherwise, persisted at MEMORY_AND_DISK and
    * registered with [[Materialize]]; every RDD the loop pins —
    * including the ones [[Pinned.advance]] creates — is unpersisted on
    * EVERY exit path, normal return or throw.
    */
  def pinned[T: ClassTag, R](rows: RDD[T], n: Long)(body: Pinned[T] => R): R = {
    val p = sizedParts(rows.sparkContext, n)
    val loop = new Pinned(if (rows.getNumPartitions < p) rows.repartition(p) else rows)
    try body(loop) finally loop.release()
  }

  /** The live pin of a [[pinned]] loop. */
  final class Pinned[T: ClassTag] private[Rounds] (first: RDD[T]) {
    private var cur: RDD[T] = pin(first)
    // pins replaced by advance, freed once a fold has materialized cur
    private var superseded = List.empty[RDD[T]]

    private def pin(rdd: RDD[T]): RDD[T] = {
      rdd.persist(StorageLevel.MEMORY_AND_DISK)
      Materialize.registerPinned(rdd)
      rdd
    }

    /** One round: a `treeAggregate` over the current pin. */
    def fold[U: ClassTag](zero: U)(seqOp: (U, T) => U, combOp: (U, U) => U): U = {
      val out = cur.treeAggregate(zero)(seqOp, combOp)
      superseded.foreach(_.unpersist(blocking = false))
      superseded = Nil
      out
    }

    /** Replace the pinned rows by `f` of them (boosting's residual
      * update). The previous pin is released only after the next
      * [[fold]] has materialized the new one, so nothing recomputes
      * from source.
      */
    def advance(f: T => T): Unit = {
      superseded ::= cur
      cur = pin(cur.map(f))
    }

    private[Rounds] def release(): Unit =
      (cur :: superseded).foreach(_.unpersist(blocking = false))
  }
}
