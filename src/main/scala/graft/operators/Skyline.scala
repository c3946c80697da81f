package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{DoubleType, FloatType, IntegerType, LongType, ShortType}

/** Skyline (Pareto-optimal set) operator: the rows not DOMINATED by any
  * other row — b dominates a when b is at least as good on every skyline
  * dimension and strictly better on at least one. The multi-criteria
  * "best tradeoffs" query (cheapest-vs-largest, quality-vs-length) that
  * plain ORDER BY cannot express; see "Integration of Skyline Queries
  * into Spark SQL" (EDBT 2023) for the Spark-SQL-integration framing.
  *
  * Algorithm: the classic two-phase distributed skyline.
  *  1. LOCAL skyline per partition (mapPartitions, block-nested-loop
  *     with a running candidate window). Safe because dominance is
  *     transitive: a point dominated locally is dominated globally, so
  *     phase 1 never discards a skyline member — it only shrinks each
  *     partition to its Pareto front, typically orders of magnitude
  *     smaller than the data.
  *  2. GLOBAL skyline over the union of local skylines in one task —
  *     correct because the global skyline is a subset of that union.
  *
  * Scale shape: phase 1 is map-only at scan speed, no shuffle; the only
  * data movement is the local fronts converging into one task. That
  * final fan-in bounds this implementation: it assumes the FRONT (not
  * the data) fits one executor — true for the low-dimensional fronts
  * real queries use (fronts grow with dimension count, not row count).
  * For adversarial high-dimension fronts, the published refinement is
  * grid/angular partitioning so phase 2 is itself distributed; the
  * phase-1 map-only shape is unchanged.
  *
  * `dims`: (column, ascending?) — ascending=true means SMALLER is
  * better (minimize), false means larger is better. Numeric columns
  * only; rows with a null OR NaN in any skyline dimension are dropped
  * (neither has a place in a dominance order — NaN compares false both
  * ways, so it would sit in every front forever). All input columns
  * pass through.
  */
object Skyline {

  def skyline(df: DataFrame, dims: Seq[(String, Boolean)]): DataFrame = {
    require(dims.nonEmpty, "need at least one skyline dimension")
    val schema = df.schema
    val idx = dims.map { case (c, asc) => (schema.fieldIndex(c), asc) }
    idx.foreach { case (i, _) =>
      schema.fields(i).dataType match {
        case DoubleType | FloatType | IntegerType | LongType | ShortType => ()
        case t => throw new IllegalArgumentException(
          s"skyline dimension ${schema.fields(i).name} must be numeric, got ${t.sql}")
      }
    }

    // local block-nested-loop skyline over an iterator of rows
    def localSkyline(it: Iterator[Row]): Iterator[Row] = {
      def dim(r: Row, i: Int): Double = r.get(i) match {
        case d: java.lang.Double => d
        case f: java.lang.Float => f.toDouble
        case n: java.lang.Number => n.doubleValue()
        case other => throw new IllegalStateException(s"non-numeric $other")
      }
      // b dominates a: >= on all (in "better" direction), > on one
      def dominates(b: Row, a: Row): Boolean = {
        var strict = false
        var k = 0
        while (k < idx.length) {
          val (i, asc) = idx(k)
          val (vb, va) = (dim(b, i), dim(a, i))
          val better = if (asc) vb < va else vb > va
          val worse = if (asc) vb > va else vb < va
          if (worse) return false
          if (better) strict = true
          k += 1
        }
        strict
      }
      val window = scala.collection.mutable.ArrayBuffer.empty[Row]
      it.foreach { r =>
        // null AND NaN rows are dropped: Java </> comparisons with NaN
        // are always false, so a NaN row would never be dominated (nor
        // dominate) and live in every front forever — and the specs' naive
        // anti-join reference (na.drop) already treats NaN as missing.
        // skyline and skylineExec agree.
        if (!idx.exists { case (i, _) => r.isNullAt(i) || dim(r, i).isNaN }) {
          var dominated = false
          var k = 0
          while (k < window.length && !dominated) {
            if (dominates(window(k), r)) dominated = true
            k += 1
          }
          if (!dominated) {
            val keep = window.filterNot(w => dominates(r, w))
            window.clear()
            window ++= keep
            window += r
          }
        }
      }
      window.iterator
    }

    val spark = df.sparkSession
    val local = df.rdd.mapPartitions(localSkyline) // phase 1: map-only
    val global = local.coalesce(1).mapPartitions(localSkyline)
    spark.createDataFrame(global, schema)
  }

  /** The skyline as a CUSTOM CATALYST OPERATOR: builds a
    * [[graft.plans.SkylineNode]] logical node over the DataFrame's
    * analyzed plan, planned into [[graft.plans.SkylineExec]] by
    * [[graft.plans.SkylineStrategy]], which [[graft.GraftExtensions]]
    * injects into every `GraftSession`. Identical semantics to
    * [[skyline]]; this form participates in explain()/planning like a
    * native operator.
    */
  def skylineExec(df: DataFrame, dims: Seq[(String, Boolean)]): DataFrame = {
    require(dims.nonEmpty, "need at least one skyline dimension")
    val analyzed = df.queryExecution.analyzed
    val resolved = dims.map { case (c, asc) =>
      val attr = analyzed.output.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"skyline dimension $c not in ${analyzed.output.map(_.name)}"))
      (attr, asc)
    }
    org.apache.spark.sql.GraftSqlBridge.ofRows(df.sparkSession,
      graft.plans.SkylineNode(resolved, analyzed))
  }
}
