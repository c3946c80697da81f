package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Index of the centroid most cosine-similar to the input vector, ties →
  * smallest index. A SMALL centroid matrix rides INSIDE the expression
  * as a plain Scala array — shipped once per stage via the task-binary
  * broadcast and scored in one tight loop per row. Above
  * [[CentroidArgmax.broadcastThreshold]] elements (k×dim) the matrix
  * moves into an explicit TorrentBroadcast and only the lightweight
  * handle rides in the expression: a 4096×1024 model is ~32 MB of
  * doubles, and carrying that inside the plan makes every plan copy,
  * explain(), and AQE re-plan drag the matrix along — the broadcast
  * variable is fetched once per executor instead.
  *
  * This exists because the expression-composition alternative —
  * `greatest(struct(cosine(v, lit(c0)), …), struct(…), …)` — builds an
  * expression tree LINEAR in the number of centroids: fine at 16, but at
  * the ~√n centroids a real IVF index wants (1000+ for 10⁶ vectors) the
  * generated code blows past JVM method limits and planning time
  * explodes. A loop over a matrix is O(1) plan nodes regardless of
  * centroid count — the difference between an ANN index that scales and
  * one that stops at toy size.
  *
  * Semantics: elements widened to double; a zero-norm vector or centroid
  * scores 0.0; ties take the smallest index (matching the top-1
  * bounded-heap and the struct-max formulations). Null input → null.
  */
case class CentroidArgmax(child: Expression, local: Array[Array[Double]],
    bc: Option[Broadcast[Array[Array[Double]]]] = None)
    extends UnaryExpression with CodegenFallback {

  require(local.nonEmpty || bc.nonEmpty, "need at least one centroid")

  @transient private lazy val scorer = new CentroidArgmax.Scorer(local, bc)

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  private def elemOk(t: DataType): Boolean = t match {
    case ArrayType(FloatType | DoubleType | IntegerType | LongType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemOk(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"centroid_argmax expects a numeric array, got ${child.dataType.sql}")

  @transient private lazy val elemType: DataType = child.dataType match {
    case ArrayType(t, _) => t
    case _ => throw new IllegalStateException("unreachable")
  }

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = v.numElements()
    val vec = new Array[Double](n)
    var i = 0
    while (i < n) {
      // null elements contribute 0.0 — checked explicitly, because
      // reading a null slot from unsafe array data is undefined
      vec(i) = if (v.isNullAt(i)) 0.0 else elemType match {
        case FloatType => v.getFloat(i).toDouble
        case DoubleType => v.getDouble(i)
        case IntegerType => v.getInt(i).toDouble
        case LongType => v.getLong(i).toDouble
        case _ => throw new IllegalStateException("unreachable")
      }
      i += 1
    }
    scorer.nearest(vec)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "centroid_argmax"
}

object CentroidArgmax {

  /** k×dim above which the matrix moves to an explicit broadcast
    * variable (~8 MB of doubles) instead of riding in the plan.
    */
  val broadcastThreshold: Long = 1L << 20

  /** The cosine-argmax kernel over one centroid matrix, shared by the
    * expression above and by RDD folds ([[graft.operators.Similarity.refineCentroids]]).
    * Serializable: a closure or plan carries the matrix itself, or only
    * the broadcast handle when `bc` is set; the matrix and its norms
    * resolve once per deserialized copy, i.e. once per task.
    */
  final class Scorer(val local: Array[Array[Double]],
      val bc: Option[Broadcast[Array[Array[Double]]]]) extends Serializable {

    @transient private lazy val centroids: Array[Array[Double]] =
      bc.map(_.value).getOrElse(local)

    @transient private lazy val centNorms: Array[Double] =
      centroids.map(c => math.sqrt(c.map(x => x * x).sum))

    /** Index of the centroid most cosine-similar to `vec`, ties → smallest. */
    def nearest(vec: Array[Double]): Int = {
      val n = vec.length
      var vn = 0.0
      var i = 0
      while (i < n) { vn += vec(i) * vec(i); i += 1 }
      vn = math.sqrt(vn)
      var best = 0
      var bestScore = Double.NegativeInfinity
      var c = 0
      while (c < centroids.length) {
        val cent = centroids(c)
        val score =
          if (cent.length != n) Double.NegativeInfinity // dim mismatch: never chosen
          else {
            var dot = 0.0
            var j = 0
            while (j < n) { dot += vec(j) * cent(j); j += 1 }
            val nn = vn * centNorms(c)
            if (nn == 0.0) 0.0 else dot / nn
          }
        if (score > bestScore) { bestScore = score; best = c }
        c += 1
      }
      best
    }

    /** Drop the broadcast copy, if any, once no job reads this scorer. */
    def release(): Unit = bc.foreach(_.destroy())
  }

  /** A [[Scorer]] shipped by the broadcast rule: a matrix of at least
    * `threshold` elements travels as a broadcast variable, a smaller one
    * inside the plan or closure.
    */
  def scorer(centroids: Array[Array[Double]], threshold: Long = broadcastThreshold): Scorer = {
    require(centroids.nonEmpty, "need at least one centroid")
    if (centroids.length.toLong * centroids.head.length >= threshold)
      new Scorer(Array.empty, Some(SparkSession.active.sparkContext.broadcast(centroids)))
    else new Scorer(centroids, None)
  }

  def argmax(vec: Column, centroids: Array[Array[Double]],
      threshold: Long = broadcastThreshold): Column = {
    val s = scorer(centroids, threshold)
    GraftSqlBridge.column(CentroidArgmax(GraftSqlBridge.expression(vec), s.local, s.bc))
  }
}
