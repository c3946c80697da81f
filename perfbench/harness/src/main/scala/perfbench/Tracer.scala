package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext

/** One timed call. `layer` is the engine module the call enters
  * (streaming, sources, operators, queries; engine for a Spark action the
  * harness calls directly) or "harness" for the benchmark's own grouping
  * spans. Times are ms since the tracer started.
  */
final case class Span(id: String, name: String, layer: String, parent: Option[String],
    traceId: String, startMs: Double, var endMs: Double = Double.NaN) {
  def durMs: Double = endMs - startMs
}

/** In-memory span recorder. Around every span it sets the span id as the
  * Spark job group, so listener events raised inside the call (including
  * those of nested engine stages) are attributed to it. When disabled it
  * only runs the body: no job groups, no records.
  */
final class Tracer(sc: SparkContext, val traceId: String) {
  private val t0 = System.nanoTime()
  private val stack = mutable.Stack.empty[Span]
  private val done = mutable.ArrayBuffer.empty[Span]
  private val aliases = mutable.Map.empty[String, String]
  private var seq = 0
  var enabled = false

  def nowMs: Double = (System.nanoTime() - t0) / 1e6

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      seq += 1
      val s = Span(s"$traceId-$seq", name, layer, stack.headOption.map(_.id), traceId, nowMs)
      stack.push(s)
      sc.setJobGroup(s.id, name, interruptOnCancel = false)
      try body
      finally {
        s.endMs = nowMs
        stack.pop()
        stack.headOption match {
          case Some(p) => sc.setJobGroup(p.id, p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
        done += s
      }
    }

  def spans: Seq[Span] = done.toSeq

  /** Id of the span that ended last, when tracing. */
  def lastId: Option[String] = if (enabled) done.lastOption.map(_.id) else None

  /** Attribute job group `group` (set by the engine itself, e.g. a
    * streaming query's run id) to the innermost open span.
    */
  def alias(group: String): Unit =
    if (enabled) stack.headOption.foreach(s => aliases(group) = s.id)

  /** The span a job group belongs to, if any. */
  def spanOf(group: String): Option[String] =
    aliases.get(group).orElse(Some(group).filter(g => done.exists(_.id == g)))

  /** Self time per span: its duration minus its direct children's. */
  def selfMs: Map[String, Double] = {
    val childSum = done.groupBy(_.parent).collect { case (Some(p), cs) => p -> cs.map(_.durMs).sum }
    done.map(s => s.id -> (s.durMs - childSum.getOrElse(s.id, 0.0))).toMap
  }

  /** Root span id of every recorded span (the operation it belongs to). */
  def rootOf: Map[String, String] = {
    val byId = done.map(s => s.id -> s).toMap
    def root(s: Span): String = s.parent.flatMap(byId.get) match {
      case Some(p) => root(p)
      case None => s.id
    }
    done.map(s => s.id -> root(s)).toMap
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = done.sortBy(_.startMs).map { s =>
      Json.obj(Seq("trace_id" -> Json.str(s.traceId), "span_id" -> Json.str(s.id),
        "parent_id" -> s.parent.map(Json.str).getOrElse("null"),
        "name" -> Json.str(s.name), "layer" -> Json.str(s.layer),
        "start_ms" -> Json.num(s.startMs), "end_ms" -> Json.num(s.endMs)))
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Minimal JSON writer (the harness emits flat records only). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null"
    else if (x == math.rint(x) && math.abs(x) < 1e15) x.toLong.toString
    else java.lang.Double.toString(x)

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")

  def nums(m: Seq[(String, Double)]): String = obj(m.map { case (k, v) => k -> num(v) })
}
