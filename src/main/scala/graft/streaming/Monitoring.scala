package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Streaming health monitoring — the engine's analog of the reference's
  * CloudWatch alarm suite (reference terraform/modules/monitoring/
  * main.tf:45-164: Lambda error/duration alarms, Glue failure alarm,
  * Firehose delivery-success alarm). A [[StreamingQueryListener]]
  * observes every query on the session and raises typed [[Alert]]s for
  * the same three failure classes:
  *
  *  - `error`    — a query terminated with an exception (≈ the
  *                 error-count alarms, threshold 0);
  *  - `slow`     — a micro-batch exceeded `slowBatchMs` (≈ the
  *                 duration alarm, 90 s on a 120 s timeout);
  *  - `stalled`  — a progress report carried zero input rows while
  *                 data was expected (≈ delivery-success = 0).
  *
  * Alerts are collected in-process (the hook a real deployment wires to
  * its pager); progress snapshots are retained for dashboards. All
  * callbacks are on Spark's listener bus thread — collections are
  * thread-safe, and nothing here blocks the bus.
  */
object Monitoring {

  final case class Alert(query: String, kind: String, detail: String)

  /** Delivery seam — the analog of the reference's SNS topic + email
    * subscription (terraform/modules/monitoring/main.tf:20-41): alarms
    * there publish to a topic with pluggable subscribers; alerts here
    * push to pluggable sinks. Deliveries run on the listener-bus thread
    * and a failing pager must never kill monitoring, so the listener
    * swallows (and counts) sink exceptions.
    */
  trait AlertSink extends Serializable {
    def deliver(alert: Alert): Unit
  }

  /** Log-line delivery (the default "subscriber" in a dev session). */
  final class LogAlertSink extends AlertSink {
    private val log = org.slf4j.LoggerFactory.getLogger(classOf[LogAlertSink])
    override def deliver(a: Alert): Unit =
      log.warn(s"[graft-alert] query=${a.query} kind=${a.kind} ${a.detail}")
  }

  /** Append-a-JSON-line delivery — tail-able by an external watcher. */
  final class FileAlertSink(path: String) extends AlertSink {
    override def deliver(a: Alert): Unit = synchronized {
      val w = new java.io.FileWriter(path, true)
      try w.write(
        s"""{"query":${quote(a.query)},"kind":${quote(a.kind)},"detail":${quote(a.detail)}}\n""")
      finally w.close()
    }
    private def quote(s: String): String =
      "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
        .replace("\n", "\\n") + "\""
  }

  /** Webhook delivery: POST the alert as JSON — the shape an SNS
    * HTTP(S) subscription or a pager integration consumes.
    */
  final class HttpAlertSink(endpoint: String) extends AlertSink {
    override def deliver(a: Alert): Unit = {
      def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
      val body = s"""{"query":"${esc(a.query)}","kind":"${esc(a.kind)}","detail":"${esc(a.detail)}"}"""
      val client = java.net.http.HttpClient.newBuilder()
        .connectTimeout(java.time.Duration.ofSeconds(5)).build()
      val req = java.net.http.HttpRequest
        .newBuilder(java.net.URI.create(endpoint))
        .timeout(java.time.Duration.ofSeconds(5))
        .header("Content-Type", "application/json")
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body)).build()
      val resp = client.send(req,
        java.net.http.HttpResponse.BodyHandlers.ofString())
      require(resp.statusCode() / 100 == 2,
        s"alert webhook returned HTTP ${resp.statusCode()}")
    }
  }

  final case class ProgressSnapshot(
      query: String, batchId: Long, numInputRows: Long, durationMs: Long)

  final class QueryHealthListener(
      slowBatchMs: Long = 60000L,
      alertOnZeroInput: Boolean = false,
      sinks: Seq[AlertSink] = Nil) extends StreamingQueryListener {

    private val alertsBuf =
      new java.util.concurrent.ConcurrentLinkedQueue[Alert]()
    private val progressBuf =
      new java.util.concurrent.ConcurrentLinkedQueue[ProgressSnapshot]()
    private val sinkFailureCount =
      new java.util.concurrent.atomic.AtomicLong(0L)

    /** Fan the alert out to every sink, then buffer it, so an alert
      * visible in [[alerts]] has already been handed to every sink. A
      * sink failure is counted, never propagated — the listener bus must
      * survive a dead pager.
      */
    private def raise(a: Alert): Unit = {
      sinks.foreach { s =>
        try s.deliver(a)
        catch { case scala.util.control.NonFatal(_) =>
          sinkFailureCount.incrementAndGet() }
      }
      alertsBuf.add(a)
    }

    def alerts: Seq[Alert] = {
      import scala.jdk.CollectionConverters._
      alertsBuf.iterator().asScala.toSeq
    }
    def progress: Seq[ProgressSnapshot] = {
      import scala.jdk.CollectionConverters._
      progressBuf.iterator().asScala.toSeq
    }
    def sinkFailures: Long = sinkFailureCount.get()

    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = ()

    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val duration = Option(p.durationMs.get("triggerExecution"))
        .map(_.longValue()).getOrElse(0L)
      progressBuf.add(ProgressSnapshot(
        p.name, p.batchId, p.numInputRows, duration))
      if (duration > slowBatchMs)
        raise(Alert(p.name, "slow",
          s"batch ${p.batchId} took ${duration} ms (limit $slowBatchMs)"))
      if (alertOnZeroInput && p.numInputRows == 0L)
        raise(Alert(p.name, "stalled",
          s"batch ${p.batchId} processed no input rows"))
    }

    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      e.exception.foreach { msg =>
        raise(Alert(e.id.toString, "error", msg.linesIterator.next()))
      }
  }

  /** Attach a health listener to every streaming query on the session;
    * returns it for alert/progress inspection (and for
    * `removeListener` when done). `sinks` is the delivery fan-out (SNS
    * subscriber analog) — log, file, webhook, or anything custom.
    */
  def attach(spark: SparkSession, slowBatchMs: Long = 60000L,
      alertOnZeroInput: Boolean = false,
      sinks: Seq[AlertSink] = Nil): QueryHealthListener = {
    val l = new QueryHealthListener(slowBatchMs, alertOnZeroInput, sinks)
    spark.streams.addListener(l)
    l
  }
}
