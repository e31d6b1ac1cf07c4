package graft.streaming

import java.net.{DatagramPacket, DatagramSocket, InetAddress}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Metrics surface (reference M1/M2, /root/reference/src/metrics.rs:24-330):
  * the same counter/timer/gauge names, fed from Spark-native signals —
  * `Observation` aggregates piggybacked on the batch write (zero extra
  * jobs) and `StreamingQueryListener` progress events for consumer lag.
  * Every batch carries the observation, sink or not: it is also the
  * barrier that keeps the ok/dead split above the staged frame
  * (`PipelineStages.split`); only reading it waits for a sink.
  */
trait MetricsSink {
  def counter(name: String, value: Long = 1L): Unit
  def gauge(name: String, value: Long): Unit
  def timer(name: String, millis: Long): Unit
}

/** statsd over UDP — the reference's transport (metrics.rs uses a statsd
  * scope over UDP). Fire-and-forget; failures never affect ingestion. */
final class StatsdMetricsSink(host: String, port: Int) extends MetricsSink {
  private lazy val socket = new DatagramSocket()
  private lazy val addr = InetAddress.getByName(host)

  private def send(line: String): Unit =
    try {
      val bytes = line.getBytes(StandardCharsets.UTF_8)
      socket.send(new DatagramPacket(bytes, bytes.length, addr, port))
    } catch { case scala.util.control.NonFatal(_) => }

  override def counter(name: String, value: Long): Unit = send(s"$name:$value|c")
  override def gauge(name: String, value: Long): Unit = send(s"$name:$value|g")
  override def timer(name: String, millis: Long): Unit = send(s"$name:$millis|ms")
}

/** Local-development sink (reference LoggingDeadLetterQueue's sibling
  * pattern): prints metric lines. */
final class LoggingMetricsSink extends MetricsSink {
  override def counter(name: String, value: Long): Unit = println(s"[metric] $name:$value|c")
  override def gauge(name: String, value: Long): Unit = println(s"[metric] $name:$value|g")
  override def timer(name: String, millis: Long): Unit = println(s"[metric] $name:$millis|ms")
}

/** In-memory sink for tests. */
final class RecordingMetricsSink extends MetricsSink {
  val counters = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
  val gauges = scala.collection.mutable.Map.empty[String, Long]
  val timers = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
  override def counter(name: String, value: Long): Unit =
    synchronized { counters(name) = counters(name) + value }
  override def gauge(name: String, value: Long): Unit = synchronized { gauges(name) = value }
  override def timer(name: String, millis: Long): Unit = synchronized { timers += name -> millis }
}

object IngestMetrics {
  // reference metric names, metrics.rs:223-330
  val MessageDeserialized = "messages.deserialization.completed"
  val MessageDeserializationFailed = "messages.deserialization.failed"
  val MessageTransformed = "messages.transform.completed"
  val MessageTransformFailed = "messages.transform.failed"
  val MessageSize = "messages.size"
  val RecordBatchStarted = "recordbatch.started"
  val RecordBatchCompleted = "recordbatch.completed"
  val RecordBatchWriteDuration = "recordbatch.write_duration"
  val DeltaWriteStarted = "delta.write.started"
  val DeltaWriteCompleted = "delta.write.completed"
  val DeltaWriteFailed = "delta.write.failed"
  /** A batch the table's txn already covers was skipped, not written. */
  val DeltaWriteReplaySkipped = "delta.write.replay_skipped"
  val DeltaWriteDuration = "delta.write.duration"
  val BufferLagTotal = "buffer.lag.total"
  val BufferLagMax = "buffer.lag.max"
  val BufferLagMin = "buffer.lag.min"

  /** Emit per-batch counters from the Observation row collected during the
    * Delta write (keys: messages, deser_failed, transform_failed, bytes —
    * the aggregates `PipelineStages.split` observes). */
  def emitBatch(sink: MetricsSink, observed: Map[String, Any],
                writeMillis: Long): Unit = {
    def n(key: String): Long = observed.get(key) match {
      case Some(v: Long) => v
      case Some(v: Number) => v.longValue()
      case _ => 0L
    }
    val messages = n("messages")
    val deserFailed = n("deser_failed")
    val transformFailed = n("transform_failed")
    sink.counter(MessageDeserialized, messages - deserFailed)
    sink.counter(MessageDeserializationFailed, deserFailed)
    sink.counter(MessageTransformed, messages - deserFailed - transformFailed)
    sink.counter(MessageTransformFailed, transformFailed)
    sink.gauge(MessageSize, if (messages > 0) n("bytes") / math.max(messages, 1) else 0L)
    sink.counter(RecordBatchStarted)
    sink.counter(RecordBatchCompleted)
    sink.timer(RecordBatchWriteDuration, writeMillis)
    sink.counter(DeltaWriteStarted)
    sink.counter(DeltaWriteCompleted)
    sink.timer(DeltaWriteDuration, writeMillis)
  }
}

/** Streaming listener → consumer-lag gauges (reference buffer_lag /
  * delta_lag, metrics.rs:104-136). The Kafka source reports
  * {min,max,avg}OffsetsBehindLatest in its progress metrics.
  *
  * Listeners are SESSION-global: without the `queryId` scope two ingest
  * queries would overwrite each other's gauges, and a restarted query
  * would emit every metric once per registration. Set `scopeTo` after
  * `start()` to bind the listener to one query; it deregisters itself
  * when that query terminates. */
final class IngestMetricsListener(sink: MetricsSink,
                                  sessionForRemoval: Option[org.apache.spark.sql.SparkSession] = None)
    extends StreamingQueryListener {
  import StreamingQueryListener._

  @volatile private var queryId: Option[java.util.UUID] = None
  def scopeTo(id: java.util.UUID): Unit = queryId = Some(id)

  override def onQueryStarted(event: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(event: QueryTerminatedEvent): Unit =
    if (queryId.contains(event.id))
      sessionForRemoval.foreach(_.streams.removeListener(this))

  override def onQueryProgress(event: QueryProgressEvent): Unit = {
    val p = event.progress
    if (queryId.exists(_ != p.id)) return
    sink.gauge("stream.inputRowsPerSecond", p.inputRowsPerSecond.toLong)
    sink.gauge("stream.numInputRows", p.numInputRows)
    p.sources.foreach { s =>
      val m = s.metrics
      if (m != null) {
        Option(m.get("maxOffsetsBehindLatest")).foreach(v =>
          sink.gauge(IngestMetrics.BufferLagMax, v.toLong))
        Option(m.get("minOffsetsBehindLatest")).foreach(v =>
          sink.gauge(IngestMetrics.BufferLagMin, v.toLong))
        Option(m.get("avgOffsetsBehindLatest")).foreach(v =>
          sink.gauge(IngestMetrics.BufferLagTotal, v.toDouble.toLong))
      }
    }
  }
}
