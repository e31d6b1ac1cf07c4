package graft.streaming

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec
import graft.delta.DeltaTable

/** The frames one micro-batch writes: the staged message path (decode →
  * transforms → coercions) must run once per message per write job, and
  * a replayed batch must neither run a job nor leave its observation
  * registered with the session. */
class ProcessBatchSpec extends SparkSpec {
  import spark.implicits._

  /** The web_requests table (FIXTURES.md §1) and the reference transforms. */
  private val schema = StructType(Seq(
    StructField("meta", StructType(Seq(
      StructField("producer", StructType(Seq(StructField("timestamp", StringType)))),
      StructField("kafka", StructType(Seq(
        StructField("offset", LongType),
        StructField("topic", StringType),
        StructField("partition", IntegerType))))))),
    StructField("method", StringType),
    StructField("session_id", StringType),
    StructField("status", IntegerType),
    StructField("url", StringType),
    StructField("uuid", StringType),
    StructField("date", StringType)))
  private val transforms = Seq(
    "date" -> "substr(meta.producer.timestamp, `0`, `10`)",
    "meta.kafka.offset" -> "kafka.offset",
    "meta.kafka.topic" -> "kafka.topic",
    "meta.kafka.partition" -> "kafka.partition")

  private def message(i: Int, status: String): String =
    s"""{"meta": {"producer": {"timestamp": "2021-03-24T15:06:17.321710+00:00"}},
       | "method": "GET", "session_id": "s$i", "status": $status,
       | "url": "http://www.example.org/$i", "uuid": "u$i"}""".stripMargin

  private def batch: DataFrame = Seq(
    (0L, message(0, "200")), (1L, message(1, "404")),
    (2L, message(2, "\"n/a\"")), (3L, "not json")).toDF("offset", "value")
    .select(col("value").cast(BinaryType).as("value"), lit(0).as("partition"),
      col("offset"), lit("web_requests").as("topic"),
      lit(1636668718000L).as("timestamp"), lit(0).as("timestampType"))

  private def parses(df: DataFrame): Int =
    df.queryExecution.sparkPlan.collect { case p => p.expressions.map(_.collect {
      case s: StaticInvoke if s.functionName == "parseJson" => s }.size).sum }.sum

  test("plan pin: the ok and dead frames parse each message once") {
    // a scanned source, as a Kafka micro-batch is: the optimizer would
    // evaluate every projection over a local Seq before planning
    val (_, ok, dead) = PipelineStages.split(batch.localCheckpoint(), schema,
      IngestOptions(appId = "pin", transforms = transforms))
    // append co-locates a partition value in one task before writing
    val okWritten = ok.repartition(col("date"))
    assert(parses(okWritten) === 1, okWritten.queryExecution.sparkPlan.treeString)
    assert(parses(dead) === 1, dead.queryExecution.sparkPlan.treeString)
    assert(okWritten.count() === 2L)
    assert(dead.count() === 2L)
  }

  test("replay of a committed batch: no job, no wait, no second counters, nothing left registered") {
    val table = DeltaTable.forPath(spark, tmpDir("replay-table")).create(schema, Seq("date"))
    val dlqTable = DeltaTable.forPath(spark, tmpDir("replay-dlq"))
      .create(PipelineStages.DeadLetterSchema)
    val sink = new RecordingMetricsSink
    val opts = IngestOptions(appId = "replay", transforms = transforms,
      metricsSink = Some(sink))
    val dlq = new DeltaDeadLetterSink(dlqTable, opts.appId, Nil)
    IngestPipeline.processBatch(batch, 0L, table, dlq, opts)
    assert(sink.counters(IngestMetrics.MessageDeserialized) === 3L)
    assert(sink.counters(IngestMetrics.MessageTransformFailed) === 1L)

    val versions = (table.snapshot.version, dlqTable.snapshot.version)
    val counters = sink.counters.toMap
    val timers = sink.timers.size
    val before = registeredObservations()
    // the restarted query hands the same batch id to processBatch again
    Await.result(Future(IngestPipeline.processBatch(batch, 0L, table, dlq, opts)), 60.seconds)
    assert((table.snapshot.version, dlqTable.snapshot.version) === versions)
    assert(table.toDF.count() === 2L)
    assert(dlqTable.toDF.count() === 2L)
    assert(sink.counters.toMap === counters)
    assert(sink.timers.size === timers)
    assert(registeredObservations() === before)
  }

  /** Observations the session still waits to fire (Spark drops one only
    * when a job computing it succeeds). */
  private def registeredObservations(): Int = {
    val manager = spark.getClass.getMethod("observationManager").invoke(spark)
    val f = manager.getClass.getDeclaredField("observations")
    f.setAccessible(true)
    f.get(manager).asInstanceOf[java.util.Map[_, _]].size
  }
}
