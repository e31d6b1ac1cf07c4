package graft.streaming

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.expressions.variant.{SchemaOfVariant, VariantGet}
import org.apache.spark.sql.execution.{InputAdapter, ProjectExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec
import graft.delta.DeltaTable

/** The frames one micro-batch writes: the staged message path (decode →
  * transforms → coercions) must run once per message per write job, a
  * replayed batch must neither run a job nor leave its observation
  * registered with the session, and transform outputs land, keep the
  * message's own value when null, or dead-letter the row alone. */
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

  private def variantGets(df: DataFrame): Seq[VariantGet] =
    df.queryExecution.sparkPlan.collect { case p => p.expressions.flatMap(_.collect {
      case g: VariantGet => g }) }.flatten

  /** The plan's projections that read the message VARIANT: none may fall
    * back from codegen, and each must run inside a whole-stage codegen
    * stage (not behind one of its InputAdapters). */
  private def assertStagedInCodegen(df: DataFrame): Unit = {
    val plan = df.queryExecution.executedPlan
    def stage(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: InputAdapter => Nil
      case other => other +: other.children.flatMap(stage)
    }
    val inCodegen = plan.collect { case w: WholeStageCodegenExec => stage(w.child) }.flatten
    val staged = plan.collect {
      case p: ProjectExec if p.projectList.exists(_.exists(_.isInstanceOf[VariantGet])) => p }
    assert(staged.nonEmpty, plan.treeString)
    staged.foreach { p =>
      assert(!p.projectList.exists(_.exists(_.isInstanceOf[CodegenFallback])), p.treeString)
      assert(inCodegen.exists(_ eq p), plan.treeString)
    }
  }

  test("plan pin: each schema path is read once, inside whole-stage codegen") {
    val (_, ok, dead) = PipelineStages.split(batch.localCheckpoint(), schema,
      IngestOptions(appId = "pin", transforms = transforms))
    // the one JMESPath path of the transforms (the kafka.* ones read columns)
    val transformPaths = Set("$.meta.producer.timestamp")
    val schemaPaths = 13 // meta, its 2 structs and their 4 leaves, 6 top-level leaves
    Seq(ok.repartition(col("date")), dead).foreach { df =>
      val (fromTransforms, fromSchema) = variantGets(df).filter(_.path.toString != "$")
        .partition(g => transformPaths.contains(g.path.toString))
      // a schema path is read once, from its parent's column; a transform
      // path is one expression over the raw message (shared by the
      // transform's value and its failure test)
      val repeated = fromSchema.groupBy(_.canonicalized).filter(_._2.size > 1)
      assert(repeated.isEmpty, repeated.keys.map(_.sql).mkString("\n"))
      assert(fromSchema.size <= schemaPaths, df.queryExecution.sparkPlan.treeString)
      assert(fromTransforms.map(_.canonicalized).distinct.size <= transformPaths.size)
      // atomic leaves and type tests are VariantLeaf reads: no per-value
      // Literal/Cast trees (an atomic-target VariantGet), no schema string
      val atomic = variantGets(df).filter(_.targetType != VariantType)
      assert(atomic.isEmpty, atomic.map(_.sql).mkString("\n"))
      val plan = df.queryExecution.sparkPlan
      val schemaOf = plan.collect { case p => p.expressions.flatMap(_.collect {
        case s: SchemaOfVariant => s }) }.flatten
      assert(schemaOf.isEmpty, plan.treeString)
    }
    assertStagedInCodegen(ok)
    assertStagedInCodegen(dead)
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
    // the batch's counters are not emitted again: only the skip counts
    assert(sink.counters.toMap === counters + (IngestMetrics.DeltaWriteReplaySkipped -> 1L))
    assert(sink.timers.size === timers)
    assert(registeredObservations() === before)

    // a checkpoint behind the table: batch 0 again after batch 1 committed
    IngestPipeline.processBatch(batch, 1L, table, dlq, opts)
    val afterOne = table.snapshot.version
    IngestPipeline.processBatch(batch, 0L, table, dlq, opts)
    assert(table.snapshot.version === afterOne)
    assert(sink.counters(IngestMetrics.DeltaWriteReplaySkipped) === 2L)
  }

  /** Ingest `values` (offsets 0, 1, …) with `transforms` into a fresh
    * web_requests table and Delta DLQ; (good rows by uuid, dead letters). */
  private def ingest(values: Seq[String], transforms: Seq[(String, String)],
                     sink: MetricsSink = new RecordingMetricsSink)
      : (Map[String, org.apache.spark.sql.Row], Seq[org.apache.spark.sql.Row]) = {
    val table = DeltaTable.forPath(spark, tmpDir("stage-table")).create(schema)
    val dlqTable = DeltaTable.forPath(spark, tmpDir("stage-dlq"))
      .create(PipelineStages.DeadLetterSchema)
    val opts = IngestOptions(appId = "stage", transforms = transforms,
      metricsSink = Some(sink))
    val batch = values.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("offset", "value")
      .select(col("value").cast(BinaryType).as("value"), lit(3).as("partition"),
        col("offset"), lit("web_requests").as("topic"),
        lit(1636668718000L).as("timestamp"), lit(0).as("timestampType"))
    IngestPipeline.processBatch(batch, 0L, table,
      new DeltaDeadLetterSink(dlqTable, opts.appId, Nil), opts)
    (table.toDF.collect().map(r => r.getAs[String]("uuid") -> r).toMap,
      dlqTable.toDF.collect().toSeq)
  }

  test("meta.kafka is filled on every good row, with or without a meta object") {
    val noMeta = """{"method": "GET", "status": 200, "uuid": "bare"}"""
    val (rows, dead) = ingest(Seq(message(0, "200"), noMeta), transforms)
    assert(dead.isEmpty, dead.mkString("; "))
    Seq("u0" -> 0L, "bare" -> 1L).foreach { case (uuid, offset) =>
      val kafka = rows(uuid).getAs[org.apache.spark.sql.Row]("meta")
        .getAs[org.apache.spark.sql.Row]("kafka")
      assert(kafka != null, s"$uuid: meta.kafka is null")
      assert((kafka.getAs[Long]("offset"), kafka.getAs[String]("topic"),
        kafka.getAs[Int]("partition")) === ((offset, "web_requests", 3)), uuid)
    }
    assert(rows("u0").getAs[String]("date") === "2021-03-24")
    assert(rows("u0").getAs[org.apache.spark.sql.Row]("meta")
      .getAs[org.apache.spark.sql.Row]("producer").getString(0) ===
      "2021-03-24T15:06:17.321710+00:00")
    assert(rows("bare").isNullAt(rows("bare").fieldIndex("date")))
  }

  test("a null or JSON-null transform result keeps the message's own value") {
    val keeps = Seq(
      "status" -> "to_number(code)", // JMESPath: null for a non-number
      "url" -> "alt_url",
      "session_id" -> "kafka.topic")
    val (rows, dead) = ingest(Seq(
      """{"uuid": "a", "status": 200, "code": "abc", "url": "own", "alt_url": null}""",
      """{"uuid": "b", "status": 200, "url": "own"}""",
      """{"uuid": "c", "status": 200, "code": "404", "url": "own", "alt_url": "alt"}"""),
      keeps)
    assert(dead.isEmpty, dead.mkString("; "))
    def of(uuid: String) = (rows(uuid).getAs[Int]("status"), rows(uuid).getAs[String]("url"))
    assert(of("a") === ((200, "own")))
    assert(of("b") === ((200, "own")))
    assert(of("c") === ((404, "alt")))
    assert(rows.values.forall(_.getAs[String]("session_id") == "web_requests"))
  }

  test("a transform output its column cannot hold dead-letters that row only") {
    val sink = new RecordingMetricsSink
    val (rows, dead) = ingest(Seq(
      """{"uuid": "bad", "method": "GET", "status": 200}""",
      """{"uuid": "ok", "status": 201}"""),
      Seq("status" -> "substr(method, `0`, `3`)"), sink)
    assert(rows.keySet === Set("ok"))
    assert(rows("ok").getAs[Int]("status") === 201)
    assert(dead.map(_.getAs[String]("error")) === Seq("status: cannot coerce to int: \"GET\""))
    assert(sink.counters(IngestMetrics.MessageTransformFailed) === 1L)
  }

  test("a bad function argument dead-letters as a transform failure") {
    val sink = new RecordingMetricsSink
    val (rows, dead) = ingest(Seq(
      """{"uuid": "bad", "ms": "abc"}""",
      """{"uuid": "ok", "ms": 1636668718123}""",
      """{"uuid": "none"}"""),
      Seq("url" -> "epoch_millis_to_iso8601(ms)"), sink)
    assert(rows.keySet === Set("ok", "none"))
    assert(rows("ok").getAs[String]("url") === "2021-11-11T22:11:58.123Z")
    assert(rows("none").isNullAt(rows("none").fieldIndex("url")))
    assert(dead.map(_.getAs[String]("error")) === Seq("url: transform failed"))
    assert(dead.head.getAs[String]("json_string").contains("abc"))
    assert(sink.counters(IngestMetrics.MessageTransformFailed) === 1L)
  }

  test("a scalar where a struct is wanted dead-letters, though a transform targets beneath it") {
    val sink = new RecordingMetricsSink
    val (rows, dead) = ingest(Seq(
      """{"meta": "x", "uuid": "scalar", "status": 200}""", message(1, "200")), transforms, sink)
    assert(rows.keySet === Set("u1"))
    assert(dead.map(_.getAs[String]("error")) === Seq("meta: cannot coerce to struct: \"x\""))
    assert(dead.head.getAs[String]("json_string").contains("scalar"))
    assert(sink.counters(IngestMetrics.MessageTransformFailed) === 1L)
  }

  test("a dead letter's error is its transform failures, then its field errors in schema order") {
    val sink = new RecordingMetricsSink
    val (rows, dead) = ingest(Seq(
      """{"uuid": "bad", "status": "n/a", "ms": "abc", "meta": 5}""",
      """{"uuid": "ok", "status": 200}"""),
      Seq("url" -> "epoch_millis_to_iso8601(ms)", "session_id" -> "epoch_seconds_to_iso8601(ms)"),
      sink)
    assert(rows.keySet === Set("ok"))
    assert(dead.map(_.getAs[String]("error")) === Seq(
      "url: transform failed; session_id: transform failed; " +
        "meta: cannot coerce to struct: 5; status: cannot coerce to int: \"n/a\""))
    assert(sink.counters(IngestMetrics.MessageTransformFailed) === 1L)
  }

  test("a batch's compaction leaves untouched one-file partitions alone") {
    val table = DeltaTable.forPath(spark, tmpDir("lone-files")).create(schema, Seq("date"))
    def rows(uuid: String, date: String) = Seq((uuid, date)).toDF("uuid", "date")
      .select(schema.fieldNames.map(n => if (n == "uuid" || n == "date") col(n)
        else lit(null).cast(schema(n).dataType).as(n)).toSeq: _*)
    // 2021-03-19 holds two small files, but the batch does not write it
    Seq("2021-03-19", "2021-03-19", "2021-03-20", "2021-03-21", "2021-03-22", "2021-03-24")
      .zipWithIndex.foreach { case (d, i) => table.append(rows(s"seed-$i", d)) }
    def filesOf(date: String) =
      table.snapshot.files.filter(_.partitionValues("date") == date).map(_.path).toSet
    val untouched = Seq("2021-03-19", "2021-03-20", "2021-03-21", "2021-03-22")
      .map(d => d -> filesOf(d))
    assert(untouched.head._2.size === 2)
    IngestPipeline.processBatch(batch, 0L, table, NoopDeadLetterSink,
      IngestOptions(appId = "lone", transforms = transforms, minBytesPerFile = Some(1L << 20)))
    untouched.foreach { case (d, files) => assert(filesOf(d) === files, d) }
    // the batch's own partition held two small files: they are compacted
    assert(filesOf("2021-03-24").size === 1)
    assert(table.toDF.count() === 8L)
    assert(table.log.history(Some(1)).head._2.exists(_.operation === "OPTIMIZE"))
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
