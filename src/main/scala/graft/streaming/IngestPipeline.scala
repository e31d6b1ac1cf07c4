package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{ColumnBridge, StreamBridge}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.coercions.Coercions
import graft.delta.{DeltaTable, PostCommitFailure}
import graft.serialization.Decoders
import graft.transforms.{JmesPath, KafkaMeta}

/** Message wire format (reference MessageFormat × SchemaSource,
  * /root/reference/src/lib.rs:213-240). */
sealed trait MessageFormat
object MessageFormat {
  case object Json extends MessageFormat
  case object JsonGzip extends MessageFormat
  case object JsonRegistry extends MessageFormat
  final case class AvroContainer(readerSchema: Option[String] = None) extends MessageFormat
  final case class AvroSoe(schemas: Seq[String]) extends MessageFormat
  final case class AvroRegistry(schemas: graft.serialization.SchemaSource) extends MessageFormat
  object AvroRegistry {
    /** Pre-resolved id→schema map (the no-egress form). */
    def apply(schemaById: Map[Int, String]): AvroRegistry =
      AvroRegistry(graft.serialization.MapSchemaSource(schemaById))
  }
}

/** Reference IngestOptions (/root/reference/src/lib.rs:258-329), Spark-shaped:
  * buffering knobs become trigger/offset-rate options; exactly-once comes
  * from the checkpoint + Delta txn. */
final case class IngestOptions(
    /** The Delta `txn` app id (reference `app_id`): each committed batch
      * records `(appId, batchId)`, and a batch at or below the recorded
      * id is skipped as a replay. A fresh [[checkpointLocation]] counts
      * batch ids from 0 again, so it needs a fresh `appId` too — under
      * the old one its first batches are skipped unwritten. */
    appId: String = "kafka_delta_ingest",
    transforms: Seq[(String, String)] = Nil,
    format: MessageFormat = MessageFormat.Json,
    dlqTablePath: Option[String] = None,
    dlqTransforms: Seq[(String, String)] = Nil,
    /** flush deadline → micro-batch trigger (reference default 300 s) */
    allowedLatency: java.time.Duration = java.time.Duration.ofSeconds(300),
    /** rows per batch cap → maxOffsetsPerTrigger (reference default 5000) */
    maxMessagesPerBatch: Long = 5000L,
    /** bounded run: consume to current end then stop (S5) */
    endAtLastOffsets: Boolean = false,
    /** Structured Streaming checkpoint; a fresh one needs a fresh
      * [[appId]] (see there). */
    checkpointLocation: Option[String] = None,
    /** M1/M2: statsd-style sink fed per batch + per progress event */
    metricsSink: Option[MetricsSink] = None,
    /** B3 (`--min_bytes_per_file`, reference default 128 MiB): when set,
      * files smaller than this in the partitions a batch wrote are
      * auto-compacted once the batch commits (`DeltaTable.append`'s
      * `compactBelow`) — the Spark analog of the reference's
      * accumulate-until-min-bytes file flush (a micro-batch sink can't
      * hold one file open across triggers, SURVEY §7.7). */
    minBytesPerFile: Option[Long] = None)

/** The reference's whole per-message path (SURVEY §3.2) as one declarative
  * column pipeline: decode (D1–D7) → transforms (T1–T8) → coercions
  * (C1–C3, transform outputs included) → ok/dead-letter split (E1–E3).
  * Stateless, so it applies identically to a batch DataFrame or each
  * streaming micro-batch.
  */
object PipelineStages {

  /** DeadLetter table schema (reference src/dead_letters.rs:26-38). */
  val DeadLetterSchema: StructType = StructType(Seq(
    StructField("base64_bytes", StringType),
    StructField("json_string", StringType),
    StructField("error", StringType),
    StructField("timestamp", TimestampType)))

  /** Decode the raw `value` column (binary or string) to JSON text per the
    * configured format; null result = deserialization failure (→ DLQ). */
  def decodeToJson(value: Column, format: MessageFormat): Column = format match {
    case MessageFormat.Json => value.cast(StringType)
    case MessageFormat.JsonGzip => Decoders.gunzip(value.cast(BinaryType)).cast(StringType)
    case MessageFormat.JsonRegistry => Decoders.registryJson(value.cast(BinaryType))
    case MessageFormat.AvroContainer(rs) => Decoders.avroContainer(value.cast(BinaryType), rs)
    case MessageFormat.AvroSoe(schemas) => Decoders.avroSoe(value.cast(BinaryType), schemas)
    case MessageFormat.AvroRegistry(src) => Decoders.avroRegistry(value.cast(BinaryType), src)
  }

  /** Apply the full message path in the reference's order (src/lib.rs:
    * 827-832): decode, evaluate each transform over the raw message,
    * then coerce the message and the transform outputs in one walk
    * ([[Coercions.coerce]]). Input df must carry `value` plus (when
    * kafka meta transforms are used) the Kafka source columns. Returns df
    * with: `msg` (typed struct per schema), `error` (transform failures,
    * then field errors, `"; "`-joined; `""` for a clean row),
    * `decode_failed` (boolean), `_json` (decoded text).
    */
  def apply(df: DataFrame, schema: StructType, opts: IngestOptions): DataFrame = {
    // D7: empty-payload skip (logged+dropped in the reference, not DLQ'd)
    val nonEmpty = df.filter(col("value").isNotNull && length(col("value")) > 0)

    val json = decodeToJson(col("value"), opts.format)
    val withJson = nonEmpty.withColumn("_json", json)
    val v = try_parse_json(col("_json"))
    val withVar = withJson.withColumn("_v", v)
      .withColumn("decode_failed", col("_json").isNull || col("_v").isNull)

    // transforms read the raw message (or a Kafka column); a later spec
    // for the same target wins where it is non-null. A real Kafka
    // source's `timestamp` is TimestampType; the ms-long harness shape
    // takes the numeric path — resolve from the frame
    val tsType = df.schema.find(_.name == KafkaMeta.TimestampCol).map(_.dataType)
    val outs = opts.transforms.map { case (target, source) =>
      requireTarget(schema, target)
      val src = source.trim
      target -> (if (KafkaMeta.all.contains(src)) JmesPath.Lowered(KafkaMeta.column(src, tsType))
                 else JmesPath.lowerOverVariant(JmesPath.parse(src), col("_v")))
    }
    val set = outs.foldLeft(Map.empty[String, Column]) { case (m, (t, out)) =>
      m.updated(t, coalesce(out.value.cast(VariantType), m.getOrElse(t, lit(null)))) }
    // E3: a function that failed on its arguments dead-letters the row
    val failed = outs.map { case (t, out) => when(out.failed, lit(s"$t: transform failed")) }
    Coercions.coerce(withVar, col("_v"), schema, set, failed)
  }

  /** A transform target must name a field of the table schema, through
    * structs only. */
  private def requireTarget(schema: StructType, path: String): Unit =
    path.split('.').foldLeft(Option(schema: DataType)) {
      case (Some(st: StructType), name) => st.fields.find(_.name == name).map(_.dataType)
      case _ => None
    }.getOrElse(throw new IllegalArgumentException(
      s"transform target '$path' not in table schema ${schema.simpleString}"))

  /** Stage a batch and split it into (observation, ok, deadLetters): ok rows
    * have clean decode and no coercion errors; dead rows carry the
    * reference DeadLetter shape (E2 deserialization failure → base64
    * bytes; E3/E4 transform/coercion failure → json text + error).
    *
    * The observation (the M1 counters [[IngestMetrics.emitBatch]] reads)
    * is also the evaluation barrier. The optimizer never pushes a filter
    * below an observed aggregate, since that would change what it counts,
    * so both filters read the staged columns and each job decodes and
    * coerces a message once. Without it, PushPredicateThroughNonJoin
    * moves the filters onto the scan and inlines every staged alias: each
    * written plan of the web_requests fixture carried `parseJson` 30 times.
    * Every consumer of the staged frame must read it above this node. */
  def split(batch: DataFrame, schema: StructType,
            opts: IngestOptions): (Observation, DataFrame, DataFrame) = {
    val obs = Observation()
    val staged = apply(batch, schema, opts).observe(obs,
      count(lit(1)).as("messages"),
      count(when(col("decode_failed"), lit(1))).as("deser_failed"),
      count(when(!col("decode_failed") && col("error") =!= "", lit(1))).as("transform_failed"),
      coalesce(sum(octet_length(col("value").cast(BinaryType))), lit(0L)).as("bytes"))
    val okRows = staged.filter(!col("decode_failed") && col("error") === "")
      .select(col("msg.*"))
    val dead = staged.filter(col("decode_failed") || col("error") =!= "")
      .select(
        when(col("decode_failed"), base64(col("value").cast(BinaryType))).as("base64_bytes"),
        when(!col("decode_failed"), col("_json")).as("json_string"),
        when(col("decode_failed"), lit("deserialization failed"))
          .otherwise(col("error")).as("error"),
        ColumnBridge.wrap(BatchTimestamp(
          DateTimeUtils.instantToMicros(java.time.Instant.now()))).as("timestamp"))
    (obs, okRows, dead)
  }
}

/** End-to-end ingestion: a Kafka-shaped source (streaming or batch) through
  * PipelineStages into a Delta table with per-batch idempotent txn commits
  * — the reference's run loop (SURVEY §3.1) collapsed into Structured
  * Streaming foreachBatch. */
object IngestPipeline {

  /** Start a streaming ingest query. `source` must be a streaming DataFrame
    * with at least a `value` column (Kafka source shape). */
  def start(spark: SparkSession, source: DataFrame, tablePath: String,
            opts: IngestOptions): StreamingQuery = {
    val table = DeltaTable.forPath(spark, tablePath)
    val dlq = DeadLetterSinks.fromOptions(spark, opts)
    val listener = opts.metricsSink.map { s =>
      val l = new IngestMetricsListener(s, Some(spark))
      spark.streams.addListener(l)
      l
    }
    val writer = source.writeStream
      .trigger(if (opts.endAtLastOffsets) Trigger.AvailableNow()
               else Trigger.ProcessingTime(opts.allowedLatency.toMillis))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, table, dlq, opts)
      }
    opts.checkpointLocation.foreach(writer.option("checkpointLocation", _))
    val query = writer.start()
    // scope the listener to THIS query: listeners are session-global, and
    // unscoped gauges from concurrent/restarted queries would interleave
    listener.foreach(_.scopeTo(query.id))
    query
  }

  /** Kafka → Delta, the reference's one entry point (src/lib.rs:358-362):
    * assembles the source from [[KafkaSourceConfig]] (S1/S3/S4) honoring
    * maxMessagesPerBatch (B2) and starts the ingest query. */
  def startFromKafka(spark: SparkSession, kafka: KafkaSourceConfig,
                     tablePath: String, opts: IngestOptions): StreamingQuery = {
    val cfg =
      if (kafka.maxMessagesPerBatch.isEmpty)
        kafka.copy(maxMessagesPerBatch = Some(opts.maxMessagesPerBatch))
      else kafka
    // S4 guard: refuse a seek that regresses behind checkpointed offsets
    // BEFORE any stream state is created (reference offsets.rs:36-102)
    OffsetGuard.validate(cfg, opts.checkpointLocation,
      spark.sessionState.newHadoopConf())
    start(spark, cfg.load(spark), tablePath, opts)
  }

  /** One micro-batch: stage → split → transactional append (idempotent via
    * txn appId/batchId, reference X1/§2.8).
    *
    * Schema drift (X3): the table schema is RE-RESOLVED from the Delta
    * snapshot on every batch — a metaData commit made by another process
    * mid-stream (the reference's schema_update_tests.rs:23-113 scenario)
    * takes effect on the next batch: new nullable columns are null-filled
    * for messages that lack them (the coercion does this naturally),
    * matching the reference writer's schema-reload behavior
    * (/root/reference/src/writer.rs:370-387). */
  def processBatch(batch: DataFrame, batchId: Long, table: DeltaTable,
                   dlq: DeadLetterSink, opts: IngestOptions): Unit = {
    // current snapshot's schema, not start-time's; the append commits on
    // top of the same read. The observation is attached on every batch,
    // sink or not: it is the node that keeps the ok and dead filters above
    // the staged frame (see split), and the M1 counters ride the write job
    // as its aggregates (zero extra jobs).
    val snap = table.snapshot
    val (obs, ok, dead) = PipelineStages.split(batch, table.schemaOf(snap), opts)
    val t0 = System.nanoTime()
    // obs.get blocks until the write job fires it; safe only when the
    // append actually committed (an idempotent skip may run no job)
    def landed(): Unit = opts.metricsSink.foreach(s =>
      IngestMetrics.emitBatch(s, obs.get, (System.nanoTime() - t0) / 1000000L))
    try {
      val committed =
        try table.appendAt(snap, ok, Some(opts.appId), batchId, "STREAMING UPDATE",
          mergeSchema = false, compactBelow = opts.minBytesPerFile)
        catch {
          // the version is durable and the batch landed; only post-commit
          // work failed, so this is not a failed write
          case e: PostCommitFailure => landed(); throw e
          case e: Throwable =>
            opts.metricsSink.foreach(_.counter(IngestMetrics.DeltaWriteFailed)); throw e
        }
      if (committed >= 0) landed() else replaySkipped(table, batchId, opts)
      dlq.write(dead, batchId)
    } finally StreamBridge.forget(batch.sparkSession, obs)
  }

  private val logger = org.slf4j.LoggerFactory.getLogger(getClass)

  /** `append` skipped batch `batchId`: the table's txn for `opts.appId`
    * is already at or past it. Say which case this is, and count it. */
  private def replaySkipped(table: DeltaTable, batchId: Long, opts: IngestOptions): Unit = {
    val stored = table.txnVersion(opts.appId).getOrElse(-1L)
    val why =
      if (stored == batchId) "a crash replay of a committed batch; its rows are in the table"
      else s"the streaming checkpoint is behind the table (stored $stored > batch $batchId): " +
        "this batch's messages were NOT written — a fresh checkpoint needs a fresh app_id"
    logger.warn(s"app_id '${opts.appId}': batch $batchId skipped, stored txn version " +
      s"$stored — $why")
    opts.metricsSink.foreach(_.counter(IngestMetrics.DeltaWriteReplaySkipped))
  }

  /** Flagship batch-mode run (SURVEY §7.3, the reference's canonical
    * web_requests example re-expressed): ingest sf events as JSON messages
    * with a substr-derived `date` partition + kafka offset meta, then read
    * the Delta table back. */
  def flagship(spark: SparkSession, sfDir: String): DataFrame = {
    val events = graft.Tables.events(spark, sfDir)
    // A real Kafka topic spreads messages across partitions, and Spark's
    // Kafka source maps partitions → tasks; the single small parquet file
    // behind this simulation collapses to ONE input split. Read as is, it
    // runs the staged projection (decode+transform+coerce) in one task,
    // serializing the message path on one core (measured 5.4 s vs 1.2 s
    // at sf0.1). The localCheckpoint below is the "this is a source"
    // lineage barrier: it materializes the messages across one partition
    // per core, exactly the shape a Kafka micro-batch arrives in, so the
    // scan that builds them is not part of the ingest jobs.
    val kafkaParallelism = spark.sparkContext.defaultParallelism
    val kafkaShaped0 = events.select(
      to_json(struct(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast(LongType).as("k"),
        graft.transforms.TimeFormat.iso8601FromEpoch(unix_micros(col("ts")), "us").as("modified")
      )).as("value"),
      (col("event_id") % 4).cast(IntegerType).as("partition"),
      col("event_id").as("offset"),
      lit("events").as("topic"),
      unix_millis(col("ts")).as("timestamp"),
      lit(0).as("timestampType"))
    val kafkaShaped = kafkaShaped0.repartition(kafkaParallelism).localCheckpoint()

    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("k", LongType),
      StructField("modified", StringType),
      StructField("date", StringType),
      StructField("_kafka_offset", LongType)))

    val dir = graft.Scratch.dir("graft-flagship")
    val table = DeltaTable.forPath(spark, dir)
      .create(schema, partitionColumns = Seq("date"))
    val opts = IngestOptions(
      appId = "flagship",
      transforms = Seq(
        "date" -> "substr(modified, `0`, `10`)",
        "_kafka_offset" -> "kafka.offset"))
    processBatch(kafkaShaped, 0L, table, NoopDeadLetterSink, opts)
    table.toDF
  }
}
