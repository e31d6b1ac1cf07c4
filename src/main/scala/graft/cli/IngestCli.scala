package graft.cli

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import graft.streaming.{IngestOptions, KafkaSourceConfig, MessageFormat}

/** The reference's `kafka-delta-ingest ingest` command line, re-expressed
  * (argument names, short flags, env-var fallbacks, and defaults match
  * /root/reference/src/main.rs:334-490). Parsing is pure — broker-free and
  * unit-testable — and resolves to the [[KafkaSourceConfig]] +
  * [[IngestOptions]] pair that [[graft.streaming.IngestPipeline.startFromKafka]]
  * consumes.
  *
  * Spark-specific additions (the reference stores offsets inside the Delta
  * table; Structured Streaming keeps them in a checkpoint directory):
  *  - `--checkpoint_location PATH` — defaults to
  *    `<table_location>/_graft_checkpoint`.
  *  - `--topic_partitions N` — Spark's Kafka source needs an offset for
  *    every partition when `--seek_offsets` is used; defaults to
  *    (max seeked partition + 1) with unlisted partitions reading from
  *    earliest, mirroring the reference's auto.offset.reset fallback.
  */
final case class IngestCliConfig(
    topic: String,
    tableLocation: String,
    kafkaBrokers: String = "localhost:9092",
    consumerGroup: String = "kafka_delta_ingest",
    appId: String = "kafka_delta_ingest",
    /** parsed --seek_offsets, reference semantics: offset already SEEN —
      * the first ingested message is seek + 1 (main.rs:367-370). */
    seekOffsets: Option[Map[Int, Long]] = None,
    topicPartitions: Option[Int] = None,
    autoOffsetReset: String = "earliest",
    allowedLatencySec: Long = 300L,
    maxMessagesPerBatch: Long = 5000L,
    minBytesPerFile: Long = 134217728L,
    transforms: Seq[(String, String)] = Nil,
    dlqTableLocation: Option[String] = None,
    dlqTransforms: Seq[(String, String)] = Nil,
    /** Accepted for drop-in compatibility (-c / WRITE_CHECKPOINTS); the
      * Spark engine ALWAYS writes spec parquet checkpoints every 10th
      * commit ([[graft.delta.DeltaLog]]), so the flag is a no-op superset
      * of the reference behavior rather than a toggle. */
    writeCheckpoints: Boolean = false,
    kafkaSettings: Map[String, String] = Map.empty,
    statsdEndpoint: Option[String] = None,
    format: MessageFormat = MessageFormat.Json,
    endAtLastOffsets: Boolean = false,
    checkpointLocation: Option[String] = None) {

  /** Kafka source config: the reference seeks PAST the stored offset, so
    * Spark's inclusive `startingOffsets` begins at seek + 1. */
  def toKafkaConfig: KafkaSourceConfig = KafkaSourceConfig(
    topic = topic,
    bootstrapServers = kafkaBrokers,
    consumerGroupId = consumerGroup,
    autoOffsetReset = autoOffsetReset,
    seekOffsets = seekOffsets.map(_.map { case (p, o) => p -> (o + 1L) }),
    numPartitions = topicPartitions.orElse(
      seekOffsets.flatMap(m => m.keys.maxOption.map(_ + 1))),
    maxMessagesPerBatch = Some(maxMessagesPerBatch),
    additionalSettings = kafkaSettings)

  def toIngestOptions: IngestOptions = IngestOptions(
    appId = appId,
    transforms = transforms,
    format = format,
    dlqTablePath = dlqTableLocation,
    dlqTransforms = dlqTransforms,
    allowedLatency = java.time.Duration.ofSeconds(allowedLatencySec),
    maxMessagesPerBatch = maxMessagesPerBatch,
    endAtLastOffsets = endAtLastOffsets,
    checkpointLocation =
      Some(checkpointLocation.getOrElse(s"$tableLocation/_graft_checkpoint")),
    minBytesPerFile = Some(minBytesPerFile))
}

object IngestCli {

  final case class CliError(message: String) extends RuntimeException(message)

  val usage: String =
    """kafka-delta-ingest-spark ingest TOPIC TABLE_LOCATION [OPTIONS]
      |
      |Starts a stream that consumes from a Kafka topic and writes to a Delta table.
      |
      |  -k, --kafka BROKERS             Kafka broker connection string [localhost:9092] (env KAFKA_BROKERS)
      |  -g, --consumer_group GROUP      Consumer group [kafka_delta_ingest] (env KAFKA_CONSUMER_GROUP)
      |  -a, --app_id ID                 App ID for Delta txn actions [kafka_delta_ingest] (env APP_ID)
      |      --seek_offsets JSON         {"0":123,"1":321} — first ingested message is offset+1 (env KAFKA_SEEK_OFFSETS)
      |  -o, --auto_offset_reset POLICY  earliest | latest [earliest] (env KAFKA_AUTO_OFFSET_RESET)
      |  -l, --allowed_latency SECONDS   Max consume→write latency [300] (env ALLOWED_LATENCY)
      |  -m, --max_messages_per_batch N  Row cap per batch [5000] (env MAX_MESSAGES_PER_BATCH)
      |  -b, --min_bytes_per_file N      Target min file size; smaller files in the partitions a batch wrote auto-compact [134217728] (env MIN_BYTES_PER_FILE)
      |  -t, --transform 'P: SOURCE'     Repeatable; SOURCE = JMESPath expr or kafka.offset/partition/topic/timestamp (env TRANSFORMS)
      |      --dlq_table_location PATH   Delta table for unprocessable entities (env DLQ_TABLE_LOCATION)
      |      --dlq_transform 'P: SOURCE' Repeatable; transforms for DLQ rows (env DLQ_TRANSFORMS)
      |  -c, --checkpoints               Write Delta log checkpoints every 10th commit (env WRITE_CHECKPOINTS)
      |  -K, --kafka_setting K=V         Repeatable; extra consumer settings (TLS etc.)
      |  -s, --statsd_endpoint HOST:PORT Statsd metrics endpoint (env STATSD_ENDPOINT)
      |      --json VALUE                JSON format; '' = plain, http URL = schema-registry wire format (env JSON_REGISTRY)
      |      --avro VALUE                Avro; '' = container, path = reader .avsc, http URL = registry (env AVRO_REGISTRY)
      |      --soe-avro PATH             Avro single-object encoding; .avsc file or directory of schemas
      |  -e, --ends_at_latest_offsets    Consume to current end offsets, then stop (env ENDS_AT_LATEST_OFFSETS)
      |      --decompress_gzip           Gunzip messages before JSON parse (env DECOMPRESS_GZIP)
      |      --checkpoint_location PATH  [Spark] streaming checkpoint dir [TABLE/_graft_checkpoint]
      |      --topic_partitions N        [Spark] topic partition count, needed with --seek_offsets
      |""".stripMargin

  /** Parse `ingest ...` args with env fallbacks (env injectable for tests).
    * Throws [[CliError]] with a user-facing message on any syntax error. */
  def parse(args: Seq[String], env: Map[String, String] = sys.env): IngestCliConfig = {
    if (args.isEmpty || args.head != "ingest")
      throw CliError("expected subcommand: ingest")

    var positional = Vector.empty[String]
    var flags = Map.empty[String, String]
    var repeats = Map.empty[String, Vector[String]].withDefaultValue(Vector.empty)
    var switches = Set.empty[String]

    val valueFlags = Map(
      "-k" -> "kafka", "--kafka" -> "kafka",
      "-g" -> "consumer_group", "--consumer_group" -> "consumer_group",
      "-a" -> "app_id", "--app_id" -> "app_id",
      "--seek_offsets" -> "seek_offsets",
      "-o" -> "auto_offset_reset", "--auto_offset_reset" -> "auto_offset_reset",
      "-l" -> "allowed_latency", "--allowed_latency" -> "allowed_latency",
      "-m" -> "max_messages_per_batch", "--max_messages_per_batch" -> "max_messages_per_batch",
      "-b" -> "min_bytes_per_file", "--min_bytes_per_file" -> "min_bytes_per_file",
      "--dlq_table_location" -> "dlq_table_location",
      "-s" -> "statsd_endpoint", "--statsd_endpoint" -> "statsd_endpoint",
      "--json" -> "json", "--avro" -> "avro", "--soe-avro" -> "soe-avro",
      "--checkpoint_location" -> "checkpoint_location",
      "--topic_partitions" -> "topic_partitions")
    val repeatFlags = Map(
      "-t" -> "transform", "--transform" -> "transform",
      "--dlq_transform" -> "dlq_transform",
      "-K" -> "kafka_setting", "--kafka_setting" -> "kafka_setting")
    val switchFlags = Map(
      "-c" -> "checkpoints", "--checkpoints" -> "checkpoints",
      "-e" -> "ends_at_latest_offsets", "--ends_at_latest_offsets" -> "ends_at_latest_offsets",
      "--decompress_gzip" -> "decompress_gzip")

    var i = 1
    while (i < args.length) {
      val a = args(i)
      def value(): String = {
        if (i + 1 >= args.length) throw CliError(s"missing value for $a")
        i += 1; args(i)
      }
      if (valueFlags.contains(a)) flags += valueFlags(a) -> value()
      else if (repeatFlags.contains(a)) {
        val k = repeatFlags(a); repeats += k -> (repeats(k) :+ value())
      }
      else if (switchFlags.contains(a)) switches += switchFlags(a)
      else if (a.startsWith("-") && a != "-") throw CliError(s"unknown option $a")
      else positional :+= a
      i += 1
    }

    def opt(key: String, envName: String): Option[String] =
      flags.get(key).orElse(env.get(envName))
    def get(key: String, envName: String, default: String): String =
      opt(key, envName).getOrElse(default)
    def repeated(key: String, envName: String): Seq[String] = {
      val cli = repeats(key)
      // env form is newline-separated, like the reference's clap env lists
      if (cli.nonEmpty) cli
      else env.get(envName).toSeq.flatMap(_.split('\n')).filter(_.nonEmpty)
    }
    def switch(key: String, envName: String): Boolean =
      switches.contains(key) || env.get(envName).exists(v =>
        v.equalsIgnoreCase("true") || v == "1")
    def long(key: String, envName: String, default: Long): Long = {
      val raw = get(key, envName, default.toString)
      try raw.toLong
      catch { case _: NumberFormatException =>
        throw CliError(s"--$key expects an integer, got '$raw'") }
    }

    val topic = positional.headOption.orElse(env.get("KAFKA_TOPIC"))
      .getOrElse(throw CliError("missing required argument: topic"))
    val table = positional.lift(1).orElse(env.get("TABLE_LOCATION"))
      .getOrElse(throw CliError("missing required argument: table_location"))
    if (positional.length > 2)
      throw CliError(s"unexpected argument: ${positional(2)}")

    val reset = get("auto_offset_reset", "KAFKA_AUTO_OFFSET_RESET", "earliest")
    if (reset != "earliest" && reset != "latest")
      throw CliError(s"--auto_offset_reset must be 'earliest' or 'latest', got '$reset'")

    val statsd = opt("statsd_endpoint", "STATSD_ENDPOINT")
    statsd.foreach(parseStatsdEndpoint) // validate at parse time

    val gzip = switch("decompress_gzip", "DECOMPRESS_GZIP")
    val format = resolveFormat(
      json = opt("json", "JSON_REGISTRY"),
      avro = opt("avro", "AVRO_REGISTRY"),
      soeAvro = flags.get("soe-avro"),
      gzip = gzip)

    IngestCliConfig(
      topic = topic,
      tableLocation = table,
      kafkaBrokers = get("kafka", "KAFKA_BROKERS", "localhost:9092"),
      consumerGroup = get("consumer_group", "KAFKA_CONSUMER_GROUP", "kafka_delta_ingest"),
      appId = get("app_id", "APP_ID", "kafka_delta_ingest"),
      seekOffsets = opt("seek_offsets", "KAFKA_SEEK_OFFSETS").map(parseSeekOffsets),
      topicPartitions = flags.get("topic_partitions").map { v =>
        try v.toInt catch { case _: NumberFormatException =>
          throw CliError(s"--topic_partitions expects an integer, got '$v'") }
      },
      autoOffsetReset = reset,
      allowedLatencySec = long("allowed_latency", "ALLOWED_LATENCY", 300L),
      maxMessagesPerBatch = long("max_messages_per_batch", "MAX_MESSAGES_PER_BATCH", 5000L),
      minBytesPerFile = long("min_bytes_per_file", "MIN_BYTES_PER_FILE", 134217728L),
      transforms = repeated("transform", "TRANSFORMS").map(parseTransform),
      dlqTableLocation = opt("dlq_table_location", "DLQ_TABLE_LOCATION"),
      dlqTransforms = repeated("dlq_transform", "DLQ_TRANSFORMS").map(parseTransform),
      writeCheckpoints = switch("checkpoints", "WRITE_CHECKPOINTS"),
      kafkaSettings = repeated("kafka_setting", "KAFKA_SETTINGS")
        .map(parseKafkaSetting).toMap,
      statsdEndpoint = statsd,
      format = format,
      endAtLastOffsets = switch("ends_at_latest_offsets", "ENDS_AT_LATEST_OFFSETS"),
      checkpointLocation = flags.get("checkpoint_location"))
  }

  /** `{"0":123, "1":321}` (reference parse_seek_offsets JSON form) or the
    * `0:123,1:321` shorthand accepted by --seek_offsets env configs.
    * Non-integral offsets and an empty map are errors — Jackson's
    * asLong() would otherwise coerce garbage to 0 and silently re-ingest
    * the topic from the beginning. */
  def parseSeekOffsets(s: String): Map[Int, Long] = {
    val t = s.trim
    val parsed = try {
      if (t.startsWith("{")) {
        val node = graft.delta.Actions.mapper.readTree(t)
        node.properties().asScala.map { e =>
          if (!e.getValue.isIntegralNumber)
            throw CliError(s"--seek_offsets offset for partition ${e.getKey} " +
              s"must be an integer, got ${e.getValue}")
          e.getKey.toInt -> e.getValue.asLong()
        }.toMap
      } else KafkaSourceConfig.parseSeekOffsets(t)
    } catch {
      case e: CliError => throw e
      case _: Exception => throw CliError(
        s"""--seek_offsets expects {"partition":offset,...}, got '$s'""")
    }
    if (parsed.isEmpty)
      throw CliError("--seek_offsets must list at least one partition")
    parsed
  }

  /** "PROPERTY: SOURCE", split at the FIRST colon (sources like
    * `substr(modified,`0`,`10`)` contain none, but JMESPath pipes might). */
  def parseTransform(s: String): (String, String) = {
    val idx = s.indexOf(':')
    if (idx <= 0 || idx == s.length - 1)
      throw CliError(s"'$s' - Each transform argument must be colon delimited " +
        "and match the pattern 'PROPERTY: SOURCE'")
    (s.substring(0, idx).trim, s.substring(idx + 1).trim)
  }

  /** "HOST:PORT" (port defaults to 8125) — the ONE parser, used for both
    * parse-time validation and Main's sink construction. */
  def parseStatsdEndpoint(ep: String): (String, Int) = {
    val (host, port) = ep.lastIndexOf(':') match {
      case -1 => (ep, "8125")
      case i => (ep.substring(0, i), ep.substring(i + 1))
    }
    try (host, port.toInt)
    catch { case _: NumberFormatException =>
      throw CliError(s"--statsd_endpoint expects HOST:PORT, got '$ep'") }
  }

  /** "PROPERTY_NAME=PROPERTY_VALUE" */
  def parseKafkaSetting(s: String): (String, String) = {
    val idx = s.indexOf('=')
    if (idx <= 0 || idx == s.length - 1)
      throw CliError(s"'$s' - Each Kafka setting must be delimited by an '=' " +
        "and match the pattern 'PROPERTY_NAME=PROPERTY_VALUE'")
    (s.substring(0, idx).trim, s.substring(idx + 1).trim)
  }

  /** Mirror of the reference's format resolution (main.rs:493-510 +
    * to_schema_source): --json/--avro/--soe-avro are mutually exclusive;
    * empty or non-http --json is plain JSON; a non-http --avro is a local
    * reader-schema file; http URLs select registry wire format. Gzip
    * composes with plain JSON only (serialization.rs:31-68). */
  def resolveFormat(json: Option[String], avro: Option[String],
                    soeAvro: Option[String], gzip: Boolean): MessageFormat = {
    val chosen = Seq(json.map(_ => "json"), avro.map(_ => "avro"),
      soeAvro.map(_ => "soe-avro")).flatten
    if (chosen.length > 1)
      throw CliError(s"--json, --avro and --soe-avro are mutually exclusive " +
        s"(got ${chosen.mkString(", ")})")

    val fmt: MessageFormat = (json, avro, soeAvro) match {
      case (_, Some(v), _) =>
        if (v.isEmpty) MessageFormat.AvroContainer(None)
        else if (v.startsWith("http"))
          // live Confluent registry (main.rs to_schema_source): ids resolve
          // lazily per executor; SCHEMA_REGISTRY_USERNAME/PASSWORD/PROXY
          // env vars are captured here, at process startup, like the
          // reference's SrSettings build
          MessageFormat.AvroRegistry(graft.serialization.HttpSchemaSource(v))
        else MessageFormat.AvroContainer(Some(readFile(v)))
      case (_, _, Some(v)) =>
        val schemas = graft.serialization.Decoders.avscSchemas(existingPath(v))
        if (schemas.isEmpty) throw CliError(s"no .avsc schemas found in '$v'")
        MessageFormat.AvroSoe(schemas)
      case (Some(v), _, _) =>
        // disable_files=true for --json: non-URL values mean plain JSON
        if (v.startsWith("http")) MessageFormat.JsonRegistry
        else MessageFormat.Json
      case _ => MessageFormat.Json
    }

    (fmt, gzip) match {
      case (MessageFormat.Json, true) => MessageFormat.JsonGzip
      case (f, true) => throw CliError(
        s"--decompress_gzip only composes with plain JSON (got $f)")
      case (f, false) => f
    }
  }

  private def readFile(v: String): String = Files.readString(existingPath(v))

  private def existingPath(v: String): Path = {
    val p = Paths.get(v)
    if (!Files.exists(p)) throw CliError(s"File not found error: $v")
    p
  }
}
