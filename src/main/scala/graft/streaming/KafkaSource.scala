package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Kafka source wiring (reference S1/S3/S4/S5, /root/reference/src/main.rs:334-490,
  * src/offsets.rs:36-102) as a `readStream.format("kafka")` option builder —
  * fully assembled and unit-testable without a broker.
  *
  * Offset semantics map:
  *  - S3 (resume from stored offsets): the reference stores per-partition
  *    offsets as Delta `txn` actions; here the Structured Streaming
  *    checkpoint owns offset tracking and ALWAYS wins over
  *    `startingOffsets` — identical precedence to the reference, where
  *    stored offsets win over `--seek_offsets`.
  *  - S4 (`--seek_offsets "0:10,1:12"`): becomes the `startingOffsets`
  *    JSON; the given offset is the first one read, matching the
  *    reference's seek semantics. Applied only when no checkpoint exists —
  *    use a fresh checkpoint dir (reference: fresh app_id) to re-seek.
  *  - S5 (`--end_at_last_offsets`): `Trigger.AvailableNow` in
  *    [[IngestPipeline.start]] (set via [[IngestOptions.endAtLastOffsets]]).
  *  - B2 (`--max_messages_per_batch`): `maxOffsetsPerTrigger` (per-batch
  *    row cap at the source, the Spark-native flush-trigger lever).
  */
final case class KafkaSourceConfig(
    topic: String,
    bootstrapServers: String,
    consumerGroupId: String = "kafka_delta_ingest",
    /** "earliest" | "latest" — reference --auto_offset_reset, applied when
      * neither checkpoint nor seekOffsets pin a position. */
    autoOffsetReset: String = "earliest",
    /** partition → first offset to read (reference --seek_offsets). */
    seekOffsets: Option[Map[Int, Long]] = None,
    /** Total partition count of the topic. Spark's Kafka source requires an
      * offset for EVERY partition when JSON `startingOffsets` is used;
      * partitions not listed in [[seekOffsets]] are filled with -2
      * (= earliest). Required whenever seekOffsets is set. */
    numPartitions: Option[Int] = None,
    maxMessagesPerBatch: Option[Long] = None,
    /** reference --kafka_setting key=value passthroughs (kafka.* prefixed). */
    additionalSettings: Map[String, String] = Map.empty) {

  require(autoOffsetReset == "earliest" || autoOffsetReset == "latest",
    s"unknown auto_offset_reset $autoOffsetReset") // mirrors main.rs:103-106

  /** The `startingOffsets` option: explicit seek JSON when given, else the
    * auto.offset.reset policy. Spark's Kafka source rejects JSON offsets
    * that omit any partition of the subscribed topic, so every partition in
    * [0, numPartitions) is listed — seeked ones at their offset, the rest
    * at -2 (= earliest), matching the reference where unseeked partitions
    * fall back to auto.offset.reset (src/lib.rs:1088-1100). */
  def startingOffsets: String = seekOffsets match {
    case Some(m) =>
      val n = numPartitions.getOrElse(throw new IllegalArgumentException(
        "numPartitions is required with seekOffsets: Spark's Kafka source " +
          "needs an offset for every partition of the topic"))
      require(m.keys.forall(p => p >= 0 && p < n),
        s"seekOffsets partition out of range [0, $n)")
      val parts = (0 until n)
        .map(p => s""""$p": ${m.getOrElse(p, -2L)}""").mkString(", ")
      s"""{"$topic": {$parts}}"""
    case None => autoOffsetReset
  }

  /** Full option map for `spark.readStream.format("kafka")`. */
  def options: Map[String, String] = {
    val base = Map(
      "kafka.bootstrap.servers" -> bootstrapServers,
      "subscribe" -> topic,
      "startingOffsets" -> startingOffsets,
      "kafka.group.id" -> consumerGroupId,
      // the reference never auto-commits to Kafka (offsets live in Delta /
      // the checkpoint); Spark's source does the same by design
      "failOnDataLoss" -> "false")
    val cap = maxMessagesPerBatch.map(n => "maxOffsetsPerTrigger" -> n.toString)
    base ++ cap ++ additionalSettings.map { case (k, v) =>
      (if (k.startsWith("kafka.")) k else s"kafka.$k") -> v
    }
  }

  /** Streaming DataFrame in the shape PipelineStages expects (value +
    * Kafka meta columns). Requires a reachable broker at runtime. */
  def load(spark: SparkSession): DataFrame =
    options.foldLeft(spark.readStream.format("kafka")) {
      case (r, (k, v)) => r.option(k, v)
    }.load()
}

object KafkaSourceConfig {
  /** Parse the reference's `--seek_offsets` format: "0:10,1:12"
    * (src/main.rs:321-330). */
  def parseSeekOffsets(s: String): Map[Int, Long] =
    s.split(',').iterator.filter(_.nonEmpty).map { kv =>
      val Array(p, o) = kv.split(':')
      p.trim.toInt -> o.trim.toLong
    }.toMap
}

/** S4 consistency guard — the reference's `write_offsets_to_delta`
  * (/root/reference/src/offsets.rs:36-102): seeking is only honored on a
  * fresh consumer state. If state already stores offsets, a seek AT OR
  * BELOW them is silently ignored ("already applied" — stored offsets win,
  * exactly our checkpoint-wins precedence), but stored offsets LOWER than
  * the seek are refused: continuing from the stored position would ignore
  * the requested skip, and jumping forward would break exactly-once. The
  * reference's advice applies verbatim: re-seek under a fresh app id —
  * here, a fresh checkpoint dir.
  *
  * The stored state in this engine is the Structured Streaming checkpoint
  * (offsets/<batchId> HDFSMetadataLog files: "v1" line, metadata JSON,
  * then one offset JSON per source — the Kafka source's is
  * `{"topic":{"partition":nextOffset}}`).
  */
object OffsetGuard {
  final case class InconsistentStoredOffsets(details: String)
      extends RuntimeException(
        s"Stored offsets are lower than seek offsets: $details — " +
          "if skipping records is intended, seek with a fresh checkpoint " +
          "location AND a fresh app_id: the table records each app_id's " +
          "last batch id, so a fresh checkpoint under the same app_id " +
          "skips its first batches unwritten")

  /** Per-partition next-to-read offsets for `topic` from the NEWEST
    * checkpoint offsets file; None when no checkpoint state exists.
    * Checkpoint locations are Hadoop-FS URIs (file:/, hdfs://, s3a:// —
    * whatever Spark's checkpoint manager writes to), so the read goes
    * through the Hadoop FileSystem for the location's scheme, not
    * java.io.File (which would silently see nothing for any URI form and
    * let an inconsistent seek through unvalidated). */
  def storedOffsets(checkpointDir: String, topic: String,
                    conf: org.apache.hadoop.conf.Configuration =
                      new org.apache.hadoop.conf.Configuration()): Option[Map[Int, Long]] = {
    val dir = new org.apache.hadoop.fs.Path(checkpointDir, "offsets")
    val fs = dir.getFileSystem(conf)
    if (!fs.exists(dir)) return None
    val batches = fs.listStatus(dir)
      .filter(st => st.isFile && st.getPath.getName.forall(_.isDigit))
    if (batches.isEmpty) return None
    val latest = batches.maxBy(_.getPath.getName.toLong).getPath
    val in = fs.open(latest)
    val text =
      try new String(org.apache.commons.io.IOUtils.toByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    // skip the "v1" version line and the batch-metadata JSON line; each
    // remaining line is one source's offsets — find the Kafka-shaped one
    // carrying our topic
    import scala.jdk.CollectionConverters._
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    text.split('\n').iterator.map(_.trim).filter(_.nonEmpty).drop(2).flatMap { line =>
      scala.util.Try {
        val node = mapper.readTree(line)
        Option(node.get(topic)).map { parts =>
          parts.properties().asScala
            .map(e => e.getKey.toInt -> e.getValue.asLong()).toMap
        }
      }.toOption.flatten
    }.nextOption()
  }

  /** Fail fast (before the stream starts) when the checkpoint's stored
    * offsets conflict with a requested seek. No-ops without a seek, without
    * a checkpoint, or when every stored offset is already at/past its seek
    * (reference: "The provided offsets are already applied."). */
  def validate(cfg: KafkaSourceConfig, checkpointDir: Option[String],
               conf: org.apache.hadoop.conf.Configuration =
                 new org.apache.hadoop.conf.Configuration()): Unit = {
    for {
      seeks <- cfg.seekOffsets
      dir <- checkpointDir
      stored <- storedOffsets(dir, cfg.topic, conf)
    } {
      val conflicts = seeks.toSeq.sorted.flatMap { case (p, seek) =>
        stored.get(p).filter(_ < seek).map(s => s"$p:stored=$s/seek=$seek")
      }
      if (conflicts.nonEmpty)
        throw InconsistentStoredOffsets(conflicts.mkString("[", ", ", "]"))
    }
  }
}
