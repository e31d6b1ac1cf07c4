package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec
import graft.delta.{DeltaTable, PostCommitFailure}

/** Kafka option assembly (S1/S4/B2, broker-free) and the metrics surface
  * (M1): reference counter names fed from the observed batch aggregates.
  */
class KafkaSourceSpec extends SparkSpec {
  import spark.implicits._

  test("seek offsets parse the reference --seek_offsets format") {
    assert(KafkaSourceConfig.parseSeekOffsets("0:10,1:12") === Map(0 -> 10L, 1 -> 12L))
    assert(KafkaSourceConfig.parseSeekOffsets("5:9999999") === Map(5 -> 9999999L))
  }

  test("startingOffsets renders seek JSON covering every partition") {
    val cfg = KafkaSourceConfig("web_requests", "localhost:9092",
      seekOffsets = Some(Map(1 -> 12L, 0 -> 10L)), numPartitions = Some(2))
    assert(cfg.startingOffsets === """{"web_requests": {"0": 10, "1": 12}}""")
    // Spark's Kafka source rejects JSON offsets that omit a partition:
    // unlisted partitions are filled with -2 (earliest).
    val sparse = KafkaSourceConfig("t", "b",
      seekOffsets = Some(Map(2 -> 7L)), numPartitions = Some(4))
    assert(sparse.startingOffsets === """{"t": {"0": -2, "1": -2, "2": 7, "3": -2}}""")
    // seekOffsets without the topic's partition count is an error, as is
    // a seek for a partition the topic doesn't have.
    assertThrows[IllegalArgumentException](
      KafkaSourceConfig("t", "b", seekOffsets = Some(Map(0 -> 1L))).startingOffsets)
    assertThrows[IllegalArgumentException](
      KafkaSourceConfig("t", "b", seekOffsets = Some(Map(9 -> 1L)),
        numPartitions = Some(2)).startingOffsets)
  }

  test("seek guard mirrors InconsistentStoredOffsets: regression refused, applied seek ignored") {
    // fabricate a Structured Streaming checkpoint offsets log: batch 3 is
    // the newest state, with next-to-read offsets {0: 20, 1: 5}
    val ckpt = java.nio.file.Files.createTempDirectory("seek-guard").toString
    val offsetsDir = new java.io.File(ckpt, "offsets")
    assert(offsetsDir.mkdirs())
    java.nio.file.Files.writeString(new java.io.File(offsetsDir, "1").toPath,
      "v1\n{\"batchWatermarkMs\":0}\n{\"t\":{\"0\":1,\"1\":1}}\n")
    java.nio.file.Files.writeString(new java.io.File(offsetsDir, "3").toPath,
      "v1\n{\"batchWatermarkMs\":0}\n{\"t\":{\"0\":20,\"1\":5}}\n")

    assert(OffsetGuard.storedOffsets(ckpt, "t") === Some(Map(0 -> 20L, 1 -> 5L)))
    assert(OffsetGuard.storedOffsets(ckpt, "other_topic") === None)
    // checkpoint locations are Hadoop-FS URIs — the URI form must see the
    // same state (java.io.File would silently return None for it)
    assert(OffsetGuard.storedOffsets("file:" + ckpt, "t") === Some(Map(0 -> 20L, 1 -> 5L)))

    def cfg(seeks: Map[Int, Long]) = KafkaSourceConfig("t", "b",
      seekOffsets = Some(seeks), numPartitions = Some(2))

    // stored ≥ seek on every partition → "already applied", no error
    OffsetGuard.validate(cfg(Map(0 -> 20L, 1 -> 4L)), Some(ckpt))
    // unknown partition in state → safe (reference: missing is no conflict)
    OffsetGuard.validate(KafkaSourceConfig("t", "b",
      seekOffsets = Some(Map(3 -> 100L)), numPartitions = Some(4)), Some(ckpt))
    // no checkpoint / no seek → no-op
    OffsetGuard.validate(cfg(Map(0 -> 999L)), None)
    OffsetGuard.validate(KafkaSourceConfig("t", "b"), Some(ckpt))
    val fresh = java.nio.file.Files.createTempDirectory("seek-guard-fresh").toString
    OffsetGuard.validate(cfg(Map(0 -> 999L)), Some(fresh))

    // stored behind the requested seek → refused, with per-partition detail
    val e = intercept[OffsetGuard.InconsistentStoredOffsets](
      OffsetGuard.validate(cfg(Map(0 -> 21L, 1 -> 5L)), Some(ckpt)))
    assert(e.getMessage.contains("[0:stored=20/seek=21]"))
    // a fresh checkpoint under the same app_id would skip the new
    // query's first batches: the message must say so
    assert(e.getMessage.contains("fresh app_id"), e.getMessage)
  }

  test("startingOffsets falls back to auto_offset_reset") {
    assert(KafkaSourceConfig("t", "b").startingOffsets === "earliest")
    assert(KafkaSourceConfig("t", "b", autoOffsetReset = "latest").startingOffsets === "latest")
    assertThrows[IllegalArgumentException](
      KafkaSourceConfig("t", "b", autoOffsetReset = "nonsense"))
  }

  test("options carry subscribe, group id, batch cap, and kafka.* passthroughs") {
    val cfg = KafkaSourceConfig("t", "broker:9092", consumerGroupId = "g",
      maxMessagesPerBatch = Some(5000),
      additionalSettings = Map("security.protocol" -> "SASL_SSL", "kafka.x" -> "y"))
    val o = cfg.options
    assert(o("subscribe") === "t")
    assert(o("kafka.bootstrap.servers") === "broker:9092")
    assert(o("kafka.group.id") === "g")
    assert(o("maxOffsetsPerTrigger") === "5000")
    assert(o("kafka.security.protocol") === "SASL_SSL")
    assert(o("kafka.x") === "y")
  }

  test("metrics listener gauges stream progress (M2 lag surface)") {
    implicit val sqlCtx = spark.sqlContext
    val sink = new RecordingMetricsSink
    val listener = new IngestMetricsListener(sink)
    spark.streams.addListener(listener)
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    val q = in.toDF.writeStream.format("noop").start()
    try {
      in.addData(1L, 2L, 3L)
      q.processAllAvailable()
      // listener delivery is asynchronous
      val deadline = System.currentTimeMillis() + 10000
      while (!sink.gauges.contains("stream.numInputRows") &&
             System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(sink.gauges.get("stream.numInputRows").exists(_ >= 3L),
        s"expected numInputRows gauge, got ${sink.gauges}")
    } finally {
      q.stop()
      spark.streams.removeListener(listener)
    }
  }

  test("metrics: batch counters use reference names and observed values") {
    val tablePath = tmpDir("metrics-table")
    val schema = StructType(Seq(StructField("id", LongType)))
    val table = DeltaTable.forPath(spark, tablePath).create(schema)
    val sink = new RecordingMetricsSink
    val opts = IngestOptions(appId = "m", metricsSink = Some(sink))
    val batch = Seq(
      (1L, """{"id": 1}"""),
      (2L, """{"id": 2}"""),
      (3L, """not json""")
    ).toDF("offset", "value")
      .select(col("value"), lit(0).as("partition"), col("offset"),
        lit("t").as("topic"), lit(0L).as("timestamp"), lit(0).as("timestampType"))
    IngestPipeline.processBatch(batch, 0L, table, NoopDeadLetterSink, opts)

    assert(sink.counters("messages.deserialization.completed") === 2L)
    assert(sink.counters("messages.deserialization.failed") === 1L)
    assert(sink.counters("messages.transform.completed") === 2L)
    assert(sink.counters("recordbatch.completed") === 1L)
    assert(sink.counters("delta.write.completed") === 1L)
    assert(sink.counters("delta.write.failed") === 0L)
    assert(sink.timers.exists(_._1 == "delta.write.duration"))
  }

  test("metrics: delta.write.failed counts only batches that did not land") {
    val schema = StructType(Seq(StructField("id", LongType)))
    def batch(ids: Long*) = ids.map(i => (i, s"""{"id": $i}""")).toDF("offset", "value")
      .select(col("value"), lit(0).as("partition"), col("offset"),
        lit("t").as("topic"), lit(0L).as("timestamp"), lit(0).as("timestampType"))
    // the version is durable and only its post-commit hook fails: written
    val landed = DeltaTable.forPath(spark, tmpDir("metrics-hook")).create(schema)
    landed.log.onPostCommit((_, _, _) => throw new IllegalStateException("hook down"))
    val hookSink = new RecordingMetricsSink
    intercept[PostCommitFailure](IngestPipeline.processBatch(batch(1L, 2L), 0L, landed,
      NoopDeadLetterSink, IngestOptions(appId = "m", metricsSink = Some(hookSink))))
    assert(landed.snapshot.version === 1L)
    assert(hookSink.counters("delta.write.completed") === 1L)
    assert(hookSink.counters("delta.write.failed") === 0L)
    assert(hookSink.counters("messages.deserialization.completed") === 2L)
    // a CHECK violation aborts the staged write: nothing lands
    val refused = DeltaTable.forPath(spark, tmpDir("metrics-check")).create(schema,
      configuration = Map(DeltaTable.ConstraintPrefix + "positive" -> "id > 0"))
    val failSink = new RecordingMetricsSink
    intercept[Exception](IngestPipeline.processBatch(batch(0L), 0L, refused,
      NoopDeadLetterSink, IngestOptions(appId = "m", metricsSink = Some(failSink))))
    assert(refused.snapshot.version === 0L)
    assert(failSink.counters("delta.write.failed") === 1L)
    assert(failSink.counters("delta.write.completed") === 0L)
  }
}
