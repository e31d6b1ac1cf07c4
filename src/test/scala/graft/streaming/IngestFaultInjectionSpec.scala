package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.delta.{DeltaTable, FaultyFileSystem}

/** Exactly-once across a storage fault at every point of one ingest
  * micro-batch (the replayable-source + idempotent-sink argument, checked
  * against real crash points). A dry run counts the batch's creates,
  * renames and deletes on the table and dead-letter table — the staging
  * write, file moves, log JSON, `.crc`, checkpoint, DLQ append and
  * compaction. Then, for every k, the k-th of them fails, the query is
  * restarted from its streaming checkpoint, and the tables must hold
  * every message exactly once with no trace of the fault. */
class IngestFaultInjectionSpec extends SparkSpec {
  import spark.implicits._

  FaultyFileSystem.install(spark)

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("date", StringType)))

  // 24 messages over two dates; three fail to decode and three fail
  // coercion, so the batch dead-letters six
  private def good(i: Int): Boolean = i % 8 != 3 && i % 8 != 6
  private val messages: Seq[(Long, String)] = (0 until 24).map { i =>
    val body =
      if (good(i)) s"""{"id": $i, "date": "2021-11-0${i % 2 + 1}"}"""
      else if (i % 8 == 3) s"not json $i"
      else s"""{"id": "x$i", "date": "2021-11-01"}"""
    (i.toLong, body)
  }
  private val goodIds = (0 until 24).filter(good).map(_.toLong)
  private val deadBodies = messages.collect { case (i, b) if !good(i.toInt) => b }

  private final case class Run(table: String, dlq: String, local: Seq[String], ckpt: String)

  private def freshRun(): Run = {
    val t = tmpDir("fault-table")
    val d = tmpDir("fault-dlq")
    val run = Run(FaultyFileSystem.uriOf(t), FaultyFileSystem.uriOf(d), Seq(t, d),
      tmpDir("fault-ckpt"))
    // a checkpoint at the compaction commit puts the checkpoint writer
    // inside the enumerated batch
    DeltaTable.forPath(spark, run.table).create(schema, Seq("date"),
      configuration = Map(DeltaTable.CheckpointIntervalKey -> "2"))
    DeltaTable.forPath(spark, run.dlq).create(PipelineStages.DeadLetterSchema)
    run
  }

  /** One query over the whole topic from the run's checkpoint; the
    * failure that stopped it, if any. */
  private def drain(run: Run): Option[Throwable] = {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    stream.addData(messages: _*)
    val src: DataFrame = stream.toDF.toDF("offset", "value").select(col("value"),
      lit(0).as("partition"), col("offset"), lit("t").as("topic"),
      lit(1636668718000L).as("timestamp"), lit(0).as("timestampType"))
    val opts = IngestOptions(appId = "faults", endAtLastOffsets = true,
      checkpointLocation = Some(run.ckpt), dlqTablePath = Some(run.dlq),
      minBytesPerFile = Some(1L << 20))
    val q = IngestPipeline.start(spark, src, run.table, opts)
    try { q.awaitTermination(); None }
    catch { case e: org.apache.spark.sql.streaming.StreamingQueryException => Some(e) }
  }

  private def assertExactlyOnce(run: Run, label: String): Unit = {
    val table = DeltaTable.forPath(spark, run.table)
    val dlq = DeltaTable.forPath(spark, run.dlq)
    val ids = table.toDF.select("id").as[Long].collect().sorted.toSeq
    assert(ids === goodIds, s"$label: table rows")
    val dead = dlq.toDF.select(coalesce(col("json_string"),
      unbase64(col("base64_bytes")).cast("string"))).as[String].collect().sorted.toSeq
    assert(dead === deadBodies.sorted, s"$label: dead letters")
    Seq(table, dlq).zip(run.local).foreach { case (t, local) =>
      val missing = t.snapshot.files.map(_.path)
        .filterNot(p => new java.io.File(local, p).exists())
      assert(missing.isEmpty, s"$label: referenced files missing: $missing")
      (0L to t.snapshot.version).foreach(v => t.log.validateChecksum(t.log.snapshotAt(v)))
      val staging = java.nio.file.Files.walk(java.nio.file.Paths.get(local))
        .filter(_.getFileName.toString.startsWith("_staging-")).count()
      assert(staging === 0L, s"$label: leftover _staging-* under $local")
    }
  }

  test("a fault at any create, rename or delete of one batch: exactly once after restart") {
    // every injected fault logs a failed query with its stack trace
    spark.sparkContext.setLogLevel("OFF")
    try enumerate()
    finally spark.sparkContext.setLogLevel("WARN")
  }

  private def enumerate(): Unit = {
    val t0 = System.nanoTime()
    val dry = freshRun()
    FaultyFileSystem.failNth(0L)
    assert(drain(dry).isEmpty)
    val points = FaultyFileSystem.count
    assertExactlyOnce(dry, "fault-free")
    assert(points > 20L, s"only $points injection points")
    var faulted = 0
    (1L to points).foreach { k =>
      val run = freshRun()
      FaultyFileSystem.failNth(k)
      val failure =
        try drain(run)
        finally FaultyFileSystem.reset()
      if (failure.isDefined) {
        faulted += 1
        assert(drain(run).isEmpty, s"fault $k: restart failed")
      }
      assertExactlyOnce(run, s"fault $k")
    }
    info(f"$points injection points, $faulted stopped the query, " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s")
  }
}
