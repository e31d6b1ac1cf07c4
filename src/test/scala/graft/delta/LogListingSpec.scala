package graft.delta

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.streaming.{DeltaDeadLetterSink, IngestOptions, IngestPipeline, PipelineStages}

/** One snapshot per operation: an operation lists `_delta_log` once to
  * learn the table's version, however many schema-level facts it needs
  * from it, and its commit lists it once more. One reader of the log: a
  * read takes its version, checkpoint and compaction spans from one
  * listing, and a commit's checkpoint writes the state the commit
  * produced without replaying the log. Counted on the `faulty:///` file
  * system, which counts every listing under a `_delta_log` directory,
  * Spark's reads of checkpoint parquet included. */
class LogListingSpec extends SparkSpec {
  import spark.implicits._

  FaultyFileSystem.install(spark)

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("date", StringType)))

  private def table(name: String): DeltaTable =
    DeltaTable.forPath(spark, FaultyFileSystem.uriOf(tmpDir(name)))

  test("a partitioned append lists the log twice: its read and its commit") {
    val t = table("listing-append").create(schema, Seq("date"))
    t.append(Seq(1L -> "2021-11-01").toDF("id", "date"))
    FaultyFileSystem.logListings()
    assert(t.append(Seq(2L -> "2021-11-01", 3L -> "2021-11-02").toDF("id", "date")) === 2L)
    assert(FaultyFileSystem.logListings() === 2L)
    assert(t.toDF.count() === 3L)
  }

  test("toDF on a 12-column table lists the log once") {
    val cols = (0 until 12).map(i => s"c$i")
    val t = table("listing-todf").create(StructType(cols.map(StructField(_, LongType))))
    t.append(spark.range(3).select(cols.map(c => col("id").as(c)): _*))
    FaultyFileSystem.logListings()
    val df = t.toDF
    assert(FaultyFileSystem.logListings() === 1L)
    assert(df.count() === 3L)
  }

  /** A table whose version 10 is a checkpoint, with two commits after it. */
  private def checkpointed(name: String): DeltaTable = {
    val t = table(name).create(schema, Seq("date"))
    (1 to 12).foreach(i => t.append(Seq(i.toLong -> "2021-11-01").toDF("id", "date")))
    assert(t.log.newestCheckpointVersion() === Some(10L))
    t
  }

  test("a cold snapshot of a checkpointed table lists the log once, then reads the checkpoint") {
    val t = checkpointed("listing-cold")
    FaultyFileSystem.logListings()
    val snap = DeltaTable.forPath(spark, t.path).snapshot
    assert(FaultyFileSystem.logListings() === 3L)
    assert(snap.version === 12L)
    assert(snap.files.size === 12)
  }

  test("snapshotAt lists the log once, then reads the checkpoint") {
    val t = checkpointed("listing-at")
    FaultyFileSystem.logListings()
    val snap = t.log.snapshotAt(11L)
    assert(FaultyFileSystem.logListings() === 3L)
    assert(snap.version === 11L)
    assert(snap.files.size === 11)
  }

  test("cleanupMetadata lists the log once") {
    val t = checkpointed("listing-cleanup")
    FaultyFileSystem.logListings()
    assert(t.log.cleanupMetadata(12L) > 0)
    assert(FaultyFileSystem.logListings() === 1L)
    assert(t.log.survivingCommitVersions() === Seq(10L, 11L, 12L))
    assert(DeltaTable.forPath(spark, t.path).toDF.count() === 12L)
  }

  test("an append at a checkpointInterval version checkpoints without replaying the log") {
    val t = table("listing-ckpt").create(schema, Seq("date"))
    (1 to 9).foreach(i => t.append(Seq(i.toLong -> "2021-11-01").toDF("id", "date")))
    FaultyFileSystem.logListings()
    assert(t.append(Seq(10L -> "2021-11-02").toDF("id", "date")) === 10L)
    val listings = FaultyFileSystem.logListings()
    info(s"$listings listings")
    assert(listings <= 6L, s"$listings listings")
    assert(t.log.newestCheckpointVersion() === Some(10L))
    // the checkpoint holds the state the commit produced
    val cold = DeltaTable.forPath(spark, t.path).snapshot
    assert(cold.files.toSet === t.snapshot.files.toSet)
  }

  test("one ingest batch with a Delta DLQ and a compaction lists the log at most 6 times") {
    val t = table("listing-batch-table").create(schema, Seq("date"))
    // the batch's file and this one make a two-file bin: the batch compacts
    t.append(Seq(100L -> "2021-11-01").toDF("id", "date"))
    val dlq = table("listing-batch-dlq").create(PipelineStages.DeadLetterSchema)
    val batch = Seq((0L, """{"id": 0, "date": "2021-11-01"}"""), (1L, "not json"))
      .toDF("offset", "value")
      .select(col("value").cast(BinaryType).as("value"), lit(0).as("partition"),
        col("offset"), lit("t").as("topic"), lit(1636668718000L).as("timestamp"),
        lit(0).as("timestampType"))
    val opts = IngestOptions(appId = "listing", minBytesPerFile = Some(1L << 20))
    // a running query's logs are warm: a log's first read also lists its
    // checkpoints
    dlq.snapshot
    FaultyFileSystem.logListings()
    IngestPipeline.processBatch(batch, 0L, t, new DeltaDeadLetterSink(dlq, opts.appId, Nil), opts)
    val listings = FaultyFileSystem.logListings()
    info(s"$listings listings")
    assert(t.log.history(Some(1)).head._2.exists(_.operation === "OPTIMIZE"))
    assert(t.snapshot.files.size === 1)
    assert(dlq.toDF.count() === 1L)
    assert(listings <= 6L, s"$listings listings")
  }
}
