package graft.delta

import org.apache.spark.sql.types._

import graft.SparkSpec

/** A version that `write` published is durable: what fails after it — a
  * post-commit hook, a checkpoint, a `.crc` — must neither delete the files the
  * version references nor turn a replay of its txn batch into anything
  * but a skip. */
class CommitOutcomeSpec extends SparkSpec {
  import spark.implicits._

  FaultyFileSystem.install(spark)

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("date", StringType)))

  private def batch(from: Int, n: Int) =
    (from until from + n).map(i => (i.toLong, s"2021-11-0${i % 2 + 1}")).toDF("id", "date")

  /** The version stands with txn (app, batch), every file it references
    * exists, and the table reads back `ids` exactly once. */
  private def assertIntact(path: String, localDir: String, version: Long, batchId: Long,
                           ids: Seq[Long]): Unit = {
    val t = DeltaTable.forPath(spark, path)
    val snap = t.snapshot
    assert(snap.version === version)
    assert(snap.txns.get("app") === Some(batchId))
    val missing = snap.files.map(_.path).filterNot(p => new java.io.File(localDir, p).exists())
    assert(missing.isEmpty, s"files of a committed version were deleted: $missing")
    assert(t.toDF.count() === ids.size.toLong)
    assert(t.toDF.select("id").as[Long].collect().sorted.toSeq === ids.sorted)
  }

  test("a failing post-commit hook keeps the committed version and its files") {
    val dir = tmpDir("hook-fail")
    val t = DeltaTable.forPath(spark, dir).create(schema, Seq("date"))
    t.log.onPostCommit((_, _, _) => throw new IllegalStateException("hook down"))
    val e = intercept[PostCommitFailure](t.append(batch(0, 10), Some("app"), 1L))
    assert(e.version === 1L)
    assertIntact(dir, dir, version = 1L, batchId = 1L, ids = (0L until 10L))
    // the replay of the landed batch is the idempotent skip
    assert(t.append(batch(0, 10), Some("app"), 1L) === -1L)
    assertIntact(dir, dir, version = 1L, batchId = 1L, ids = (0L until 10L))
  }

  test("a failing checkpoint at a checkpointInterval version keeps the commit") {
    val local = tmpDir("ckpt-fail")
    val dir = FaultyFileSystem.uriOf(local)
    val t = DeltaTable.forPath(spark, dir).create(schema, Seq("date"),
      configuration = Map(DeltaTable.CheckpointIntervalKey -> "2"))
    assert(t.append(batch(0, 10), Some("app"), 1L) === 1L)
    // every create under a checkpoint's temp dir fails: the checkpoint
    // job of version 2 dies after version 2 is published
    FaultyFileSystem.failMatching((op, p) => op == "create" && p.toString.contains("/.ck-"))
    val v =
      try t.append(batch(10, 10), Some("app"), 2L)
      finally FaultyFileSystem.reset()
    assert(v === 2L)
    assert(!new java.io.File(local, "_delta_log/00000000000000000002.checkpoint.parquet").exists())
    assertIntact(dir, local, version = 2L, batchId = 2L, ids = (0L until 20L))
    assert(t.append(batch(10, 10), Some("app"), 2L) === -1L)
    assertIntact(dir, local, version = 2L, batchId = 2L, ids = (0L until 20L))
  }

  test("a failing .crc rename keeps the commit and leaves no temp file") {
    val local = tmpDir("crc-fail")
    val dir = FaultyFileSystem.uriOf(local)
    val t = DeltaTable.forPath(spark, dir).create(schema, Seq("date"))
    FaultyFileSystem.failMatching((op, p) => op == "rename" && p.getName.startsWith(".crc-tmp-"))
    val v =
      try t.append(batch(0, 10), Some("app"), 1L)
      finally FaultyFileSystem.reset()
    assert(v === 1L)
    val log = new java.io.File(local, "_delta_log").list().toSeq
    assert(!log.exists(_.startsWith(".crc-tmp-")), log.sorted.mkString(", "))
    assert(!log.contains("00000000000000000001.crc"))
    assertIntact(dir, local, version = 1L, batchId = 1L, ids = (0L until 10L))
  }
}
