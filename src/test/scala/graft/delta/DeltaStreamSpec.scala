package graft.delta

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import graft.SparkSpec

/** Pins the Delta-as-streaming-source contract: snapshot-then-tail,
  * version-granular offsets through a real checkpoint (restart = no
  * dupes, no loss), invisibility of dataChange=false maintenance,
  * loud failure on deletes/rewrites with the ignore* escape hatches,
  * startingVersion, rate limiting, and column-mapped logical names. */
class DeltaStreamSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("name", StringType)))

  private def mkTable(prefix: String, conf: Map[String, String] = Map.empty): DeltaTable =
    DeltaTable.forPath(spark, tmpDir(prefix)).create(schema, configuration = conf)

  private def rows(ids: Range) = ids.map(i => (i.toLong, s"n$i")).toDF("id", "name")

  private def readStream(t: DeltaTable, extra: (String, String)*) = {
    val r = spark.readStream.format("graft-delta").option("path", t.path)
    extra.foldLeft(r) { case (rr, (k, v)) => rr.option(k, v) }.load()
  }

  test("snapshot-then-tail into a memory sink; maintenance commits are invisible") {
    val t = mkTable("dstream")
    t.append(rows(0 until 5))
    t.append(rows(5 until 8))
    val q = readStream(t).writeStream.format("memory")
      .queryName("dstream_t1")
      .option("checkpointLocation", tmpDir("dstream-ck")).start()
    try {
      q.processAllAvailable()
      assert(spark.table("dstream_t1").count() === 8L)
      // tail: a new append arrives incrementally
      t.append(rows(8 until 11))
      q.processAllAvailable()
      assert(spark.table("dstream_t1").count() === 11L)
      assert(spark.table("dstream_t1").select("id").as[Long].collect().toSet
        === (0L until 11L).toSet)
      // compaction is dataChange=false — the stream must not re-emit
      assert(t.compact(minBytes = Long.MaxValue) > 0L)
      q.processAllAvailable()
      assert(spark.table("dstream_t1").count() === 11L)
    } finally q.stop()
  }

  test("checkpointed restart resumes at the committed version: no dupes, no loss") {
    val t = mkTable("dstream-rs")
    t.append(rows(0 until 6))
    val ck = tmpDir("dstream-rs-ck")
    val out = tmpDir("dstream-rs-out")
    def run(): Unit = {
      val q = readStream(t).writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    run()
    assert(spark.read.parquet(out).count() === 6L)
    // rows appended BETWEEN runs arrive exactly once on restart
    t.append(rows(6 until 10))
    t.append(rows(10 until 12))
    run()
    val back = spark.read.parquet(out)
    assert(back.count() === 12L)
    assert(back.select("id").as[Long].collect().toSet === (0L until 12L).toSet)
    // an idle restart emits nothing
    run()
    assert(spark.read.parquet(out).count() === 12L)
  }

  test("deletes fail the stream; ignoreDeletes tails past them; rewrites need ignoreChanges") {
    val t = mkTable("dstream-del")
    t.append(rows(0 until 6))
    val q = readStream(t).writeStream.format("memory").queryName("dstream_del")
      .option("checkpointLocation", tmpDir("dstream-del-ck")).start()
    try {
      q.processAllAvailable()
      t.delete(col("id") < 2L)
      val e = intercept[Exception](q.processAllAvailable())
      assert(e.getMessage.contains("ignoreDeletes"), e.getMessage)
    } finally q.stop()
    // ignoreDeletes: the delete commit passes silently (delete-only
    // commits emit nothing; already-emitted rows are not retracted)
    val q2 = readStream(t, "ignoreDeletes" -> "true").writeStream.format("memory")
      .queryName("dstream_del2")
      .option("checkpointLocation", tmpDir("dstream-del2-ck")).start()
    try {
      q2.processAllAvailable()
      assert(spark.table("dstream_del2").count() === 4L) // post-delete snapshot
      t.append(rows(20 until 22))
      t.delete(col("id") === 20L)
      q2.processAllAvailable()
      assert(spark.table("dstream_del2").select("id").as[Long].collect().toSet
        === Set(2L, 3L, 4L, 5L, 20L, 21L)) // append emitted; delete not retracted
      // an UPDATE rewrites a file: ignoreDeletes is NOT enough
      t.update(col("id") === 21L, Map("name" -> lit("x")))
      val e2 = intercept[Exception](q2.processAllAvailable())
      assert(e2.getMessage.contains("ignoreChanges"), e2.getMessage)
    } finally q2.stop()
    // ignoreChanges: the rewrite re-emits its file (at-least-once caveat)
    val q3 = readStream(t, "ignoreChanges" -> "true", "startingVersion" -> "0")
      .writeStream.format("memory").queryName("dstream_del3")
      .option("checkpointLocation", tmpDir("dstream-del3-ck")).start()
    try {
      q3.processAllAvailable()
      assert(spark.table("dstream_del3").filter(col("name") === "x").count() === 1L)
    } finally q3.stop()
  }

  test("skipChangeCommits: deletes AND rewrites skip wholesale; appends still flow") {
    val t = mkTable("dstream-skipcc")
    t.append(rows(0 until 6))
    val q = readStream(t, "skipChangeCommits" -> "true").writeStream
      .format("memory").queryName("dstream_skipcc")
      .option("checkpointLocation", tmpDir("dstream-skipcc-ck")).start()
    try {
      q.processAllAvailable()
      assert(spark.table("dstream_skipcc").count() === 6L)
      // a DELETE and an UPDATE both pass silently — nothing re-emits
      t.delete(col("id") < 2L)
      t.update(col("id") === 5L, Map("name" -> lit("x")))
      q.processAllAvailable()
      assert(spark.table("dstream_skipcc").count() === 6L,
        "change commits skip wholesale: no retractions, no re-emissions")
      // plain appends keep flowing
      t.append(rows(10 until 13))
      q.processAllAvailable()
      assert(spark.table("dstream_skipcc").select("id").as[Long].collect().toSet
        === (0L until 6L).toSet ++ Set(10L, 11L, 12L))
      assert(spark.table("dstream_skipcc").filter(col("name") === "x").isEmpty,
        "the rewritten file must never re-emit under skipChangeCommits")
    } finally q.stop()
  }

  test("startingVersion skips the snapshot; maxVersionsPerTrigger paces catch-up") {
    val t = mkTable("dstream-sv")
    t.append(rows(0 until 4))  // v1
    t.append(rows(4 until 6))  // v2
    t.append(rows(6 until 9))  // v3
    val q = readStream(t, "startingVersion" -> "2", "maxVersionsPerTrigger" -> "1")
      .writeStream.format("memory").queryName("dstream_sv")
      .option("checkpointLocation", tmpDir("dstream-sv-ck")).start()
    try {
      q.processAllAvailable()
      assert(spark.table("dstream_sv").select("id").as[Long].collect().toSet
        === (4L until 9L).toSet, "versions before startingVersion must not emit")
      assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
        "rate limiting must split the catch-up across triggers")
    } finally q.stop()
    // startingTimestamp: the cut resolves through versionAt — commits AT
    // or after it emit, earlier ones don't (inclusive, delta-spark's rule)
    def tsOf(v: Long) = t.log.readVersion(v).flatMap(_.commitInfo).head.timestamp
    if (tsOf(2) > tsOf(1) && tsOf(3) > tsOf(2)) { // only assert on distinct stamps
      val q2 = readStream(t, "startingTimestamp" -> tsOf(2).toString)
        .writeStream.format("memory").queryName("dstream_st")
        .option("checkpointLocation", tmpDir("dstream-st-ck")).start()
      try {
        q2.processAllAvailable()
        assert(spark.table("dstream_st").select("id").as[Long].collect().toSet
          === (4L until 9L).toSet)
      } finally q2.stop()
    }
    // both options together refuse (surfaces when the stream thread
    // builds the source, not at start())
    val qBad = readStream(t, "startingTimestamp" -> "0", "startingVersion" -> "1")
      .writeStream.format("memory").queryName("dstream_st2")
      .option("checkpointLocation", tmpDir("dstream-st2-ck")).start()
    val e = intercept[Exception] { try qBad.processAllAvailable() finally qBad.stop() }
    assert(e.getMessage.contains("mutually exclusive"), e.getMessage)
  }

  test("column-mapped tables stream under logical names after a rename") {
    val t = DeltaTable.forPath(spark, tmpDir("dstream-map")).create(schema,
      configuration = Map(DeltaTable.ColumnMappingModeKey -> "name"))
    t.append(rows(0 until 3))
    t.renameColumn("name", "label")
    t.append(Seq((3L, "n3")).toDF("id", "label"))
    val df = readStream(t)
    assert(df.columns.toSeq === Seq("id", "label"))
    val q = df.writeStream.format("memory").queryName("dstream_map")
      .option("checkpointLocation", tmpDir("dstream-map-ck")).start()
    try {
      q.processAllAvailable()
      val got = spark.table("dstream_map").orderBy("id")
        .collect().map(r => (r.getLong(0), r.getString(1)))
      assert(got.toSeq === (0 until 4).map(i => (i.toLong, s"n$i")))
    } finally q.stop()
  }

  test("graft-delta sink: delta-to-delta stream, txn-exactly-once, partitionBy, append-only") {
    val src = mkTable("dsink-src")
    src.append(rows(0 until 6))
    val outDir = tmpDir("dsink-out") + "/t"
    val ck = tmpDir("dsink-ck")
    def run(): Unit = {
      val q = readStream(src).writeStream.format("graft-delta")
        .option("path", outDir).option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    run()
    val out = DeltaTable.forPath(spark, outDir)
    assert(out.toDF.count() === 6L)
    val appId = out.snapshot.txns.keys.find(_.startsWith("graft-delta-sink:"))
      .getOrElse(fail("sink commits must carry the derived txn appId"))
    // restart picks up only the new source commits
    src.append(rows(6 until 10))
    run()
    assert(out.toDF.select("id").as[Long].collect().toSet === (0L until 10L).toSet)
    // zombie double-delivery of an already-committed batch is a no-op
    val committedBatch = out.snapshot.txns(appId)
    new DeltaStreamSink(spark, outDir, Nil, appId)
      .addBatch(committedBatch, rows(6 until 10))
    assert(out.toDF.count() === 10L, "replayed batch must not duplicate")
    // and a NEWER batch id still lands
    new DeltaStreamSink(spark, outDir, Nil, appId)
      .addBatch(committedBatch + 1, rows(100 until 102))
    assert(out.toDF.count() === 12L)

    // partitionBy flows through to table creation
    val out2 = tmpDir("dsink-part") + "/t"
    val q2 = readStream(src).withColumn("par", (col("id") % 2L).cast("string"))
      .writeStream.format("graft-delta").partitionBy("par")
      .option("path", out2)
      .option("checkpointLocation", tmpDir("dsink-part-ck"))
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    val t2 = DeltaTable.forPath(spark, out2)
    assert(t2.partitionColumns === Seq("par"))
    assert(t2.toDF.count() === 10L)

    // mergeSchema: an upstream widening flows through (old rows null-fill)
    val out3 = tmpDir("dsink-ms") + "/t"
    val ck3 = tmpDir("dsink-ms-ck")
    def run3(extraCol: Boolean): Unit = {
      val base = readStream(src)
      val df = if (extraCol) base.withColumn("extra", col("id") * 10L) else base
      val q = df.writeStream.format("graft-delta")
        .option("path", out3).option("checkpointLocation", ck3)
        .option("mergeSchema", "true")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    run3(extraCol = false)
    src.append(rows(200 until 202))
    run3(extraCol = true)
    val t3 = DeltaTable.forPath(spark, out3)
    assert(t3.toDF.columns.contains("extra"))
    assert(t3.toDF.filter(col("id") === 200L).select("extra").collect()
      .head.getLong(0) === 2000L)
    assert(t3.toDF.filter(col("id") === 0L).select("extra").collect()
      .head.isNullAt(0), "pre-evolution rows null-fill the new column")

    // complete output mode refuses (append-only sink)
    val e = intercept[Exception] {
      readStream(src).groupBy("name").count()
        .writeStream.format("graft-delta").outputMode("complete")
        .option("path", tmpDir("dsink-bad") + "/t")
        .option("checkpointLocation", tmpDir("dsink-bad-ck")).start()
    }
    assert(e.getMessage.contains("Append"), e.getMessage)
  }

  test("graft-delta sink mergeKeys: streaming upsert, replay-safe, last-in-batch wins") {
    val src = mkTable("dsink-up-src")
    src.append(rows(0 until 4)) // ids 0..3, names n0..n3
    val outDir = tmpDir("dsink-up-out") + "/t"
    val ck = tmpDir("dsink-up-ck")
    def run(): Unit = {
      val q = readStream(src).writeStream.format("graft-delta")
        .option("path", outDir).option("checkpointLocation", ck)
        .option("mergeKeys", "id")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    run()
    val out = DeltaTable.forPath(spark, outDir)
    assert(out.toDF.count() === 4L)
    // same keys again with NEW values: upsert overwrites, no duplicates
    src.append(Seq((2L, "updated2"), (3L, "updated3"), (10L, "n10")).toDF("id", "name"))
    run()
    val got = out.toDF.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size === 5)
    assert(got(2L) === "updated2" && got(3L) === "updated3" && got(10L) === "n10")
    assert(got(0L) === "n0", "untouched keys keep their values")
    // zombie double-delivery of the committed batch is a no-op
    val appId = out.snapshot.txns.keys.find(_.startsWith("graft-delta-sink:")).get
    val committed = out.snapshot.txns(appId)
    val vBefore = out.log.latestVersion()
    new DeltaStreamSink(spark, outDir, Nil, appId, Seq("id"))
      .addBatch(committed, Seq((2L, "stale")).toDF("id", "name"))
    assert(out.log.latestVersion() === vBefore, "replayed batch must not commit")
    assert(out.toDF.filter(col("id") === 2L).collect().head.getString(1) === "updated2")
    // a batch carrying TWO versions of one key: the last one wins
    new DeltaStreamSink(spark, outDir, Nil, appId, Seq("id"))
      .addBatch(committed + 1,
        Seq((7L, "first"), (7L, "second")).toDF("id", "name"))
    assert(out.toDF.filter(col("id") === 7L).collect().map(_.getString(1)).toSeq
      === Seq("second"))
  }

  test("chunked initial snapshot: maxFilesPerTrigger paces the first load, then tails") {
    val t = mkTable("dstream-chunk")
    (0 until 6).foreach(i => t.append(rows(i * 10 until i * 10 + 5).coalesce(1)))
    assert(t.snapshot.files.size === 6)
    val q = readStream(t, "maxFilesPerTrigger" -> "2").writeStream.format("memory")
      .queryName("dstream_chunk")
      .option("checkpointLocation", tmpDir("dstream-chunk-ck")).start()
    try {
      q.processAllAvailable()
      // all 30 snapshot rows arrive, exactly once, across 3 chunked batches
      assert(spark.table("dstream_chunk").count() === 30L)
      assert(q.recentProgress.count(_.numInputRows > 0) >= 3,
        s"a 6-file snapshot at maxFilesPerTrigger=2 must take >= 3 batches, " +
          s"got ${q.recentProgress.map(_.numInputRows).mkString(",")}")
      // tail after the snapshot: normal incremental batches
      t.append(rows(100 until 103))
      q.processAllAvailable()
      assert(spark.table("dstream_chunk").count() === 33L)
      assert(spark.table("dstream_chunk").select("id").as[Long].collect().toSet.size === 33)
    } finally q.stop()
  }

  test("maxBytesPerTrigger paces snapshot chunks and tail versions by metadata bytes") {
    val t = mkTable("dstream-bytes")
    (0 until 6).foreach(i => t.append(rows(i * 10 until i * 10 + 5).coalesce(1)))
    // cap just above the largest file: one snapshot file / one tail
    // version per batch — pacing reads only add.size, never data files
    val cap = (t.snapshot.files.map(_.size).max + 1).toString
    val q = readStream(t, "maxBytesPerTrigger" -> cap).writeStream.format("memory")
      .queryName("dstream_bytes")
      .option("checkpointLocation", tmpDir("dstream-bytes-ck")).start()
    try {
      q.processAllAvailable()
      assert(spark.table("dstream_bytes").count() === 30L)
      val snapBatches = q.recentProgress.count(_.numInputRows > 0)
      assert(snapBatches >= 6,
        s"a 6-file snapshot under a 1-file byte cap must take >= 6 batches, " +
          s"got ${q.recentProgress.map(_.numInputRows).mkString(",")}")
      // tail: three appended versions (same 5-row shape as the snapshot
      // files, so each is cap-sized) arrive one per batch under the cap
      (0 until 3).foreach(i =>
        t.append(rows(100 + i * 10 until 100 + i * 10 + 5).coalesce(1)))
      q.processAllAvailable()
      assert(spark.table("dstream_bytes").count() === 45L)
      assert(q.recentProgress.count(_.numInputRows > 0) >= snapBatches + 3,
        "each tail version must admit alone under the byte cap")
      assert(spark.table("dstream_bytes").select("id").as[Long].collect().toSet.size === 45)
    } finally q.stop()
  }

  test("maxBytesPerTrigger in CDF mode charges the change files a version actually reads") {
    val t = mkTable("dstream-bytes-cdf",
      Map(DeltaTable.CdfConfigKey -> "true"))
    t.append(rows(0 until 10).coalesce(1))
    // three delete versions: each batch IS its cdc file — an add-only
    // byte count would see 0 bytes and admit the whole backlog at once
    (0 until 3).foreach(i => assert(t.delete(col("id") === i.toLong) > 0L))
    val cap = "1" // below any cdc file: one version per batch
    val q = readStream(t, "readChangeFeed" -> "true", "maxBytesPerTrigger" -> cap,
      "startingVersion" -> "1").writeStream.format("memory")
      .queryName("dstream_bytes_cdf")
      .option("checkpointLocation", tmpDir("dstream-bytes-cdf-ck")).start()
    try {
      q.processAllAvailable()
      val out = spark.table("dstream_bytes_cdf")
      assert(out.filter(col("_change_type") === "delete").count() === 3L)
      assert(out.filter(col("_change_type") === "insert").count() === 10L)
      assert(q.recentProgress.count(_.numInputRows > 0) >= 4,
        s"4 versions under a 1-byte cap must take >= 4 batches, got " +
          q.recentProgress.map(_.numInputRows).mkString(","))
    } finally q.stop()
  }

  test("Trigger.AvailableNow drains a chunked snapshot across batches in one run") {
    val t = mkTable("dstream-an")
    (0 until 5).foreach(i => t.append(rows(i * 10 until i * 10 + 3).coalesce(1)))
    val q = readStream(t, "maxFilesPerTrigger" -> "2").writeStream.format("memory")
      .queryName("dstream_an")
      .option("checkpointLocation", tmpDir("dstream-an-ck"))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // without the AvailableNow wrapper (GraftSession pins it on), the
    // V1 fallback would run ONE batch = first 2 files = 6 rows
    assert(spark.table("dstream_an").count() === 15L,
      "AvailableNow must drain every snapshot chunk, not just the first")
  }

  test("snapshot offsets restart mid-chunk: exact file progress, no dupes, no loss") {
    val t = mkTable("dstream-resume")
    (0 until 5).foreach(i => t.append(rows(i * 10 until i * 10 + 4).coalesce(1)))
    // strip the isStreaming marker so the chunk frames execute as batch
    // queries (the engine normally executes them inside a micro-batch)
    def cnt(df: org.apache.spark.sql.DataFrame): Long = {
      import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
      import org.apache.spark.sql.execution.datasources.LogicalRelation
      val plan = df.queryExecution.analyzed.transformUp {
        case r: LogicalRelation if r.isStreaming => r.copy(isStreaming = false)
        case l: LocalRelation if l.isStreaming => l.copy(isStreaming = false)
      }
      org.apache.spark.sql.graft.StreamBridge.ofRows(spark, plan).count()
    }
    val mk = () => new DeltaStreamSource(spark, t.path, Map("maxFilesPerTrigger" -> "2"))
    val s1 = mk()
    val o1 = s1.getOffset.get
    assert(o1 === SnapshotOffset(5L, 2L))
    val b1 = s1.getBatch(None, o1)
    assert(cnt(b1) === 8L, "first chunk = 2 files x 4 rows")
    val o2 = s1.getOffset.get
    assert(o2 === SnapshotOffset(5L, 4L))
    // RESTART between chunks: a fresh source replays the recovered batch
    // from serialized offsets, then continues from exact file progress
    import org.apache.spark.sql.execution.streaming.runtime.SerializedOffset
    val s2 = mk()
    val b2 = s2.getBatch(Some(SerializedOffset(o1.json())), SerializedOffset(o2.json()))
    assert(cnt(b2) === 8L, "recovered mid-snapshot batch = files [2,4)")
    val o3 = s2.getOffset.get
    assert(o3 === SnapshotOffset(5L, 5L), "restart must resume at file 4, not 0")
    assert(cnt(s2.getBatch(Some(o2), o3)) === 4L)
    // snapshot complete → tail offsets take over; a new commit arrives
    t.append(rows(900 until 902))
    val o4 = s2.getOffset.get
    assert(cnt(s2.getBatch(Some(o3), o4)) === 2L, "tail after chunked snapshot")
    // legacy plain-long offsets (an old checkpoint) still parse as tail
    t.append(rows(910 until 913))
    val o5 = s2.getOffset.get
    assert(cnt(s2.getBatch(Some(SerializedOffset("6")), SerializedOffset(o5.json()))) === 3L)
  }

  test("sink deleteWhen: streaming CDC apply — deletes, upserts, marker column never writes") {
    val cdcSchema = StructType(schema.fields :+ StructField("op", StringType))
    val srcDir = tmpDir("dsink-cdc-src")
    val src = DeltaTable.forPath(spark, srcDir).create(cdcSchema)
    val outDir = tmpDir("dsink-cdc-out") + "/t"
    // CDC apply needs an existing target (markers vs data is undecidable
    // at create time) — pinned loudly
    val out = DeltaTable.forPath(spark, outDir).create(schema)
    out.append(rows(0 until 5))
    src.append(Seq(
      (1L, null.asInstanceOf[String], "delete"), // delete id 1
      (2L, "two'", "update"),                    // upsert id 2
      (9L, "nine", "insert"),                    // insert id 9
      (50L, null.asInstanceOf[String], "delete") // delete of absent key: no-op
    ).toDF("id", "name", "op"))
    val q = readStream(src).writeStream.format("graft-delta")
      .option("path", outDir).option("checkpointLocation", tmpDir("dsink-cdc-ck"))
      .option("mergeKeys", "id").option("deleteWhen", "op = 'delete'")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(out.toDF.columns.toSeq === Seq("id", "name"),
      "the op marker column must never reach the table")
    val got = out.toDF.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size === 5, "5 - 1 delete + 1 insert; absent-key delete is a no-op")
    assert(!got.contains(1L) && got(2L) === "two'" && got(9L) === "nine")
    assert(got(0L) === "n0")
  }

  test("sink deleteWhen on a DV table: CDC apply with zero file rewrites") {
    val cdcSchema = StructType(schema.fields :+ StructField("op", StringType))
    val outDir = tmpDir("dsink-cdvc-out") + "/t"
    val out = DeltaTable.forPath(spark, outDir).create(schema,
      configuration = Map(DeltaTable.DvConfigKey -> "true"))
    out.append(rows(0 until 8))
    val before = out.snapshot.files.map(_.path).toSet
    val appId = "cdc-dv-test"
    new DeltaStreamSink(spark, outDir, Nil, appId, Seq("id"),
      deleteWhen = Some("op = 'delete'"))
      .addBatch(0L, Seq(
        (3L, null.asInstanceOf[String], "delete"),
        (4L, "four!", "update")).toDF("id", "name", "op"))
    assert(before.subsetOf(out.snapshot.files.map(_.path).toSet),
      "a DV-table CDC batch must not rewrite any original file")
    val got = out.toDF.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size === 7 && !got.contains(3L) && got(4L) === "four!")
    // exactly-once: the txn rode the clause-merge commit; replay skips
    val vBefore = out.log.latestVersion()
    new DeltaStreamSink(spark, outDir, Nil, appId, Seq("id"),
      deleteWhen = Some("op = 'delete'"))
      .addBatch(0L, Seq((4L, "stale", "update")).toDF("id", "name", "op"))
    assert(out.log.latestVersion() === vBefore)
    assert(out.toDF.filter(col("id") === 4L).head().getString(1) === "four!")
  }

  test("sink mergeKeys on a DV table: the upsert masks by DV and rewrites no original file") {
    val outDir = tmpDir("dsink-updv-out") + "/t"
    val out = DeltaTable.forPath(spark, outDir).create(schema,
      configuration = Map(DeltaTable.DvConfigKey -> "true"))
    out.append(rows(0 until 8))
    val before = out.snapshot.files.map(_.path).toSet
    new DeltaStreamSink(spark, outDir, Nil, "upsert-dv-test", Seq("id"))
      .addBatch(0L, Seq((4L, "four!"), (20L, "twenty")).toDF("id", "name"))
    assert(before.subsetOf(out.snapshot.files.map(_.path).toSet),
      "a DV-table upsert batch must not rewrite any original file")
    assert(out.snapshot.files.exists(_.deletionVector.isDefined))
    val got = out.toDF.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size === 9 && got(4L) === "four!" && got(20L) === "twenty")
  }

  test("readChangeFeed: the stream replays exactly the batch change feed; DML needs no ignore*") {
    val t = DeltaTable.forPath(spark, tmpDir("dstream-cdf")).create(schema,
      configuration = Map(DeltaTable.CdfConfigKey -> "true"))
    t.append(rows(0 until 5))                             // v1: inserts
    t.delete(col("id") < 2L)                              // v2: deletes
    t.update(col("id") === 3L, Map("name" -> lit("upd"))) // v3: pre+post
    t.merge(Seq((4L, "m4"), (9L, "m9")).toDF("id", "name"), Seq("id")) // v4
    // tail-from-0 stream must equal the batch feed row-for-row
    val q = readStream(t, "readChangeFeed" -> "true", "startingVersion" -> "0")
      .writeStream.format("memory").queryName("dstream_cdf")
      .option("checkpointLocation", tmpDir("dstream-cdf-ck")).start()
    try {
      q.processAllAvailable()
      // deletes/updates flowed as DATA — no ignoreDeletes/ignoreChanges
      val got = spark.table("dstream_cdf")
        .select("id", "name", "_change_type", "_commit_version")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      val want = t.changes(0, t.log.latestVersion())
        .select("id", "name", "_change_type", "_commit_version")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      assert(got.sorted.toSeq === want.sorted.toSeq)
      // mid-stream DML keeps flowing
      t.delete(col("id") === 9L)
      q.processAllAvailable()
      assert(spark.table("dstream_cdf")
        .filter(col("_change_type") === "delete" && col("id") === 9L).count() === 1L)
    } finally q.stop()

    // snapshot mode: current rows emit as insert changes stamped with
    // the stream's starting version
    val q2 = readStream(t, "readChangeFeed" -> "true")
      .writeStream.format("memory").queryName("dstream_cdf2")
      .option("checkpointLocation", tmpDir("dstream-cdf2-ck")).start()
    try {
      q2.processAllAvailable()
      val snap = spark.table("dstream_cdf2")
      assert(snap.select("_change_type").distinct().collect()
        .map(_.getString(0)).toSeq === Seq("insert"))
      assert(snap.count() === t.toDF.count())
      assert(snap.select("_commit_version").distinct().collect()
        .map(_.getLong(0)).toSeq === Seq(t.log.latestVersion()))
    } finally q2.stop()
    // ignore* flags contradict CDF mode — refuse loudly
    assertThrows[Exception] {
      readStream(t, "readChangeFeed" -> "true", "ignoreDeletes" -> "true")
        .writeStream.format("memory").queryName("dstream_cdf3")
        .option("checkpointLocation", tmpDir("dstream-cdf3-ck")).start()
        .processAllAvailable()
    }
  }

  test("composition: sink into an identity + default + row-tracking table") {
    // the sink appends through the FULL write path, so a pre-created
    // table's identity blocks, constant defaults, and row-id stamping
    // all apply per micro-batch with zero sink-side plumbing
    val src = mkTable("dsink-id-src")
    src.append(rows(0 until 8))
    val outDir = tmpDir("dsink-id-out") + "/t"
    val outSchema = StructType(Seq(
      DeltaTable.identityField("seq"),
      StructField("id", LongType),
      StructField("name", StringType),
      DeltaTable.defaultField("tier", StringType, "'raw'")))
    DeltaTable.forPath(spark, outDir).create(outSchema,
      configuration = Map(DeltaTable.RowTrackingConfigKey -> "true"))
    val q = readStream(src).writeStream.format("graft-delta")
      .option("path", outDir).option("checkpointLocation", tmpDir("dsink-id-ck"))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val out = DeltaTable.forPath(spark, outDir)
    assert(out.toDF.count() === 8L)
    assert(out.toDF.select("seq").as[Long].collect().toSet === (1L to 8L).toSet,
      "identity block assigned to the streamed batch")
    assert(out.toDF.filter(col("tier") === "raw").count() === 8L,
      "constant default evaluated for the omitted column")
    assert(out.toDFWithRowIds.select(col(DeltaTable.RowIdCol))
      .as[Long].collect().toSet === (0L until 8L).toSet,
      "row-id block stamped on the streamed commit")
  }

  test("composition: mapped+partitioned tables and CONVERTed directories stream correctly") {
    // column mapping + partitioning (round-11 composition): physical
    // names in partition dirs, logical names on the stream
    val t = DeltaTable.forPath(spark, tmpDir("dstream-mp")).create(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("name", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("par", org.apache.spark.sql.types.StringType))),
      partitionColumns = Seq("par"),
      configuration = Map(DeltaTable.ColumnMappingModeKey -> "name"))
    t.append(rows(0 until 4).withColumn("par", (col("id") % 2L).cast("string")))
    t.renameColumn("name", "label")
    val q = readStream(t).writeStream.format("memory").queryName("dstream_mp")
      .option("checkpointLocation", tmpDir("dstream-mp-ck")).start()
    try {
      q.processAllAvailable()
      val got = spark.table("dstream_mp")
      assert(got.columns.toSeq === Seq("id", "label", "par"))
      assert(got.count() === 4L)
      assert(got.filter(col("par") === "1").select("id").as[Long].collect().toSet
        === Set(1L, 3L), "partition values must resolve through physical dirs")
      // tail after the rename, under the new logical name
      t.append(Seq((10L, "n10", "0")).toDF("id", "label", "par"))
      q.processAllAvailable()
      assert(got.count() === 5L)
    } finally q.stop()

    // CONVERT TO DELTA → stream: the converted directory is a first-class
    // source (snapshot, then tail across post-convert appends)
    val dir = tmpDir("dstream-conv")
    rows(0 until 6).write.mode("overwrite").parquet(dir)
    val c = DeltaTable.convertFrom(spark, dir)
    val q2 = spark.readStream.format("graft-delta").option("path", dir).load()
      .writeStream.format("memory").queryName("dstream_conv")
      .option("checkpointLocation", tmpDir("dstream-conv-ck")).start()
    try {
      q2.processAllAvailable()
      assert(spark.table("dstream_conv").count() === 6L)
      c.append(rows(6 until 9))
      q2.processAllAvailable()
      assert(spark.table("dstream_conv").select("id").as[Long].collect().toSet
        === (0L until 9L).toSet)
    } finally q2.stop()
  }

  test("initial snapshot applies live deletion vectors; DV-maintained tables tail directly") {
    val t = mkTable("dstream-dv", Map(DeltaTable.DvConfigKey -> "true"))
    t.append(rows(0 until 6))
    t.deleteWithDv(col("id") < 2L)
    // the initial snapshot streams the LOGICAL rows (masks applied)
    val q = readStream(t).writeStream.format("memory").queryName("dstream_dv")
      .option("checkpointLocation", tmpDir("dstream-dv-ck")).start()
    try {
      q.processAllAvailable()
      assert(spark.table("dstream_dv").select("id").as[Long].collect().toSet
        === (2L until 6L).toSet)
      // plain appends keep tailing after the DV'd snapshot
      t.append(rows(6 until 9))
      q.processAllAvailable()
      assert(spark.table("dstream_dv").select("id").as[Long].collect().toSet
        === (2L until 9L).toSet)
      // a mid-stream DV delete is still a delete commit: needs ignoreDeletes
      t.deleteWithDv(col("id") === 3L)
      val e = intercept[Exception](q.processAllAvailable())
      assert(e.getMessage.contains("ignoreDeletes"), e.getMessage)
    } finally q.stop()
  }

  test("snapshot of a merge-on-read upsert-maintained table streams its logical state") {
    val t = mkTable("dstream-mor", Map(DeltaTable.DvConfigKey -> "true"))
    t.append(rows(0 until 50))
    // CDC-apply: update 1..2, insert 50..51 — old files gain DVs, new file adds
    val delta = Seq((1L, "u1"), (2L, "u2"), (50L, "n50"), (51L, "n51")).toDF("id", "name")
    t.mergeWithDv(delta, Seq("id"))
    assert(t.snapshot.files.exists(_.deletionVector.isDefined),
      "mergeWithDv must leave live DVs for this test to mean anything")
    val q = readStream(t).writeStream.format("memory").queryName("dstream_mor")
      .option("checkpointLocation", tmpDir("dstream-mor-ck")).start()
    try {
      q.processAllAvailable()
      val got = spark.table("dstream_mor").select("id", "name").as[(Long, String)]
        .collect().toMap
      val want = (0L until 50L).map(i => i -> s"n$i").toMap ++
        Map(1L -> "u1", 2L -> "u2", 50L -> "n50", 51L -> "n51")
      assert(got === want,
        s"snapshot must be the post-merge logical state, got ${got.toSeq.sorted.take(8)}…")
    } finally q.stop()
  }

  test("readChangeFeed initial snapshot applies deletion vectors too") {
    val t = mkTable("dstream-dvcdf",
      Map(DeltaTable.DvConfigKey -> "true", DeltaTable.CdfConfigKey -> "true"))
    t.append(rows(0 until 5))
    t.deleteWithDv(col("id") >= 3L)
    val q = readStream(t, "readChangeFeed" -> "true").writeStream.format("memory")
      .queryName("dstream_dvcdf")
      .option("checkpointLocation", tmpDir("dstream-dvcdf-ck")).start()
    try {
      q.processAllAvailable()
      val got = spark.table("dstream_dvcdf")
        .select("id", "_change_type").as[(Long, String)].collect().toSet
      assert(got === Set((0L, "insert"), (1L, "insert"), (2L, "insert")),
        s"initial CDF snapshot must be the masked state as inserts, got $got")
    } finally q.stop()
  }
}
