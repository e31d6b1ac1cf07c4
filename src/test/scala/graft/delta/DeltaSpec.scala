package graft.delta

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec

/** Pins the Delta write path end to end: commit atomicity, txn
  * exactly-once (including the lost-race zombie-writer case), footer
  * stats, spec-schema parquet checkpoints, and schema evolution —
  * the contracts the reference pins in writer.rs/delta_helpers.rs tests.
  */
class DeltaSpec extends SparkSpec {
  import spark.implicits._
  import Actions._

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("name", StringType),
    StructField("ts", TimestampType),
    StructField("date", StringType)))

  private def newTable(partitioned: Boolean = false): DeltaTable = {
    val t = DeltaTable.forPath(spark, tmpDir("delta-spec"))
    t.create(schema, if (partitioned) Seq("date") else Nil)
  }

  private def sampleDf(ids: Range) = ids.map(i =>
      (i.toLong, s"name$i", new java.sql.Timestamp(1636668718000L + i), f"2021-11-${i % 3 + 1}%02d"))
    .toDF("id", "name", "ts", "date")

  test("create + append + read back round-trips values and partitions") {
    val t = newTable(partitioned = true)
    assert(t.append(sampleDf(0 until 10)) === 1L)
    val back = t.toDF.orderBy("id").collect()
    assert(back.length === 10)
    assert(back(3).getAs[String]("name") === "name3")
    assert(back(3).getAs[String]("date") === "2021-11-01")
    assert(t.snapshot.files.forall(_.partitionValues.keySet === Set("date")))
  }

  test("time travel: toDF(version) replays that version's files and schema") {
    val t = newTable()
    t.append(sampleDf(0 until 5))   // v1
    t.append(sampleDf(5 until 12))  // v2
    assert(t.toDF(1).count() === 5L)
    assert(t.toDF(2).count() === 12L)
    assert(t.toDF.count() === 12L)
    // schema evolution after v2 must not leak into historical reads
    t.updateSchema(schema.add(StructField("extra", LongType))) // v3
    assert(t.toDF.columns.contains("extra"))
    assert(!t.toDF(2).columns.contains("extra"))
    assert(t.toDF(2).orderBy("id").collect()(7).getAs[String]("name") === "name7")
    // out-of-range versions fail fast
    assertThrows[IllegalArgumentException](t.toDF(99))
    // partitioned tables null-fill evolved columns too (the read passes
    // the declared schema explicitly; inference from old files would fail)
    val pt = newTable(partitioned = true)
    pt.append(sampleDf(0 until 6))
    pt.updateSchema(schema.add(StructField("extra", LongType)))
    assert(pt.toDF.filter(col("extra").isNull).count() === 6L)
    // snapshotAt replays txns as of the version too
    t.append(sampleDf(12 until 13).withColumn("extra", lit(null).cast("long")),
      Some("tt"), 5L) // v4
    assert(t.log.snapshotAt(2).txns.get("tt") === None)
    assert(t.log.snapshotAt(4).txns.get("tt") === Some(5L))
  }

  test("time travel by timestamp resolves the last commit at or before the cut") {
    val t = newTable()
    t.append(sampleDf(0 until 5))   // v1
    Thread.sleep(10)                // commitInfo timestamps are wall-clock ms
    t.append(sampleDf(5 until 12))  // v2
    def tsOf(v: Long): Long =
      t.log.readVersion(v).flatMap(_.commitInfo).head.timestamp
    val (ts0, ts1, ts2) = (tsOf(0), tsOf(1), tsOf(2))
    assert(t.toDFAsOf(ts1).count() === 5L,  "cut at v1's own timestamp reads v1")
    assert(t.toDFAsOf(ts2).count() === 12L, "cut at v2 reads v2")
    assert(t.toDFAsOf(ts2 + 60000L).count() === 12L, "future cut reads latest")
    if (ts1 > ts0) // same-ms commits are legal; only assert when distinct
      assert(t.toDFAsOf(ts1 - 1).count() === 0L, "cut before v1 reads the empty v0")
    // a cut before the table existed has nothing to read
    assertThrows[IllegalArgumentException](t.toDFAsOf(ts0 - 1))
  }

  test("merge upserts copy-on-write: only files containing matched keys rewrite") {
    val t = newTable()
    t.append(sampleDf(0 until 10).coalesce(1))   // file A: ids 0-9
    t.append(sampleDf(10 until 20).coalesce(1))  // file B: ids 10-19
    val before = t.snapshot.files.map(_.path).toSet
    assert(before.size === 2)
    // update id 5 (lives in file A only), insert id 100
    val src = sampleDf(5 until 6).withColumn("name", lit("updated5"))
      .union(sampleDf(100 until 101))
    val v = t.merge(src, Seq("id"))
    assert(v > 0L)
    val after = t.snapshot.files.map(_.path).toSet
    assert((before -- after).size === 1, s"exactly file A must be replaced: $before -> $after")
    assert((before & after).size === 1, "file B must be untouched")
    val rows = t.toDF.collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("name")).toMap
    assert(rows.size === 21)
    assert(rows(5L) === "updated5", "matched row takes the source values")
    assert(rows(100L) === "name100", "unmatched source row inserts")
    assert(rows(15L) === "name15", "unmatched target row is untouched")
    assert(t.log.history(Some(1)).head._2.exists(_.operation === "MERGE"))
    // a merge with NO matches rewrites nothing — pure insert
    val before2 = t.snapshot.files.map(_.path).toSet
    assert(t.merge(sampleDf(200 until 202), Seq("id")) > 0L)
    val after2 = t.snapshot.files.map(_.path).toSet
    assert(before2.subsetOf(after2), "no-match merge must not rewrite any file")
    assert(t.toDF.count() === 23L)
    // a PROJECTED source updates only the columns it names: matched rows
    // keep their target values for absent columns (delta-rs
    // when-matched-update), while inserted rows null-fill them
    import spark.implicits._
    val tsBefore = t.toDF.filter(col("id") === 15L).collect().head
      .getAs[java.sql.Timestamp]("ts")
    assert(tsBefore != null, "fixture row must carry a ts to preserve")
    val partial = Seq((15L, "renamed15"), (300L, "new300")).toDF("id", "name")
    t.merge(partial, Seq("id"))
    val r15 = t.toDF.filter(col("id") === 15L).collect().head
    assert(r15.getAs[String]("name") === "renamed15")
    assert(r15.getAs[java.sql.Timestamp]("ts") === tsBefore,
      "matched rows must keep target values for columns the source didn't name")
    val r300 = t.toDF.filter(col("id") === 300L).collect().head
    assert(r300.isNullAt(r300.fieldIndex("ts")),
      "inserted rows null-fill columns absent from the source")
  }

  test("DML on PARTITIONED tables: merge/delete/update keep the Hive layout") {
    val t = newTable(partitioned = true) // partitioned by date (3 values)
    t.append(sampleDf(0 until 12))
    assert(t.snapshot.files.forall(_.partitionValues.contains("date")))
    // update one partition's rows: rewritten files stay in their partition
    assert(t.update(col("date") === "2021-11-01",
      Map("name" -> concat(col("name"), lit("*")))) > 0L)
    assert(t.snapshot.files.forall(_.partitionValues.contains("date")))
    val starred = t.toDF.filter(col("name").endsWith("*"))
    assert(starred.count() > 0 &&
      starred.select("date").distinct().collect().map(_.getString(0)).toSeq === Seq("2021-11-01"))
    // delete a slice spanning partitions
    assert(t.delete(col("id") < 2L) > 0L)
    assert(t.toDF.count() === 10L)
    // merge: update id 5, insert id 100 — partition columns derived from rows
    val src = sampleDf(5 until 6).withColumn("name", lit("m5"))
      .union(sampleDf(100 until 101))
    assert(t.merge(src, Seq("id")) > 0L)
    val rows = t.toDF.collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("name")).toMap
    assert(rows(5L) === "m5" && rows(100L) === "name100" && rows.size === 11)
    assert(t.snapshot.files.forall(_.partitionValues.contains("date")))
    // partition-pruned read still works over the rewritten layout
    assert(t.scanFiles(Seq(graft.delta.DataSkipping.ColPred("date", "=", "2021-11-02")))
      .forall(_.partitionValues.get("date").contains("2021-11-02")))
  }

  test("delete keeps NULL-predicate rows; merge refuses unknown source columns") {
    val t = newTable()
    import spark.implicits._
    // name NULL for id 1: a predicate on name is NULL there — standard
    // DELETE removes only TRUE rows, so the NULL row must survive
    val rows = Seq((0L, "drop-me"), (1L, null), (2L, "keep")).map { case (i, n) =>
      (i, n, new java.sql.Timestamp(0L), "2021-11-01")
    }.toDF("id", "name", "ts", "date")
    t.append(rows)
    assert(t.delete(col("name") === "drop-me") > 0L)
    val left = t.toDF.collect().map(_.getAs[Long]("id")).toSet
    assert(left === Set(1L, 2L), s"the NULL-name row must survive the delete; got $left")
    // a source column the table lacks is a typo'd SET column, not a no-op
    val badSrc = Seq((2L, "x")).toDF("id", "nmae")
    val e = intercept[IllegalArgumentException](t.merge(badSrc, Seq("id")))
    assert(e.getMessage.contains("nmae"))
  }

  test("restoreTo resets state in one commit, preserves history, reverts schema") {
    val t = newTable()
    t.append(sampleDf(0 until 5))                 // v1
    t.append(sampleDf(5 until 12))                // v2
    t.delete(col("id") < 3L)                      // v3: drops 0,1,2
    t.updateSchema(schema.add(StructField("extra", LongType))) // v4
    assert(t.toDF.count() === 9L && t.toDF.columns.contains("extra"))
    val v = t.restoreTo(2L)                       // back to 12 rows, no 'extra'
    assert(v === 5L, "restore is a NEW commit, not a log rewrite")
    assert(t.toDF.count() === 12L)
    assert(t.toDF.filter(col("id") < 3L).count() === 3L, "deleted rows return")
    assert(!t.toDF.columns.contains("extra"), "schema reverts with the files")
    assert(t.log.history(Some(1)).head._2.exists(_.operation === "RESTORE"))
    // history preserved: the pre-restore v3 state is still time-travelable
    assert(t.toDF(3L).count() === 9L)
    // restoring past a vacuumed version fails loudly, not silently
    t.delete(col("id") >= 10L)                    // v6 removes some files
    t.vacuum(retentionMs = 0L)
    val gone = intercept[IllegalArgumentException](t.restoreTo(2L))
    assert(gone.getMessage.contains("vacuumed"))
  }

  test("append(mergeSchema) widens the schema atomically with the data") {
    val t = newTable()
    t.append(sampleDf(0 until 5))
    // same frame + an extra column: default append DROPS it silently...
    val withExtra = sampleDf(5 until 8).withColumn("extra", col("id") * 10)
    t.append(withExtra)
    assert(!t.toDF.columns.contains("extra"))
    // ...mergeSchema widens instead — one commit carries metaData + files
    val vBefore = t.log.latestVersion()
    t.append(withExtra, mergeSchema = true)
    assert(t.log.latestVersion() === vBefore + 1, "schema + data must be ONE commit")
    assert(t.toDF.columns.contains("extra"))
    assert(t.toDF.count() === 11L)
    assert(t.toDF.filter(col("extra").isNotNull).count() === 3L,
      "only the evolved append's rows carry the new column")
    assert(t.toDF.filter(col("extra").isNull).count() === 8L,
      "pre-evolution rows read back null-filled")
    // evolution is idempotent: appending the same shape again adds no column
    t.append(withExtra, mergeSchema = true)
    assert(t.schema.fieldNames.count(_ == "extra") === 1)

    // another writer re-serializing the SAME schema with different JSON
    // formatting must not trip the schema-race check: the compare is on
    // parsed StructTypes, not raw schemaString equality
    val meta = t.snapshot.metadata.get
    val reformatted = meta.schemaString.replace("\",\"", "\", \"")
    assert(reformatted !== meta.schemaString, "fixture must actually reformat")
    t.log.commit(Seq(graft.delta.Actions.Action(
      metaData = Some(meta.copy(schemaString = reformatted)))))
    val withMore = withExtra.withColumn("extra2", col("id") + 1)
    t.append(withMore, mergeSchema = true) // would throw CME on a string compare
    assert(t.toDF.columns.contains("extra2"))
  }

  test("delete and update rewrite only the files containing matches; no-ops don't commit") {
    val t = newTable()
    t.append(sampleDf(0 until 10).coalesce(1))   // file A
    t.append(sampleDf(10 until 20).coalesce(1))  // file B
    val before = t.snapshot.files.map(_.path).toSet
    // delete ids 3,4 — both in file A; file B untouched
    assert(t.delete(col("id").isin(3L, 4L)) > 0L)
    val afterDel = t.snapshot.files.map(_.path).toSet
    assert((before & afterDel).size === 1, "file B must survive the delete untouched")
    assert(t.toDF.count() === 18L)
    assert(t.toDF.filter(col("id").isin(3L, 4L)).isEmpty)
    // no-match delete: no commit at all
    val vBefore = t.log.latestVersion()
    assert(t.delete(col("id") === 999L) === -1L)
    assert(t.log.latestVersion() === vBefore, "a no-op delete must not grow the log")
    // update with SET evaluated against the OLD row, only where matched
    assert(t.update(col("id") >= 15L, Map("name" -> concat(col("name"), lit("!")))) > 0L)
    val names = t.toDF.collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("name")).toMap
    assert(names(15L) === "name15!" && names(19L) === "name19!")
    assert(names(12L) === "name12", "unmatched rows in rewritten files carry unchanged")
    assert(t.update(col("id") === 999L, Map("name" -> lit("x"))) === -1L)
    // history records the DML operations
    val ops = t.log.history(Some(2)).flatMap(_._2).map(_.operation)
    assert(ops === Seq("UPDATE", "DELETE"))
  }

  test("versionAt clamps out-of-order commit timestamps and reads only near the cut") {
    val t = newTable()                    // v0: create
    t.append(sampleDf(0 until 2))         // v1
    t.append(sampleDf(2 until 5))         // v2 (forward-skewed writer clock)
    t.append(sampleDf(5 until 9))         // v3 (honest clock, behind v2)
    // rewrite commitInfo timestamps + file mtimes to a controlled history
    val ts = Map(0L -> 100000L, 1L -> 200000L, 2L -> 500000L, 3L -> 300000L)
    ts.foreach { case (v, tv) =>
      val f = new java.io.File(s"${t.path}/_delta_log/" + f"$v%020d.json")
      val text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      val patched = text.replaceAll("\"timestamp\":\\d+", s""""timestamp":$tv""")
      java.nio.file.Files.write(f.toPath, patched.getBytes("UTF-8"))
      assert(f.setLastModified(tv))
    }
    val log = DeltaTable.forPath(spark, t.path).log
    val skew = 50000L
    // out-of-order: v3's raw timestamp (300000) lags v2's skewed 500000;
    // the running-max clamp resolves a post-v2 cut to the LATER version 3,
    // never back past it — and only the two band commits are read
    log.versionAtReads.set(0)
    assert(log.versionAt(510000L, skew) === 3L)
    assert(log.versionAtReads.get === 2L, "reads only the in-band commits")
    // a cut below every in-band mtime resolves from mtimes alone
    log.versionAtReads.set(0)
    assert(log.versionAt(400000L, skew) === 1L,
      "clamped v2/v3 are after the cut; answer is v1")
    assert(log.versionAtReads.get === 0L, "band empty -> zero commit reads")
    log.versionAtReads.set(0)
    assert(log.versionAt(5000000L, skew) === 3L, "far-future cut reads latest")
    assert(log.versionAtReads.get === 0L)
    // before the first commit: throws, still without scanning the log
    log.versionAtReads.set(0)
    assertThrows[IllegalArgumentException](log.versionAt(40000L, skew))
    assert(log.versionAtReads.get === 0L)
  }

  test("scan prunes files by add.stats min/max and partition values") {
    import DataSkipping.ColPred
    val t = newTable()
    t.append(sampleDf(0 until 10).coalesce(1))   // id in [0, 9]
    t.append(sampleDf(10 until 20).coalesce(1))  // id in [10, 19]
    t.append(sampleDf(20 until 30).coalesce(1))  // id in [20, 29]
    assert(t.snapshot.files.size === 3)
    // range predicate: only the matching file survives pruning
    assert(t.scanFiles(Seq(ColPred("id", ">=", 20L))).size === 1)
    assert(t.scanFiles(Seq(ColPred("id", "=", 5L))).size === 1)
    assert(t.scanFiles(Seq(ColPred("id", "<", 0L))).isEmpty)
    // string stats prune lexicographically: "name15" < "name9", so the
    // [name0, name9] file survives alongside [name10, name19]
    assert(t.scanFiles(Seq(ColPred("name", "=", "name15"))).size === 2)
    // ">= name3" keeps only [name0, name9]: name19/name29 sort below name3
    assert(t.scanFiles(Seq(ColPred("name", ">=", "name3"))).size === 1)
    // results are exact regardless of pruning
    assert(t.scan(Seq(ColPred("id", ">=", 20L))).count() === 10L)
    assert(t.scan(Seq(ColPred("id", ">=", 8L), ColPred("id", "<", 12L))).count() === 4L)

    // SOUNDNESS: a StringType column compares lexicographically even when
    // its values look numeric — numeric pruning would drop the "9" file
    // although Spark's own filter ("9" >= "10") matches it
    val s = DeltaTable.forPath(spark, tmpDir("delta-skip-str")).create(
      StructType(Seq(StructField("id", LongType), StructField("s", StringType))))
    s.append(Seq((1L, "10")).toDF("id", "s").coalesce(1))
    s.append(Seq((2L, "9")).toDF("id", "s").coalesce(1))
    assert(s.scanFiles(Seq(ColPred("s", ">=", "10"))).size === 2)
    assert(s.scan(Seq(ColPred("s", ">=", "10"))).count() === 2L)
    // empty predicate list behaves like toDF
    assert(s.scan(Nil).count() === 2L)

    // timestamp skipping: the module's headline use case (time-ordered
    // ingest) — stats bounds are ms-truncated ISO strings
    val tt = DeltaTable.forPath(spark, tmpDir("delta-skip-ts")).create(
      StructType(Seq(StructField("id", LongType), StructField("ts", TimestampType))))
    def tsAt(h: Int) = java.sql.Timestamp.valueOf(f"2024-03-01 $h%02d:00:00")
    tt.append(Seq((1L, tsAt(1)), (2L, tsAt(2))).toDF("id", "ts").coalesce(1))
    tt.append(Seq((3L, tsAt(10)), (4L, tsAt(11))).toDF("id", "ts").coalesce(1))
    assert(tt.scanFiles(Seq(ColPred("ts", ">=", tsAt(9)))).size === 1)
    assert(tt.scan(Seq(ColPred("ts", ">=", tsAt(9)))).count() === 2L)
    assert(tt.scanFiles(Seq(ColPred("ts", "<", tsAt(0)))).isEmpty)

    // Hive partition escaping: '+' is literal (URLDecoder would have
    // turned it into a space and broken partition-value pruning)
    val pe = DeltaTable.forPath(spark, tmpDir("delta-part-esc")).create(
      StructType(Seq(StructField("id", LongType), StructField("tag", StringType))),
      partitionColumns = Seq("tag"))
    pe.append(Seq((1L, "a+b"), (2L, "c d")).toDF("id", "tag"))
    assert(pe.snapshot.files.flatMap(_.partitionValues.get("tag")).toSet === Set("a+b", "c d"))
    assert(pe.scan(Seq(ColPred("tag", "=", "a+b"))).count() === 1L)

    // compact after schema evolution must read with the declared schema
    val ce = DeltaTable.forPath(spark, tmpDir("delta-compact-evo")).create(
      StructType(Seq(StructField("id", LongType), StructField("d", StringType))),
      partitionColumns = Seq("d"))
    ce.append(Seq((1L, "x")).toDF("id", "d"))
    ce.append(Seq((2L, "x")).toDF("id", "d"))
    ce.updateSchema(StructType(Seq(StructField("id", LongType),
      StructField("d", StringType), StructField("extra", LongType))))
    assert(ce.compact(minBytes = Long.MaxValue) > 0)
    assert(ce.toDF.count() === 2L)
    assert(ce.toDF.filter(col("extra").isNull).count() === 2L)

    // partition-value pruning on a partitioned table
    val p = newTable(partitioned = true)
    p.append(sampleDf(0 until 30))
    val dates = p.snapshot.files.flatMap(_.partitionValues.get("date")).distinct
    assert(dates.size === 3)
    val one = p.scanFiles(Seq(ColPred("date", "=", "2021-11-02")))
    assert(one.nonEmpty && one.forall(_.partitionValues("date") === "2021-11-02"))
    assert(p.scan(Seq(ColPred("date", "=", "2021-11-02"))).count() === 10L)
  }

  test("CHECK constraints: validated on add, enforced on append/merge/update, droppable") {
    val t = newTable()
    t.append(sampleDf(0 until 10))
    // existing data passes → constraint lands, with the protocol bump
    t.addCheckConstraint("id_nonneg", "id >= 0")
    assert(t.checkConstraints === Map("id_nonneg" -> "id >= 0"))
    assert(DeltaTable.forPath(spark, t.path).checkConstraints.contains("id_nonneg"),
      "a fresh reader must see the constraint")
    // a violated add is refused without committing
    assertThrows[IllegalArgumentException](
      t.addCheckConstraint("name_short", "length(name) < 5"))
    assert(t.checkConstraints.size === 1)
    // duplicate name refused
    assertThrows[IllegalArgumentException](t.addCheckConstraint("id_nonneg", "id >= 0"))

    // append: violating batch fails INSIDE the write job, nothing lands
    val vBefore = t.log.latestVersion()
    val filesBefore = t.snapshot.files.map(_.path).toSet
    val bad = intercept[Exception](t.append(sampleDf(-3 until -1)))
    assert(stackMessages(bad).exists(_.contains("id_nonneg")),
      s"violation must name the constraint: ${stackMessages(bad)}")
    assert(t.log.latestVersion() === vBefore, "failed append must not commit")
    assert(t.snapshot.files.map(_.path).toSet === filesBefore)
    t.append(sampleDf(10 until 12)) // satisfying batch still lands
    assert(t.toDF.count() === 12L)

    // SQL NULL semantics: a NULL predicate passes
    t.addCheckConstraint("ts_recent", "ts IS NULL OR ts > timestamp'2000-01-01'")
    import spark.implicits._
    val nullTs = Seq((100L, "n100", null.asInstanceOf[java.sql.Timestamp], "2021-11-01"))
      .toDF("id", "name", "ts", "date")
    t.append(nullTs)
    assert(t.toDF.count() === 13L)

    // merge: a violating source row fails the rewrite; update likewise
    val badSrc = Seq((-5L, "neg")).toDF("id", "name")
    val m = intercept[Exception](t.merge(badSrc, Seq("id")))
    assert(stackMessages(m).exists(_.contains("id_nonneg")))
    val u = intercept[Exception](
      t.update(col("id") === 5L, Map("id" -> lit(-9L))))
    assert(stackMessages(u).exists(_.contains("id_nonneg")))
    assert(t.toDF.filter(col("id") < 0).isEmpty, "no violating row may land")

    // drop → previously-violating writes land
    t.dropConstraint("id_nonneg")
    assert(!t.checkConstraints.contains("id_nonneg"))
    t.append(sampleDf(-3 until -1))
    assert(t.toDF.filter(col("id") < 0).count() === 2L)
    assertThrows[IllegalArgumentException](t.dropConstraint("id_nonneg"))
  }

  test("racing constraint adds never erase each other's metadata") {
    // two writers add DIFFERENT constraints concurrently: the loser's
    // commit retry must NOT re-land its stale metadata copy (which lacks
    // the winner's key) — it either serializes cleanly or surfaces
    // ConcurrentModificationException for the caller to retry fresh
    val t = newTable()
    t.append(sampleDf(0 until 5))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    def add(name: String, sql: String): Future[Option[Throwable]] = Future {
      val w = DeltaTable.forPath(spark, t.path) // own log instance = own cache
      try { w.addCheckConstraint(name, sql); None }
      catch { case e: java.util.ConcurrentModificationException => Some(e) }
    }
    val outcomes = Await.result(
      Future.sequence(Seq(add("id_nonneg", "id >= 0"), add("name_nonempty", "length(name) > 0"))),
      2.minutes)
    // any CME loser retries once against fresh metadata — must then land
    outcomes.zip(Seq("id_nonneg" -> "id >= 0", "name_nonempty" -> "length(name) > 0"))
      .foreach { case (cme, (n, sql)) =>
        if (cme.isDefined) DeltaTable.forPath(spark, t.path).addCheckConstraint(n, sql)
      }
    val cons = DeltaTable.forPath(spark, t.path).checkConstraints
    assert(cons.keySet === Set("id_nonneg", "name_nonempty"),
      s"a concurrent add erased a committed constraint: $cons")
  }

  /** All messages down a throwable's cause chain (Spark wraps task
    * failures several layers deep). */
  private def stackMessages(e: Throwable): Seq[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq
      .flatMap(t => Option(t.getMessage))

  test("metadata cleanup drops checkpointed-away JSON, snapshots keep working") {
    val t = newTable()                       // v0
    (0 until 11).foreach(i => t.append(sampleDf(i * 5 until i * 5 + 5)))  // v1..v11, ckpt at 10
    val logDir = new Path(t.path, "_delta_log")
    val fs = logDir.getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.exists(new Path(logDir, f"${10L}%020d.checkpoint.parquet")))
    val deleted = t.log.cleanupMetadata(beforeVersion = 10L)
    assert(deleted === 20, s"v0..v9 JSON + their crc twins should go, got $deleted")
    assert(!fs.exists(new Path(logDir, f"${0L}%020d.crc")) &&
      fs.exists(new Path(logDir, f"${10L}%020d.crc")),
      "version checksums retire with their commit JSON")
    // a FRESH reader (cold cache) reconstructs from checkpoint + tail
    val fresh = DeltaTable.forPath(spark, t.path)
    assert(fresh.toDF.count() === 55L)
    assert(fresh.log.snapshotAt(11).files.nonEmpty)
    // unlimited history TRUNCATES at the oldest surviving commit file
    // (delta-rs behavior) instead of throwing on the cleaned-away tail
    val hist = fresh.log.history()
    assert(hist.map(_._1) === (11L to 10L by -1L),
      s"history must walk newest-first and stop at the surviving tail, got ${hist.map(_._1)}")
    // history below the cutoff is gone, like Delta's log retention
    assertThrows[Exception](fresh.log.snapshotAt(5).files.map(_.path))

    // with TWO checkpoints (10, 20), a cutoff between them snaps DOWN to
    // 10 — versions in [10, 20) stay time-travelable from that seed
    (11 until 21).foreach(i => t.append(sampleDf(i * 5 until i * 5 + 5))) // v12..v21
    assert(t.log.cleanupMetadata(beforeVersion = 15L) === 0) // snaps to ck 10: nothing new below it
    assert(DeltaTable.forPath(spark, t.path).log.snapshotAt(16).files.nonEmpty)
    // cleanup past the newest checkpoint removes [10, 20) and the old seed
    assert(t.log.cleanupMetadata(beforeVersion = 99L) === 21) // json+crc 10..19 + ckpt 10
    val fresh2 = DeltaTable.forPath(spark, t.path)
    assert(fresh2.toDF.count() === 105L)
    assert(fresh2.log.snapshotAt(20).files.nonEmpty)
    assertThrows[Exception](fresh2.log.snapshotAt(16).files.map(_.path))
  }

  test("concurrent writers: optimistic commit loop lands every batch exactly once") {
    val t = newTable()
    val writers = 8
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
    try {
      val tasks = (0 until writers).map { i =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          // separate DeltaTable per task = separate snapshot caches, like
          // distinct worker processes racing on one table
          override def call(): Long =
            DeltaTable.forPath(spark, t.path)
              .append(sampleDf(i * 10 until i * 10 + 10), Some(s"w$i"), 0L)
        })
      }
      val versions = tasks.map(_.get())
      assert(versions.forall(_ > 0L), s"every writer must commit, got $versions")
      assert(versions.toSet.size === writers, "each commit takes a distinct version")
    } finally pool.shutdown()
    assert(t.toDF.count() === writers * 10L)
    assert((0 until writers).forall(i => t.txnVersion(s"w$i") === Some(0L)))
  }

  test("vacuum deletes only unreferenced data files past retention") {
    val t = newTable()
    t.append(sampleDf(0 until 4).coalesce(1))  // v1: file A
    t.append(sampleDf(4 until 8).coalesce(1))  // v2: file B
    t.compact(minBytes = Long.MaxValue)        // v3: A+B removed, C added
    val live = t.snapshot.files.map(_.path).toSet
    assert(live.size === 1)
    // within retention: nothing deleted, history still readable
    assert(t.vacuum() === 0)
    assert(t.toDF(2).count() === 8L)
    // zero retention: the two compacted-away files go; the live one stays
    assert(t.vacuum(retentionMs = -1000) === 2)
    assert(t.toDF.count() === 8L)
    assert(t.snapshot.files.map(_.path).toSet === live)
  }

  test("COPY INTO loads each source file exactly once; re-runs and new files compose") {
    val srcDir = tmpDir("delta-copysrc")
    val df = (0L until 100L).map(i => (i, s"v$i", i % 4)).toDF("id", "v", "p")
    df.filter(col("id") < 40L).coalesce(2).write.parquet(srcDir + "/batch1")
    val dir = tmpDir("delta-copyinto")
    val t = DeltaTable.forPath(spark, dir).create(df.schema, Seq("p"))
    // first load: everything in batch1
    val v1 = t.copyInto(srcDir)
    assert(v1 > 0L)
    assert(t.toDF.count() === 40L)
    // exact replay: nothing new, no commit
    assert(t.copyInto(srcDir) === -1L)
    assert(t.snapshot.version === v1)
    // new files land next to the loaded ones: ONLY they load
    df.filter(col("id") >= 40L).coalesce(3).write.parquet(srcDir + "/batch2")
    assert(t.copyInto(srcDir) > v1)
    assert(t.toDF.count() === 100L)
    assert(t.toDF.orderBy("id").collect().toSeq ===
      df.orderBy("id").collect().toSeq)
    assert(t.copyInto(srcDir) === -1L)
    // PATTERN scopes the listing
    val dir2 = tmpDir("delta-copyglob")
    val t2 = DeltaTable.forPath(spark, dir2).create(df.schema, Seq("p"))
    assert(t2.copyInto(srcDir, pattern = Some("batch1/**")) > 0L)
    assert(t2.toDF.count() === 40L)
    // extra source columns refuse loudly
    val badSrc = tmpDir("delta-copybad")
    df.withColumn("oops", lit(1)).write.parquet(badSrc + "/files")
    val ex = intercept[IllegalArgumentException](t2.copyInto(badSrc + "/files"))
    assert(ex.getMessage.contains("oops"))
    // missing NULLABLE column null-fills; json format reads by name
    val jsonSrc = tmpDir("delta-copyjson")
    df.select("id", "p").filter(col("id") < 3L).coalesce(1).write.json(jsonSrc + "/files")
    val dir3 = tmpDir("delta-copyj")
    val t3 = DeltaTable.forPath(spark, dir3).create(df.schema)
    assert(t3.copyInto(jsonSrc + "/files", format = "json") > 0L)
    val rows = t3.toDF.orderBy("id").collect()
    assert(rows.length === 3 && rows.forall(_.isNullAt(1)))
    // SQL surface
    val dir4 = tmpDir("delta-copysql")
    DeltaTable.forPath(spark, dir4).create(df.schema, Seq("p"))
    val out = spark.sql(
      s"COPY INTO '$dir4' FROM '$srcDir' FILEFORMAT = PARQUET PATTERN = 'batch2/**'")
    assert(out.head().getLong(2) > 0L)
    assert(DeltaTable.forPath(spark, dir4).toDF.count() === 60L)
    assert(spark.sql(
      s"COPY INTO '$dir4' FROM '$srcDir' FILEFORMAT = PARQUET PATTERN = 'batch2/**'")
      .head().getLong(2) === -1L)
  }

  test("VACUUM LITE collects log tombstones without listing; RESTORE-safe; misses orphans") {
    val dir = tmpDir("delta-vaclite")
    val df = (0L until 100L).map(i => (i, s"v$i")).toDF("id", "v")
    val t = DeltaTable.forPath(spark, dir).create(df.schema)
    t.append(df.filter(col("id") < 50L).coalesce(1))   // v1
    t.append(df.filter(col("id") >= 50L).coalesce(1))  // v2
    val vBefore = t.snapshot.version
    t.compact(minBytes = Long.MaxValue)                // v3: tombstones v1+v2 files
    // LITE sees exactly what the full walk sees for rewrite debt
    val walk = t.vacuumDryRun(retentionMs = -1000L)
    assert(t.vacuumLiteDryRun(retentionMs = -1000L) === walk && walk.size === 2)
    // within retention: nothing collects
    assert(t.vacuumLiteDryRun().isEmpty)
    // RESTORE re-adds tombstoned paths: the live-set anti-check must
    // protect them even though removes still name them in the log —
    // the only candidate left is the compact OUTPUT the restore removed
    assert(t.restoreTo(vBefore) > 0L)
    val afterRestore = t.vacuumLiteDryRun(retentionMs = -1000L)
    val live = t.snapshot.files.map(_.path).toSet
    assert(afterRestore.size === 1 && !afterRestore.exists(live),
      s"restored files must never be LITE candidates: $afterRestore")
    assert(afterRestore === t.vacuumDryRun(retentionMs = -1000L))
    assert(t.toDF.count() === 100L)
    // re-compact and really collect; reads stay whole
    t.compact(minBytes = Long.MaxValue)
    val n = t.vacuumLite(retentionMs = -1000L)
    assert(n >= 2)
    assert(DeltaTable.forPath(spark, dir).toDF.count() === 100L)
    assert(t.vacuumLite(retentionMs = -1000L) === 0) // idempotent
    // the documented trade: an ORPHAN (crashed write, never committed)
    // is invisible to LITE but found by the walk
    val orphan = new Path(dir, "part-orphan.parquet")
    val fs = orphan.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(orphan); out.write(1); out.close()
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(dir, "part-orphan.parquet"),
      java.nio.file.attribute.FileTime.fromMillis(1L))
    assert(t.vacuumLiteDryRun(retentionMs = -1000L).isEmpty)
    assert(t.vacuumDryRun(retentionMs = -1000L) === Seq("part-orphan.parquet"))
    // SQL surface: LITE + DRY RUN; LITE + INVENTORY refuses
    t.append(df.coalesce(1)); t.compact(minBytes = Long.MaxValue)
    val dry = spark.sql(s"VACUUM '$dir' LITE RETAIN 0 HOURS DRY RUN").collect()
    assert(dry.nonEmpty)
    val ran = spark.sql(s"VACUUM '$dir' LITE RETAIN 0 HOURS").collect()
    assert(ran.head.getLong(1) >= dry.length.toLong)
    intercept[Exception](spark.sql(
      s"VACUUM '$dir' USING INVENTORY (SELECT 1) LITE RETAIN 0 HOURS"))
  }

  test("delta.parquet.compression.codec drives staged writes; OPTIMIZE transcodes") {
    def codecsOf(t: DeltaTable): Set[String] = t.snapshot.files.map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new Path(t.path, f.path), spark.sessionState.newHadoopConf()))
      try r.getFooter.getBlocks.get(0).getColumns.get(0).getCodec.name().toLowerCase
      finally r.close()
    }.toSet
    val dir = tmpDir("delta-codec")
    val df = (0L until 500L).map(i => (i, s"text value $i")).toDF("id", "v")
    val t = DeltaTable.forPath(spark, dir).create(df.schema,
      configuration = Map(DeltaTable.ParquetCodecKey -> "zstd"))
    t.append(df.coalesce(1))
    assert(codecsOf(t) === Set("zstd"))
    assert(t.toDF.count() === 500L)
    // default tables stay snappy; flipping the property transcodes via
    // OPTIMIZE (the whole-table recompress lever)
    val dir2 = tmpDir("delta-codec2")
    val t2 = DeltaTable.forPath(spark, dir2).create(df.schema)
    t2.append(df.filter(col("id") < 250L).coalesce(1))
    t2.append(df.filter(col("id") >= 250L).coalesce(1))
    assert(codecsOf(t2) === Set("snappy"))
    t2.setProperties(Map(DeltaTable.ParquetCodecKey -> "zstd"))
    assert(t2.compact(minBytes = Long.MaxValue) > 0L)
    assert(codecsOf(DeltaTable.forPath(spark, dir2)) === Set("zstd"))
    assert(DeltaTable.forPath(spark, dir2).toDF.count() === 500L)
    // unknown codec refuses at SET time and at CREATE
    assertThrows[IllegalArgumentException](
      t2.setProperties(Map(DeltaTable.ParquetCodecKey -> "brotli9000")))
    assertThrows[IllegalArgumentException](
      DeltaTable.forPath(spark, tmpDir("delta-codec3")).create(df.schema,
        configuration = Map(DeltaTable.ParquetCodecKey -> "nope"))
        .append(df.coalesce(1)))
  }

  test("concurrent COPY INTO of one source never duplicates a file's rows") {
    val srcDir = tmpDir("delta-copyrace-src")
    val df = (0L until 200L).map(i => (i, s"v$i")).toDF("id", "v")
    df.coalesce(4).write.parquet(srcDir + "/files")
    val dir = tmpDir("delta-copyrace")
    DeltaTable.forPath(spark, dir).create(df.schema)
    // two loaders race on the same source: the per-file txn guard makes
    // the overlap abort-and-retry, so every file lands EXACTLY once
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val fs = (0 until 2).map(_ => pool.submit(
        new java.util.concurrent.Callable[Long] {
          override def call(): Long =
            DeltaTable.forPath(spark, dir).copyInto(srcDir)
        }))
      fs.foreach(_.get()) // both complete (retry absorbs the race)
    } finally pool.shutdown()
    val t = DeltaTable.forPath(spark, dir)
    assert(t.toDF.count() === 200L, "a lost race must not double-load")
    assert(t.toDF.select("id").distinct().count() === 200L)
    assert(t.copyInto(srcDir) === -1L)
  }

  test("vacuum USING INVENTORY: distributed anti-join matches the walk; never over-deletes") {
    val dir = tmpDir("delta-vacuum-inv")
    val df = (0L until 120L).map(i => (i, i % 3)).toDF("v", "p")
    val t0 = DeltaTable.forPath(spark, dir).create(df.schema, Seq("p"))
    t0.append(df)
    val t = DeltaTable.forPath(spark, dir)
    assert(t.delete(col("v") % 3L === 0L) > 0L) // every partition rewrites
    val expected = t.vacuumDryRun(retentionMs = -1000L)
    assert(expected.nonEmpty)
    // fabricate the object-store inventory: a recursive listing with
    // ABSOLUTE scheme-less paths (the S3-inventory shape)
    def listing(base: java.io.File): Seq[(String, Long, Boolean, Long)] = {
      val here = Option(base.listFiles).toSeq.flatten
      here.map(f => (f.getAbsolutePath, f.length, f.isDirectory, f.lastModified)) ++
        here.filter(_.isDirectory).flatMap(listing)
    }
    val invRows = listing(new java.io.File(dir))
    val inv = invRows.toDF("path", "length", "isDir", "modificationTime")
    assert(t.vacuumInventoryDryRun(inv, retentionMs = -1000L) === expected)
    // within retention nothing qualifies; a STALE (partial) inventory
    // only misses garbage, never invents candidates
    assert(t.vacuumInventoryDryRun(inv).isEmpty)
    val partial = inv.limit(invRows.size / 2)
    val partialDry = t.vacuumInventoryDryRun(partial, retentionMs = -1000L)
    assert(partialDry.toSet.subsetOf(expected.toSet))
    // table-RELATIVE paths resolve identically
    val rootLen = new java.io.File(dir).getAbsolutePath.length + 1
    val relInv = invRows.map { case (p, l, d, m) => (p.substring(rootLen), l, d, m) }
      .toDF("path", "length", "isDir", "modificationTime")
    assert(t.vacuumInventoryDryRun(relInv, retentionMs = -1000L) === expected)
    // a LIVE file smuggled into the inventory with an old timestamp must
    // survive (the anti-join is against the current snapshot)
    val liveRel = t.snapshot.files.head.path
    val poisoned = Seq((liveRel, 1L, false, 0L))
      .toDF("path", "length", "isDir", "modificationTime")
    assert(t.vacuumInventoryDryRun(poisoned, retentionMs = -1000L).isEmpty)
    // the real run deletes exactly the expected set; reads stay whole
    assert(t.vacuumUsingInventory(inv, retentionMs = -1000L) === expected.size)
    assert(DeltaTable.forPath(spark, dir).toDF.count() === 80L)
    assert(t.vacuumDryRun(retentionMs = -1000L).isEmpty)
    // SQL surface: USING INVENTORY (subquery) + RETAIN + DRY RUN
    val dir2 = tmpDir("delta-vacuum-invsql")
    val u0 = DeltaTable.forPath(spark, dir2).create(df.schema)
    u0.append(df.coalesce(1)); u0.append(df.coalesce(1))
    val u = DeltaTable.forPath(spark, dir2)
    u.compact(minBytes = Long.MaxValue)
    listing(new java.io.File(dir2)).toDF("path", "length", "isDir", "modificationTime")
      .createOrReplaceTempView("inv_view")
    val dry = spark.sql(
      s"VACUUM '$dir2' USING INVENTORY (SELECT * FROM inv_view) RETAIN 0 HOURS DRY RUN")
    assert(dry.count() === 2L) // the two compacted-away files
    val ran = spark.sql(
      s"VACUUM '$dir2' USING INVENTORY (SELECT * FROM inv_view) RETAIN 0 HOURS")
    assert(ran.head().getLong(1) === 2L)
    assert(DeltaTable.forPath(spark, dir2).toDF.count() === 240L)
  }

  test("vacuum's parallel listing walks a deep partition tree completely") {
    val dir = tmpDir("delta-vacuum-deep")
    // two partition levels -> a=0..3 / b=0..2 = 12 leaf directories
    val df = (0L until 240L).map(i => (i, i % 4, i % 3)).toDF("v", "a", "b")
    val t0 = DeltaTable.forPath(spark, dir).create(df.schema, Seq("a", "b"))
    t0.append(df)
    val t = DeltaTable.forPath(spark, dir)
    val before = t.snapshot.files
    assert(before.map(_.partitionValues).distinct.size === 12)
    // DELETE rewrites every file (gcd(5,12)=1, so multiples of 5 land in
    // every (a,b) leaf) -> the old generation is unreferenced in all 12
    // dirs; the walk must find each one
    assert(t.delete(col("v") % 5L === 0L) > 0L)
    val dry = t.vacuumDryRun(retentionMs = -1000L)
    assert(dry.toSet === before.map(_.path).toSet,
      s"dry run must list every old file across the tree, got ${dry.size}")
    assert(dry.forall(p => p.matches("a=\\d+/b=\\d+/.*\\.parquet")), dry.take(3))
    assert(t.vacuum(retentionMs = -1000L) === before.size)
    // survivors intact, readable, and confined to their own partitions
    val after = DeltaTable.forPath(spark, dir)
    assert(after.toDF.count() === 192L)
    assert(after.vacuumDryRun(retentionMs = -1000L).isEmpty)
  }

  test("txn append is idempotent: same (appId, version) commits once") {
    val t = newTable()
    assert(t.append(sampleDf(0 until 5), Some("app"), 0L) === 1L)
    assert(t.append(sampleDf(0 until 5), Some("app"), 0L) === -1L) // replay
    assert(t.append(sampleDf(5 until 8), Some("app"), 1L) === 2L)
    assert(t.toDF.count() === 8L)
    assert(t.txnVersion("app") === Some(1L))
  }

  test("commit re-checks txn on retry: zombie writer loses the race cleanly") {
    val t = newTable()
    val log = t.log
    def txnCommit(v: Long): Seq[Action] =
      Seq(Action(txn = Some(Txn("app", v))),
        Action(commitInfo = Some(CommitInfo(0L, "TEST"))))
    // First attempt's check injects a competing commit of the same txn
    // version (the zombie's restart landing first), then reports the stale
    // snapshot as clean; the retry must see the new txn and skip.
    var injected = false
    val committed = log.commit(txnCommit(7L), check = snap => {
      if (!injected) { injected = true; log.commit(txnCommit(7L)) }
      snap.txns.getOrElse("app", -1L) < 7L
    })
    assert(committed === -1L)
    assert(log.snapshot().txns("app") === 7L)
  }

  test("version files are create-if-absent: double write throws") {
    val t = newTable()
    val v = t.log.latestVersion() + 1
    t.log.write(v, Seq(Action(commitInfo = Some(CommitInfo(0L, "A")))))
    assertThrows[VersionAlreadyExists](
      t.log.write(v, Seq(Action(commitInfo = Some(CommitInfo(0L, "B"))))))
  }

  test("add.stats carries numRecords, min/max, nullCount from footers") {
    val t = newTable()
    val df = Seq(
      (1L, "alpha", new java.sql.Timestamp(1636668718123L), "d"),
      (2L, null.asInstanceOf[String], new java.sql.Timestamp(1636668720456L), "d"),
      (3L, "zulu", new java.sql.Timestamp(1636668719000L), "d")
    ).toDF("id", "name", "ts", "date").coalesce(1)
    t.append(df)
    val stats = t.snapshot.files.flatMap(_.stats)
    assert(stats.nonEmpty)
    val node = Actions.mapper.readTree(stats.head)
    assert(node.get("numRecords").asLong() === 3L)
    assert(node.get("minValues").get("id").asLong() === 1L)
    assert(node.get("maxValues").get("id").asLong() === 3L)
    assert(node.get("minValues").get("name").asText() === "alpha")
    assert(node.get("maxValues").get("name").asText() === "zulu")
    assert(node.get("nullCount").get("name").asLong() === 1L)
    assert(node.get("nullCount").get("id").asLong() === 0L)
    // reference renders timestamps as %Y-%m-%dT%H:%M:%S%.3fZ
    assert(node.get("minValues").get("ts").asText() === "2021-11-11T22:11:58.123Z")
    assert(node.get("maxValues").get("ts").asText() === "2021-11-11T22:12:00.456Z")
  }

  test("parquet checkpoint at v10: spec file name, _last_checkpoint, and replay from it") {
    val t = newTable()
    (0 until 12).foreach(i => t.append(sampleDf(i to i), Some("app"), i.toLong))
    val logDir = new Path(t.path, "_delta_log")
    val fs = logDir.getFileSystem(spark.sessionState.newHadoopConf())
    val ck = new Path(logDir, f"${10L}%020d.checkpoint.parquet")
    assert(fs.exists(ck), "checkpoint parquet missing")
    assert(fs.exists(new Path(logDir, "_last_checkpoint")))

    // the checkpoint parquet alone must reconstruct state: delete the JSON
    // commits it covers and re-snapshot
    (0L to 10L).foreach(v => fs.delete(t.log.versionFile(v), false))
    val fresh = DeltaTable.forPath(spark, t.path)
    val snap = fresh.snapshot
    assert(snap.version === 12L)
    assert(snap.txns("app") === 11L)
    assert(snap.files.size === 12)
    assert(fresh.toDF.count() === 12L)
  }

  test("multi-part checkpoint: part naming, replay, incomplete-set fallback, cleanup") {
    val t = newTable()
    t.log.checkpointPartSize = 3 // force the multi-part path on a small table
    (0 until 12).foreach(i => t.append(sampleDf(i to i), Some("app"), i.toLong))
    val logDir = new Path(t.path, "_delta_log")
    val fs = logDir.getFileSystem(spark.sessionState.newHadoopConf())
    // v10 state = protocol + metaData + txn + 10 adds = 13 actions → >1 part
    val parts = fs.listStatus(logDir).map(_.getPath.getName)
      .filter(_.matches("""0{12}\d{8}\.checkpoint\.\d{10}\.\d{10}\.parquet""")).sorted
    assert(parts.length > 1, s"expected a multi-part checkpoint, got ${parts.toSeq}")
    assert(!fs.exists(new Path(logDir, f"${10L}%020d.checkpoint.parquet")),
      "single-part name must not coexist with the part set")
    val declared = parts.head.split('.')(3).toInt
    assert(parts.length === declared, "part names must declare the real part count")
    val lc = new String(org.apache.commons.io.IOUtils.toByteArray(
      fs.open(new Path(logDir, "_last_checkpoint"))), "UTF-8")
    assert(lc.contains(s""""parts":$declared"""), lc)
    // the part set alone reconstructs state: delete the covered JSON
    (0L to 10L).foreach(v => fs.delete(t.log.versionFile(v), false))
    val fresh = DeltaTable.forPath(spark, t.path)
    assert(fresh.snapshot.version === 12L)
    assert(fresh.snapshot.txns("app") === 11L)
    assert(fresh.toDF.count() === 12L)

    // an INCOMPLETE part set (writer died mid-upload) is ignored, never
    // half-read: with the covered JSON also gone the replay must refuse
    // loudly (nothing to seed from), not return a partial table
    val t2 = newTable()
    t2.log.checkpointPartSize = 3
    (0 until 11).foreach(i => t2.append(sampleDf(i to i)))
    val log2 = new Path(t2.path, "_delta_log")
    val part1 = fs.listStatus(log2).map(_.getPath.getName)
      .filter(_.matches(""".*\.checkpoint\.0000000001\.\d{10}\.parquet""")).head
    fs.delete(new Path(log2, part1), false)
    (0L to 9L).foreach(v => fs.delete(t2.log.versionFile(v), false))
    assertThrows[IllegalStateException](DeltaTable.forPath(spark, t2.path).snapshot)

    // cleanup recognizes multi-part names: after a second checkpoint at
    // v20, cleanup below it removes the v10 part files
    (12 until 21).foreach(i => t.append(sampleDf(i to i)))
    assert(t.log.cleanupMetadata(20L) > 0)
    assert(fs.listStatus(logDir).map(_.getPath.getName)
      .count(_.matches(f"${10L}%020d\\.checkpoint\\..*")) === 0,
      "old part files must age out with cleanup")
    assert(DeltaTable.forPath(spark, t.path).toDF.count() === 21L)
  }

  test("overwriteWhere replaces only the matching region; overwrite replaces all; CDF records both") {
    val t = newTable(partitioned = true)
    t.append(sampleDf(0 until 12)) // dates 2021-11-01..03, 4 rows each
    val keepFiles = t.snapshot.files
      .filter(_.partitionValues.get("date").exists(_ != "2021-11-02")).map(_.path).toSet
    // replace one date's region with two fresh rows
    val fresh = Seq((100L, "fresh100", new java.sql.Timestamp(0L), "2021-11-02"),
      (101L, "fresh101", new java.sql.Timestamp(0L), "2021-11-02"))
      .toDF("id", "name", "ts", "date")
    assert(t.overwriteWhere(col("date") === "2021-11-02", fresh) === 2L)
    assert(t.toDF.filter(col("date") === "2021-11-02").select("id").as[Long]
      .collect().toSet === Set(100L, 101L))
    assert(t.toDF.count() === 10L) // 8 survivors + 2 fresh
    assert(t.snapshot.files
      .filter(_.partitionValues.get("date").exists(_ != "2021-11-02"))
      .map(_.path).toSet === keepFiles, "other partitions' files must not rewrite")
    // a row OUTSIDE the predicate fails the write job; table unchanged
    val bad = fresh.withColumn("date", lit("2021-11-03"))
    // raise_error surfaces as SparkRuntimeException when the check folds
    // driver-side and as a task-failure SparkException when it runs in
    // executors — both are SparkThrowable
    val refused = intercept[Exception](
      t.overwriteWhere(col("date") === "2021-11-02", bad))
    assert(refused.isInstanceOf[org.apache.spark.SparkThrowable])
    assert(t.toDF.count() === 10L)
    // predicate matching NO live file still inserts (pure-insert overwrite)
    assert(t.overwriteWhere(col("date") === "2021-12-25",
      Seq((200L, "xmas", new java.sql.Timestamp(0L), "2021-12-25"))
        .toDF("id", "name", "ts", "date")) > 0L)
    assert(t.toDF.count() === 11L)
    // full overwrite replaces everything
    assert(t.overwrite(sampleDf(0 until 3)) > 0L)
    assert(t.toDF.select("id").as[Long].collect().toSet === Set(0L, 1L, 2L))

    // CDF-enabled table records delete + insert rows for the overwrite
    val c = DeltaTable.forPath(spark, tmpDir("delta-rw-cdf")).create(schema,
      configuration = Map(DeltaTable.CdfConfigKey -> "true"))
    c.append(sampleDf(0 until 4)) // v1
    val v = c.overwriteWhere(col("id") < 2, Seq(
      (1L, "new", new java.sql.Timestamp(0L), "2021-11-01"))
      .toDF("id", "name", "ts", "date"))
    val ch = c.changes(v, v).groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ch === Map("delete" -> 2L, "insert" -> 1L))
  }

  test("convertFrom: distributed footer-stats path produces identical adds") {
    val dirA = tmpDir("convert-dist-a")
    val dirB = tmpDir("convert-dist-b")
    sampleDf(0 until 20).write.mode("overwrite").partitionBy("date").parquet(dirA)
    sampleDf(0 until 20).write.mode("overwrite").partitionBy("date").parquet(dirB)
    val tA = DeltaTable.convertFrom(spark, dirA, Seq("date")) // driver pool
    val old = DeltaTable.distributedStatsThreshold
    DeltaTable.distributedStatsThreshold = 1
    val tB = try DeltaTable.convertFrom(spark, dirB, Seq("date")) // spark job
    finally DeltaTable.distributedStatsThreshold = old
    def statsSet(t: DeltaTable) = t.snapshot.files
      .map(f => (f.partitionValues.toSeq.sorted, f.stats)).sortBy(_.toString)
    assert(statsSet(tB) === statsSet(tA),
      "executor-read footer stats must match the driver-pool stats file-for-file")
    assert(tB.toDF.count() === 20L)
    assert(tB.scanFiles(Seq(DataSkipping.ColPred("id", "<=", 1L))).nonEmpty)
  }

  test("convertFrom: in-place CONVERT TO DELTA with stats; DML works on the converted table") {
    // partitioned: Hive layout becomes partitionValues, schema keeps the
    // typed partition column, footer stats ride each add
    val dir = tmpDir("convert-part")
    sampleDf(0 until 12).write.mode("overwrite").partitionBy("date").parquet(dir)
    val t = DeltaTable.convertFrom(spark, dir, Seq("date"))
    assert(t.toDF.count() === 12L)
    assert(t.partitionColumns === Seq("date"))
    assert(t.snapshot.files.nonEmpty)
    assert(t.snapshot.files.forall(f =>
      f.partitionValues.keySet == Set("date") && f.stats.isDefined))
    assert(t.toDF.orderBy("id").collect()(3).getAs[String]("name") === "name3")
    // the directory still answers plain parquet reads
    assert(spark.read.parquet(dir).count() === 12L)
    // DML works post-convert (the point of converting)
    assert(t.delete(col("id") < 4L) > 0L)
    assert(t.toDF.count() === 8L)
    assert(t.append(sampleDf(100 until 102)) > 0L)
    assert(t.toDF.count() === 10L)
    // converting twice refuses
    assertThrows[IllegalArgumentException](DeltaTable.convertFrom(spark, dir))
    // unpartitioned convert
    val dir2 = tmpDir("convert-flat")
    sampleDf(0 until 5).write.mode("overwrite").parquet(dir2)
    val t2 = DeltaTable.convertFrom(spark, dir2)
    assert(t2.toDF.count() === 5L)
    assert(t2.snapshot.files.forall(_.partitionValues.isEmpty))
    // wrong partitioning declaration fails loudly, and the failed
    // attempt must not leave a half-created log behind
    val dir3 = tmpDir("convert-bad")
    sampleDf(0 until 5).write.mode("overwrite").partitionBy("date").parquet(dir3)
    assertThrows[IllegalArgumentException](
      DeltaTable.convertFrom(spark, dir3, Seq("name")))
    assert(!DeltaTable.forPath(spark, dir3).exists)
  }

  test("OPTIMIZE WHERE: compaction scoped to the named partitions only") {
    val t = newTable(partitioned = true)
    (0 until 4).foreach(_ => t.append(sampleDf(0 until 6))) // 3 dates × 4 files
    def filesOf(day: String) =
      t.snapshot.files.filter(_.partitionValues.get("date").contains(day)).map(_.path).toSet
    assert(filesOf("2021-11-01").size === 4)
    val otherBefore = filesOf("2021-11-02") ++ filesOf("2021-11-03")
    assert(t.compact(minBytes = Long.MaxValue,
      where = Some(col("date") === "2021-11-01")) > 0L)
    assert(filesOf("2021-11-01").size === 1, "scoped partition must fold")
    assert(filesOf("2021-11-02") ++ filesOf("2021-11-03") === otherBefore,
      "partitions outside the predicate must keep their exact files")
    assert(t.toDF.count() === 24L)
    // predicate over a NON-partition column fails analysis loudly
    assertThrows[org.apache.spark.sql.AnalysisException](
      t.compact(minBytes = Long.MaxValue, where = Some(col("id") > 0L)))
    // scoped Z-order rewrites only the named partition's files
    val other2 = filesOf("2021-11-02")
    assert(t.optimizeZOrder("id", "id",
      where = Some(col("date") === "2021-11-03")) > 0L)
    assert(filesOf("2021-11-02") === other2)
    assert(t.toDF.count() === 24L)
    // a predicate matching nothing is a quiet no-op
    assert(t.compact(minBytes = Long.MaxValue,
      where = Some(col("date") === "1999-01-01")) === -1L)
    // unpartitioned tables refuse the scoped form
    val u = newTable()
    u.append(sampleDf(0 until 3))
    assertThrows[IllegalArgumentException](
      u.compact(where = Some(col("date") === "x")))
  }

  test("detail() reports log-only metadata; restoreToTimestamp resolves the cut") {
    val t = newTable(partitioned = true)
    t.append(sampleDf(0 until 6)) // v1
    val row = t.detail().collect().head
    assert(row.getAs[String]("format") === "delta")
    assert(row.getAs[Seq[String]]("partitionColumns") === Seq("date"))
    assert(row.getAs[Long]("numFiles") === t.snapshot.files.size.toLong)
    assert(row.getAs[Long]("sizeInBytes") === t.snapshot.files.map(_.size).sum)
    assert(row.getAs[Long]("version") === 1L)
    assert(row.getAs[Int]("minWriterVersion") >= 2)
    Thread.sleep(10)
    t.append(sampleDf(6 until 10)) // v2
    def tsOf(v: Long) = t.log.readVersion(v).flatMap(_.commitInfo).head.timestamp
    if (tsOf(2) > tsOf(1)) { // same-ms commits are legal; only assert when distinct
      t.restoreToTimestamp(tsOf(1))
      assert(t.toDF.count() === 6L, "cut at v1's timestamp restores v1's content")
    }
  }

  test("in-commit timestamps: strictly monotone stamps drive time travel; protocol advertises the feature") {
    val t = DeltaTable.forPath(spark, tmpDir("delta-ict")).create(schema,
      configuration = Map(DeltaTable.IctConfigKey -> "true"))
    val proto = t.snapshot.protocol.get
    assert(proto.minWriterVersion === 7)
    assert(proto.writerFeatures.exists(_.contains("inCommitTimestamp")), proto)
    (0 until 5).foreach(i => t.append(sampleDf(i to i))) // rapid same-ms commits
    def ictOf(v: Long): Long = t.log.readVersion(v).flatMap(_.commitInfo)
      .head.inCommitTimestamp.getOrElse(fail(s"version $v must carry an ICT"))
    val icts = (1L to 5L).map(ictOf)
    assert(icts === icts.sorted && icts.distinct.size === icts.size,
      s"ICTs must be STRICTLY increasing even for same-ms commits: $icts")
    // time travel resolves by the authoritative ICT
    assert(t.toDFAsOf(ictOf(3)).count() === 3L)
    assert(t.toDFAsOf(ictOf(5)).count() === 5L)
    assert(t.toDFAsOf(ictOf(3) + (ictOf(4) - ictOf(3)) / 2).count() === 3L)
  }

  test("autoCompact: appends fold small files once the threshold is reached") {
    val t = DeltaTable.forPath(spark, tmpDir("delta-ac")).create(schema,
      configuration = Map(
        DeltaTable.AutoCompactConfigKey -> "true",
        DeltaTable.AutoCompactMinFilesKey -> "4"))
    (0 until 3).foreach(i => t.append(sampleDf(i to i).coalesce(1)))
    assert(t.snapshot.files.size === 3, "below threshold: no compaction yet")
    t.append(sampleDf(3 to 3).coalesce(1)) // 4th file trips the threshold
    assert(t.snapshot.files.size === 1,
      s"auto-compaction must fold the small files, got ${t.snapshot.files.size}")
    assert(t.toDF.count() === 4L)
    assert(t.log.history(Some(1)).head._2.exists(_.operation === "OPTIMIZE"))
    // the OPTIMIZE is dataChange=false: a tailing stream must not re-emit
    val q = spark.readStream.format("graft-delta").option("path", t.path).load()
      .writeStream.format("memory").queryName("delta_ac_stream")
      .option("checkpointLocation", tmpDir("delta-ac-ck")).start()
    try {
      q.processAllAvailable()
      assert(spark.table("delta_ac_stream").count() === 4L)
    } finally q.stop()
    // without the property, files accrete
    val u = DeltaTable.forPath(spark, tmpDir("delta-noac")).create(schema)
    (0 until 5).foreach(i => u.append(sampleDf(i to i).coalesce(1)))
    assert(u.snapshot.files.size === 5)
    // partitioned: only the partitions an append wrote count and compact
    val p = DeltaTable.forPath(spark, tmpDir("delta-ac-part")).create(schema, Seq("date"))
    def dated(i: Int, date: String) = sampleDf(i to i).withColumn("date", lit(date))
    (0 until 4).foreach(i => p.append(dated(i, "2021-01-01")))
    p.setProperties(Map(
      DeltaTable.AutoCompactConfigKey -> "true",
      DeltaTable.AutoCompactMinFilesKey -> "3"))
    val held = p.snapshot.files.map(_.path).toSet
    (4 until 6).foreach(i => p.append(dated(i, "2021-01-02")))
    assert(held.subsetOf(p.snapshot.files.map(_.path).toSet),
      "appends into 2021-01-02 must not compact 2021-01-01's four small files")
    assert(p.snapshot.files.size === 6)
    p.append(dated(6, "2021-01-02")) // the third small file of 2021-01-02
    assert(p.snapshot.files.size === 5)
    assert(held.subsetOf(p.snapshot.files.map(_.path).toSet))
    assert(p.toDF.count() === 7L)
  }

  test("appendOnly: removal DML refuses; appends and compaction still work") {
    val t = DeltaTable.forPath(spark, tmpDir("delta-ao")).create(schema,
      configuration = Map(DeltaTable.AppendOnlyConfigKey -> "true"))
    assert(t.isAppendOnly)
    t.append(sampleDf(0 until 4))
    t.append(sampleDf(4 until 8)) // appends always allowed
    assert(t.toDF.count() === 8L)
    assertThrows[IllegalArgumentException](t.delete(col("id") === 1L))
    assertThrows[IllegalArgumentException](t.update(col("id") === 1L,
      Map("name" -> lit("x"))))
    assertThrows[IllegalArgumentException](t.merge(sampleDf(0 until 1), Seq("id")))
    assertThrows[IllegalArgumentException](t.overwrite(sampleDf(0 until 1)))
    assertThrows[IllegalArgumentException](
      t.overwriteWhere(col("id") < 2, sampleDf(0 until 1)))
    assertThrows[IllegalArgumentException](t.restoreTo(1L))
    // file maintenance rewrites bytes, not logical rows — still allowed
    assert(t.compact(minBytes = Long.MaxValue) > 0L)
    assert(t.toDF.count() === 8L)
  }

  test("schema evolution: new nullable column null-fills old files") {
    val t = newTable()
    t.append(sampleDf(0 until 3))
    val evolved = StructType(schema.fields :+ StructField("color", StringType))
    t.updateSchema(evolved)
    val withColor = Seq((10L, "n", new java.sql.Timestamp(0L), "d", "red"))
      .toDF("id", "name", "ts", "date", "color")
    t.append(withColor)
    val back = DeltaTable.forPath(spark, t.path).toDF.orderBy("id").collect()
    assert(back.length === 4)
    assert(back.take(3).forall(_.isNullAt(back.head.fieldIndex("color"))))
    assert(back.last.getAs[String]("color") === "red")
  }

  test("compact rewrites small files without changing data") {
    val t = newTable()
    (0 until 3).foreach(i => t.append(sampleDf(i * 5 until (i + 1) * 5)))
    val before = t.toDF.orderBy("id").collect().toSeq
    val filesBefore = t.snapshot.files.size
    assert(t.compact(minBytes = 10L * 1024 * 1024) > 0)
    val after = DeltaTable.forPath(spark, t.path)
    assert(after.snapshot.files.size < filesBefore)
    assert(after.toDF.orderBy("id").collect().toSeq === before)
  }

  test("optimizeZOrder clusters two dimensions so stats prune both") {
    import DataSkipping.ColPred
    val t = DeltaTable.forPath(spark, tmpDir("delta-zorder")).create(
      StructType(Seq(StructField("a", LongType), StructField("b", LongType))))
    // a 32x32 grid appended in row-major slices: every file spans the FULL
    // b range, so b-predicates prune nothing before the rewrite
    val grid = for (a <- 0L until 32L; b <- 0L until 32L) yield (a, b)
    grid.grouped(128).foreach(chunk => t.append(chunk.toDF("a", "b").coalesce(1)))
    val before = DeltaTable.forPath(spark, t.path)
    val nFiles = before.snapshot.files.size
    assert(nFiles === 8)
    assert(before.scanFiles(Seq(ColPred("b", "=", 7L))).size === nFiles)
    val data = before.toDF.orderBy("a", "b").collect().toSeq

    // explicit numFiles: the default bin-packs to delta.targetFileSize,
    // which would fold this KB-scale grid into one file
    assert(before.optimizeZOrder(Seq("a", "b"), numFiles = 8, None) > 0)
    val after = DeltaTable.forPath(spark, t.path)
    assert(after.snapshot.files.size === nFiles)
    // z-clustering bounds each file in BOTH dims. 8 files x 128 cells fix
    // the top 3 z-bits (a4, b4, a3) — every file is an 8x16 tile, so a
    // point predicate on a hits <= 2 files and on b <= 4 (vs 8 before)
    assert(after.scanFiles(Seq(ColPred("b", "=", 7L))).size <= nFiles / 2)
    assert(after.scanFiles(Seq(ColPred("a", "=", 7L))).size <= nFiles / 4)
    // rewrite is metadata-only data motion: same rows, dataChange=false
    assert(after.toDF.orderBy("a", "b").collect().toSeq === data)
    // results stay exact through pruned scans
    assert(after.scan(Seq(ColPred("a", "=", 7L))).count() === 32L)
    assert(after.scan(Seq(ColPred("b", "=", 7L), ColPred("a", "<", 4L))).count() === 4L)
  }

  test("optimizeHilbert clusters two dimensions so stats prune both") {
    import DataSkipping.ColPred
    val t = DeltaTable.forPath(spark, tmpDir("delta-hilbert")).create(
      StructType(Seq(StructField("a", LongType), StructField("b", LongType))))
    // same adversarial layout as the z-order case: row-major slices make
    // every file span the full b range before the rewrite
    val grid = for (a <- 0L until 32L; b <- 0L until 32L) yield (a, b)
    grid.grouped(128).foreach(chunk => t.append(chunk.toDF("a", "b").coalesce(1)))
    val before = DeltaTable.forPath(spark, t.path)
    val nFiles = before.snapshot.files.size
    assert(nFiles === 8)
    assert(before.scanFiles(Seq(ColPred("b", "=", 7L))).size === nFiles)
    val data = before.toDF.orderBy("a", "b").collect().toSeq

    assert(before.optimizeHilbert(Seq("a", "b"), numFiles = 8, None) > 0)
    val after = DeltaTable.forPath(spark, t.path)
    assert(after.snapshot.files.size === nFiles)
    // each file is a contiguous 128-cell curve segment = at most two 8x8
    // subquadrants of one 16x16 quadrant — a point predicate on either
    // dim crosses at most half the files (Morton pruning holds here too,
    // but Hilbert segments never jump seams, so the bound is robust)
    assert(after.scanFiles(Seq(ColPred("b", "=", 7L))).size <= nFiles / 2)
    assert(after.scanFiles(Seq(ColPred("a", "=", 7L))).size <= nFiles / 2)
    assert(after.toDF.orderBy("a", "b").collect().toSeq === data)
    assert(after.scan(Seq(ColPred("a", "=", 7L))).count() === 32L)
    assert(after.scan(Seq(ColPred("b", "=", 7L), ColPred("a", "<", 4L))).count() === 4L)
  }

  test("optimizeZOrder over THREE columns clusters all three dimensions") {
    import DataSkipping.ColPred
    val t = DeltaTable.forPath(spark, tmpDir("delta-zorder3")).create(
      StructType(Seq(StructField("a", LongType), StructField("b", LongType),
        StructField("c", LongType))))
    // 16^3 grid appended a-major: every file spans the FULL b and c
    // ranges, so predicates on them prune nothing before the rewrite
    val grid = for (a <- 0L until 16L; b <- 0L until 16L; c <- 0L until 16L)
      yield (a, b, c)
    grid.grouped(512).foreach(chunk => t.append(chunk.toDF("a", "b", "c").coalesce(1)))
    val before = DeltaTable.forPath(spark, t.path)
    val nFiles = before.snapshot.files.size
    assert(nFiles === 8)
    assert(before.scanFiles(Seq(ColPred("b", "=", 7L))).size === nFiles)
    assert(before.scanFiles(Seq(ColPred("c", "=", 7L))).size === nFiles)
    val data = before.toDF.orderBy("a", "b", "c").collect().toSeq

    // rewrite into 64 files (~64-cell z-segments ~ 4x4x4 sub-octants):
    // fine granularity makes the pruning bound robust to the sampled
    // range boundaries straddling octant edges
    assert(before.optimizeZOrder(Seq("a", "b", "c"), numFiles = 64, None) > 0)
    val after = DeltaTable.forPath(spark, t.path)
    val nAfter = after.snapshot.files.size
    assert(nAfter >= 32, s"expected ~64 output files, got $nAfter")
    // an aligned 4x4x4 sub-octant layout answers a point predicate on
    // any dimension from 1/4 of the files; allow 2x for boundary slop
    assert(after.scanFiles(Seq(ColPred("a", "=", 7L))).size <= nAfter / 2)
    assert(after.scanFiles(Seq(ColPred("b", "=", 7L))).size <= nAfter / 2)
    assert(after.scanFiles(Seq(ColPred("c", "=", 7L))).size <= nAfter / 2)
    assert(after.toDF.orderBy("a", "b", "c").collect().toSeq === data)
    assert(after.scan(Seq(ColPred("b", "=", 7L))).count() === 256L)
    assert(after.scan(Seq(ColPred("c", "=", 7L), ColPred("a", "<", 4L))).count() === 64L)
  }

  test("three clustering columns run the N-dimensional Hilbert curve") {
    import DataSkipping.ColPred
    val dir = tmpDir("clus-three")
    val grid = for (a <- 0L until 16L; b <- 0L until 16L; c <- 0L until 16L)
      yield (a, b, c)
    val df = grid.toDF("a", "b", "c")
    val t = DeltaTable.forPath(spark, dir).create(df.schema,
      clusterBy = Seq("a", "b", "c"))
    grid.grouped(512).foreach(chunk => t.append(chunk.toDF("a", "b", "c").coalesce(1)))
    assert(t.optimizeClustered(numFiles = 8) > 0L)
    val after = DeltaTable.forPath(spark, dir)
    // a contiguous Hilbert segment is spatially compact in ALL dims: a
    // point predicate on any dimension must beat the unclustered 8/8
    for (d <- Seq("a", "b", "c"))
      assert(after.scanFiles(Seq(ColPred(d, "=", 7L))).size < 8,
        s"point predicate on $d must prune after N-d Hilbert clustering")
    assert(after.scan(Seq(ColPred("b", "=", 3L))).count() === 256L)
    assert(after.toDF.count() === 4096L)
  }

  test("change data feed: appends, delete, update, merge round-trip with exact change rows") {
    import org.apache.spark.sql.types.{StructType, StructField, LongType, StringType}
    val t = DeltaTable.forPath(spark, tmpDir("delta-cdf")).create(
      StructType(Seq(StructField("id", LongType), StructField("s", StringType))),
      configuration = Map(DeltaTable.CdfConfigKey -> "true"))
    assert(t.cdfEnabled)
    // v1 append, v2 append
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    t.append(Seq((3L, "c")).toDF("id", "s"))
    // v3 delete id=2; v4 update id=1; v5 merge (update 3, insert 4)
    assert(t.delete(col("id") === 2L) === 3L)
    assert(t.update(col("id") === 1L, Map("s" -> lit("a2"))) === 4L)
    assert(t.merge(Seq((3L, "c2"), (4L, "d")).toDF("id", "s"), Seq("id")) === 5L)

    def rows(from: Long, to: Long): Set[(Long, String, String, Long)] =
      t.changes(from, to).collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("s"),
        r.getAs[String]("_change_type"), r.getAs[Long]("_commit_version"))).toSet

    assert(rows(1, 5) === Set(
      (1L, "a", "insert", 1L), (2L, "b", "insert", 1L),
      (3L, "c", "insert", 2L),
      (2L, "b", "delete", 3L),
      (1L, "a", "update_preimage", 4L), (1L, "a2", "update_postimage", 4L),
      (3L, "c", "update_preimage", 5L), (3L, "c2", "update_postimage", 5L),
      (4L, "d", "insert", 5L)))
    // range filtering
    assert(rows(3, 3) === Set((2L, "b", "delete", 3L)))
    assert(rows(4, 5).forall(_._4 >= 4L))
    // commit timestamps are populated
    assert(t.changes(1, 5).select("_commit_timestamp").collect()
      .forall(_.getTimestamp(0).getTime > 0L))
    // the final table state agrees with replaying the feed
    assert(t.toDF.collect().map(r => (r.getLong(0), r.getString(1))).toSet ===
      Set((1L, "a2"), (3L, "c2"), (4L, "d")))
    // compaction adds no change rows
    val vCompact = t.compact(minBytes = 1024L * 1024)
    if (vCompact > 0) assert(t.changes(vCompact, vCompact).isEmpty)

    // a CDF-off table refuses the read, and its DML versions refuse
    // retroactive reads after enabling
    val off = DeltaTable.forPath(spark, tmpDir("delta-cdf-off")).create(
      StructType(Seq(StructField("id", LongType))))
    off.append(Seq(1L, 2L).toDF("id"))
    assert(off.delete(col("id") === 1L) > 0L)
    assertThrows[IllegalArgumentException](off.changes(1, 2))
  }

  test("change data feed: a 300-version range reads in ONE scan (bounded plan)") {
    import org.apache.spark.sql.types.{StructType, StructField, LongType, StringType}
    // the round-10 shape: one unionByName branch per version meant a
    // nightly consumer over thousands of commits built a plan with
    // thousands of scan branches plus a per-file fs.exists driver loop —
    // version attribution now rides a literal-map lookup over
    // _metadata.file_path, so the whole range is one scan per kind
    val t = DeltaTable.forPath(spark, tmpDir("delta-cdf-wide")).create(
      StructType(Seq(StructField("id", LongType), StructField("s", StringType))),
      configuration = Map(DeltaTable.CdfConfigKey -> "true"))
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s").coalesce(1)) // v1: one file
    val fs = new org.apache.hadoop.fs.Path(t.path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val src = t.snapshot.files.head.path
    val n = 300
    (2 to n).foreach { i =>
      val rel = s"cdf-syn-$i.parquet" // distinct basenames, like real job UUIDs
      org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(t.path, src),
        fs, new org.apache.hadoop.fs.Path(t.path, rel), false, fs.getConf)
      t.log.commit(Seq(
        Actions.Action(add = Some(Actions.AddFile(path = rel, size = 1L,
          modificationTime = i.toLong, dataChange = true))),
        Actions.Action(commitInfo = Some(Actions.CommitInfo(1700000000000L + i, "WRITE")))))
    }
    val ch = t.changes(1, n.toLong)
    // bounded plan: ONE parquet relation (two only when cdc files exist),
    // regardless of how many versions the range spans
    val rels = ch.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l }
    assert(rels.length === 1, s"expected 1 scan for 300 versions, got ${rels.length}")
    assert(ch.count() === 2L * n)
    // attribution: every version contributes exactly its rows, stamped
    // with its own commit metadata
    assert(ch.filter(col("_commit_version") === 2L).count() === 2L)
    assert(ch.filter(col("_commit_version") === n.toLong).count() === 2L)
    assert(ch.filter(col("_commit_version") === 100L)
      .select("_commit_timestamp").head.getTimestamp(0).getTime === 1700000000000L + 100L)
    assert(ch.filter(col("_change_type") =!= "insert").count() === 0L)
  }

  test("change data feed: vacuumed change files refuse loudly; a file stream tails the feed") {
    import org.apache.spark.sql.types.{StructType, StructField, LongType, StringType}
    val t = DeltaTable.forPath(spark, tmpDir("delta-cdf-vac")).create(
      StructType(Seq(StructField("id", LongType), StructField("s", StringType))),
      configuration = Map(DeltaTable.CdfConfigKey -> "true"))
    t.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s"))
    assert(t.delete(col("id") === 2L) === 2L)
    assert(t.changes(2, 2).count() === 1L)

    // STREAMING consumption: the _change_data dir is a tailable file
    // source (atomic renames land whole files) — the zero-machinery way
    // to stream the feed into a downstream pipeline
    val cdfSchema = StructType(Seq(StructField("id", LongType),
      StructField("s", StringType), StructField(DeltaTable.ChangeTypeCol, StringType)))
    val stream = spark.readStream.schema(cdfSchema)
      .parquet(new java.io.File(new java.net.URI(t.path).getPath match {
        case "" => t.path case p => p }, "_change_data").toString)
    val q = stream.writeStream.format("memory").queryName("cdf_tail")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val tailed = spark.sql("SELECT id, _change_type FROM cdf_tail").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(tailed === Set((2L, "delete")))

    // vacuum with zero retention eats the change file; the read refuses
    // with the vacuum message instead of a mid-job parquet error
    assert(t.vacuum(retentionMs = -1000L) >= 1)
    val e = intercept[IllegalStateException](t.changes(2, 2).count())
    assert(e.getMessage.contains("vacuumed"))
    // v1's original file was de-referenced by the v2 rewrite and
    // vacuumed with it — the insert-derived branch refuses identically
    val e2 = intercept[IllegalStateException](t.changes(1, 1).count())
    assert(e2.getMessage.contains("vacuumed"))
  }

  test("statsSummary answers count/min/max from the log alone — even with data files gone") {
    val t = DeltaTable.forPath(spark, tmpDir("delta-statsagg")).create(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("s", org.apache.spark.sql.types.StringType))))
    t.append(Seq((5L, 2.5, "mango"), (9L, -1.25, "apple")).toDF("id", "v", "s"))
    t.append(Seq((1L, 7.75, "zebra"), (3L, 0.0, "kiwi")).toDF("id", "v", "s"))
    // a rewrite must re-derive stats: the deleted row carried the global
    // max v and max s, so a stale bound would report 7.75/"zebra"
    assert(t.delete(col("id") === 1L) > 0L)
    val expect = (3L, 3L, 9L, -1.25, 2.5, "apple", "mango")

    def read(tab: DeltaTable) = {
      val r = tab.statsSummary(Seq("id", "v", "s")).collect().head
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
        r.getString(5), r.getString(6))
    }
    assert(read(t) === expect)

    // the proof it never opens data: physically delete every parquet
    // data file; the log answer is unchanged while a real scan would die
    val dir = new java.io.File(new java.net.URI(t.path).getPath match {
      case "" => t.path case p => p })
    val dataFiles = Option(dir.listFiles()).get
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    assert(dataFiles.nonEmpty)
    dataFiles.foreach(f => assert(f.delete()))
    assert(read(DeltaTable.forPath(spark, t.path)) === expect)

    assertThrows[IllegalArgumentException](t.statsSummary(Seq("nope")))
  }

  test("SET TBLPROPERTIES enables features mid-life with protocol raise") {
    val t = newTable()
    t.append(sampleDf(0 until 10))
    // DV on a table created WITHOUT them: deleteWithDv refuses, then the
    // property flip makes it legal and raises (3,7)+deletionVectors
    assertThrows[IllegalArgumentException](t.deleteWithDv(col("id") === 1L))
    val v = t.setProperties(Map(DeltaTable.DvConfigKey -> "true"))
    assert(v > 0)
    val p = t.snapshot.protocol.get
    assert(p.minReaderVersion === 3 && p.minWriterVersion === 7)
    assert(p.readerFeatures.get.contains("deletionVectors"))
    assert(p.writerFeatures.get.contains("deletionVectors"))
    assert(t.deleteWithDv(col("id") === 1L) > 0)
    assert(t.toDF.count() === 9L)
    // CDF mid-life: the feature applies from the flip forward
    t.setProperties(Map(DeltaTable.CdfConfigKey -> "true"))
    val before = t.snapshot.version
    t.delete(col("id") === 2L)
    val ch = t.changes(before + 1, t.snapshot.version)
      .groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ch === Map("delete" -> 1L))
    // user keys pass through; unknown delta.* keys refuse loudly
    t.setProperties(Map("team.owner" -> "data-eng"))
    assert(t.snapshot.metadata.get.configuration("team.owner") === "data-eng")
    assertThrows[IllegalArgumentException](
      t.setProperties(Map("delta.enableDeletionVektors" -> "true")))
    assertThrows[IllegalArgumentException](
      t.setProperties(Map(DeltaTable.ConstraintPrefix + "c1" -> "id > 0")))
    assertThrows[IllegalArgumentException](
      t.setProperties(Map(DeltaTable.ColumnMappingModeKey -> "name")))
    assertThrows[IllegalArgumentException](
      t.setProperties(Map(DeltaTable.RowTrackingConfigKey -> "true")))
  }

  test("SET TBLPROPERTIES on legacy table: CDF alone stays legacy writer 4; row tracking ok while empty") {
    val t = newTable()
    t.setProperties(Map(DeltaTable.CdfConfigKey -> "true"))
    val p = t.snapshot.protocol.get
    assert(p.minReaderVersion === 1 && p.minWriterVersion === 4)
    assert(p.writerFeatures.isEmpty, "legacy versions imply the feature")
    // empty table: row tracking may still be enabled (nothing to backfill)
    t.setProperties(Map(DeltaTable.RowTrackingConfigKey -> "true"))
    assert(t.rowTrackingEnabled)
    t.append(sampleDf(0 until 5))
    assert(t.toDFWithRowIds.select(DeltaTable.RowIdCol).distinct().count() === 5L)
  }

  test("UNSET TBLPROPERTIES removes config but never downgrades protocol") {
    val t = newTable()
    t.append(sampleDf(0 until 10))
    t.setProperties(Map(DeltaTable.DvConfigKey -> "true",
      DeltaTable.AutoCompactConfigKey -> "true"))
    assert(t.deleteWithDv(col("id") === 0L) > 0)
    val v = t.unsetProperties(Seq(DeltaTable.DvConfigKey,
      DeltaTable.AutoCompactConfigKey))
    assert(v > 0)
    val conf = t.snapshot.metadata.get.configuration
    assert(!conf.contains(DeltaTable.DvConfigKey))
    assert(!conf.contains(DeltaTable.AutoCompactConfigKey))
    // protocol keeps the feature: the existing DV stays readable
    assert(t.snapshot.protocol.get.readerFeatures.get.contains("deletionVectors"))
    assert(t.toDF.count() === 9L)
    // but NEW DV writes refuse again
    assertThrows[IllegalArgumentException](t.deleteWithDv(col("id") === 1L))
    assert(t.unsetProperties(Seq("never.set")) === -1L, "no-op returns -1")
    assertThrows[IllegalArgumentException](
      t.unsetProperties(Seq(DeltaTable.ColumnMappingModeKey)))
  }

  test("DESCRIBE DETAIL surfaces table features, clustering, and DV state; vacuum dry-run") {
    val dir = tmpDir("detail-feat")
    val df = sampleDf(0 until 20)
    val t = DeltaTable.forPath(spark, dir).create(df.schema,
      configuration = Map(DeltaTable.DvConfigKey -> "true"),
      clusterBy = Seq("id", "name"))
    t.append(df)
    assert(t.deleteWithDv(col("id") % 5 === 0L) > 0L)
    val d = t.detail().head()
    val feats = d.getSeq[String](d.fieldIndex("tableFeatures"))
    assert(feats.contains("deletionVectors") && feats.contains("clusteredTable"))
    assert(d.getSeq[String](d.fieldIndex("clusteringColumns")) === Seq("id", "name"))
    assert(d.getAs[Long]("numDeletionVectors") >= 1L)
    assert(d.getAs[Long]("deletedRowCount") === 4L)
    // dry run lists without deleting: orphan a file via compact, then check
    assert(t.purgeDeletionVectors() > 0L)
    val candidates = t.vacuumDryRun(retentionMs = -1000L)
    assert(candidates.nonEmpty, "purge leaves the old DV'd files unreferenced")
    assert(t.toDF.count() === 16L)
    val before = candidates.toSet
    assert(t.vacuum(retentionMs = -1000L) === before.size,
      "the real vacuum must collect exactly the dry-run set")
    assert(t.vacuumDryRun(retentionMs = -1000L).isEmpty)
  }

  test("decimal stats render SCALED; skipping on a decimal column stays exact") {
    // parquet footers carry the UNSCALED integer for int-backed decimals;
    // rendering that raw into add.stats made DataSkipping compare 25
    // against 0.25 and prune files that DO match — wrong results, the
    // only stats bug class that isn't just a missed optimization
    val dir = tmpDir("delta-decimal")
    def batch(lo: Long, hi: Long) = (lo until hi).toDF("i")
      .select((col("i") / 100).cast("decimal(10,2)").as("d"), col("i"))
    val t = DeltaTable.forPath(spark, dir).create(batch(0, 1).schema)
    (0 until 4).foreach(q => t.append(batch(q * 25L, q * 25L + 25L).coalesce(1)))
    val node = Actions.mapper.readTree(t.snapshot.files.head.stats.get)
    assert(node.get("minValues").get("d").isNumber)
    assert(node.get("maxValues").get("d").decimalValue().doubleValue() < 1.01,
      s"decimal stats must be SCALED values, got ${node.get("maxValues").get("d")}")
    val p = Seq(DataSkipping.ColPred("d", "<", new java.math.BigDecimal("0.25")))
    assert(t.scanFiles(p).size === 1, "only the first quarter's file can match")
    assert(t.scan(p).count() === 25L)
    // and a DECIMAL(20,2): FIXED_LEN_BYTE_ARRAY-backed stats too
    val dir2 = tmpDir("delta-decimal-wide")
    val wide = (0L until 50L).toDF("i")
      .select((col("i") / 100).cast("decimal(20,2)").as("d"))
    val t2 = DeltaTable.forPath(spark, dir2).create(wide.schema)
    t2.append(wide.coalesce(1))
    val n2 = Actions.mapper.readTree(t2.snapshot.files.head.stats.get)
    assert(n2.get("minValues").has("d") &&
      n2.get("maxValues").get("d").decimalValue().doubleValue() === 0.49)
    // multi-row-group file mixing NEGATIVE and positive wide decimals:
    // the cross-row-group fold must compare two's-complement bytes
    // SIGNED — parquet's Binary.compareTo is unsigned, which would fold
    // min = 1.00 over a true min of -5.00 and prune matching rows
    val dir3 = tmpDir("delta-decimal-neg")
    val neg = (-500L until 900L).toDF("i")
      .select((col("i") / 100).cast("decimal(20,2)").as("d")).orderBy("d")
    val t3 = DeltaTable.forPath(spark, dir3).create(neg.schema)
    // tiny block size: several row groups in the ONE output file (set on
    // the shared hadoop conf — restored below — because DataFrameWriter
    // options don't reach the append's internal write)
    val hc = spark.sparkContext.hadoopConfiguration
    val prevBlock = hc.get("parquet.block.size")
    val prevCheck = hc.get("parquet.page.size.row.check.min")
    hc.set("parquet.block.size", "1024")
    hc.set("parquet.page.size.row.check.min", "10")
    try t3.append(neg.coalesce(1))
    finally {
      if (prevBlock == null) hc.unset("parquet.block.size") else hc.set("parquet.block.size", prevBlock)
      if (prevCheck == null) hc.unset("parquet.page.size.row.check.min") else hc.set("parquet.page.size.row.check.min", prevCheck)
    }
    val f3 = t3.snapshot.files.head
    val rgs = {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new Path(t3.path, f3.path), spark.sessionState.newHadoopConf()))
      try r.getFooter.getBlocks.size finally r.close()
    }
    assert(rgs >= 2, s"fixture must span row groups, got $rgs")
    val n3 = Actions.mapper.readTree(f3.stats.get)
    assert(n3.get("minValues").get("d").decimalValue().doubleValue() === -5.0,
      s"signed fold must keep the negative min, got ${n3.get("minValues").get("d")}")
    val pNeg = Seq(DataSkipping.ColPred("d", "<=", new java.math.BigDecimal("-2.00")))
    assert(t3.scan(pNeg).count() === 301L) // -5.00..-2.00 inclusive
  }

  test("replaceAs swaps schema and files in one commit; history and protocol survive") {
    val dir = tmpDir("delta-replace")
    val t = DeltaTable.forPath(spark, dir).create(
      StructType(Seq(StructField("id", LongType), StructField("v", StringType))),
      configuration = Map(DeltaTable.DvConfigKey -> "true"))
    t.append((0L until 20L).map(i => (i, s"v$i")).toDF("id", "v"))
    assert(t.deleteWithDv(col("id") === 3L) > 0L) // raises (3,7) + deletionVectors
    val vOld = t.snapshot.version
    val oldData = t.toDF.orderBy("id").collect().toSeq
    // replace with a DIFFERENT schema and partitioning, no DV config
    val v = t.replaceAs(
      StructType(Seq(StructField("k", StringType), StructField("n", LongType))),
      partitionColumns = Seq("k"))
    assert(v === vOld + 1)
    val fresh = DeltaTable.forPath(spark, dir)
    assert(fresh.schema.fieldNames.toSeq === Seq("k", "n"))
    assert(fresh.partitionColumns === Seq("k"))
    assert(fresh.toDF.count() === 0L)
    fresh.append(Seq(("a", 1L), ("b", 2L)).toDF("k", "n"))
    assert(fresh.toDF.count() === 2L)
    // history preserved: the old epoch time-travels with its own schema
    val old = fresh.toDF(vOld)
    assert(old.schema.fieldNames.toSeq === Seq("id", "v"))
    assert(old.orderBy("id").collect().toSeq === oldData)
    // protocol never downgrades: historical DV versions stay readable
    val p = fresh.snapshot.protocol.get
    assert(p.minReaderVersion === 3 && p.minWriterVersion === 7)
    assert(p.readerFeatures.exists(_.contains("deletionVectors")))
    // replacing away a clustered layout tombstones the clustering domain
    val dir2 = tmpDir("delta-replace-clus")
    val t2 = DeltaTable.forPath(spark, dir2).create(
      StructType(Seq(StructField("x", LongType), StructField("y", LongType))),
      clusterBy = Seq("x", "y"))
    t2.append((0L until 10L).map(i => (i, i)).toDF("x", "y"))
    t2.replaceAs(StructType(Seq(StructField("z", LongType))))
    assert(DeltaTable.forPath(spark, dir2).clusteringColumns.isEmpty)
    // no table → loud error
    assertThrows[IllegalArgumentException](
      DeltaTable.forPath(spark, tmpDir("delta-replace-none"))
        .replaceAs(StructType(Seq(StructField("a", LongType)))))
  }

  test("replaceAsSelect is atomic: one commit, no empty-table window, crash leaves old epoch") {
    val dir = tmpDir("delta-cras")
    val t = DeltaTable.forPath(spark, dir).create(
      StructType(Seq(StructField("id", LongType), StructField("v", StringType))))
    t.append((0L until 20L).map(i => (i, s"v$i")).toDF("id", "v"))
    val vOld = t.snapshot.version
    val oldData = t.toDF.orderBy("id").collect().toSeq
    // swap + load in ONE commit: partitioned, different schema
    val v = t.replaceAsSelect(
      Seq(("a", 1L), ("a", 2L), ("b", 3L)).toDF("k", "n"),
      partitionColumns = Seq("k"))
    assert(v === vOld + 1, "REPLACE ... AS SELECT must be a single commit")
    val fresh = DeltaTable.forPath(spark, dir)
    assert(fresh.schema.fieldNames.toSeq === Seq("k", "n"))
    assert(fresh.partitionColumns === Seq("k"))
    assert(fresh.toDF.count() === 3L)
    // a reader pinned at ANY version sees a complete epoch, never empty
    assert(fresh.toDF(vOld).orderBy("id").collect().toSeq === oldData)
    assert(fresh.toDF(v).count() === 3L)
    // crash-sim: the staging job fails (violated CHECK constraint in the
    // NEW configuration) BEFORE any commit — the old epoch stays intact
    val ex = intercept[Exception](fresh.replaceAsSelect(
      Seq(-1L).toDF("n"),
      configuration = Map(DeltaTable.ConstraintPrefix + "pos" -> "n > 0")))
    assert(ex.toString.toLowerCase.contains("constraint") ||
      Option(ex.getCause).exists(_.toString.toLowerCase.contains("constraint")))
    val after = DeltaTable.forPath(spark, dir)
    assert(after.snapshot.version === v, "failed CRAS must not commit anything")
    assert(after.toDF.count() === 3L)
    assert(after.schema.fieldNames.toSeq === Seq("k", "n"))
    // no staged orphans left behind
    val leftovers = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("_staging"))
    assert(leftovers.isEmpty, s"staging dirs not cleaned: ${leftovers.mkString(",")}")
    // column-mapping REPLACE: fresh physical names ride the SAME commit
    val v2 = after.replaceAsSelect(
      Seq((1L, "x")).toDF("num", "txt"),
      configuration = Map(DeltaTable.ColumnMappingModeKey -> "name"))
    assert(v2 === v + 1)
    val mapped = DeltaTable.forPath(spark, dir)
    assert(mapped.columnMappingEnabled)
    assert(mapped.toDF.collect().toSeq.map(r => (r.getLong(0), r.getString(1)))
      === Seq((1L, "x")))
  }

  test("partition-pruned change feed: CDF consumers read only their partition's files") {
    val dir = tmpDir("delta-cdfprune")
    val df = (0L until 200L).map(i => (i, (i % 4).toString)).toDF("id", "p")
    val t = DeltaTable.forPath(spark, dir).create(df.schema, Seq("p"),
      configuration = Map(DeltaTable.CdfConfigKey -> "true"))
    t.append(df.coalesce(1))
    assert(t.delete(col("id") % 10 === 0L) > 0L) // change files in every partition
    val to = t.snapshot.version
    val all = t.changes(0, to)
    val one = t.changes(0, to, col("p") === "2")
    // the pruned read OPENS fewer files — the scale property, observable
    // through the frame's input file list
    assert(one.inputFiles.length < all.inputFiles.length,
      s"pruned=${one.inputFiles.length} vs all=${all.inputFiles.length}")
    assert(one.inputFiles.forall(_.contains("p=2")))
    // and returns exactly the partition's slice of the full feed
    val expected = all.filter(col("p") === "2")
      .select("id", "_change_type", "_commit_version")
      .collect().map(_.toSeq).toSet
    val got = one.select("id", "_change_type", "_commit_version")
      .collect().map(_.toSeq).toSet
    assert(got === expected && got.nonEmpty)
    // non-partition references refuse loudly
    assertThrows[org.apache.spark.sql.AnalysisException](
      t.changes(0, to, col("id") > 0L).collect())
  }

  test("optimizeWrite: appends rebalance instead of fanning one file per task") {
    val dir = tmpDir("delta-ow")
    val df = (0L until 400L).map(i => (i, s"v$i")).toDF("id", "v")
    val t = DeltaTable.forPath(spark, dir).create(df.schema,
      configuration = Map(DeltaTable.OptimizeWriteConfigKey -> "true"))
    // an 8-task input into an unpartitioned table: without optimized
    // writes this is 8 small files; the AQE rebalance coalesces the
    // KB-scale shuffle output into one
    t.append(df.repartition(8))
    assert(t.snapshot.files.size === 1,
      s"optimizeWrite must coalesce small write partitions, got ${t.snapshot.files.size}")
    assert(t.toDF.count() === 400L)
    // control: same shape without the property keeps one file per task
    val dir2 = tmpDir("delta-ow-off")
    val t2 = DeltaTable.forPath(spark, dir2).create(df.schema)
    t2.append(df.repartition(8))
    assert(t2.snapshot.files.size === 8)
    // partitioned + optimizeWrite: files land per partition dir, content exact
    val dir3 = tmpDir("delta-ow-part")
    val dfp = (0L until 400L).map(i => (i, (i % 2).toString)).toDF("id", "p")
    val t3 = DeltaTable.forPath(spark, dir3).create(dfp.schema, Seq("p"),
      configuration = Map(DeltaTable.OptimizeWriteConfigKey -> "true"))
    t3.append(dfp.repartition(8))
    val byPart = t3.snapshot.files.groupBy(_.partitionValues("p"))
    assert(byPart.keySet === Set("0", "1") && byPart.values.forall(_.size === 1))
    assert(t3.toDF.count() === 400L)
  }

  test("recomputeStats backfills stats-less files; pruning turns on, data untouched") {
    val dir = tmpDir("delta-restats")
    val df = (0L until 100L).map(i => (i, s"s$i")).toDF("id", "s")
    val t = DeltaTable.forPath(spark, dir).create(df.schema)
    (0 until 4).foreach(k =>
      t.append((k * 100L until k * 100L + 100L).map(i => (i, s"s$i")).toDF("id", "s")
        .coalesce(1)))
    val dataPaths = t.snapshot.files.map(_.path).toSet
    // simulate a foreign-written log: re-add every file WITHOUT stats
    t.log.commit(t.snapshot.files.map(f =>
      Actions.Action(add = Some(f.copy(stats = None, dataChange = false)))))
    val bare = DeltaTable.forPath(spark, dir)
    assert(bare.snapshot.files.forall(_.stats.isEmpty))
    assert(bare.scanFiles(Seq(DataSkipping.ColPred("id", "=", 7L))).size === 4,
      "no stats, no pruning")
    // backfill: metadata-sized commit, zero data rewrites
    assert(bare.recomputeStats() > 0L)
    val after = DeltaTable.forPath(spark, dir)
    assert(after.snapshot.files.map(_.path).toSet === dataPaths,
      "recompute must re-add the same files, not rewrite them")
    assert(after.snapshot.files.forall(_.stats.nonEmpty))
    assert(after.scanFiles(Seq(DataSkipping.ColPred("id", "=", 7L))).size === 1)
    assert(after.toDF.count() === 400L)
    // nothing missing anymore: quiet no-op; onlyMissing=false re-stats all
    assert(after.recomputeStats() === -1L)
    assert(after.recomputeStats(onlyMissing = false) > 0L)
  }

  test("delta.dataSkippingNumIndexedCols bounds stats to the leading leaf columns") {
    val dir = tmpDir("delta-idxcols")
    val df = (0L until 100L).map(i => (i, i * 2, s"s$i")).toDF("a", "b", "c")
    val t = DeltaTable.forPath(spark, dir).create(df.schema,
      configuration = Map(DeltaTable.DataSkippingNumIndexedColsKey -> "1"))
    t.append(df.coalesce(1))
    val node = Actions.mapper.readTree(t.snapshot.files.head.stats.get)
    assert(node.get("numRecords").asLong === 100L)
    assert(node.get("minValues").has("a") && node.get("maxValues").has("a"))
    assert(!node.get("minValues").has("b") && !node.get("minValues").has("c"))
    assert(node.get("nullCount").has("a") && !node.get("nullCount").has("b"))
    // predicates past the indexed prefix lose pruning, never correctness
    assert(t.scanFiles(Seq(DataSkipping.ColPred("b", "=", 4L))).size
      === t.snapshot.files.size)
    assert(t.scan(Seq(DataSkipping.ColPred("b", "=", 4L))).count() === 1L)
    assert(t.scanFiles(Seq(DataSkipping.ColPred("a", "=", -5L))).isEmpty,
      "the indexed column still prunes")
    // -1 restores full-width stats for subsequent writes
    t.setProperties(Map(DeltaTable.DataSkippingNumIndexedColsKey -> "-1"))
    val v = t.append(df)
    val adds = t.log.readVersion(v).flatMap(_.add)
    assert(adds.nonEmpty && adds.forall(a =>
      Actions.mapper.readTree(a.stats.get).get("minValues").has("c")))
    intercept[IllegalArgumentException](
      t.setProperties(Map(DeltaTable.DataSkippingNumIndexedColsKey -> "many")))
  }

  test("compact bin-packs small files to max(minBytes, targetFileSize) per partition") {
    val dir = tmpDir("delta-binpack")
    val df1 = (0L until 50L).map(i => (i * 2654435761L, i % 2)).toDF("v", "p")
    val t = DeltaTable.forPath(spark, dir).create(df1.schema, Seq("p"))
    (0 until 4).foreach(k =>
      t.append((0L until 50L).map(i => (i * 2654435761L + k, i % 2)).toDF("v", "p")
        .coalesce(1)))
    val t2 = DeltaTable.forPath(spark, dir)
    val files = t2.snapshot.files
    assert(files.size === 8) // 4 appends x 2 partitions
    val data = t2.toDF.orderBy("v").collect().toSeq
    // target sized for TWO input files per bin: per partition, 4 small
    // files pack into 2 bins — the compacted table is 4 files, not the
    // 2 a coalesce(1) would force through one task
    val maxSize = files.map(_.size).max
    t2.setProperties(Map(DeltaTable.TargetFileSizeKey -> (2 * maxSize).toString))
    assert(t2.compact(minBytes = maxSize + 1) > 0L)
    val after = DeltaTable.forPath(spark, dir)
    val byPart = after.snapshot.files.groupBy(_.partitionValues("p"))
    // the greedy packer admits a file while the bin stays <= target, so
    // near-equal sizes give exactly 2 bins of 2 per partition
    assert(byPart.values.forall(_.size === 2),
      s"expected 2 bins per partition, got ${byPart.view.mapValues(_.size).toMap}")
    assert(after.toDF.orderBy("v").collect().toSeq === data)
    // partition dirs never mix: every output sits in its own partition
    assert(after.snapshot.files.forall(f =>
      f.path.startsWith(s"p=${f.partitionValues("p")}")))
  }

  test("compact bin routing probes a broadcast lookup, not a plan-embedded map literal") {
    val dir = tmpDir("delta-binroute")
    val t0 = DeltaTable.forPath(spark, dir).create(
      StructType(Seq(StructField("v", LongType))))
    (0 until 4).foreach(k =>
      t0.append((0L until 50L).map(i => i * 31L + k).toDF("v").coalesce(1)))
    val t = DeltaTable.forPath(spark, dir)
    val snap = t.snapshot
    assert(snap.files.size === 4)
    val binOf = t.compactBins(snap, snap.files,
      target = snap.files.map(_.size).max * 2)
    val totalBins = binOf.values.max + 1
    assert(totalBins === 2)
    val df0 = spark.read.parquet(snap.files.map(f => s"$dir/${f.path}"): _*)
    val routed = t.binRoutedFrame(snap, df0, binOf, totalBins)
    val plan = routed.queryExecution.executedPlan.toString
    // the probe expression is in the plan; a typedlit map (one entry per
    // small file — multi-MB at 10^6 accumulated smalls) is NOT
    assert(plan.contains("file_compact_bin"), plan.take(2000))
    assert(!plan.contains("map(keys"),
      "bin routing must not embed a file-count-sized map literal in the plan")
    assert(routed.count() === 200L)
  }

  test("compact routes each bin to its own shuffle partition, without range sampling") {
    val dir = tmpDir("delta-binid")
    val t0 = DeltaTable.forPath(spark, dir).create(
      StructType(Seq(StructField("v", LongType))))
    (0 until 6).foreach(k =>
      t0.append((0L until 50L).map(i => i * 31L + k).toDF("v").coalesce(1)))
    val t = DeltaTable.forPath(spark, dir)
    val snap = t.snapshot
    val binOf = t.compactBins(snap, snap.files,
      target = snap.files.map(_.size).max * 2)
    val totalBins = binOf.values.max + 1
    assert(totalBins === 3)
    val df0 = spark.read.parquet(snap.files.map(f => s"$dir/${f.path}"): _*)
      .withColumn("f", input_file_name())
    val routed = t.binRoutedFrame(snap, df0, binOf, totalBins)
    val shuffles = routed.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s.outputPartitioning }
    assert(shuffles.nonEmpty && !shuffles.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.RangePartitioning]),
      routed.queryExecution.sparkPlan.treeString)
    // a bin is exactly one shuffle partition, and a partition one bin
    val filesByPartition = routed.rdd.mapPartitions(rows =>
      Iterator(rows.map(_.getAs[String]("f").split('/').last).toSet)).collect().toSeq
    assert(filesByPartition.size === totalBins)
    val bins = filesByPartition.map(_.map(binOf))
    assert(bins.map(_.size) === Seq(1, 1, 1) && bins.flatten.sorted === Seq(0, 1, 2))
  }

  test("compact writes every bin as one file when bins hold very different row counts") {
    // bins pack by bytes, but range bounds were sampled by rows: files of
    // equal size hold 20,000 short values (bins 0 and 2) or 2 long random
    // ones (bin 1). One append writes them in task order, so the path
    // order the packer walks is this order.
    val dir = tmpDir("delta-skewbins")
    val t = DeltaTable.forPath(spark, dir).create(
      StructType(Seq(StructField("s", StringType))))
    val rowsOf = Seq(20000, 20000, 2, 2, 20000, 20000)
    val df = spark.sparkContext.parallelize(rowsOf.indices, rowsOf.size).flatMap { p =>
      val r = new scala.util.Random(p)
      val n = rowsOf(p)
      Iterator.fill(n)(r.alphanumeric.take(200000 / n).mkString)
    }.toDF("s")
    t.append(df)
    val files = t.snapshot.files.sortBy(_.path)
    assert(files.size === 6)
    val target = files.grouped(2).map(_.map(_.size).sum).max
    assert(files.sliding(3).forall(_.map(_.size).sum > target),
      s"file sizes ${files.map(_.size)} do not pack into pairs")
    val data = t.toDF.orderBy("s").collect().toSeq
    t.setProperties(Map(DeltaTable.TargetFileSizeKey -> target.toString))
    assert(t.compact(minBytes = target) > 0L)
    val after = DeltaTable.forPath(spark, dir)
    assert(after.snapshot.files.size === 3,
      s"three bins must be three files, got ${after.snapshot.files.map(_.path)}")
    assert(after.toDF.orderBy("s").collect().toSeq === data)
  }
}
