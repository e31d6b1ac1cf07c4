package graft.delta

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec
import graft.delta.DeltaTable._

/** Merge-on-read MERGE with the full clause surface
  * ([[DeltaTable.mergeClausesWithDv]]): claimed rows mask out by
  * deletion vectors, zero data files rewrite, and the results match the
  * copy-on-write engine exactly. */
class MergeClausesDvSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("v", LongType),
    StructField("tag", StringType)))

  private def target(name: String, extraCfg: Map[String, String] = Map.empty): DeltaTable = {
    val t = DeltaTable.forPath(spark, tmpDir(name)).create(schema,
      configuration = Map(DeltaTable.DvConfigKey -> "true") ++ extraCfg)
    t.append((0L until 10L).map(i => (i, i * 10, "base")).toDF("id", "v", "tag"))
    t
  }

  test("CDC apply: claimed rows DV-mask, zero files rewrite, one new file") {
    val t = target("mcdv-cdc")
    val filesBefore = t.snapshot.files.map(_.path).toSet
    val src = Seq((1L, 0L, "D"), (2L, 222L, "U"), (20L, 200L, "I"))
      .toDF("id", "v", "tag")
    val v = t.mergeClausesWithDv(src, Seq("id"), Seq(
      WhenMatchedDelete(condition = Some("s.tag = 'D'")),
      WhenMatchedUpdate(set = Map("v" -> "s.v", "tag" -> "'upd'"),
        condition = Some("s.tag = 'U'")),
      WhenNotMatchedInsert(values = Map("id" -> "s.id", "v" -> "s.v", "tag" -> "'ins'"),
        condition = Some("s.tag = 'I'"))))
    assert(v > 0L)
    // every pre-merge file is STILL live (DV'd, not rewritten)
    val after = t.snapshot.files
    assert(filesBefore.subsetOf(after.map(_.path).toSet),
      "merge-on-read must not rewrite any data file")
    assert(after.exists(_.deletionVector.isDefined), "claimed rows ride as DVs")
    val out = t.toDF.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(out.size === 10 && !out.contains(1L))
    assert(out(2L) === ((222L, "upd")) && out(20L) === ((200L, "ins")))
    assert(out(5L) === ((50L, "base")), "carried rows untouched in place")
  }

  test("by-source DV delete: stale rows mask without rewriting; parity with copy-on-write") {
    val t = target("mcdv-nmbs")
    val cow = DeltaTable.forPath(spark, tmpDir("mcdv-nmbs-cow")).create(schema)
    cow.append((0L until 10L).map(i => (i, i * 10, "base")).toDF("id", "v", "tag"))
    val src = (0L until 5L).map(i => (i, i * 10 + 1, "keep")).toDF("id", "v", "tag")
    val cls = Seq(
      WhenMatchedUpdate(),
      WhenNotMatchedBySourceDelete(condition = Some("t.id >= 8")),
      WhenNotMatchedBySourceUpdate(set = Map("tag" -> "'stale'")))
    assert(t.mergeClausesWithDv(src, Seq("id"), cls) > 0L)
    assert(cow.mergeClauses(src, Seq("id"), cls) > 0L)
    val a = t.toDF.orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    val b = cow.toDF.orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(a === b, "merge-on-read and copy-on-write must agree row-for-row")
    assert(a.length === 8 && a.count(_._3 == "stale") === 3)
  }

  test("CDF and row tracking compose with the DV clause merge") {
    val t = target("mcdv-rt", Map(
      DeltaTable.CdfConfigKey -> "true",
      DeltaTable.RowTrackingConfigKey -> "true"))
    val before = t.toDFWithRowIds.select("id", DeltaTable.RowIdCol).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val preV = t.log.latestVersion()
    val src = Seq((2L, 222L, "U"), (20L, 200L, "I")).toDF("id", "v", "tag")
    t.mergeClausesWithDv(src, Seq("id"), Seq(
      WhenMatchedUpdate(set = Map("v" -> "s.v")),
      WhenNotMatchedInsert(),
      WhenNotMatchedBySourceDelete(condition = Some("t.id = 9"))))
    val ch = t.changes(preV + 1, preV + 1)
      .select("id", "v", DeltaTable.ChangeTypeCol).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(ch === Set(
      (2L, 20L, "update_preimage"), (2L, 222L, "update_postimage"),
      (9L, 90L, "delete"), (20L, 200L, "insert")))
    val after = t.toDFWithRowIds.select("id", DeltaTable.RowIdCol).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after(2L) === before(2L), "updated row keeps its id across the DV merge")
    assert((0L until 9L).filter(_ != 2L).forall(i => after(i) === before(i)))
    assert(!before.values.toSet.contains(after(20L)))
  }

  test("repeat DV merges grow bitmaps; purge then reads clean") {
    val t = target("mcdv-grow")
    (0 until 3).foreach { round =>
      val id = round.toLong * 3
      val src = Seq((id, 0L, "D")).toDF("id", "v", "tag")
      assert(t.mergeClausesWithDv(src, Seq("id"), Seq(
        WhenMatchedDelete(condition = Some("s.tag = 'D'")))) > 0L)
    }
    assert(t.toDF.count() === 7L)
    assert(t.purgeDeletionVectors() > 0L)
    assert(t.snapshot.files.forall(_.deletionVector.isEmpty))
    assert(t.toDF.count() === 7L)
  }

  test("insert-only outcome commits without masks; unclaimed merge is -1") {
    val t = target("mcdv-ins")
    val src = Seq((50L, 500L, "new")).toDF("id", "v", "tag")
    val v = t.mergeClausesWithDv(src, Seq("id"), Seq(
      WhenMatchedUpdate(), WhenNotMatchedInsert()))
    assert(v > 0L && t.toDF.count() === 11L)
    assert(t.snapshot.files.forall(_.deletionVector.isEmpty))
    val v0 = t.log.latestVersion()
    assert(t.mergeClausesWithDv(Seq((99L, 0L, "x")).toDF("id", "v", "tag"),
      Seq("id"), Seq(WhenMatchedUpdate())) === -1L)
    assert(t.log.latestVersion() === v0)
  }

  test("parity with copy-on-write for every DML shape: rows, row ids and CDF agree") {
    def twin(name: String, dv: Boolean): DeltaTable = {
      val t = DeltaTable.forPath(spark, tmpDir(name)).create(schema, configuration = Map(
        DeltaTable.CdfConfigKey -> "true", DeltaTable.RowTrackingConfigKey -> "true") ++
        (if (dv) Map(DeltaTable.DvConfigKey -> "true") else Map.empty))
      // one file, so both twins number the same rows 0..9
      t.append((0L until 10L).map(i => (i, i * 10, "base")).toDF("id", "v", "tag").coalesce(1))
      t
    }
    val upsert = Seq((2L, 22L, "U"), (20L, 200L, "I")).toDF("id", "v", "tag")
    val src = Seq((1L, 11L, "D"), (2L, 22L, "U"), (3L, 33L, "K"), (20L, 200L, "I"),
      (21L, 210L, "X")).toDF("id", "v", "tag")
    val allFive = Seq(
      WhenMatchedDelete(condition = Some("s.tag = 'D'")),
      WhenMatchedUpdate(set = Map("v" -> "s.v", "tag" -> "'upd'"), condition = Some("s.tag = 'U'")),
      WhenNotMatchedInsert(condition = Some("s.tag = 'I'")),
      WhenNotMatchedBySourceDelete(condition = Some("t.id = 7")),
      WhenNotMatchedBySourceUpdate(set = Map("tag" -> "'stale'"), condition = Some("t.id >= 8")))
    val shapes: Seq[(String, (DeltaTable, Boolean) => Long)] = Seq(
      "upsert merge" -> ((t, dv) =>
        if (dv) t.mergeWithDv(upsert, Seq("id")) else t.merge(upsert, Seq("id"))),
      "five-clause merge" -> ((t, dv) =>
        if (dv) t.mergeClausesWithDv(src, Seq("id"), allFive)
        else t.mergeClauses(src, Seq("id"), allFive)),
      "update" -> ((t, dv) => {
        val (p, set) = (col("id") % 3 === 0, Map("v" -> (col("v") + 1)))
        if (dv) t.updateWithDv(p, set) else t.update(p, set)
      }),
      "delete" -> ((t, dv) =>
        if (dv) t.deleteWithDv(col("id") % 4 === 1) else t.delete(col("id") % 4 === 1)))
    // an inserted row's id depends on its position in the new file, which
    // differs between the two layouts: compare it as "fresh"
    def state(t: DeltaTable): Seq[(Long, Long, String, Long, Long)] =
      t.toDFWithRowIds.select(col("id"), col("v"), col("tag"), col(DeltaTable.RowIdCol),
        col(DeltaTable.RowCommitVersionCol)).as[(Long, Long, String, Long, Long)].collect()
        .map { case (id, v, tag, rid, rcv) => (id, v, tag, if (rid < 10L) rid else -1L, rcv) }
        .sorted.toSeq
    def changes(t: DeltaTable, v: Long): Seq[(Long, Long, String, String)] =
      t.changes(v, v).select(col("id"), col("v"), col("tag"), col(DeltaTable.ChangeTypeCol))
        .as[(Long, Long, String, String)].collect().sorted.toSeq
    shapes.foreach { case (name, run) =>
      val key = name.replace(' ', '-')
      val (cow, mor) = (twin(s"mcdv-par-$key", dv = false), twin(s"mcdv-par-$key-dv", dv = true))
      val (vc, vm) = (run(cow, false), run(mor, true))
      assert(vc > 0L && vc === vm, s"$name: versions")
      assert(mor.snapshot.files.exists(_.deletionVector.isDefined), s"$name: no mask")
      assert(state(cow) === state(mor), s"$name: rows and row ids")
      assert(changes(cow, vc) === changes(mor, vm), s"$name: change feed")
      assert(changes(cow, vc).nonEmpty, s"$name: empty change feed")
    }
  }
}
