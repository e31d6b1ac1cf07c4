package graft.delta

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec

/** Column mapping (`delta.columnMapping.mode=name`): parquet stores
  * physical names, rename/drop are metadata-only commits, and every
  * read/write/DML path translates at the one read/write seam. */
class ColumnMappingSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("amount", DoubleType),
    StructField("note", StringType)))

  private def newTable(): DeltaTable =
    DeltaTable.forPath(spark, tmpDir("colmap")).create(schema, Nil,
      configuration = Map(DeltaTable.ColumnMappingModeKey -> "name"))

  private def df(ids: Range) =
    ids.map(i => (i.toLong, i * 1.5, s"n$i")).toDF("id", "amount", "note")

  test("create assigns ids + physical names, protocol (2,5); round-trip reads logical") {
    val t = newTable()
    val fields = t.schema.fields
    assert(fields.forall(_.metadata.contains(DeltaTable.ColMapPhysKey)))
    assert(fields.map(_.metadata.getLong(DeltaTable.ColMapIdKey)).toSeq === Seq(1L, 2L, 3L))
    val p = t.snapshot.protocol.get
    assert(p.minReaderVersion === 2 && p.minWriterVersion === 5)
    t.append(df(0 until 10))
    assert(t.toDF.columns.toSeq === Seq("id", "amount", "note"))
    assert(t.toDF.orderBy("id").collect()(3).getString(2) === "n3")
    // the parquet files on disk must carry PHYSICAL names, not logical
    val file = new Path(t.path, t.snapshot.files.head.path).toString
    val raw = spark.read.parquet(file)
    assert(!raw.columns.contains("amount"),
      s"parquet must store physical names, found ${raw.columns.mkString(",")}")
    assert(raw.columns.forall(_.startsWith("col-")))
  }

  test("renameColumn is metadata-only: file set unchanged, both epochs readable") {
    val t = newTable()
    t.append(df(0 until 5))
    val before = t.snapshot.files.map(_.path).toSet
    t.renameColumn("amount", "price")
    assert(t.snapshot.files.map(_.path).toSet === before, "rename must rewrite nothing")
    assert(t.toDF.columns.toSeq === Seq("id", "price", "note"))
    // data written BEFORE the rename reads under the new logical name
    assert(t.toDF.filter(col("id") === 2L).collect()(0).getAs[Double]("price") === 3.0)
    // appends after the rename land in the same physical column
    t.append(Seq((9L, 99.0, "x")).toDF("id", "price", "note"))
    assert(t.toDF.filter(col("id") === 9L).collect()(0).getAs[Double]("price") === 99.0)
    assert(t.toDF.count() === 6L)
    // collisions and unknown columns refuse
    assertThrows[IllegalArgumentException](t.renameColumn("price", "note"))
    assertThrows[IllegalArgumentException](t.renameColumn("ghost", "z"))
  }

  test("dropColumn is metadata-only; time travel still sees the old schema") {
    val t = newTable()
    t.append(df(0 until 5))          // v1
    val before = t.snapshot.files.map(_.path).toSet
    t.dropColumn("note")             // v2
    assert(t.snapshot.files.map(_.path).toSet === before)
    assert(t.toDF.columns.toSeq === Seq("id", "amount"))
    // historic read: the column exists at v1 with its values
    val old = t.toDF(1L)
    assert(old.columns.contains("note"))
    assert(old.orderBy("id").collect()(1).getAs[String]("note") === "n1")
    // appends after the drop don't resurrect it
    t.append(Seq((7L, 7.0)).toDF("id", "amount"))
    assert(t.toDF.count() === 6L)
  }

  test("DML and OPTIMIZE work through the mapping; schema evolution assigns fresh ids") {
    val t = newTable()
    t.append(df(0 until 20))
    assert(t.delete(col("id") % 5 === 0) > 0L)
    assert(t.toDF.count() === 16L)
    t.update(col("id") === 1L, Map("note" -> lit("upd")))
    assert(t.toDF.filter(col("id") === 1L).collect()(0).getString(2) === "upd")
    t.merge(Seq((100L, 1.0, "m")).toDF("id", "amount", "note"), Seq("id"))
    assert(t.toDF.count() === 17L)
    assert(t.compact(minBytes = 1L << 30) > 0L)
    assert(t.toDF.count() === 17L)
    // rewritten files still carry physical names
    val raw = spark.read.parquet(new Path(t.path, t.snapshot.files.head.path).toString)
    assert(raw.columns.forall(_.startsWith("col-")))
    // mergeSchema evolution: the new field gets a fresh id past maxColumnId
    t.append(Seq((200L, 2.0, "e", 42L)).toDF("id", "amount", "note", "extra"),
      mergeSchema = true)
    val extra = t.schema.fields.find(_.name == "extra").get
    assert(extra.metadata.getLong(DeltaTable.ColMapIdKey) === 4L)
    assert(extra.metadata.getString(DeltaTable.ColMapPhysKey).startsWith("col-"))
    assert(t.snapshot.metadata.get.configuration(DeltaTable.ColumnMappingMaxIdKey) === "4")
    assert(t.toDF.filter(col("id") === 200L).collect()(0).getAs[Long]("extra") === 42L)
    // old rows null-fill the evolved column
    assert(t.toDF.filter(col("id") === 1L).collect()(0).isNullAt(3))
  }

  test("stats pruning and statsSummary translate logical names to physical") {
    val t = newTable()
    t.append(df(0 until 50).coalesce(1))
    t.append(df(50 until 100).coalesce(1))
    val s = t.statsSummary(Seq("id", "amount")).collect()(0)
    assert(s.getLong(0) === 100L && s.getLong(1) === 0L && s.getLong(2) === 99L)
    assert(s.getDouble(3) === 0.0 && s.getDouble(4) === 148.5)
    // file-level skipping: an id-range predicate prunes the other file
    val files = t.scanFiles(Seq(DataSkipping.ColPred("id", "<=", 10L)))
    assert(files.size === 1, s"expected 1 surviving file, got ${files.size}")
    assert(t.scan(Seq(DataSkipping.ColPred("id", "<=", 10L))).count() === 11L)
  }

  test("rename/drop refuse columns referenced by constraints or generation exprs") {
    val sch = StructType(Seq(
      StructField("id", LongType),
      StructField("amount", DoubleType),
      DeltaTable.generatedField("bucket", LongType, "CAST(floor(amount) AS BIGINT)")))
    val t = DeltaTable.forPath(spark, tmpDir("colmap-ref")).create(sch, Nil,
      configuration = Map(DeltaTable.ColumnMappingModeKey -> "name"))
    t.append(Seq((1L, 2.5)).toDF("id", "amount"))
    t.addCheckConstraint("pos_id", "id >= 0")
    // the constraint commit must RAISE protocol, never downgrade the
    // mapped table's (2,5) to a hardcoded (1,3)
    val p = t.snapshot.protocol.get
    assert(p.minReaderVersion === 2 && p.minWriterVersion === 5)
    // a metadata-only rename/drop that breaks stored SQL must refuse at
    // DDL time, not fail every future write
    assertThrows[IllegalArgumentException](t.renameColumn("amount", "amt"))
    assertThrows[IllegalArgumentException](t.dropColumn("amount"))
    assertThrows[IllegalArgumentException](t.renameColumn("id", "key"))
    // dropping the generated column ITSELF is fine (its expr leaves too),
    // after which its input becomes free to rename
    t.dropColumn("bucket")
    t.renameColumn("amount", "amt")
    assert(t.schema.fieldNames.toSeq === Seq("id", "amt"))
    assert(t.toDF.count() === 1L)
  }

  test("partitioned mapped table: physical dirs, logical reads, partition pruning") {
    val t = DeltaTable.forPath(spark, tmpDir("colmap-part")).create(schema, Seq("note"),
      configuration = Map(DeltaTable.ColumnMappingModeKey -> "name"))
    t.append((0 until 40).map(i => (i.toLong, i * 1.5, s"p${i % 4}"))
      .toDF("id", "amount", "note"))
    // Hive directories carry the PHYSICAL partition-column name (the
    // protocol representation), not the logical one
    val fs = new Path(t.path).getFileSystem(spark.sessionState.newHadoopConf())
    val dirs = fs.listStatus(new Path(t.path)).filter(_.isDirectory)
      .map(_.getPath.getName).filter(_.contains("="))
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("col-")),
      s"partition dirs must use physical names, got ${dirs.toSeq}")
    assert(t.snapshot.files.forall(_.partitionValues.keys.forall(_.startsWith("col-"))),
      "add.partitionValues must key by physical name")
    // reads are logical, partition column included
    assert(t.toDF.filter(col("note") === "p1").count() === 10L)
    // partition pruning through the logical predicate: only p1's files
    val pruned = t.scanFiles(Seq(DataSkipping.ColPred("note", "=", "p1")))
    assert(pruned.nonEmpty &&
      pruned.forall(_.partitionValues.values.toSeq.contains("p1")))
    assert(pruned.size < t.snapshot.files.size)
    // DML through the mapping on a partitioned table
    assert(t.delete(col("id") < 4L) > 0)
    assert(t.toDF.count() === 36L)
    // compaction preserves the physical layout (the delete removed one
    // row from each partition: ids 0..3 are p0..p3; a second append gives
    // every partition the two files a compaction bin needs)
    t.append((40 until 44).map(i => (i.toLong, i * 1.5, s"p${i % 4}"))
      .toDF("id", "amount", "note"))
    assert(t.compact(minBytes = 1L << 30) > 0)
    assert(t.toDF.filter(col("note") === "p2").count() === 10L)
    val compacted = DeltaTable.forPath(spark, t.path).snapshot.files
    assert(compacted.size === 4 && compacted.forall(_.path.startsWith("col-")))
  }

  test("partition predicates on mapped tables: OPTIMIZE WHERE and pruned CDF match") {
    // partitionValues key by PHYSICAL names — a logical-name lookup in
    // the predicate evaluator would silently match NOTHING (no-op
    // OPTIMIZE, missing CDF rows); this pins the physical translation
    val t = DeltaTable.forPath(spark, tmpDir("colmap-partpred")).create(schema, Seq("note"),
      configuration = Map(DeltaTable.ColumnMappingModeKey -> "name",
        DeltaTable.CdfConfigKey -> "true"))
    (0 until 3).foreach(_ =>
      t.append((0 until 20).map(i => (i.toLong, i * 1.5, s"p${i % 2}"))
        .toDF("id", "amount", "note").coalesce(1)))
    val vDel = t.delete(col("id") === 0L) // change rows in p0 only
    assert(vDel > 0L)
    // scoped compaction actually selects the partition's files
    val before = t.snapshot.files.count(_.partitionValues.values.toSeq.contains("p1"))
    assert(before === 3)
    assert(t.compact(minBytes = 1L << 30, where = Some(col("note") === "p1")) > 0L,
      "OPTIMIZE WHERE on a mapped table must match its partition")
    val after = DeltaTable.forPath(spark, t.path)
    assert(after.snapshot.files.count(_.partitionValues.values.toSeq.contains("p1")) === 1)
    // pruned CDF returns exactly the partition's slice
    val to = after.snapshot.version
    val sliced = after.changes(0, to, col("note") === "p0")
    val expected = after.changes(0, to).filter(col("note") === "p0")
      .select("id", "_change_type", "_commit_version").collect().map(_.toSeq).toSet
    assert(sliced.select("id", "_change_type", "_commit_version")
      .collect().map(_.toSeq).toSet === expected)
    assert(sliced.filter(col("_change_type") === "delete").count() === 3L)
  }

  test("renaming a PARTITION column is metadata-only; pruning follows the new name") {
    val t = DeltaTable.forPath(spark, tmpDir("colmap-partrn")).create(schema, Seq("note"),
      configuration = Map(DeltaTable.ColumnMappingModeKey -> "name"))
    t.append((0 until 20).map(i => (i.toLong, i * 1.5, s"p${i % 2}"))
      .toDF("id", "amount", "note"))
    val filesBefore = t.snapshot.files.map(_.path).toSet
    t.renameColumn("note", "bucket")
    assert(t.snapshot.files.map(_.path).toSet === filesBefore,
      "partition-column rename must not move a single file")
    assert(t.partitionColumns === Seq("bucket"),
      "metaData.partitionColumns must follow the logical rename")
    assert(t.toDF.filter(col("bucket") === "p0").count() === 10L)
    val pruned = t.scanFiles(Seq(DataSkipping.ColPred("bucket", "=", "p0")))
    assert(pruned.nonEmpty && pruned.size < t.snapshot.files.size)
    // appends AFTER the rename land in the same physical directories
    t.append(Seq((100L, 1.0, "p0")).toDF("id", "amount", "bucket"))
    assert(t.toDF.filter(col("bucket") === "p0").count() === 11L)
    // a partition column cannot DROP (Delta refuses too)
    assertThrows[IllegalArgumentException](t.dropColumn("bucket"))
  }

  test("CDF on a mapped table: change files store physical names, feed reads logical") {
    val t = DeltaTable.forPath(spark, tmpDir("colmap-cdf")).create(schema, Nil,
      configuration = Map(DeltaTable.ColumnMappingModeKey -> "name",
        DeltaTable.CdfConfigKey -> "true"))
    t.append(df(0 until 10))                      // v1: inserts
    val vDel = t.delete(col("id") >= 8L)          // v2: deletes via cdc file
    val ch = t.changes(1, vDel).orderBy("_commit_version", "id").collect()
    assert(ch.length === 12)
    assert(ch.take(10).forall(_.getAs[String](DeltaTable.ChangeTypeCol) == "insert"))
    assert(ch.drop(10).forall(_.getAs[String](DeltaTable.ChangeTypeCol) == "delete"))
    assert(ch.map(_.schema.fieldNames.take(3).toSeq).distinct ===
      Seq(Seq("id", "amount", "note")), "feed columns must be logical")
    // after a rename, the SAME historical feed surfaces under the new
    // logical name — change files key by stable physical names
    t.renameColumn("note", "memo")
    val ch2 = t.changes(1, vDel)
    assert(ch2.columns.take(3).toSeq === Seq("id", "amount", "memo"))
    assert(ch2.filter(col("memo") === "n3").count() === 1L)
  }

  // ---- id mode -----------------------------------------------------

  private def newIdTable(prefix: String = "colmap-id"): DeltaTable =
    DeltaTable.forPath(spark, tmpDir(prefix)).create(schema, Nil,
      configuration = Map(DeltaTable.ColumnMappingModeKey -> "id"))

  /** Parquet footer (name, field id) pairs of one data file. */
  private def footerFields(t: DeltaTable, rel: String): Seq[(String, Option[Int])] = {
    import scala.jdk.CollectionConverters._
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new Path(t.path, rel), spark.sessionState.newHadoopConf())
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getFooter.getFileMetaData.getSchema.getFields.asScala.toSeq
      .map(f => f.getName -> Option(f.getId).map(_.intValue))
    finally r.close()
  }

  test("id mode: written files carry the Delta stable ids as parquet field ids") {
    val t = newIdTable()
    assert(t.columnMappingMode === "id")
    val p = t.snapshot.protocol.get
    assert(p.minReaderVersion === 2 && p.minWriterVersion === 5)
    t.append(df(0 until 10))
    val ff = footerFields(t, t.snapshot.files.head.path)
    assert(ff.map(_._2) === Seq(Some(1), Some(2), Some(3)),
      s"parquet footer must carry field ids 1..3, got $ff")
    assert(ff.forall(_._1.startsWith("col-")),
      "id mode still writes physical names (stats/partition keys use them)")
    // reads come back logical, round-trip intact
    assert(t.toDF.columns.toSeq === Seq("id", "amount", "note"))
    assert(t.toDF.orderBy("id").collect()(3).getString(2) === "n3")
    // rename is metadata-only and both epochs read; DML flows through
    t.renameColumn("amount", "price")
    assert(t.toDF.filter(col("id") === 2L).collect()(0).getAs[Double]("price") === 3.0)
    assert(t.delete(col("id") >= 8L) > 0L)
    t.update(col("id") === 1L, Map("note" -> lit("upd")))
    t.merge(Seq((50L, 5.0, "m")).toDF("id", "price", "note"), Seq("id"))
    assert(t.compact(minBytes = 1L << 30) > 0L)
    assert(t.toDF.count() === 9L)
    assert(t.toDF.filter(col("id") === 1L).collect()(0).getString(2) === "upd")
    // mode changes stay refused either direction
    assertThrows[IllegalArgumentException](
      t.setProperties(Map(DeltaTable.ColumnMappingModeKey -> "name")))
  }

  test("id mode: columns resolve BY FIELD ID — alien physical names still read") {
    val t = newIdTable("colmap-idalien")
    t.append(df(0 until 3))
    // an "external writer"'s file: completely different physical column
    // names, but the SAME parquet field ids — per PROTOCOL.md id-mode
    // readers must match on the ids, so this file reads as (id, amount,
    // note) even though no column name agrees with the table's
    val alien = Seq((100L, 1.25, "alien")).toDF("a", "b", "c").select(
      col("a").as("weird_x", new MetadataBuilder().putLong("parquet.field.id", 1L).build()),
      col("b").as("weird_y", new MetadataBuilder().putLong("parquet.field.id", 2L).build()),
      col("c").as("weird_z", new MetadataBuilder().putLong("parquet.field.id", 3L).build()))
    val stage = tmpDir("colmap-alienstage")
    alien.coalesce(1).write.mode("overwrite").parquet(stage)
    val fs = new Path(t.path).getFileSystem(spark.sessionState.newHadoopConf())
    val part = fs.listStatus(new Path(stage))
      .find(_.getPath.getName.endsWith(".parquet")).get.getPath
    val rel = "alien-writer.parquet"
    org.apache.hadoop.fs.FileUtil.copy(fs, part, fs, new Path(t.path, rel),
      false, fs.getConf)
    val ff = footerFields(t, rel)
    assert(ff.map(_._1) === Seq("weird_x", "weird_y", "weird_z"))
    t.log.commit(Seq(
      Actions.Action(add = Some(Actions.AddFile(path = rel,
        size = fs.getFileStatus(new Path(t.path, rel)).getLen,
        modificationTime = 1L, dataChange = true))),
      Actions.Action(commitInfo = Some(Actions.CommitInfo(1700000000000L, "WRITE")))))
    assert(t.toDF.count() === 4L)
    val r = t.toDF.filter(col("id") === 100L).collect()
    assert(r.length === 1)
    assert(r(0).getDouble(1) === 1.25 && r(0).getString(2) === "alien",
      "the alien file's columns must map by field id, not by name")
  }

  test("id mode composes with partitioning, CDF, and schema evolution") {
    val t = DeltaTable.forPath(spark, tmpDir("colmap-idpart")).create(schema, Seq("note"),
      configuration = Map(DeltaTable.ColumnMappingModeKey -> "id",
        DeltaTable.CdfConfigKey -> "true"))
    t.append((0 until 20).map(i => (i.toLong, i * 1.5, s"p${i % 2}"))
      .toDF("id", "amount", "note"))
    assert(t.toDF.filter(col("note") === "p1").count() === 10L)
    val pruned = t.scanFiles(Seq(DataSkipping.ColPred("note", "=", "p0")))
    assert(pruned.nonEmpty && pruned.size < t.snapshot.files.size)
    val vDel = t.delete(col("id") < 2L)
    val ch = t.changes(1, vDel)
    assert(ch.filter(col(DeltaTable.ChangeTypeCol) === "delete").count() === 2L)
    // evolution mints a fresh id; the new column's files carry it
    t.append(Seq((200L, 2.0, "p0", 7L)).toDF("id", "amount", "note", "extra"),
      mergeSchema = true)
    val extra = t.schema.fields.find(_.name == "extra").get
    assert(extra.metadata.getLong(DeltaTable.ColMapIdKey) === 4L)
    assert(t.toDF.filter(col("id") === 200L).collect()(0).getAs[Long]("extra") === 7L)
    assert(t.toDF.filter(col("id") === 5L).collect()(0).isNullAt(3))
  }
}
