package graft.delta

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** V2 checkpoints (PROTOCOL.md, reader+writer feature `v2Checkpoint`):
  * UUID-named top-level JSON + sidecar parquet(s), cold-start seeding,
  * and sidecar garbage collection. */
class V2CheckpointSpec extends SparkSpec {
  import spark.implicits._

  private def logFiles(dir: String): Seq[String] = {
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(new Path(dir, "_delta_log")).map(_.getPath.getName).toSeq
  }

  test("v2 policy writes top-level + sidecars; cold start seeds from them") {
    val dir = tmpDir("v2ck")
    val t = DeltaTable.forPath(spark, dir).create(
      Seq((0L, "s")).toDF("k", "v").schema,
      configuration = Map(
        DeltaTable.CheckpointPolicyKey -> "v2",
        DeltaTable.RowTrackingConfigKey -> "true"))
    val p = t.snapshot.protocol.get
    assert(p.minReaderVersion === 3)
    assert(p.readerFeatures.get.contains("v2Checkpoint"))
    assert(p.writerFeatures.get.contains("v2Checkpoint"))
    (0 until 12).foreach(b => t.append(Seq((b.toLong, s"b$b")).toDF("k", "v")))
    val names = logFiles(dir)
    assert(names.exists(_.matches("""\d{20}\.checkpoint\.[0-9a-fA-F-]{36}\.json""")),
      s"v2 top-level missing in $names")
    assert(!names.exists(_.matches("""\d{20}\.checkpoint\.parquet""")),
      "v2 policy must not also write classic checkpoints")
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    val sidecars = fs.listStatus(new Path(dir, "_delta_log/_sidecars"))
      .map(_.getPath.getName).toSeq
    assert(sidecars.nonEmpty && sidecars.forall(_.endsWith(".parquet")))
    // age out the JSONs below the checkpoint: the cold snapshot must
    // reconstruct from the v2 top-level + sidecars alone
    assert(t.log.cleanupMetadata(10L) > 0)
    val cold = DeltaTable.forPath(spark, dir)
    assert(cold.toDF.count() === 12L)
    assert(cold.snapshot.domainMetadata.contains(DeltaLog.RowTrackingDomain),
      "domain metadata must ride the v2 top-level")
    val ids = cold.toDFWithRowIds.select(col(DeltaTable.RowIdCol)).as[Long].collect()
    assert(ids.toSet === (0L until 12L).toSet,
      "baseRowIds must round-trip through the sidecar parquet")
    // time travel to a version past the checkpoint still works
    assert(cold.toDF(11L).count() === 11L)
  }

  test("sidecar GC removes files no surviving top-level references") {
    val dir = tmpDir("v2ck-gc")
    val t = DeltaTable.forPath(spark, dir).create(
      Seq((0L, "s")).toDF("k", "v").schema,
      configuration = Map(DeltaTable.CheckpointPolicyKey -> "v2"))
    (0 until 22).foreach(b => t.append(Seq((b.toLong, s"b$b")).toDF("k", "v")))
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    val scDir = new Path(dir, "_delta_log/_sidecars")
    val before = fs.listStatus(scDir).map(_.getPath.getName).toSet
    assert(before.size >= 2, s"two checkpoints → two sidecar files, got $before")
    // plant two orphans: one fresh (a writer that may still be publishing
    // its top-level) and one aged past the grace (a crashed writer)
    val fresh = new Path(scDir, "deadbeef-0000-0000-0000-00000000000f.parquet")
    val out1 = fs.create(fresh); out1.write(1); out1.close()
    val aged = new Path(scDir, "deadbeef-0000-0000-0000-00000000000a.parquet")
    val out2 = fs.create(aged); out2.write(1); out2.close()
    fs.setTimes(aged, System.currentTimeMillis() - 2L * 60 * 60 * 1000, -1)
    // a crashed writer's staging dir, likewise aged
    val staleDir = new Path(dir, "_delta_log/.ck2-deadbeef")
    fs.mkdirs(staleDir)
    fs.setTimes(staleDir, System.currentTimeMillis() - 2L * 60 * 60 * 1000, -1)
    assert(t.log.cleanupMetadata(20L) > 0)
    val after = fs.listStatus(scDir).map(_.getPath.getName).toSet
    assert(!after.contains(aged.getName), "aged orphaned sidecars must GC")
    assert(after.contains(fresh.getName),
      "a fresh unreferenced sidecar may be an in-flight checkpoint — survives the grace")
    assert(!fs.exists(staleDir), "stale .ck2-* staging dirs must GC")
    // with grace 0 the fresh orphan is collectable too
    assert(t.log.cleanupMetadata(20L, tempGraceMs = 0L) > 0)
    assert(!fs.exists(fresh))
    // the surviving checkpoint's sidecar is still there and still seeds
    assert(fs.listStatus(scDir).nonEmpty)
    assert(DeltaTable.forPath(spark, dir).toDF.count() === 22L)
  }

  test("a failed delete of a V2 top-level file keeps its sidecars, and the table reads") {
    FaultyFileSystem.install(spark)
    val local = tmpDir("v2ck-keep")
    val dir = FaultyFileSystem.uriOf(local)
    val t = DeltaTable.forPath(spark, dir).create(
      Seq((0L, "s")).toDF("k", "v").schema,
      configuration = Map(DeltaTable.CheckpointPolicyKey -> "v2"))
    (0 until 22).foreach(b => t.append(Seq((b.toLong, s"b$b")).toDF("k", "v")))
    val top10 = logFiles(local).filter(_.matches("""0{18}10\.checkpoint\..*\.json"""))
    assert(top10.size === 1, logFiles(local).sorted.mkString(", "))
    val fs = new Path(local).getFileSystem(spark.sessionState.newHadoopConf())
    val scDir = new Path(local, "_delta_log/_sidecars")
    def sidecarNames() = fs.listStatus(scDir).map(_.getPath.getName).toSet
    val before = sidecarNames()
    FaultyFileSystem.failMatching((op, p) => op == "delete" && p.getName == top10.head)
    val deleted =
      try t.log.cleanupMetadata(20L, tempGraceMs = 0L)
      finally FaultyFileSystem.reset()
    assert(deleted > 0)
    assert(logFiles(local).contains(top10.head), "the failed delete leaves the file")
    assert(!logFiles(local).contains("00000000000000000009.json"))
    assert(sidecarNames() === before, "the surviving top-level keeps its sidecars")
    val cold = DeltaTable.forPath(spark, dir)
    assert(cold.toDF.count() === 22L)
    assert(cold.toDF(10L).count() === 10L, "version 10 still seeds from its checkpoint")
  }
}
