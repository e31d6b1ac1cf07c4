package graft.delta

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.delta.DeltaTable._

/** A DML that fails before its commit leaves no file behind: the data
  * files, change files and deletion-vector file it staged are deleted,
  * and the table reads exactly as before. */
class DmlFaultInjectionSpec extends SparkSpec {
  import spark.implicits._

  FaultyFileSystem.install(spark)

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("v", LongType),
    StructField("tag", StringType)))

  /** Files under the table root (log and hidden checksum files aside)
    * that no version of the log names as a data, change or DV file. */
  private def unreferenced(t: DeltaTable, local: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    val named = (0L to t.log.latestVersion()).flatMap(t.log.readVersion).flatMap { a =>
      a.add.map(_.path) ++ a.cdc.map(_.path) ++
        a.add.flatMap(_.deletionVector).filter(_.storageType == "u")
          .map(d => DeletionVectors.relativeFileName(d.pathOrInlineDv))
    }.toSet
    val root = java.nio.file.Paths.get(local)
    val onDisk = java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p))
      .map(p => root.relativize(p).toString)
      .filterNot(r => r.startsWith("_delta_log") || r.split('/').last.startsWith("."))
      .toSet
    onDisk -- named
  }

  /** Rows with their row ids and commit versions; an id past `fresh`
    * (an inserted row's, which depends on the order of the new files in
    * the commit) reads as -1. */
  private def rowsWithIds(t: DeltaTable, fresh: Long = Long.MaxValue)
      : Set[(Long, Long, String, Long, Long)] =
    t.toDFWithRowIds.select(col("id"), col("v"), col("tag"), col(RowIdCol),
      col(RowCommitVersionCol)).as[(Long, Long, String, Long, Long)].collect()
      .map { case (id, v, tag, rid, rcv) => (id, v, tag, if (rid < fresh) rid else -1L, rcv) }
      .toSet

  test("a CHECK violation in a DV update leaves no deletion-vector file behind") {
    val dir = tmpDir("dml-dv-check")
    val t = DeltaTable.forPath(spark, dir).create(schema,
      configuration = Map(DvConfigKey -> "true"))
    t.append((0L until 2000L).map(i => (i, i, "base")).toDF("id", "v", "tag").coalesce(1))
    assert(t.snapshot.files.size === 1)
    t.addCheckConstraint("v_small", "v < 1000000")
    val v0 = t.log.latestVersion()
    // 1,000 scattered positions of one file: a bitmap far above the
    // inline limit, so the mask needs a DV file
    val e = intercept[Exception](
      t.updateWithDv(col("id") % 2 === 0, Map("v" -> lit(5000000L))))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage.contains("v_small")), e.toString)
    assert(t.log.latestVersion() === v0)
    assert(t.toDF.count() === 2000L && t.snapshot.files.forall(_.deletionVector.isEmpty))
    assert(unreferenced(t, dir).isEmpty, s"left behind: ${unreferenced(t, dir)}")
  }

  /** Fail the `k`-th create or rename from now (never when `k` <= 0);
    * the returned counter counts them. */
  private def failNthCreateOrRename(k: Long): AtomicLong = {
    val n = new AtomicLong(0L)
    FaultyFileSystem.failMatching((op, _) =>
      (op == "create" || op == "rename") && n.incrementAndGet() == k)
    n
  }

  private def copyTable(from: String): String = {
    val to = tmpDir("dml-fault-run")
    val src = java.nio.file.Paths.get(from)
    java.nio.file.Files.walk(src).forEach { p =>
      val q = java.nio.file.Paths.get(to).resolve(src.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(q)
      else java.nio.file.Files.copy(p, q)
    }
    to
  }

  private def enumerate(mask: Boolean): Unit = {
    val base = tmpDir(if (mask) "dml-fault-mask" else "dml-fault-rewrite")
    val t0 = DeltaTable.forPath(spark, FaultyFileSystem.uriOf(base)).create(schema,
      configuration = Map(CdfConfigKey -> "true", RowTrackingConfigKey -> "true") ++
        (if (mask) Map(DvConfigKey -> "true") else Map.empty))
    t0.append((0L until 800L).map(i => (i, i, "base")).toDF("id", "v", "tag").coalesce(1))
    val pre = rowsWithIds(t0)
    // 400 scattered claims in one file (a DV file under the mask), an
    // update and a delete per pair, and two inserts
    val src = ((0L until 800L by 2).map(i => (i, -i, if (i % 4 == 0) "D" else "U")) ++
      Seq((5000L, 1L, "I"), (5001L, 2L, "I"))).toDF("id", "v", "tag")
    val clauses = Seq(
      WhenMatchedDelete(condition = Some("s.tag = 'D'")),
      WhenMatchedUpdate(set = Map("v" -> "s.v")),
      WhenNotMatchedInsert())
    def merge(t: DeltaTable): Long =
      if (mask) t.mergeClausesWithDv(src, Seq("id"), clauses)
      else t.mergeClauses(src, Seq("id"), clauses)

    val dryDir = copyTable(base)
    val dry = DeltaTable.forPath(spark, FaultyFileSystem.uriOf(dryDir))
    val counted = failNthCreateOrRename(0L)
    try assert(merge(dry) > 0L)
    finally FaultyFileSystem.reset()
    val points = counted.get
    val post = rowsWithIds(dry, fresh = 800L)
    assert(post.size === 602 && post != pre)
    assert(unreferenced(dry, dryDir).isEmpty)
    assert(!mask || dry.snapshot.files.exists(_.deletionVector.exists(_.storageType == "u")),
      "the masked merge must write a DV file for this spec to mean anything")
    assert(points > 5L, s"only $points injection points")

    var failed = 0
    (1L to points).foreach { k =>
      val dir = copyTable(base)
      val t = DeltaTable.forPath(spark, FaultyFileSystem.uriOf(dir))
      val outcome =
        try { failNthCreateOrRename(k); Right(merge(t)) }
        catch { case e: Exception => Left(e) }
        finally FaultyFileSystem.reset()
      val landed = outcome match {
        case Right(_) => true
        case Left(_: PostCommitFailure) => true
        case Left(_) => failed += 1; false
      }
      val reread = DeltaTable.forPath(spark, FaultyFileSystem.uriOf(dir))
      assert(rowsWithIds(reread, fresh = 800L) === (if (landed) post else pre),
        s"fault $k ($outcome): table state")
      assert(unreferenced(reread, dir).isEmpty,
        s"fault $k left unreferenced files: ${unreferenced(reread, dir)}")
    }
    info(s"${if (mask) "mask" else "rewrite"}: $points creates and renames, $failed failed the merge")
  }

  test("a fault at any create or rename of a clause merge (rewrite): pre-merge state, no leftovers") {
    spark.sparkContext.setLogLevel("OFF")
    try enumerate(mask = false)
    finally spark.sparkContext.setLogLevel("WARN")
  }

  test("a fault at any create or rename of a clause merge (mask): pre-merge state, no leftovers") {
    spark.sparkContext.setLogLevel("OFF")
    try enumerate(mask = true)
    finally spark.sparkContext.setLogLevel("WARN")
  }
}
