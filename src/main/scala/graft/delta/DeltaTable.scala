package graft.delta

import scala.collection.mutable
import scala.util.chaining._

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, concat, count, input_file_name, lit, struct, to_json, when}
import org.apache.spark.sql.types.StructType

/** Delta table facade: transactional parquet append/read on top of
  * [[DeltaLog]].
  *
  * Write path (mirrors reference §2.5 B4–B6 + §2.7 X1): the batch is written
  * by executors into a staging dir with Hive-style `partitionBy` layout,
  * files are moved into the table root (rename, no data copy on
  * HDFS-compatible stores), per-file stats (numRecords, min/max/nullCount —
  * reference ST1/ST2) come from the parquet footers, and one commit appends
  * all `add`s plus the idempotence `txn{appId, version}`.
  *
  * Exactly-once: `append` with (txnAppId, txnVersion) is a no-op when the
  * stored txn version is ≥ the given one — replayed micro-batches after
  * failure don't double-write (reference §2.8 / Structured Streaming
  * foreachBatch contract).
  */
object DeltaTable {

  val HiveDefaultPartition = "__HIVE_DEFAULT_PARTITION__"

  /** Metadata configuration prefix for CHECK constraints — the Delta
    * protocol / delta-rs representation. */
  val ConstraintPrefix = "delta.constraints."

  /** Change Data Feed column/config names (Delta protocol). */
  val ChangeTypeCol = "_change_type"
  val CdfConfigKey = "delta.enableChangeDataFeed"

  /** Deletion-vector enablement config (Delta protocol / delta-rs). */
  val DvConfigKey = "delta.enableDeletionVectors"

  /** Append-only enforcement config (Delta protocol writer feature
    * `appendOnly`, in force since writer version 2 — the default). */
  val AppendOnlyConfigKey = "delta.appendOnly"

  /** Auto-compaction config (the Delta `delta.autoOptimize.autoCompact`
    * table property) plus the small-file-count trigger threshold
    * (Delta's spark-conf `minNumFiles` knob surfaced as a table
    * property, default 50). */
  val AutoCompactConfigKey = "delta.autoOptimize.autoCompact"
  val AutoCompactMinFilesKey = "delta.autoOptimize.minNumFiles"

  /** Optimized writes (the Delta `delta.autoOptimize.optimizeWrite`
    * table property): appends pre-shuffle through an AQE REBALANCE
    * instead of a plain hash repartition — small shuffle partitions
    * coalesce toward the advisory size and a skewed partition value
    * SPLITS across tasks, so neither a 10⁴-task batch into an
    * unpartitioned table (one small file per task) nor one hot partition
    * value (one giant funnel task) degrades the write. */
  val OptimizeWriteConfigKey = "delta.autoOptimize.optimizeWrite"

  /** In-commit timestamps enablement (Delta writer feature
    * `inCommitTimestamp`). */
  val IctConfigKey = "delta.enableInCommitTimestamps"

  /** Symlink-format manifest maintenance (Delta's
    * `delta.compatibility.symlinkFormatManifest.enabled`): when true,
    * every data commit incrementally rewrites the Hive-symlink manifests
    * under [[ManifestDirName]] so Presto/Trino/Athena-style external
    * readers track the table without a manual GENERATE after each write. */
  val SymlinkManifestKey = "delta.compatibility.symlinkFormatManifest.enabled"
  val ManifestDirName = "_symlink_format_manifest"

  /** UniForm (delta-spark's Universal Format): when
    * `delta.universalFormat.enabledFormats` contains `iceberg`, every
    * commit advances the [[IcebergUniform]] metadata mirror through the
    * same post-commit hook the symlink manifests use — external Iceberg
    * readers track the table with no manual sync(). Requires
    * `delta.enableIcebergCompatV1` (the writer feature enforcing the
    * mirror's invariants: no deletion vectors, no column mapping,
    * identity-mirrorable partition types). */
  val UniversalFormatKey = "delta.universalFormat.enabledFormats"
  val IcebergCompatV1Key = "delta.enableIcebergCompatV1"

  /** The IcebergCompatV1 invariants, enforced at CREATE/SET time so the
    * post-commit sync can never start failing later: no DVs (an Iceberg
    * reader cannot apply them), no column mapping (the mirror exports
    * LOGICAL names by design), identity-partition-typed partition
    * columns only. The invariants key off the COMPAT flag, not the
    * formats key — the protocol's icebergCompatV1 writer feature is the
    * promise an external engine trusts, so a compat-flagged table must
    * hold the invariants even while the mirror itself is disabled
    * (enabling DVs on a compat-only table would let a later
    * mirror/UniForm enable resurrect deleted rows). */
  private[delta] def requireIcebergCompatible(conf: Map[String, String],
                                              schema: StructType,
                                              partCols: Seq[String]): Unit = {
    conf.get(UniversalFormatKey).foreach { v =>
      val formats = v.split(",").map(_.trim.toLowerCase).filter(_.nonEmpty)
      require(formats.nonEmpty && formats.forall(_ == "iceberg"),
        s"$UniversalFormatKey supports only 'iceberg', got '$v'")
      require(conf.get(IcebergCompatV1Key).contains("true"),
        s"$UniversalFormatKey=iceberg requires $IcebergCompatV1Key=true " +
          "(delta-spark's IcebergCompat rule — the compat feature is what " +
          "guarantees the mirror's invariants hold for every future write)")
    }
    if (conf.get(IcebergCompatV1Key).contains("true")) {
      require(!conf.get(DvConfigKey).contains("true"),
        "IcebergCompatV1 and deletion vectors are mutually exclusive — " +
          "an Iceberg reader cannot apply DV masks and would resurrect " +
          "deleted rows")
      require(!conf.get(ColumnMappingModeKey).exists(_ != "none"),
        "IcebergCompatV1 is not supported on column-mapped tables — this " +
          "engine's mirror exports logical names")
      partCols.foreach { c =>
        schema(c).dataType match {
          case org.apache.spark.sql.types.IntegerType |
               org.apache.spark.sql.types.LongType |
               org.apache.spark.sql.types.StringType |
               org.apache.spark.sql.types.DateType =>
          case t => throw new IllegalArgumentException(
            s"IcebergCompatV1: partition column $c has type ${t.sql} — " +
              "only int/long/string/date identity partitions are mirrored")
        }
      }
    }
  }

  private[delta] def icebergCompatChecked(conf: Map[String, String]): Boolean =
    conf.contains(UniversalFormatKey) ||
      conf.get(IcebergCompatV1Key).contains("true")

  private[delta] def uniformIcebergOn(conf: Map[String, String]): Boolean =
    conf.get(UniversalFormatKey).exists(
      _.split(",").map(_.trim.toLowerCase).contains("iceberg"))

  /** Retention/cadence table properties (delta-spark's):
    * checkpoint cadence, checkpoint-time log expiry and its retention,
    * and VACUUM's default tombstone retention. */
  val CheckpointIntervalKey = "delta.checkpointInterval"
  val LogRetentionKey = "delta.logRetentionDuration"
  val ExpiredLogCleanupKey = "delta.enableExpiredLogCleanup"
  val DeletedFileRetentionKey = "delta.deletedFileRetentionDuration"

  /** Checkpoint-time per-app txn expiry (delta-spark's). */
  val TxnRetentionKey = "delta.setTransactionRetentionDuration"

  /** Target data-file size for OPTIMIZE/compaction output bin-packing
    * (the documented `delta.targetFileSize` table property; plain bytes
    * or an interval-style size is NOT accepted — delta stores bytes).
    * 128 MiB default: large enough that a 100 TB table is ~10⁶ files
    * (footer-stat and task-scheduling sweet spot), small enough that one
    * task's rewrite fits comfortably in an executor core's memory. */
  val TargetFileSizeKey = "delta.targetFileSize"
  val DefaultTargetFileSize: Long = 128L * 1024 * 1024

  /** Parquet codec for every staged write of a table (appends, DML
    * rewrites, OPTIMIZE, change files): at 100 TB the codec is a
    * first-order storage/scan-IO lever — zstd typically stores text
    * corpora 1.3–1.8× smaller than the snappy default at comparable
    * decode throughput, and OPTIMIZE under the property doubles as a
    * whole-table transcode. Mixed-codec tables are fine (parquet
    * declares the codec per column chunk; readers never consult the
    * property). */
  val ParquetCodecKey = "delta.parquet.compression.codec"
  private[delta] val KnownCodecs =
    Set("snappy", "zstd", "gzip", "lz4", "none", "uncompressed")

  /** The staged-write codec a configuration asks for (snappy default) —
    * validated at SET time and re-validated here for configurations
    * written by foreign engines. */
  private[delta] def codecOf(conf: Map[String, String]): String = {
    val c = conf.getOrElse(ParquetCodecKey, "snappy").trim.toLowerCase
    require(KnownCodecs(c),
      s"$ParquetCodecKey must be one of ${KnownCodecs.toSeq.sorted.mkString("|")}, got '$c'")
    c
  }

  /** Stats-collection width (delta's documented
    * `delta.dataSkippingNumIndexedCols`, default 32): per-file min/max/
    * nullCount cover only the first N LEAF columns in schema order; -1 =
    * all columns. Stats JSON rides every add through every commit,
    * checkpoint, and replay — on a 1000-column table unbounded stats
    * make the LOG the bottleneck; predicates past the indexed prefix
    * lose pruning, never correctness. */
  val DataSkippingNumIndexedColsKey = "delta.dataSkippingNumIndexedCols"
  val DefaultDataSkippingNumIndexedCols = 32

  /** ZCube identity tags OPTIMIZE stamps on its output files (the tag
    * names delta-spark's clustering OPTIMIZE writes), and the minimum
    * total size at which a cube is FINAL — excluded from later
    * incremental runs over the same key. 100 GB default (delta's
    * documented cube size): big enough that per-cube stats regions stay
    * tight at 100 TB, small enough that maintenance amortizes. */
  val ZCubeIdTag = "ZCUBE_ID"
  val ZCubeColsTag = "ZCUBE_ZORDER_BY"
  val ZCubeCurveTag = "ZCUBE_ZORDER_CURVE"
  val MinCubeSizeKey = "graft.optimize.minCubeSize"
  val DefaultMinCubeSize: Long = 100L * 1024 * 1024 * 1024

  /** Bounded-pool parallel map for driver-side storage round-trips
    * (footer reads, existence probes, deletes): 32 threads cap namenode
    * pressure while unblocking per-call object-store latency. One copy —
    * four call sites hand-rolled this before round 13's review. Returns
    * or throws only once every call has finished, so a caller cleaning up
    * after a failed call sees the side effects of all the others. */
  private[delta] def parMap[A, B](items: Seq[A])(f: A => B): Seq[B] = {
    if (items.isEmpty) return Nil
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(32, items.size))
    try items.map(a => pool.submit(new java.util.concurrent.Callable[B] {
      override def call(): B = f(a)
    })).map(_.get())
    finally {
      pool.shutdown()
      pool.awaitTermination(Long.MaxValue, java.util.concurrent.TimeUnit.NANOSECONDS): Unit
    }
  }

  /** One listed entry of [[parallelWalk]] — a lightweight serializable
    * projection of FileStatus so distributed level listings ship tuples,
    * not Hadoop objects. */
  final case class WalkEntry(path: String, isDir: Boolean,
                             modificationTime: Long)

  /** How the last walk's widest level listed — specs pin the threshold
    * routing ("spark-job" when a level holds ≥ [[distributedStatsThreshold]]
    * directories, "driver-pool" otherwise). Diagnostic only. */
  private[delta] var lastWalkListMode: String = ""

  /** Splittable distributed read of Avro object-container files as a
    * Dataset of per-record JSON strings — the COPY INTO FILEFORMAT=AVRO
    * ingest surface (no spark-avro DataSource jar exists in this
    * environment, and graft's whole avro layer already speaks the JSON
    * encoding — serialization/Decoders). avro-mapred's input format
    * streams records under each file's embedded WRITER schema (no
    * reader schema pinned), splits large containers on sync markers,
    * and never materializes a whole file in memory — the properties a
    * 10⁵-file landing area needs. */
  private[delta] def avroContainerJson(spark: SparkSession,
                                       paths: Seq[String])
      : org.apache.spark.sql.Dataset[String] = {
    import org.apache.avro.generic.GenericRecord
    import org.apache.avro.mapred.AvroKey
    import org.apache.avro.mapreduce.AvroKeyInputFormat
    import org.apache.hadoop.io.NullWritable
    val rdd = spark.sparkContext.newAPIHadoopFile(
        paths.mkString(","),
        classOf[AvroKeyInputFormat[GenericRecord]],
        classOf[AvroKey[GenericRecord]],
        classOf[NullWritable])
      // toString NOW: the record object is reused by the input format,
      // and GenericRecord.toString IS the avro JSON encoding
      .map { case (k, _) => k.datum().toString }
    spark.createDataset(rdd)(org.apache.spark.sql.Encoders.STRING)
  }

  /** Level-parallel BFS directory walk: each level lists all its
    * directories concurrently — on the bounded driver pool for ordinary
    * levels, in ONE Spark job when a level holds
    * [[distributedStatsThreshold]]+ directories (a day-partitioned ×
    * hour-partitioned table fans to 10⁴–10⁵ dirs per level; even a
    * 32-thread driver pool serializes round-trips there, while executors
    * list at cluster rate and ship back metadata tuples). Files stream
    * to `onFile` on the caller's thread between levels. A serial
    * recursive walk turns a million-file tree into a multi-hour driver
    * metadata crawl — this is the ONE walk shape (vacuum's candidate
    * listing and COPY INTO's source listing both ride it). */
  private[delta] def parallelWalk(spark: SparkSession,
                                  conf: org.apache.hadoop.conf.Configuration,
                                  root: Path, skipDir: Path => Boolean)
                                 (onFile: WalkEntry => Unit): Unit = {
    val fs = root.getFileSystem(conf)
    lastWalkListMode = "driver-pool"
    var level: Seq[Path] = Seq(root).filterNot(skipDir)
    while (level.nonEmpty) {
      val entries: Seq[WalkEntry] =
        if (level.size < distributedStatsThreshold)
          parMap(level)(d => fs.listStatus(d)).flatten.map(st =>
            WalkEntry(st.getPath.toString, st.isDirectory,
              st.getModificationTime))
        else {
          lastWalkListMode = "spark-job"
          val bcConf = broadcastConf(spark, conf)
          val rootStr = root.toString
          val slices = math.min(level.size, 512)
          spark.sparkContext.parallelize(level.map(_.toString), slices)
            .mapPartitions { it =>
              val (_, f) = fsFromBroadcast(bcConf, rootStr)
              it.flatMap(d => f.listStatus(new Path(d)).iterator.map(st =>
                WalkEntry(st.getPath.toString, st.isDirectory,
                  st.getModificationTime)))
            }.collect().toSeq
        }
      val next = scala.collection.mutable.ArrayBuffer.empty[Path]
      entries.foreach { e =>
        if (e.isDir) { val p = new Path(e.path); if (!skipDir(p)) next += p }
        else onFile(e)
      }
      level = next.toSeq
    }
  }

  /** The subset of table-relative `rels` whose existence matches
    * `wantExisting`: bounded driver pool below
    * [[distributedStatsThreshold]], ONE Spark job above it — and only
    * the MATCHING side collects, so FSCK over 10⁶ files ships back just
    * the dangling handful, not a boolean per file. */
  /** [[filterByExistence]]'s routing tracker for specs. */
  private[delta] var lastExistenceProbeMode: String = ""

  private[delta] def filterByExistence(spark: SparkSession,
                                       conf: org.apache.hadoop.conf.Configuration,
                                       root: Path, rels: Seq[String],
                                       wantExisting: Boolean): Seq[String] =
    if (rels.size < distributedStatsThreshold) {
      lastExistenceProbeMode = "driver-pool"
      val fs = root.getFileSystem(conf)
      parMap(rels)(p => p -> fs.exists(new Path(root, p)))
        .collect { case (p, ex) if ex == wantExisting => p }
    } else {
      lastExistenceProbeMode = "spark-job"
      val bcConf = broadcastConf(spark, conf)
      val rootStr = root.toString
      val slices = math.min(rels.size, 512)
      spark.sparkContext.parallelize(rels, slices).mapPartitions { it =>
        val (r, f) = fsFromBroadcast(bcConf, rootStr)
        it.filter(p => f.exists(new Path(r, p)) == wantExisting)
      }.collect().toSeq
    }

  /** How the last vacuum delete ran — specs pin the threshold routing
    * ("spark-job" past [[distributedStatsThreshold]], "driver-pool" /
    * "driver-stream" below). Diagnostic only. */
  private[delta] var lastVacuumDeleteMode: String = ""

  /** Delete table-relative garbage paths already materialized on the
    * driver (walk / LITE candidates — both bounded by driver-side
    * listings anyway): bounded pool below [[distributedStatsThreshold]],
    * ONE Spark job above it (executors rebuild the Hadoop conf from a
    * broadcast — deletes run at cluster rate instead of one node's
    * object-store round-trips). Deletes are idempotent; returns the
    * count that actually removed bytes. */
  private[delta] def deleteRelPaths(spark: SparkSession,
                                    conf: org.apache.hadoop.conf.Configuration,
                                    root: Path, rels: Seq[String]): Int =
    if (rels.size < distributedStatsThreshold) {
      lastVacuumDeleteMode = "driver-pool"
      val fs = root.getFileSystem(conf)
      parMap(rels)(p => if (fs.delete(new Path(root, p), false)) 1 else 0).sum
    } else {
      lastVacuumDeleteMode = "spark-job"
      val bcConf = broadcastConf(spark, conf)
      val rootStr = root.toString
      val slices = math.min(rels.size, 512)
      spark.sparkContext.parallelize(rels, slices).mapPartitions { it =>
        val (r, f) = fsFromBroadcast(bcConf, rootStr)
        Iterator.single(it.count(p => f.delete(new Path(r, p), false)))
      }.sum().toInt
    }

  /** Delete table-relative garbage paths held in a DISTRIBUTED dataset
    * (the inventory anti-join result — at inventory scale the garbage
    * set is 10⁶–10⁸ objects and must never materialize on the driver):
    * past [[distributedStatsThreshold]] the deletes run as a Spark job
    * over the dataset's own partitions; below it candidates STREAM to
    * the driver via toLocalIterator (one partition in memory at a time)
    * and delete in bounded-pool batches. Returns the deleted count. */
  private[delta] def deleteRelPathsDs(conf: org.apache.hadoop.conf.Configuration,
                                      root: Path,
                                      ds: org.apache.spark.sql.Dataset[String]): Int = {
    val spark = ds.sparkSession
    val cached = ds.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = cached.count()
      if (n == 0L) 0
      else if (n < distributedStatsThreshold) {
        lastVacuumDeleteMode = "driver-stream"
        val fs = root.getFileSystem(conf)
        var deleted = 0
        val batch = scala.collection.mutable.ArrayBuffer.empty[String]
        def flush(): Unit = if (batch.nonEmpty) {
          deleted += parMap(batch.toSeq)(p =>
            if (fs.delete(new Path(root, p), false)) 1 else 0).sum
          batch.clear()
        }
        val it = cached.toLocalIterator()
        while (it.hasNext) { batch += it.next(); if (batch.size >= 256) flush() }
        flush()
        deleted
      } else {
        lastVacuumDeleteMode = "spark-job"
        val bcConf = broadcastConf(spark, conf)
        val rootStr = root.toString
        cached.rdd.mapPartitions { it =>
          val (r, f) = fsFromBroadcast(bcConf, rootStr)
          Iterator.single(it.count(p => f.delete(new Path(r, p), false)))
        }.sum().toInt
      }
    } finally { cached.unpersist(); () }
  }

  private def broadcastConf(spark: SparkSession,
      conf: org.apache.hadoop.conf.Configuration)
      : org.apache.spark.broadcast.Broadcast[Seq[(String, String)]] = {
    import scala.jdk.CollectionConverters._
    spark.sparkContext.broadcast(
      conf.iterator().asScala.map(e => e.getKey -> e.getValue).toSeq)
  }

  private def fsFromBroadcast(
      bc: org.apache.spark.broadcast.Broadcast[Seq[(String, String)]],
      rootStr: String): (Path, FileSystem) = {
    val c = new org.apache.hadoop.conf.Configuration(false)
    bc.value.foreach { case (k, v) => c.set(k, v) }
    val r = new Path(rootStr)
    (r, r.getFileSystem(c))
  }

  /** vacuum()'s "use the table's configured retention" sentinel — a
    * dedicated value because real negatives are meaningful (a cutoff in
    * the future collects everything regardless of age). */
  val TableDefaultRetention: Long = Long.MinValue

  /** Delta's duration-property syntax → millis: "interval 7 days",
    * "interval 168 hours", and the multi-unit CalendarInterval form real
    * delta-spark tables carry ("interval 1 days 12 hours") — terms sum;
    * the `interval` keyword optional, units week|day|hour|minute|second|
    * millisecond, plural accepted. */
  def parseIntervalMs(s: String): Long = {
    val Term = """(?i)(\d+)\s*(week|day|hour|minute|second|millisecond)s?""".r
    val body = s.trim.replaceAll("(?i)^interval\\s+", "")
    val terms = Term.findAllMatchIn(body).toSeq
    require(terms.nonEmpty && Term.replaceAllIn(body, "").trim.isEmpty,
      s"cannot parse duration '$s' — use e.g. 'interval 7 days'")
    terms.map { m =>
      val u = m.group(2).toLowerCase match {
        case "week" => 7L * 24 * 3600 * 1000
        case "day" => 24L * 3600 * 1000
        case "hour" => 3600L * 1000
        case "minute" => 60L * 1000
        case "second" => 1000L
        case "millisecond" => 1L
      }
      m.group(1).toLong * u
    }.sum
  }

  /** [[parseIntervalMs]] that cannot throw — for the POST-COMMIT paths
    * (checkpoint-time log/txn expiry), where an unparseable property on
    * an externally-written table must mean "skip the expiry", never "the
    * commit that already landed reports failure and the caller retries a
    * duplicate". */
  def parseIntervalMsLenient(s: String): Option[Long] =
    scala.util.Try(parseIntervalMs(s)).toOption

  /** Row tracking (Delta writer feature `rowTracking` + `domainMetadata`):
    * every committed add carries a fresh contiguous base-row-id block
    * (assigned at commit time in [[DeltaLog.commitWith]] from the
    * `delta.rowTracking` domain's high-water mark), and readers expose
    * `_row_id` / `_row_commit_version` ([[DeltaTable.toDFWithRowIds]]).
    * Enable at CREATE — this implementation does not backfill ids onto
    * files committed before the feature was on. */
  val RowTrackingConfigKey = "delta.enableRowTracking"

  /** Materialized row-id / row-commit-version PHYSICAL parquet columns
    * (the protocol's row-id preservation mechanism): OPTIMIZE rewrites
    * carry each surviving row's original id in these columns, and the
    * read path takes `coalesce(materialized, baseRowId + row_index)` —
    * so row ids are STABLE across compaction/Z-order, exactly the Delta
    * materialized-column design. Never part of the logical schema. */
  val MaterializedRowIdCol = "_graft_materialized_row_id"
  val MaterializedRcvCol = "_graft_materialized_row_commit_version"

  /** Logical metadata column names exposed by [[DeltaTable.toDFWithRowIds]]. */
  val RowIdCol = "_row_id"
  val RowCommitVersionCol = "_row_commit_version"

  /** The full MERGE clause surface ([[DeltaTable.mergeClauses]]) — the
    * five WHEN shapes of the Delta/ANSI MERGE statement. Conditions and
    * SET/VALUES expressions are SQL text; column references resolve as
    * `t.<col>` (target), `s.<col>` (source), or bare (target in
    * matched/by-source contexts, source in insert contexts). Within each
    * group clauses evaluate IN ORDER and the first whose condition holds
    * applies; only the LAST clause of a group may omit its condition
    * (ANSI/Delta's rule — an unconditional earlier clause would shadow
    * the rest). */
  sealed trait MergeClause { def condition: Option[String] }
  /** `WHEN MATCHED [AND cond] THEN UPDATE SET …`; an EMPTY `set` means
    * `UPDATE SET *`: every non-key column the source provides. */
  final case class WhenMatchedUpdate(set: Map[String, String] = Map.empty,
                                     condition: Option[String] = None) extends MergeClause
  /** `WHEN MATCHED [AND cond] THEN DELETE`. */
  final case class WhenMatchedDelete(condition: Option[String] = None) extends MergeClause
  /** `WHEN NOT MATCHED [AND cond] THEN INSERT …`; an EMPTY `values`
    * means `INSERT *` (all source-provided columns, others null). */
  final case class WhenNotMatchedInsert(values: Map[String, String] = Map.empty,
                                        condition: Option[String] = None) extends MergeClause
  /** `WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE SET …` — target
    * rows no source row matched; expressions see target columns only. */
  final case class WhenNotMatchedBySourceUpdate(set: Map[String, String],
                                                condition: Option[String] = None) extends MergeClause
  /** `WHEN NOT MATCHED BY SOURCE [AND cond] THEN DELETE` — the
    * full-sync/retention shape: drop target rows the source no longer
    * carries. */
  final case class WhenNotMatchedBySourceDelete(condition: Option[String] = None) extends MergeClause
  /** The upsert pair behind [[DeltaTable.merge]] and the streaming
    * upsert sink: `WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN
    * INSERT *`. */
  private[delta] val UpsertClauses: Seq[MergeClause] =
    Seq(WhenMatchedUpdate(), WhenNotMatchedInsert())

  /** Clustered-table clustering-column domain (Delta writer feature
    * `clusteredTable`): the clustering columns live in the
    * `delta.clustering` domain metadata — by PHYSICAL name, so RENAME
    * COLUMN on a mapped clustered table stays metadata-only. */
  val ClusteringDomain = "delta.clustering"

  /** V2-checkpoint policy (reader+writer feature `v2Checkpoint`): set
    * to "v2" in the table configuration at create — checkpoints then
    * write sidecar parquet(s) + a UUID-named top-level JSON. */
  val CheckpointPolicyKey = "delta.checkpointPolicy"

  /** CONVERT TO DELTA reads footer stats in a Spark job (instead of a
    * driver thread pool) at or above this many files. private[delta] var
    * so specs can exercise the distributed path without staging
    * thousands of files. */
  private[delta] var distributedStatsThreshold: Int = 1000

  /** Footer stats for a batch of parquet files, keyed by the caller's
    * key: driver pool below [[distributedStatsThreshold]], ONE Spark job
    * above it (executors rebuild the Hadoop conf from a broadcast) —
    * the driver collects only the stats strings the commit must carry
    * anyway. Shared by CONVERT TO DELTA and [[DeltaTable.recomputeStats]]. */
  private[delta] def footerStats(spark: SparkSession,
      conf: org.apache.hadoop.conf.Configuration,
      files: Seq[(String, String)], // (key, fully-qualified path)
      partitionCols: Set[String],
      numIndexedCols: Int): Map[String, Option[String]] =
    if (files.size < distributedStatsThreshold) {
      parMap(files) { case (k, full) =>
        val p = new Path(full)
        k -> ParquetStats.forFile(p.getFileSystem(conf), p, partitionCols, numIndexedCols)
      }.toMap
    } else {
      val confPairs = {
        import scala.jdk.CollectionConverters._
        conf.iterator().asScala.map(e => e.getKey -> e.getValue).toSeq
      }
      val bcConf = spark.sparkContext.broadcast(confPairs)
      val slices = math.min(files.size, 512)
      spark.sparkContext.parallelize(files, slices).map { case (k, full) =>
        val c = new org.apache.hadoop.conf.Configuration(false)
        bcConf.value.foreach { case (kk, v) => c.set(kk, v) }
        val p = new Path(full)
        k -> ParquetStats.forFile(p.getFileSystem(c), p, partitionCols, numIndexedCols)
      }.collect().toMap
    }

  /** Field-metadata key carrying a generated column's expression (the
    * Delta protocol "Generated Columns" representation — stored in the
    * schema's field metadata, not the table configuration). */
  val GenerationExprKey = "delta.generationExpression"

  /** Column-mapping keys (Delta protocol "Column Mapping", mode `name`):
    * table config selects the mode, per-field metadata carries the
    * stable id and the physical parquet column name. */
  val ColumnMappingModeKey = "delta.columnMapping.mode"
  val ColumnMappingMaxIdKey = "delta.columnMapping.maxColumnId"
  val ColMapIdKey = "delta.columnMapping.id"
  val ColMapPhysKey = "delta.columnMapping.physicalName"

  /** TIMESTAMP_NTZ anywhere in a type (top level or nested in
    * struct/array/map) — the `timestampNtz` feature trigger; delta-spark
    * detects nested NTZ recursively and so must we. */
  def containsNtz(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case TimestampNTZType => true
      case st: StructType => st.fields.exists(f => containsNtz(f.dataType))
      case at: ArrayType => containsNtz(at.elementType)
      case mt: MapType => containsNtz(mt.keyType) || containsNtz(mt.valueType)
      case _ => false
    }
  }

  /** Identity-column field-metadata keys (Delta protocol "Identity
    * Columns", writer version 6 / feature `identityColumns`): start,
    * step, the last allocated value (high-water mark, updated by a
    * metaData action riding each allocating commit), and whether
    * user-supplied values are allowed (GENERATED BY DEFAULT vs ALWAYS). */
  val IdentityStartKey = "delta.identity.start"
  val IdentityStepKey = "delta.identity.step"
  val IdentityHwmKey = "delta.identity.highWaterMark"
  val IdentityAllowExplicitKey = "delta.identity.allowExplicitInsert"

  /** Column-default field-metadata key (Delta protocol "Default Columns",
    * writer feature `allowColumnDefaults`): the SQL expression a write
    * evaluates for a column the batch OMITS. Like delta-spark, defaults
    * apply on INSERT paths (append / streaming sink) only — MERGE and
    * overwrite sources must provide their values. */
  val CurrentDefaultKey = "CURRENT_DEFAULT"

  /** A schema field declared DEFAULT (`defaultSql`) — pass to
    * [[DeltaTable.create]]. */
  def defaultField(name: String, dataType: org.apache.spark.sql.types.DataType,
                   defaultSql: String): org.apache.spark.sql.types.StructField =
    org.apache.spark.sql.types.StructField(name, dataType, nullable = true,
      metadata = new org.apache.spark.sql.types.MetadataBuilder()
        .putString(CurrentDefaultKey, defaultSql).build())

  /** A schema field declared GENERATED ALWAYS/BY DEFAULT AS IDENTITY —
    * pass to [[DeltaTable.create]]. Appends that omit the column get
    * contiguous machine-assigned values `start, start+step, ...` from
    * the table's high-water mark. */
  def identityField(name: String, start: Long = 1L, step: Long = 1L,
                    allowExplicitInsert: Boolean = false): org.apache.spark.sql.types.StructField = {
    require(step != 0L, "identity step must be non-zero")
    org.apache.spark.sql.types.StructField(name,
      org.apache.spark.sql.types.LongType, nullable = true,
      metadata = new org.apache.spark.sql.types.MetadataBuilder()
        .putLong(IdentityStartKey, start)
        .putLong(IdentityStepKey, step)
        .putBoolean(IdentityAllowExplicitKey, allowExplicitInsert)
        .build())
  }

  /** A schema field declared GENERATED AS (`exprSql`) — pass to
    * [[DeltaTable.create]]; generated columns are declared at table
    * creation, like Delta proper. */
  def generatedField(name: String, dataType: org.apache.spark.sql.types.DataType,
                     exprSql: String): org.apache.spark.sql.types.StructField =
    org.apache.spark.sql.types.StructField(name, dataType, nullable = true,
      metadata = new org.apache.spark.sql.types.MetadataBuilder()
        .putString(GenerationExprKey, exprSql).build())

  def forPath(spark: SparkSession, path: String): DeltaTable =
    new DeltaTable(spark, path)

  /** CONVERT TO DELTA: turn an existing plain-parquet directory
    * (optionally Hive-partitioned, `k=v` path segments) into a Delta
    * table IN PLACE — no data file moves or rewrites, just a v0
    * `_delta_log` commit carrying protocol + metaData + one `add` per
    * existing parquet file with footer-derived stats. Atomic by
    * construction: a reader sees either no Delta table or the complete
    * converted one; the directory keeps answering plain
    * `spark.read.parquet` either way.
    *
    * `partitionColumns` must name the Hive layout's directory keys (the
    * same contract as Delta proper's `CONVERT TO DELTA ... PARTITIONED
    * BY`); the schema (including typed partition columns) is taken from
    * Spark's reader over the directory, so every file must be
    * schema-compatible — a genuinely mixed-schema directory fails here,
    * not at first read.
    *
    * Scale: one recursive listing; footer stats read on a bounded driver
    * pool for small directories and INSIDE A SPARK JOB past
    * [[DistributedStatsThreshold]] files — a million-file import reads
    * its footers with cluster parallelism, and the driver receives only
    * the per-file stats JSON it must hold anyway to write the commit
    * (driver-side-log design). */
  def convertFrom(spark: SparkSession, dir: String,
                  partitionColumns: Seq[String] = Nil): DeltaTable = {
    import Actions._
    val t = new DeltaTable(spark, dir)
    require(!t.exists, s"$dir is already a Delta table")
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    require(fs.exists(root), s"$dir does not exist")
    val reader = spark.read.option("basePath", dir)
    val schema = relaxContainers(reader.parquet(dir).schema)
    partitionColumns.foreach(c => require(schema.fieldNames.contains(c),
      s"partition column '$c' not found in the inferred schema " +
        s"(${schema.fieldNames.mkString(", ")}) — is the directory Hive-partitioned by it?"))
    val rootPrefix = fs.makeQualified(root).toString
    val files = {
      val it = fs.listFiles(root, true)
      val buf = mutable.ArrayBuffer.empty[org.apache.hadoop.fs.LocatedFileStatus]
      while (it.hasNext) {
        val st = it.next()
        val rel = fs.makeQualified(st.getPath).toString
          .stripPrefix(rootPrefix).stripPrefix("/")
        val hidden = rel.split('/').exists(s => s.startsWith("_") || s.startsWith("."))
        if (st.getPath.getName.endsWith(".parquet") && !hidden) buf += st
      }
      buf.toSeq
    }
    require(files.nonEmpty, s"no parquet files under $dir — nothing to convert")
    def relOf(st: org.apache.hadoop.fs.LocatedFileStatus): String =
      fs.makeQualified(st.getPath).toString.stripPrefix(rootPrefix).stripPrefix("/")
    val statsByRel: Map[String, Option[String]] =
      footerStats(spark, conf,
        files.map(st => relOf(st) -> fs.makeQualified(st.getPath).toString),
        partitionColumns.toSet, DefaultDataSkippingNumIndexedCols)
    val adds = files.map { st =>
      val rel = relOf(st)
      val partitionValues = rel.split('/').dropRight(1).iterator
        .filter(_.contains('='))
        .map { seg =>
          val Array(k, v) = seg.split("=", 2)
          k -> (if (v == HiveDefaultPartition) null else unescapePathName(v))
        }.toMap
      require(partitionValues.keySet == partitionColumns.toSet,
        s"file $rel has partition path keys ${partitionValues.keySet} " +
          s"but the declared partitioning is $partitionColumns")
      AddFile(path = rel, partitionValues = partitionValues,
        size = st.getLen, modificationTime = st.getModificationTime,
        dataChange = true,
        stats = statsByRel(rel))
    }
    t.log.commit(
      Seq(Action(protocol = Some(Protocol())),
        Action(metaData = Some(Metadata(
          id = java.util.UUID.randomUUID().toString,
          schemaString = schema.json,
          partitionColumns = partitionColumns,
          configuration = Map.empty,
          createdTime = Some(System.currentTimeMillis()))))) ++
        adds.map(a => Action(add = Some(a))) :+
        Action(commitInfo = Some(CommitInfo(System.currentTimeMillis(), "CONVERT",
          Map("numFiles" -> adds.size.toString)))))
    t
  }

  /** Relax container nullability recursively (fields stay as declared).
    * Parquet round-trips array/map elements as nullable regardless of the
    * writer's containsNull, and Spark refuses the true→false element
    * cast — a table schema declaring containsNull=false would make its
    * OWN files unreadable. Callers building a table schema from a
    * DataFrame (e.g. Similarity.writeIvfAssigned) pass through this. */
  def relaxContainers(schema: StructType): StructType = {
    import org.apache.spark.sql.types._
    def relax(dt: DataType): DataType = dt match {
      case ArrayType(et, _) => ArrayType(relax(et), containsNull = true)
      case MapType(k, v, _) => MapType(relax(k), relax(v), valueContainsNull = true)
      case StructType(fs) =>
        StructType(fs.map(f => f.copy(dataType = relax(f.dataType))))
      case other => other
    }
    relax(schema).asInstanceOf[StructType]
  }

  /** Invert Spark/Hive escapePathName: ONLY %XX sequences decode.
    * URLDecoder is wrong here — it also turns literal '+' into a space,
    * and '+' is not in Hive's escape set, so a partition value "a+b"
    * would corrupt to "a b" and break partition pruning. */
  private[delta] def unescapePathName(s: String): String = {
    if (!s.contains('%')) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        try {
          sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
          i += 3
        } catch {
          case _: NumberFormatException => sb.append(c); i += 1
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }
}

final class DeltaTable(spark: SparkSession, val path: String) {
  import Actions._

  val log = new DeltaLog(path, spark.sessionState.newHadoopConf(), Some(spark))
  log.onPostCommit(maybeUpdateManifest)
  log.onPostCommit(maybeSyncIceberg)

  private def fs: FileSystem =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  def exists: Boolean = log.exists()

  /** Create the table (v0: protocol + metaData), like the reference's test
    * fixtures seed a v0 _delta_log. No-op if it already exists. */
  def create(schema: StructType, partitionColumns: Seq[String] = Nil,
             name: Option[String] = None,
             configuration: Map[String, String] = Map.empty,
             clusterBy: Seq[String] = Nil): this.type = {
    if (!exists)
      log.commit(creationActions(schema, partitionColumns, name, configuration,
        clusterBy, existingProtocol = None, operation = "CREATE TABLE"))
    this
  }

  /** REPLACE TABLE (delta's CREATE OR REPLACE on an existing table): ONE
    * commit that swaps in fresh metadata (schema, partitioning, config,
    * clustering — fresh column-mapping identities included) and removes
    * every live file. History is PRESERVED (time travel to the old
    * epochs keeps working); the protocol only ever RAISES — features the
    * old epoch declared stay declared, so a historical reader is never
    * lied to. Like RESTORE, the replacing version captures no change
    * rows: a CDF read across it refuses loudly ("read around"). Throws
    * on a concurrent write race instead of replacing files it never saw. */
  def replaceAs(schema: StructType, partitionColumns: Seq[String] = Nil,
                name: Option[String] = None,
                configuration: Map[String, String] = Map.empty,
                clusterBy: Seq[String] = Nil): Long = {
    val snap0 = snapshot
    require(snap0.version >= 0, s"no table at $path — use create")
    requireNotAppendOnly("REPLACE TABLE")
    val expected = snap0.files.map(_.path).toSet
    val actions = creationActions(schema, partitionColumns, name, configuration,
      clusterBy, existingProtocol = snap0.protocol, operation = "REPLACE TABLE") ++
      snap0.files.map(f => Action(remove = Some(removeOf(f,
        System.currentTimeMillis())))) ++
      // a replaced-away clustered layout must not leave its domain behind
      (if (clusterBy.isEmpty &&
           snap0.domainMetadata.contains(DeltaTable.ClusteringDomain))
        Seq(Action(domainMetadata = Some(DomainMetadata(
          DeltaTable.ClusteringDomain, removed = true))))
      else Nil)
    val committed = log.commit(actions,
      check = s => s.files.map(_.path).toSet == expected)
    if (committed < 0)
      throw new java.util.ConcurrentModificationException(
        "REPLACE TABLE lost a commit race: the file set changed underneath it")
    committed
  }

  /** Atomic `REPLACE TABLE ... AS SELECT` (Delta's CRAS contract): the
    * query's output is STAGED to data files first, then ONE commit
    * carries the metadata swap, the removes of every old-epoch file, and
    * the adds of the staged files. A reader pinned between "before" and
    * "after" sees either the complete old table or the complete new one
    * — never an empty table — and a crash anywhere before the commit
    * leaves the old epoch fully intact (staged bytes live under an
    * unreferenced `_staging-*` directory). History preservation,
    * protocol raising, the clustering-domain swap, and the CDF
    * read-around refusal all match [[replaceAs]].
    *
    * The staged write binds to the NEW table definition: fresh
    * column-mapping physical names / field ids (when `configuration`
    * requests mapping), the new partitioning, the new stats width, and
    * any CHECK constraints arriving in the new configuration (enforced
    * on the staged rows — a violation aborts before anything commits). */
  def replaceAsSelect(df: DataFrame, partitionColumns: Seq[String] = Nil,
                      name: Option[String] = None,
                      configuration: Map[String, String] = Map.empty,
                      clusterBy: Seq[String] = Nil): Long = {
    import org.apache.spark.sql.functions.{expr, raise_error}
    val snap0 = snapshot
    require(snap0.version >= 0, s"no table at $path — use create")
    requireNotAppendOnly("REPLACE TABLE")
    val creation = creationActions(df.schema, partitionColumns, name,
      configuration, clusterBy, existingProtocol = snap0.protocol,
      operation = "REPLACE TABLE AS SELECT")
    val newMeta = creation.flatMap(_.metaData).headOption.getOrElse(
      throw new IllegalStateException("creationActions produced no metaData"))
    val newSchema = org.apache.spark.sql.types.DataType
      .fromJson(newMeta.schemaString).asInstanceOf[StructType]
    // new-configuration CHECK constraints bind the staged rows: the old
    // two-commit shape enforced them in the trailing append; here they
    // fail the STAGING job, so nothing ever commits on a violation
    val newCons = configuration.toSeq
      .collect { case (k, v) if k.startsWith(DeltaTable.ConstraintPrefix) =>
        k.stripPrefix(DeltaTable.ConstraintPrefix) -> v }
      .sortBy(_._1)
    val alignedCols = newSchema.fields.map(f => col(f.name).cast(f.dataType))
    val checked = newCons.foldLeft(df.select(alignedCols.toSeq: _*)) {
      case (d, (n, e)) =>
        d.filter(when(coalesce(expr(e), lit(true)), lit(true))
          .otherwise(raise_error(concat(
            lit(s"CHECK constraint '$n' ($e) violated by row: "),
            to_json(struct(d.columns.map(col).toSeq: _*)))).cast("boolean")))
    }
    // physical names come from the NEW schema's mapping metadata (fresh
    // identities minted by creationActions), not the current snapshot's
    val newMode = configuration.getOrElse(DeltaTable.ColumnMappingModeKey, "none")
    val physByLogical = newSchema.fields.map { f =>
      f.name -> (if (f.metadata.contains(DeltaTable.ColMapPhysKey))
        f.metadata.getString(DeltaTable.ColMapPhysKey) else f.name)
    }.toMap
    val idByLogical = newSchema.fields.collect {
      case f if f.metadata.contains(DeltaTable.ColMapIdKey) =>
        f.name -> f.metadata.getLong(DeltaTable.ColMapIdKey)
    }.toMap
    val physParts = partitionColumns.map(p => physByLogical.getOrElse(p, p))
    // same write arrangement as append: co-locate partition values (or
    // AQE-rebalance when the new config asks for optimized writes)
    val optimizeWrite =
      configuration.get(DeltaTable.OptimizeWriteConfigKey).contains("true")
    val arranged =
      if (optimizeWrite) {
        if (partitionColumns.nonEmpty)
          checked.hint("rebalance", partitionColumns.map(col): _*)
        else checked.hint("rebalance")
      }
      else if (partitionColumns.nonEmpty)
        checked.repartition(partitionColumns.map(col): _*)
      else checked
    val physical =
      if (newMode == "none") arranged
      else arranged.select(arranged.columns.map { c =>
        val nm = physByLogical.getOrElse(c, c)
        if (newMode == "id" && idByLogical.contains(c))
          col(c).as(nm, new org.apache.spark.sql.types.MetadataBuilder()
            .putLong("parquet.field.id", idByLogical(c)).build())
        else col(c).as(nm)
      }.toSeq: _*)
    // staged bytes bind to the NEW table definition's codec and stats
    // width, like its schema
    val adds = stage(physical, physParts, newMeta.configuration)
    val expected = snap0.files.map(_.path).toSet
    val now = System.currentTimeMillis()
    val (commitInfoTail, creationHead) = creation.partition(_.commitInfo.isDefined)
    val actions = creationHead ++
      snap0.files.map(f => Action(remove = Some(removeOf(f, now)))) ++
      // a replaced-away clustered layout must not leave its domain behind
      (if (clusterBy.isEmpty &&
           snap0.domainMetadata.contains(DeltaTable.ClusteringDomain))
        Seq(Action(domainMetadata = Some(DomainMetadata(
          DeltaTable.ClusteringDomain, removed = true))))
      else Nil) ++
      adds.map(a => Action(add = Some(a))) ++
      commitInfoTail
    val committed = commitStaged(snap0.version, adds.map(_.path), _ => actions,
      s => s.files.map(_.path).toSet == expected)
    if (committed < 0)
      throw new java.util.ConcurrentModificationException(
        "REPLACE TABLE lost a commit race: the file set changed underneath it")
    committed
  }

  /** The protocol/metaData/clustering actions CREATE commits — shared
    * with [[replaceAs]], which merges the protocol against the existing
    * one (never a downgrade) and appends the remove actions. */
  private def creationActions(schema: StructType, partitionColumns: Seq[String],
                              name: Option[String],
                              configuration: Map[String, String],
                              clusterBy: Seq[String],
                              existingProtocol: Option[Protocol],
                              operation: String): Seq[Action] = {
    locally {
      // DEFAULT expressions must be constant-foldable (the Delta
      // contract): a default referencing other columns is a generated
      // column's job, and a non-deterministic one (rand()) would mint a
      // different "default" per row — refuse both at create, not at
      // first append. Analysis runs over a FROM-less projection so any
      // column reference fails resolution (range(1) would silently
      // resolve 'id'), and the analyzed tree's determinism is checked
      // explicitly.
      schema.fields.filter(_.metadata.contains(DeltaTable.CurrentDefaultKey))
        .foreach(requireValidDefault)
      clusterBy.foreach(c => require(schema.fieldNames.contains(c),
        s"clusterBy column '$c' is not in the schema"))
      val requestedMode =
        configuration.getOrElse(DeltaTable.ColumnMappingModeKey, "none")
      require(Set("none", "name", "id")(requestedMode),
        s"${DeltaTable.ColumnMappingModeKey} must be none|name|id, got '$requestedMode'")
      if (configuration.get(DeltaTable.SymlinkManifestKey).contains("true"))
        requireManifestCompatible(configuration, Nil)
      if (DeltaTable.icebergCompatChecked(configuration))
        DeltaTable.requireIcebergCompatible(configuration, schema, partitionColumns)
      val mapping = requestedMode == "name" || requestedMode == "id"
      // column mapping composes with partitioning and CDF (round 11):
      // partition directories / partitionValues / change files all carry
      // PHYSICAL names (the protocol's representation) and every read
      // seam renames back to logical — the 100 TB tables that most need
      // metadata-only rename ARE partitioned
      // assign stable ids + physical parquet names at creation (mode
      // `name`): renames/drops become metadata-only commits forever after
      val finalSchema =
        if (!mapping) schema
        else org.apache.spark.sql.types.StructType(
          schema.fields.zipWithIndex.map { case (f, i) =>
            f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
              .withMetadata(f.metadata)
              .putLong(DeltaTable.ColMapIdKey, (i + 1).toLong)
              .putString(DeltaTable.ColMapPhysKey,
                s"col-${java.util.UUID.randomUUID()}")
              .build())
          })
      val finalConf =
        if (!mapping) configuration
        else configuration +
          (DeltaTable.ColumnMappingMaxIdKey -> schema.fields.length.toString)
      // feature → protocol floor:
      // identity (-,6) > columnMapping (2,5) > generated (1,4) > base
      val hasGen = schema.fields.exists(_.metadata.contains(DeltaTable.GenerationExprKey))
      val hasIdentity = schema.fields.exists(_.metadata.contains(DeltaTable.IdentityStartKey))
      val base0 = Protocol(
        minReaderVersion = if (mapping) 2 else 1,
        minWriterVersion =
          if (hasIdentity) 6 else if (mapping) 5 else if (hasGen) 4 else 2)
      // REPLACE merges against the existing protocol: versions only ever
      // rise, and declared features carry over (the enumeration below
      // re-derives the new metadata's own features on top)
      val base = existingProtocol.fold(base0)(ex => Protocol(
        math.max(base0.minReaderVersion, ex.minReaderVersion),
        math.max(base0.minWriterVersion, ex.minWriterVersion),
        ex.readerFeatures, ex.writerFeatures))
      // in-commit timestamps are a TABLE-FEATURES writer feature (writer
      // version 7, every active feature enumerated) — raise through the
      // same enumeration the DV upgrade path uses, against the pending
      // metadata
      val v2Ck = configuration.get(DeltaTable.CheckpointPolicyKey).contains("v2")
      val hasNtz = schema.fields.exists(f => DeltaTable.containsNtz(f.dataType))
      val extraWriter =
        (if (configuration.get(DeltaTable.IctConfigKey).contains("true"))
          Seq("inCommitTimestamp") else Nil) ++
        (if (configuration.get(DeltaTable.RowTrackingConfigKey).contains("true"))
          Seq("rowTracking", "domainMetadata") else Nil) ++
        (if (schema.fields.exists(_.metadata.contains(DeltaTable.CurrentDefaultKey)))
          Seq("allowColumnDefaults") else Nil) ++
        (if (v2Ck) Seq("v2Checkpoint") else Nil) ++
        (if (hasNtz) Seq("timestampNtz") else Nil) ++
        (if (clusterBy.nonEmpty) Seq("clusteredTable", "domainMetadata") else Nil) ++
        (if (configuration.get(DeltaTable.IcebergCompatV1Key).contains("true"))
          Seq("icebergCompatV1") else Nil)
      val protocol =
        if (extraWriter.isEmpty && existingProtocol.isEmpty) base
        else raisedProtocol(
          Snapshot(-1L, Some(Metadata(id = "pending",
            schemaString = finalSchema.json, configuration = finalConf)),
            Nil, Map.empty, Some(base)),
          if (v2Ck || hasNtz) 3 else base.minReaderVersion,
          if (extraWriter.nonEmpty) 7 else base.minWriterVersion,
          (if (v2Ck) Seq("v2Checkpoint") else Nil) ++
            (if (hasNtz) Seq("timestampNtz") else Nil), extraWriter.distinct)
      // the clustering domain stores PHYSICAL names (like partitionBy's
      // directory keys) so a later RENAME on a mapped table stays
      // metadata-only
      val physByLogical = finalSchema.fields.map(f => f.name -> physicalName(f)).toMap
      val clusterDomain =
        if (clusterBy.isEmpty) Nil
        else Seq(Action(domainMetadata = Some(DomainMetadata(
          DeltaTable.ClusteringDomain,
          Actions.mapper.writeValueAsString(Map(
            "clusteringColumns" -> clusterBy.map(c => Seq(physByLogical(c)))))))))
      Seq(
        Action(protocol = Some(protocol)),
        Action(metaData = Some(Metadata(
          id = java.util.UUID.randomUUID().toString,
          name = name,
          schemaString = finalSchema.json,
          partitionColumns = partitionColumns,
          configuration = finalConf,
          createdTime = Some(System.currentTimeMillis()))))) ++
        clusterDomain ++
        Seq(Action(commitInfo = Some(CommitInfo(System.currentTimeMillis(), operation))))
    }
  }

  def snapshot: Snapshot = log.snapshot()

  def schema: StructType = snapshot.metadata.map(m =>
    org.apache.spark.sql.types.DataType.fromJson(m.schemaString).asInstanceOf[StructType])
    .getOrElse(throw new IllegalStateException(s"no table at $path"))

  def partitionColumns: Seq[String] =
    snapshot.metadata.map(_.partitionColumns).getOrElse(Nil)

  /** Stored txn version for an app id (None if never committed). */
  def txnVersion(appId: String): Option[Long] = snapshot.txns.get(appId)

  /** CHECK constraints in force, by name (delta-rs `add_constraint`
    * representation: `delta.constraints.<name>` metadata configuration). */
  def checkConstraints: Map[String, String] =
    snapshot.metadata.map(_.configuration).getOrElse(Map.empty)
      .collect { case (k, v) if k.startsWith(DeltaTable.ConstraintPrefix) =>
        k.stripPrefix(DeltaTable.ConstraintPrefix) -> v }

  /** ALTER TABLE ADD CONSTRAINT (delta-rs `add_constraint`): validates
    * `exprSql` against ALL existing rows (one predicate scan — the same
    * cost Delta proper pays), then commits the
    * `delta.constraints.<name>` configuration plus the writer-version-3
    * protocol bump the Delta protocol requires for check constraints.
    * SQL CHECK semantics throughout: a NULL predicate passes, only
    * FALSE violates. A concurrent write landing between validation and
    * commit fails this call with `ConcurrentModificationException` —
    * those rows were never validated. */
  def addCheckConstraint(name: String, exprSql: String): Long = {
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '_'),
      s"constraint name '$name' must be alphanumeric/underscore")
    val key = DeltaTable.ConstraintPrefix + name
    val snap = snapshot
    val meta = snap.metadata
      .getOrElse(throw new IllegalStateException(s"no table at $path"))
    require(!meta.configuration.contains(key), s"constraint '$name' already exists")
    val pred = org.apache.spark.sql.functions.expr(exprSql)
    val offender = dfFor(snap)
      .filter(coalesce(pred, lit(true)) === false).limit(1).collect()
    if (offender.nonEmpty) throw new IllegalArgumentException(
      s"cannot add constraint '$name' ($exprSql): existing row violates it: ${offender.head}")
    val basePaths = snap.files.map(_.path).toSet
    val committed = log.commit(
      // RAISE to the check-constraints floor (writer 3) — never replace:
      // a hardcoded Protocol(1,3) would downgrade a mapped (2,5) or
      // DV'd (3,7) table and erase its feature lists
      Seq(Action(protocol = Some(raisedProtocol(snap, 1, 3,
          Nil, Seq("checkConstraints")))),
        Action(metaData = Some(meta.copy(
          configuration = meta.configuration + (key -> exprSql)))),
        Action(commitInfo = Some(CommitInfo(System.currentTimeMillis(),
          "ADD CONSTRAINT", Map("name" -> name, "expr" -> exprSql))))),
      // the metaData action was copied from `meta`: require the WHOLE
      // configuration and schema unchanged (not just our key absent), or a
      // retry over another writer's concurrent metadata commit — a second
      // constraint, a schema evolution — would silently erase it
      check = s => s.metadata.exists(m =>
        m.configuration == meta.configuration &&
          m.schemaString == meta.schemaString) &&
        s.files.map(_.path).toSet == basePaths)
    if (committed < 0) throw new java.util.ConcurrentModificationException(
      s"cannot add constraint '$name': the table changed while validating — retry")
    committed
  }

  /** ALTER TABLE DROP CONSTRAINT (delta-rs `drop_constraints`). */
  def dropConstraint(name: String): Long = {
    val key = DeltaTable.ConstraintPrefix + name
    val meta = snapshot.metadata
      .getOrElse(throw new IllegalStateException(s"no table at $path"))
    require(meta.configuration.contains(key), s"no constraint named '$name'")
    val committed = log.commit(
      Seq(Action(metaData = Some(meta.copy(configuration = meta.configuration - key))),
        Action(commitInfo = Some(CommitInfo(System.currentTimeMillis(),
          "DROP CONSTRAINT", Map("name" -> name))))),
      // same stale-copy hazard as addCheckConstraint: any concurrent
      // metadata change invalidates the copied action
      check = s => s.metadata.exists(m =>
        m.configuration == meta.configuration &&
          m.schemaString == meta.schemaString))
    if (committed < 0) throw new java.util.ConcurrentModificationException(
      s"cannot drop constraint '$name': the table metadata changed — retry")
    committed
  }

  /** ALTER TABLE SET TBLPROPERTIES (delta-rs `set_tbl_properties`,
    * delta-spark ALTER TABLE): merge `props` into the table
    * configuration in one metadata commit. Feature-gating flips raise
    * the protocol through the SAME enumeration every feature path uses
    * — enabling deletion vectors here is exactly what makes a later
    * [[deleteWithDv]] legal on a table created without them.
    *
    * Refusals (fail-safe, mirrors delta-spark):
    *  - `delta.constraints.*` — constraints have their own validated API
    *    ([[addCheckConstraint]] scans for violating rows; a raw property
    *    write would skip that)
    *  - engine-maintained keys (`delta.columnMapping.maxColumnId`)
    *  - `delta.columnMapping.mode` changes — mapping is a create-time
    *    migration (physical names must be minted per field)
    *  - unknown `delta.`-prefixed keys — a typo'd `delta.enableDeletionVektors`
    *    silently doing nothing is the worst failure mode; arbitrary
    *    USER keys (no `delta.` prefix) pass through like Delta proper
    *  - enabling row tracking on a non-empty table — ids are assigned at
    *    commit time and this implementation does not backfill
    *
    * Concurrency: actions regenerate per attempt from the winning
    * snapshot ([[DeltaLog.commitWith]]) — no stale-copy hazard, and a
    * concurrently-raised feature is never clobbered because the protocol
    * is re-derived against each attempt's predecessor. */
  def setProperties(props: Map[String, String]): Long = {
    require(props.nonEmpty, "no properties to set")
    val knownDelta = Set(
      DeltaTable.CdfConfigKey, DeltaTable.DvConfigKey,
      DeltaTable.AppendOnlyConfigKey, DeltaTable.AutoCompactConfigKey,
      DeltaTable.AutoCompactMinFilesKey, DeltaTable.OptimizeWriteConfigKey,
      DeltaTable.IctConfigKey,
      DeltaTable.RowTrackingConfigKey, DeltaTable.CheckpointPolicyKey,
      DeltaTable.ColumnMappingModeKey, DeltaTable.SymlinkManifestKey,
      DeltaTable.CheckpointIntervalKey, DeltaTable.LogRetentionKey,
      DeltaTable.ExpiredLogCleanupKey, DeltaTable.DeletedFileRetentionKey,
      DeltaTable.TxnRetentionKey, DeltaTable.TargetFileSizeKey,
      DeltaTable.DataSkippingNumIndexedColsKey, DeltaTable.ParquetCodecKey,
      DeltaTable.UniversalFormatKey, DeltaTable.IcebergCompatV1Key)
    // malformed cadence/retention values must fail at SET time, not
    // surface later as a skipped checkpoint or an unparseable vacuum
    props.get(DeltaTable.CheckpointIntervalKey).foreach(v =>
      require(scala.util.Try(v.trim.toInt).toOption.exists(_ >= 1),
        s"${DeltaTable.CheckpointIntervalKey} must be a positive int, got '$v'"))
    Seq(DeltaTable.LogRetentionKey, DeltaTable.DeletedFileRetentionKey,
        DeltaTable.TxnRetentionKey)
      .foreach(k => props.get(k).foreach(DeltaTable.parseIntervalMs))
    props.keys.foreach { k =>
      require(!k.startsWith(DeltaTable.ConstraintPrefix),
        s"'$k' is a CHECK constraint — use addCheckConstraint/dropConstraint")
      require(k != DeltaTable.ColumnMappingMaxIdKey,
        s"'$k' is engine-maintained")
      require(!k.startsWith("delta.") || knownDelta.contains(k),
        s"unknown delta configuration '$k' — refusing a silent no-op")
    }
    props.get(DeltaTable.CheckpointPolicyKey).foreach(v =>
      require(v == "classic" || v == "v2", s"checkpointPolicy must be classic|v2, got '$v'"))
    // sizes are stored as plain bytes; fail at SET time, not mid-OPTIMIZE
    Seq(DeltaTable.TargetFileSizeKey, DeltaTable.MinCubeSizeKey).foreach(k =>
      props.get(k).foreach(v =>
        require(scala.util.Try(v.trim.toLong).toOption.exists(_ > 0),
          s"'$k' must be a positive byte count, got '$v'")))
    props.get(DeltaTable.DataSkippingNumIndexedColsKey).foreach(v =>
      require(scala.util.Try(v.trim.toInt).toOption.exists(_ >= -1),
        s"'${DeltaTable.DataSkippingNumIndexedColsKey}' must be an int >= -1 " +
          s"(-1 = all columns), got '$v'"))
    // an unknown codec must refuse at SET time, not mid-append
    props.get(DeltaTable.ParquetCodecKey).foreach(v =>
      DeltaTable.codecOf(Map(DeltaTable.ParquetCodecKey -> v)))
    val snap0 = snapshot
    require(snap0.version >= 0, s"no table at $path")
    props.get(DeltaTable.ColumnMappingModeKey).foreach { v =>
      val cur = snap0.metadata.flatMap(
        _.configuration.get(DeltaTable.ColumnMappingModeKey)).getOrElse("none")
      require(v == cur, s"column mapping mode is set at CREATE " +
        s"(current '$cur', requested '$v') — physical names must be minted per field")
    }
    if (props.get(DeltaTable.RowTrackingConfigKey).contains("true") &&
        !rowTrackingEnabled)
      require(snap0.files.isEmpty, "cannot enable row tracking on a non-empty " +
        "table — ids are assigned at commit time and are not backfilled; " +
        "enable at CREATE or on an empty table")
    val conf0 = snap0.metadata.map(_.configuration).getOrElse(Map.empty)
    // symlink manifests and deletion vectors are mutually exclusive in
    // BOTH directions (delta-spark's rule): a manifest reader has no DV
    // masking, so it would see deleted rows
    if (props.get(DeltaTable.SymlinkManifestKey).contains("true"))
      requireManifestCompatible(conf0 ++ props, snap0.files)
    if (props.get(DeltaTable.DvConfigKey).contains("true"))
      require(!(conf0 ++ props).get(DeltaTable.SymlinkManifestKey).contains("true"),
        "cannot enable deletion vectors while symlink manifests are " +
          "enabled — a manifest reader would see deleted rows")
    // UniForm/IcebergCompat: invariants checked against the MERGED
    // config so enabling rides one SET whether or not compat was
    // already on — and so a later SET (e.g. enabling DVs) on a
    // compat-flagged table refuses; the DV exclusion is
    // two-directional, like the symlink-manifest rule
    if (DeltaTable.icebergCompatChecked(conf0 ++ props))
      DeltaTable.requireIcebergCompatible(conf0 ++ props,
        snap0.metadata.map(m => org.apache.spark.sql.types.DataType
          .fromJson(m.schemaString).asInstanceOf[StructType])
          .getOrElse(new StructType()),
        snap0.metadata.map(_.partitionColumns).getOrElse(Nil))
    def turnsOn(key: String): Boolean = props.get(key).contains("true") &&
      !snap0.metadata.exists(_.configuration.get(key).contains("true"))
    val v2On = props.get(DeltaTable.CheckpointPolicyKey).contains("v2")
    val addReader =
      (if (turnsOn(DeltaTable.DvConfigKey)) Seq("deletionVectors") else Nil) ++
      (if (v2On) Seq("v2Checkpoint") else Nil)
    val addWriter = addReader ++
      (if (turnsOn(DeltaTable.CdfConfigKey)) Seq("changeDataFeed") else Nil) ++
      (if (turnsOn(DeltaTable.IctConfigKey)) Seq("inCommitTimestamp") else Nil) ++
      (if (turnsOn(DeltaTable.RowTrackingConfigKey))
        Seq("rowTracking", "domainMetadata") else Nil) ++
      (if (turnsOn(DeltaTable.IcebergCompatV1Key)) Seq("icebergCompatV1") else Nil)
    // legacy floors: DV/v2Checkpoint force (3,7); ICT/rowTracking force
    // writer 7; CDF alone is satisfied by legacy writer 4
    val floorReader =
      if (turnsOn(DeltaTable.DvConfigKey) || v2On) 3 else 1
    val floorWriter =
      if (addWriter.exists(f => f != "changeDataFeed")) 7
      else if (turnsOn(DeltaTable.CdfConfigKey)) 4 else 1
    log.commitWith { att =>
      val meta = att.metadata.getOrElse(
        throw new IllegalStateException(s"no table at $path"))
      val proto = raisedProtocol(att, floorReader, floorWriter, addReader, addWriter)
      val protoAct =
        if (att.protocol.contains(proto)) Nil
        else Seq(Action(protocol = Some(proto)))
      protoAct ++ Seq(
        Action(metaData = Some(meta.copy(configuration = meta.configuration ++ props))),
        Action(commitInfo = Some(CommitInfo(System.currentTimeMillis(),
          "SET TBLPROPERTIES", Map("properties" -> props.keys.toSeq.sorted.mkString(","))))))
    }
  }

  /** ALTER TABLE UNSET TBLPROPERTIES: remove configuration keys. The
    * PROTOCOL keeps any feature the key enabled (protocol never
    * downgrades — existing DV descriptors etc. stay readable); the
    * feature merely stops applying to NEW work, Delta proper's
    * semantics. Unsetting `delta.columnMapping.mode` refuses — files
    * already carry physical names. Missing keys are a no-op (returns -1
    * if nothing would change). */
  def unsetProperties(keys: Seq[String]): Long = {
    require(keys.nonEmpty, "no properties to unset")
    keys.foreach { k =>
      require(!k.startsWith(DeltaTable.ConstraintPrefix),
        s"'$k' is a CHECK constraint — use dropConstraint")
      require(k != DeltaTable.ColumnMappingModeKey &&
        k != DeltaTable.ColumnMappingMaxIdKey,
        s"cannot unset '$k' — files already carry physical column names")
    }
    require(snapshot.version >= 0, s"no table at $path")
    // the compat flag may not be dropped out from under an active
    // UniForm mirror (delta-spark's rule) — disable the mirror first
    if (keys.contains(DeltaTable.IcebergCompatV1Key) &&
        !keys.contains(DeltaTable.UniversalFormatKey))
      require(!snapshot.metadata.exists(m =>
          DeltaTable.uniformIcebergOn(m.configuration)),
        s"cannot unset ${DeltaTable.IcebergCompatV1Key} while " +
          s"${DeltaTable.UniversalFormatKey} enables iceberg — unset the " +
          "mirror first (its invariants ride the compat feature)")
    log.commitWith(
      att => {
        val meta = att.metadata.getOrElse(
          throw new IllegalStateException(s"no table at $path"))
        Seq(
          Action(metaData = Some(meta.copy(configuration = meta.configuration -- keys))),
          Action(commitInfo = Some(CommitInfo(System.currentTimeMillis(),
            "UNSET TBLPROPERTIES", Map("properties" -> keys.sorted.mkString(","))))))
      },
      check = _.metadata.exists(m => keys.exists(m.configuration.contains)))
  }

  /** COMMENT ON TABLE: set (None clears) the metaData `description`
    * field — PROTOCOL.md's user-facing table comment, round-tripped
    * through commits, checkpoints, and DESCRIBE DETAIL. */
  def commentTable(comment: Option[String]): Long = {
    require(snapshot.version >= 0, s"no table at $path")
    log.commitWith { att =>
      val meta = att.metadata.getOrElse(
        throw new IllegalStateException(s"no table at $path"))
      Seq(Action(metaData = Some(meta.copy(description = comment))),
        Action(commitInfo = Some(CommitInfo(System.currentTimeMillis(),
          "COMMENT ON TABLE", Map("comment" -> comment.getOrElse("<null>"))))))
    }
  }

  /** Reader-scoped table features: dropping one changes what HISTORICAL
    * versions require of readers, so the drop demands TRUNCATE HISTORY. */
  private val readerScopedFeatures = Set("deletionVectors", "v2Checkpoint", "timestampNtz")

  /** Per-feature "no trace left" preconditions for [[dropFeature]] —
    * re-checked against every commit attempt's snapshot, so a concurrent
    * writer re-introducing the feature turns the drop into a loud
    * failure instead of a protocol that underclaims the state. */
  private def requireNoFeatureTrace(name: String, s: Snapshot): Unit = {
    val conf = s.metadata.map(_.configuration).getOrElse(Map.empty)
    val sch = s.schema.getOrElse(StructType(Nil))
    def off(key: String, hint: String): Unit =
      require(!conf.get(key).contains("true"),
        s"feature '$name' is still enabled — $hint first")
    name match {
      case "deletionVectors" =>
        off(DeltaTable.DvConfigKey,
          s"ALTER TABLE ... SET TBLPROPERTIES ('${DeltaTable.DvConfigKey}'='false')")
        require(!s.files.exists(_.deletionVector.isDefined),
          "live deletion vectors exist — REORG TABLE APPLY (PURGE) first")
      case "v2Checkpoint" =>
        require(!conf.get(DeltaTable.CheckpointPolicyKey).contains("v2"),
          s"set ${DeltaTable.CheckpointPolicyKey}=classic first")
      case "changeDataFeed" =>
        off(DeltaTable.CdfConfigKey, s"disable ${DeltaTable.CdfConfigKey}")
      case "inCommitTimestamp" =>
        off(DeltaTable.IctConfigKey, s"disable ${DeltaTable.IctConfigKey}")
      case "rowTracking" =>
        off(DeltaTable.RowTrackingConfigKey, s"disable ${DeltaTable.RowTrackingConfigKey}")
      case "generatedColumns" =>
        require(!sch.fields.exists(_.metadata.contains(DeltaTable.GenerationExprKey)),
          "generated columns remain in the schema — drop them first")
      case "checkConstraints" =>
        require(!conf.keys.exists(_.startsWith(DeltaTable.ConstraintPrefix)),
          "CHECK constraints remain — DROP CONSTRAINT first")
      case "identityColumns" =>
        require(!sch.fields.exists(_.metadata.contains(DeltaTable.IdentityStartKey)),
          "identity columns remain in the schema")
      case "allowColumnDefaults" =>
        require(!sch.fields.exists(_.metadata.contains(DeltaTable.CurrentDefaultKey)),
          "DEFAULT columns remain in the schema")
      case "timestampNtz" =>
        require(!sch.fields.exists(f => DeltaTable.containsNtz(f.dataType)),
          "TIMESTAMP_NTZ columns remain in the schema")
      case "domainMetadata" =>
        require(s.domainMetadata.isEmpty,
          s"domains remain: ${s.domainMetadata.keys.toSeq.sorted.mkString(",")}")
        require(!s.protocol.exists(_.writerFeatures.getOrElse(Nil).contains("rowTracking")),
          "rowTracking depends on domainMetadata — drop it first")
      case "columnMapping" =>
        throw new IllegalArgumentException(
          "columnMapping cannot be dropped — files carry physical column names forever")
      case other =>
        throw new IllegalArgumentException(s"unsupported feature drop '$other'")
    }
  }

  /** ALTER TABLE ... DROP FEATURE (delta-spark's feature removal): take a
    * feature OUT of the table protocol once nothing in the table state
    * uses it, downgrading to legacy protocol versions when the feature
    * lists empty out. Reader-scoped features (DV, v2Checkpoint,
    * timestampNtz) additionally require `truncateHistory = true`: a
    * pre-drop version can still carry feature state (DV descriptors, V2
    * checkpoints) that a checkpoint-seeded reader trusting the downgraded
    * protocol would misread, so the downgrade version is checkpointed and
    * everything below it retired — delta-spark's TRUNCATE HISTORY, minus
    * its 24-hour wait (our `cleanupMetadata` seeds from the fresh
    * checkpoint, so no reader ever needs the removed JSON). The
    * truncation runs AFTER the downgrade commit lands: a drop that loses
    * its precondition race (a concurrent writer re-enabling the feature)
    * fails with the table — including its history — fully intact, never
    * having destroyed time travel for a command that reported failure.
    * Returns the downgrade commit's version. */
  def dropFeature(name: String, truncateHistory: Boolean = false): Long = {
    val snap0 = snapshot
    require(snap0.version >= 0, s"no table at $path")
    val proto0 = snap0.protocol.getOrElse(Protocol())
    require(proto0.readerFeatures.getOrElse(Nil).contains(name) ||
      proto0.writerFeatures.getOrElse(Nil).contains(name),
      s"feature '$name' is not in the table protocol")
    requireNoFeatureTrace(name, snap0)
    if (readerScopedFeatures(name))
      require(truncateHistory, s"dropping reader feature '$name' requires " +
        "TRUNCATE HISTORY — historical versions may still carry its state")
    val committed = log.commitWith { att =>
      requireNoFeatureTrace(name, att)
      val p = att.protocol.getOrElse(Protocol())
      val reader = p.readerFeatures.getOrElse(Nil).filterNot(_ == name).sorted
      val writer = p.writerFeatures.getOrElse(Nil).filterNot(_ == name).sorted
      val newProto =
        if (reader.isEmpty && writer.isEmpty)
          // no features left at all: the no-trace checks above guarantee
          // nothing needing a higher legacy floor survives either
          Protocol(1, 2)
        else {
          val r = if (reader.nonEmpty) 3 else 1
          Protocol(r, 7, if (r >= 3) Some(reader) else None, Some(writer))
        }
      // rowTracking's drop retires its high-water-mark domain in the same
      // commit (a tombstone; checkpoints stop carrying it)
      val domainDrop =
        if (name == "rowTracking" &&
          att.domainMetadata.contains(DeltaLog.RowTrackingDomain))
          Seq(Action(domainMetadata = Some(DomainMetadata(
            DeltaLog.RowTrackingDomain, "", removed = true))))
        else Nil
      Seq(Action(protocol = Some(newProto))) ++ domainDrop ++
        Seq(Action(commitInfo = Some(CommitInfo(System.currentTimeMillis(),
          "DROP FEATURE", Map("feature" -> name,
            "truncateHistory" -> truncateHistory.toString)))))
    }
    if (truncateHistory && committed > 0) {
      // the checkpoint at the downgrade version carries the downgraded
      // protocol and a state with no feature trace; cleanup then retires
      // every version that could still carry the feature's artifacts
      log.checkpointAt(committed)
      log.cleanupMetadata(committed)
    }
    committed
  }

  /** The table's `delta.columnMapping.mode`: `none`, `name`, or `id`.
    * Create-time only (mode changes refuse in [[setProperties]]). */
  def columnMappingMode: String = snapshot.metadata.flatMap(
    _.configuration.get(DeltaTable.ColumnMappingModeKey)).getOrElse("none")

  /** True when column mapping is active (`name` OR `id` mode): parquet
    * files store PHYSICAL column names, the schema's field metadata maps
    * them to logical names, and rename/drop are metadata-only commits.
    * In `id` mode files additionally carry parquet field ids and READERS
    * RESOLVE BY ID — an external file whose physical column names differ
    * still reads correctly as long as its field ids match. */
  def columnMappingEnabled: Boolean = {
    val m = columnMappingMode; m == "name" || m == "id"
  }

  /** Logical → physical column name for `sch` (identity without
    * mapping metadata — pre-mapping fields read by their own name). */
  private def physicalName(f: org.apache.spark.sql.types.StructField): String =
    if (f.metadata.contains(DeltaTable.ColMapPhysKey))
      f.metadata.getString(DeltaTable.ColMapPhysKey)
    else f.name

  /** Read-side physical schema. In `id` mode each field also carries
    * `parquet.field.id` (from the Delta stable id), which — together
    * with [[ensureFieldIdRead]] — makes Spark's parquet reader match
    * columns BY FIELD ID, the protocol's id-mode contract. */
  private def physicalSchema(sch: StructType): StructType =
    StructType(sch.fields.map { f =>
      val renamed = f.copy(name = physicalName(f))
      if (columnMappingMode == "id" && f.metadata.contains(DeltaTable.ColMapIdKey))
        renamed.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(renamed.metadata)
          .putLong("parquet.field.id", f.metadata.getLong(DeltaTable.ColMapIdKey))
          .build())
      else renamed
    })

  /** Field-id matching is gated by a session conf; it only activates for
    * read schemas that CARRY `parquet.field.id` metadata (this table's
    * id-mode reads), so flipping it session-wide cannot change any other
    * read's behavior. Missing ids in a data file stay a loud error —
    * `ignoreMissing` is left false, per the id-mode contract. */
  private def ensureFieldIdRead(): Unit =
    if (columnMappingMode == "id")
      spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")

  /** Partition columns by PHYSICAL name (identity without mapping).
    * Hive directory names, `add.partitionValues` keys, and the staged
    * `partitionBy` all use physical names on a mapped table — the
    * protocol's representation, and what keeps RENAME COLUMN on a
    * partition column metadata-only (the directories never move). */
  private def physicalPartNames(parts: Seq[String]): Seq[String] = {
    if (parts.isEmpty) return parts
    val m = schema.fields.map(f => f.name -> physicalName(f)).toMap
    parts.map(p => m.getOrElse(p, p))
  }

  /** Rename a write batch's columns logical → physical just before the
    * parquet write (the single seam every staged write goes through).
    * In `id` mode each written column also carries `parquet.field.id`
    * metadata so the parquet footer records the Delta stable ids —
    * Spark's writer emits them (fieldId.write.enabled defaults true)
    * and id-mode readers match on them. */
  private def toPhysicalForWrite(df: DataFrame, sch: StructType): DataFrame = {
    val idMode = columnMappingMode == "id"
    val m = sch.fields.map(f => f.name -> physicalName(f)).toMap
    val ids = sch.fields.collect {
      case f if f.metadata.contains(DeltaTable.ColMapIdKey) =>
        f.name -> f.metadata.getLong(DeltaTable.ColMapIdKey)
    }.toMap
    if (!idMode && m.forall { case (l, p) => l == p }) df
    else df.select(df.columns.map { c =>
      val name = m.getOrElse(c, c)
      if (idMode && ids.contains(c))
        col(c).as(name, new org.apache.spark.sql.types.MetadataBuilder()
          .putLong("parquet.field.id", ids(c)).build())
      else col(c).as(name)
    }.toSeq: _*)
  }

  /** A metadata-only rename/drop of a column some stored SQL (CHECK
    * constraint or another column's generation expression) references
    * would leave every future write failing analysis — refuse at DDL
    * time like Delta proper. Word-boundary text match: conservative
    * (a coincidental identifier substring also refuses), which fails
    * SAFE. A column's own generation expression doesn't count against
    * dropping it (the expression leaves with the field). */
  private def requireUnreferenced(colName: String, what: String,
                                  ignoreOwnGeneration: Boolean): Unit = {
    val rx = ("(?i)\\b" + java.util.regex.Pattern.quote(colName) + "\\b").r
    val gens = if (ignoreOwnGeneration) generatedColumns - colName else generatedColumns
    val refs = (checkConstraints.toSeq.map { case (n, e) => s"CHECK constraint '$n'" -> e } ++
      gens.toSeq.map { case (n, e) => s"generated column '$n'" -> e })
      .collect { case (who, e) if rx.findFirstIn(e).isDefined => who }
    require(refs.isEmpty,
      s"cannot $what column '$colName': referenced by ${refs.mkString(", ")} — " +
        "drop the constraint / generated column first")
  }

  /** Widenings [[widenColumnType]] accepts (Delta "Type Widening",
    * reader+writer feature `typeWidening`) — exactly the conversions the
    * parquet vectorized reader performs losslessly in-scan, so NOT ONE
    * data byte rewrites: old files read back widened, new files write
    * the wide type. */
  private val Widenings: Set[(org.apache.spark.sql.types.DataType, org.apache.spark.sql.types.DataType)] = {
    import org.apache.spark.sql.types._
    Set[(DataType, DataType)](
      (ByteType, ShortType), (ByteType, IntegerType), (ByteType, LongType),
      (ShortType, IntegerType), (ShortType, LongType),
      (IntegerType, LongType),
      (FloatType, DoubleType),
      (DateType, TimestampNTZType))
  }

  /** ALTER COLUMN TYPE — metadata-only widening. Records the change in
    * the field's `delta.typeChanges` metadata (the protocol's
    * representation) and raises to the `typeWidening` reader+writer
    * feature: readers older than the feature must not misread the
    * narrow physical pages. Partition columns refuse (their values live
    * in directory names, not pages). */
  def widenColumnType(name: String, to: org.apache.spark.sql.types.DataType): Long = {
    val snap0 = snapshot
    val sch0 = snap0.schema.getOrElse(
      throw new IllegalStateException(s"no table at $path"))
    val f0 = sch0.fields.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"unknown column '$name'"))
    require(!partitionColumns.contains(name),
      s"cannot widen partition column '$name'")
    // a generated column or CHECK constraint computed against the narrow
    // type would silently wrap through its declared-type cast after the
    // widen — refuse like rename/drop do (delta-spark refuses too)
    requireUnreferenced(name, "widen", ignoreOwnGeneration = false)
    require(Widenings.contains((f0.dataType, to)),
      s"unsupported widening ${f0.dataType.simpleString} -> ${to.simpleString} — " +
        "supported: byte/short/int -> wider integral, float -> double")
    // actions REGENERATE per commit attempt (commitWith): the protocol
    // must merge with whatever a concurrent commit raised (a fixed-action
    // retry could clobber, say, a concurrently-added deletionVectors
    // feature), and the typeChanges record's tableVersion must be the
    // version this commit actually lands at
    val committed = log.commitWith(
      snap => {
        val sch = snap.schema.get
        val f = sch.fields.find(_.name == name).get
        val changes = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
          .putMetadataArray("delta.typeChanges",
            (if (f.metadata.contains("delta.typeChanges"))
              f.metadata.getMetadataArray("delta.typeChanges") else Array.empty) :+
              new org.apache.spark.sql.types.MetadataBuilder()
                .putString("fromType", f.dataType.simpleString)
                .putString("toType", to.simpleString)
                .putLong("tableVersion", snap.version + 1)
                .build())
          .build()
        val newSchema = StructType(sch.fields.map(x =>
          if (x.name == name) x.copy(dataType = to, metadata = changes) else x))
        // widening INTO timestamp_ntz makes the table carry NTZ pages —
        // both features must ride the same commit (the auto-detection in
        // raisedProtocol sees only the OLD schema here)
        val feats = "typeWidening" +:
          (if (DeltaTable.containsNtz(to)) Seq("timestampNtz") else Nil)
        Seq(Action(protocol = Some(raisedProtocol(snap, 3, 7, feats, feats))),
          Action(metaData = Some(snap.metadata.get.copy(
            schemaString = newSchema.json))),
          Action(commitInfo = Some(CommitInfo(System.currentTimeMillis(),
            "CHANGE COLUMN", Map("column" -> name, "toType" -> to.simpleString)))))
      },
      // racing a concurrent SCHEMA/CONFIG change would silently drop it
      // (protocol changes are fine — the generator merges them)
      check = s => s.metadata.exists(m =>
        org.apache.spark.sql.types.DataType.fromJson(m.schemaString) == sch0 &&
          m.configuration == snap0.metadata.get.configuration))
    // DDL must fail LOUDLY on a lost race: a caller ignoring the return
    // would proceed believing the column widened
    if (committed < 0)
      throw new java.util.ConcurrentModificationException(
        "ALTER COLUMN TYPE lost a metadata race — re-run against the new state")
    committed
  }

  /** A DEFAULT expression must be constant-foldable and deterministic
    * (the Delta contract): a column reference is a generated column's
    * job, and rand() would mint a different "default" per row. Analysis
    * runs over a FROM-less projection so any column reference fails
    * resolution (range(1) would silently resolve 'id'). */
  private def requireValidDefault(f: org.apache.spark.sql.types.StructField): Unit = {
    val e = f.metadata.getString(DeltaTable.CurrentDefaultKey)
    val ok = try {
      val df = spark.sql(s"SELECT CAST(($e) AS ${f.dataType.sql})")
      df.queryExecution.analyzed.expressions.forall(_.deterministic) && {
        df.head(); true
      }
    } catch { case scala.util.control.NonFatal(_) => false }
    require(ok, s"default for column '${f.name}' must be a constant, " +
      s"deterministic expression castable to ${f.dataType.simpleString}, got: $e")
  }

  /** ALTER TABLE ADD COLUMNS: a metadata-only commit — existing files
    * read the new columns back as NULL (Spark's parquet reader fills
    * missing columns), so NOT ONE data byte rewrites. Additions must be
    * nullable for exactly that reason. A DEFAULT rides along validated
    * ([[DeltaTable.defaultField]]) and applies to writes that OMIT the
    * column from the flip forward — existing rows stay NULL (backfill is
    * a job, not a DDL side effect; delta-spark refuses the combination
    * outright, this keeps the two concerns explicit). Generated and
    * identity columns are create-time only: existing rows could not
    * satisfy a generation expression and identity ids are not
    * backfilled. On a mapped table each addition mints its stable id +
    * physical parquet name and bumps `delta.columnMapping.maxColumnId`. */
  def addColumns(newFields: Seq[org.apache.spark.sql.types.StructField]): Long = {
    require(newFields.nonEmpty, "no columns to add")
    val snap0 = snapshot
    val sch0 = snap0.schema.getOrElse(
      throw new IllegalStateException(s"no table at $path"))
    newFields.foreach { f =>
      require(!sch0.fieldNames.exists(_.equalsIgnoreCase(f.name)) &&
        !newFields.exists(g => (g ne f) && g.name.equalsIgnoreCase(f.name)),
        s"column '${f.name}' already exists")
      require(f.nullable, s"added column '${f.name}' must be nullable — " +
        "existing files read it back as NULL")
      require(!f.metadata.contains(DeltaTable.GenerationExprKey),
        s"cannot add generated column '${f.name}' — existing rows would " +
          "violate its generation expression; generated columns are create-time only")
      require(!f.metadata.contains(DeltaTable.IdentityStartKey),
        s"cannot add identity column '${f.name}' — ids are not backfilled")
      if (f.metadata.contains(DeltaTable.CurrentDefaultKey)) requireValidDefault(f)
    }
    val hasDefault = newFields.exists(_.metadata.contains(DeltaTable.CurrentDefaultKey))
    val hasNtz = newFields.exists(f => DeltaTable.containsNtz(f.dataType))
    val committed = log.commitWith(
      snap => {
        val meta = snap.metadata.get
        val mapped = meta.configuration
          .get(DeltaTable.ColumnMappingModeKey).exists(m => m == "name" || m == "id")
        val maxId = meta.configuration
          .get(DeltaTable.ColumnMappingMaxIdKey).map(_.toLong).getOrElse(0L)
        val finalFields =
          if (!mapped) newFields
          else newFields.zipWithIndex.map { case (f, i) =>
            f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
              .withMetadata(f.metadata)
              .putLong(DeltaTable.ColMapIdKey, maxId + i + 1)
              .putString(DeltaTable.ColMapPhysKey,
                s"col-${java.util.UUID.randomUUID()}")
              .build())
          }
        val newSchema = StructType(snap.schema.get.fields ++ finalFields)
        val newConf =
          if (!mapped) meta.configuration
          else meta.configuration + (DeltaTable.ColumnMappingMaxIdKey ->
            (maxId + newFields.size).toString)
        // features the ADDED columns introduce must ride the same commit
        // (raisedProtocol's auto-detection sees only the OLD schema)
        val featsR = if (hasNtz) Seq("timestampNtz") else Nil
        val featsW = featsR ++
          (if (hasDefault) Seq("allowColumnDefaults") else Nil)
        val protoActs =
          if (featsW.isEmpty) Nil
          else Seq(Action(protocol = Some(raisedProtocol(snap,
            if (hasNtz) 3 else snap.protocol.map(_.minReaderVersion).getOrElse(1),
            7, featsR, featsW))))
        protoActs ++ Seq(
          Action(metaData = Some(meta.copy(schemaString = newSchema.json,
            configuration = newConf))),
          Action(commitInfo = Some(CommitInfo(System.currentTimeMillis(),
            "ADD COLUMNS", Map("columns" -> newFields.map(_.name).mkString(","))))))
      },
      // racing a concurrent schema/config change would silently drop it
      check = s => s.metadata.exists(m =>
        org.apache.spark.sql.types.DataType.fromJson(m.schemaString) == sch0 &&
          m.configuration == snap0.metadata.get.configuration))
    if (committed < 0)
      throw new java.util.ConcurrentModificationException(
        "ADD COLUMNS lost a metadata race — re-run against the new state")
    committed
  }

  /** RENAME COLUMN — with column mapping, one metadata commit: the
    * logical name changes, the stable id and physical parquet name do
    * not, so NOT ONE data byte rewrites (on a 100 TB table this is the
    * difference between a metadata op and a cluster-day). */
  def renameColumn(oldName: String, newName: String): Long = {
    require(columnMappingEnabled,
      s"renameColumn requires ${DeltaTable.ColumnMappingModeKey}=name|id")
    val meta = snapshot.metadata.getOrElse(
      throw new IllegalStateException(s"no table at $path"))
    val sch = schema
    require(sch.fieldNames.contains(oldName), s"no column '$oldName'")
    requireUnreferenced(oldName, "rename", ignoreOwnGeneration = false)
    require(!sch.fieldNames.exists(_.equalsIgnoreCase(newName)),
      s"column '$newName' already exists")
    val renamed = StructType(sch.fields.map(f =>
      if (f.name == oldName) f.copy(name = newName) else f))
    // a PARTITION column rename is still metadata-only: directory names
    // carry the stable physical name, so only the logical list updates
    val renamedParts = meta.partitionColumns.map(p =>
      if (p == oldName) newName else p)
    val committed = log.commit(Seq(
      Action(metaData = Some(meta.copy(schemaString = renamed.json,
        partitionColumns = renamedParts))),
      Action(commitInfo = Some(CommitInfo(System.currentTimeMillis(),
        "RENAME COLUMN", Map("from" -> oldName, "to" -> newName))))),
      // stale-copy hazard, as addCheckConstraint: any concurrent metadata
      // change invalidates the copied action
      check = s => s.metadata.exists(m =>
        m.schemaString == meta.schemaString && m.configuration == meta.configuration))
    if (committed < 0) throw new java.util.ConcurrentModificationException(
      s"cannot rename '$oldName': the table metadata changed — retry")
    committed
  }

  /** DROP COLUMN — metadata-only under column mapping: the field leaves
    * the schema; existing files keep the physical bytes (readers project
    * them away) until a later OPTIMIZE/purge naturally rewrites. */
  def dropColumn(name: String): Long = {
    require(columnMappingEnabled,
      s"dropColumn requires ${DeltaTable.ColumnMappingModeKey}=name|id")
    val meta = snapshot.metadata.getOrElse(
      throw new IllegalStateException(s"no table at $path"))
    val sch = schema
    require(sch.fieldNames.contains(name), s"no column '$name'")
    require(sch.fields.length > 1, "cannot drop the last column")
    require(!snapshot.metadata.exists(_.partitionColumns.contains(name)),
      s"cannot drop partition column '$name' (Delta refuses this too) — " +
        "rewrite the table unpartitioned first")
    requireUnreferenced(name, "drop", ignoreOwnGeneration = true)
    val dropped = StructType(sch.fields.filterNot(_.name == name))
    val committed = log.commit(Seq(
      Action(metaData = Some(meta.copy(schemaString = dropped.json))),
      Action(commitInfo = Some(CommitInfo(System.currentTimeMillis(),
        "DROP COLUMN", Map("name" -> name))))),
      check = s => s.metadata.exists(m =>
        m.schemaString == meta.schemaString && m.configuration == meta.configuration))
    if (committed < 0) throw new java.util.ConcurrentModificationException(
      s"cannot drop '$name': the table metadata changed — retry")
    committed
  }

  /** Generated columns in force: field name → generation expression,
    * from the schema's field metadata (the protocol representation). */
  /** Column defaults by name ([[DeltaTable.defaultField]]): the SQL each
    * append evaluates for a column the batch omits. */
  def columnDefaults: Map[String, String] =
    schema.fields.filter(_.metadata.contains(DeltaTable.CurrentDefaultKey))
      .map(f => f.name -> f.metadata.getString(DeltaTable.CurrentDefaultKey)).toMap

  def generatedColumns: Map[String, String] =
    schema.fields.flatMap { f =>
      if (f.metadata.contains(DeltaTable.GenerationExprKey))
        Some(f.name -> f.metadata.getString(DeltaTable.GenerationExprKey))
      else None
    }.toMap

  /** Fuse CHECK enforcement into a write's own job: each constraint
    * becomes a filter whose violating branch raises with the constraint
    * name and the offending row — NO extra scan over the batch (Delta
    * proper fuses the check the same way), and the existing staged-file
    * cleanup paths handle the failed write. Applied to appended data and
    * to the CHANGED rows of merge/update; delete/compact/zorder/restore
    * introduce no new values and skip it (delta-rs behavior).
    *
    * GENERATED columns enforce here too: every written row must satisfy
    * `col <=> generation expression` (null-safe — both null passes).
    * [[append]] COMPUTES omitted generated columns before this check
    * (which then passes trivially); merge/update ENFORCE only — a
    * changed row whose generated value no longer matches its inputs
    * refuses loudly rather than silently recomputing (provide generated
    * inputs consistently, the documented divergence from Delta proper's
    * recompute-on-merge). */
  private def withConstraintChecks(df: DataFrame): DataFrame = {
    val sch = schema
    val genChecks = generatedColumns.toSeq.sortBy(_._1).map { case (n, e) =>
      val dt = sch.fields.find(_.name == n).get.dataType
      (s"generated column '$n'",
        s"$n GENERATED AS ($e)",
        col(n) <=> org.apache.spark.sql.functions.expr(e).cast(dt))
    }
    val cons = checkConstraints.toSeq.sortBy(_._1).map { case (n, e) =>
      (s"CHECK constraint '$n'", e,
        coalesce(org.apache.spark.sql.functions.expr(e), lit(true)))
    }
    (cons ++ genChecks).foldLeft(df) { case (d, (what, e, pred)) =>
      d.filter(
        org.apache.spark.sql.functions.when(pred, lit(true))
          .otherwise(org.apache.spark.sql.functions.raise_error(
            concat(lit(s"$what ($e) violated by row: "),
              to_json(struct(df.columns.map(col).toSeq: _*)))).cast("boolean")))
    }
  }

  /** Commit a metaData update (schema evolution, reference X3). Additions
    * must be nullable columns so existing files read back null-filled —
    * the contract pinned by the reference's schema_update test. */
  def updateSchema(newSchema: StructType): Long = {
    val meta = snapshot.metadata
      .getOrElse(throw new IllegalStateException(s"no table at $path"))
    log.commit(Seq(
      Action(metaData = Some(meta.copy(schemaString = newSchema.json))),
      Action(commitInfo = Some(CommitInfo(System.currentTimeMillis(), "CHANGE SCHEMA")))))
  }

  /** User domain metadata (PROTOCOL.md `domainMetadata`, writer feature
    * `domainMetadata`): attach a named configuration string to TABLE
    * STATE — it rides snapshots, checkpoints, clones, and log
    * compaction like any state. System domains (`delta.*`) are engine-
    * owned and refuse here ([[DeltaLog.RowTrackingDomain]],
    * [[DeltaTable.ClusteringDomain]] are maintained by their features). */
  def setDomainMetadata(domain: String, configuration: String): Long = {
    require(!domain.startsWith("delta."),
      s"'$domain' is a system domain — delta.* domains are engine-maintained")
    require(domain.nonEmpty, "domain name must be non-empty")
    require(snapshot.version >= 0, s"no table at $path")
    // protocol regenerates per attempt (the widenColumnType invariant):
    // a fixed action would clobber a concurrently-raised feature
    log.commitWith(att => Seq(
      Action(protocol = Some(raisedProtocol(att,
        att.protocol.map(_.minReaderVersion).getOrElse(1), 7,
        Nil, Seq("domainMetadata")))),
      Action(domainMetadata = Some(DomainMetadata(domain, configuration))),
      Action(commitInfo = Some(CommitInfo(System.currentTimeMillis(),
        "SET DOMAIN METADATA", Map("domain" -> domain))))))
  }

  /** Tombstone a user domain (removed=true rides replay and compaction). */
  def removeDomainMetadata(domain: String): Long = {
    require(!domain.startsWith("delta."),
      s"'$domain' is a system domain — delta.* domains are engine-maintained")
    val snap = snapshot
    if (!snap.domainMetadata.contains(domain)) return -1L
    log.commit(Seq(
      Action(domainMetadata = Some(DomainMetadata(domain, removed = true))),
      Action(commitInfo = Some(CommitInfo(System.currentTimeMillis(),
        "REMOVE DOMAIN METADATA", Map("domain" -> domain))))))
  }

  /** Live domain configurations (user + system). */
  def domainMetadata: Map[String, String] = snapshot.domainMetadata

  /** SYNC IDENTITY (Delta's `ALTER TABLE ... SYNC IDENTITY`): recompute
    * each identity column's high-water mark from the table's ACTUAL
    * values — the repair step after explicit-value DML (merge/overwrite)
    * that this implementation, like Delta proper, does not auto-advance
    * for. The mark only ever moves FORWARD (in step direction); a
    * concurrent allocation conflicts loudly via the parsed-schema commit
    * guard. Returns the committed version, or -1 when already in sync. */
  def syncIdentity(): Long = {
    val baseSnap = snapshot
    val baseSchema = baseSnap.schema.getOrElse(
      throw new IllegalStateException(s"no table at $path"))
    val ident = baseSchema.fields.toSeq
      .filter(_.metadata.contains(DeltaTable.IdentityStartKey))
    require(ident.nonEmpty, "no identity columns on this table")
    if (dfFor(baseSnap).isEmpty) return -1L
    val aggs = ident.map { f =>
      val step = f.metadata.getLong(DeltaTable.IdentityStepKey)
      (if (step > 0) org.apache.spark.sql.functions.max(col(f.name))
       else org.apache.spark.sql.functions.min(col(f.name))).cast("long").as(f.name)
    }
    val row = dfFor(baseSnap).agg(aggs.head, aggs.tail: _*).head()
    val updates: Map[String, Long] = ident.zipWithIndex.flatMap { case (f, i) =>
      if (row.isNullAt(i)) None
      else {
        val step = f.metadata.getLong(DeltaTable.IdentityStepKey)
        val start = f.metadata.getLong(DeltaTable.IdentityStartKey)
        val cur =
          if (f.metadata.contains(DeltaTable.IdentityHwmKey))
            f.metadata.getLong(DeltaTable.IdentityHwmKey)
          else start - step
        val ext = row.getLong(i)
        val next = if (step > 0) math.max(cur, ext) else math.min(cur, ext)
        if (next == cur) None else Some(f.name -> next)
      }
    }.toMap
    if (updates.isEmpty) return -1L
    val newSchema = StructType(baseSchema.fields.map(f =>
      updates.get(f.name).fold(f)(h =>
        f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata).putLong(DeltaTable.IdentityHwmKey, h).build()))))
    val meta = baseSnap.metadata.get
    val committed = log.commit(
      Seq(Action(metaData = Some(meta.copy(schemaString = newSchema.json))),
        Action(commitInfo = Some(CommitInfo(System.currentTimeMillis(),
          "SYNC IDENTITY")))),
      check = s => s.metadata.exists(m =>
        org.apache.spark.sql.types.DataType.fromJson(m.schemaString) == baseSchema &&
          m.configuration == meta.configuration))
    if (committed < 0)
      throw new java.util.ConcurrentModificationException(
        "SYNC IDENTITY lost a metadata race — re-run against the new state")
    committed
  }

  /** Transactional append. Returns the committed version, or -1 if skipped
    * as an idempotent replay.
    *
    * Exactly-once under races: besides the cheap pre-check below, the same
    * txn predicate re-runs inside [[DeltaLog.commit]] against the winning
    * snapshot on every retry — so a zombie query and its restart can't both
    * land the same (appId, version) batch (round-1 advice #2). */
  def append(df: DataFrame, txnAppId: Option[String] = None,
             txnVersion: Long = -1L, operation: String = "WRITE",
             mergeSchema: Boolean = false): Long = {
    def txnNotYetApplied(snap: Snapshot): Boolean = txnAppId.forall { app =>
      txnVersion < 0 || snap.txns.getOrElse(app, -1L) < txnVersion
    }
    // ONE base snapshot for the whole evolution computation: schema,
    // maxColumnId, and the metadata the schemaUpdate action copies must
    // come from the SAME version — three separate snapshot() reads left
    // a torn-read window where a concurrent evolving append lands
    // between them and this append's metaData action mixes old schema
    // with new configuration (minting duplicate column-mapping ids)
    val baseSnap = snapshot
    if (!txnNotYetApplied(baseSnap)) return -1L
    // mergeSchema (the delta-rs writer's schema-evolution mode): source
    // columns the table lacks WIDEN the schema instead of silently
    // dropping — appended as nullable so existing files read back
    // null-filled (the updateSchema contract). The metaData update rides
    // the SAME commit as the data, so no reader can observe the new
    // columns without the files or vice versa. Caveat: the evolved
    // schema is computed against THIS snapshot — two writers evolving
    // the schema concurrently is a metadata conflict this append does
    // not arbitrate (Delta proper fails such commits too).
    val baseSchema = baseSnap.schema.getOrElse(
      throw new IllegalStateException(s"no table at $path"))
    val evolution: Seq[org.apache.spark.sql.types.StructField] =
      if (!mergeSchema) Nil else evolvedFieldsFor(baseSnap, df.schema)
    val evolvedSchema = org.apache.spark.sql.types.StructType(baseSchema.fields ++ evolution)
    val parts = partitionColumns
    // IDENTITY COLUMNS (Delta protocol, writer v6): columns the batch
    // omits get machine-assigned contiguous values `next, next+step, ...`
    // from the high-water mark stored in the field metadata; explicit
    // values require allowExplicitInsert (GENERATED BY DEFAULT). All
    // identity state is read from baseSnap — the commit's metaData check
    // below turns a concurrent allocation into a loud conflict, never an
    // overlapping id block.
    val identInfo = baseSchema.fields.toSeq
      .filter(_.metadata.contains(DeltaTable.IdentityStartKey)).map { f =>
        val m = f.metadata
        (f.name, m.getLong(DeltaTable.IdentityStartKey),
          m.getLong(DeltaTable.IdentityStepKey),
          m.contains(DeltaTable.IdentityAllowExplicitKey) &&
            m.getBoolean(DeltaTable.IdentityAllowExplicitKey),
          if (m.contains(DeltaTable.IdentityHwmKey))
            Some(m.getLong(DeltaTable.IdentityHwmKey)) else None)
      }
    val (identProvided, identAssign) = identInfo.partition { case (n, _, _, _, _) =>
      df.columns.exists(_.equalsIgnoreCase(n)) }
    identProvided.foreach { case (n, _, _, allow, _) => require(allow,
      s"identity column '$n' is GENERATED ALWAYS — omit it from the batch " +
        "(create the table with identityField(allowExplicitInsert = true) " +
        "for BY DEFAULT semantics)") }
    // explicit inserts advance the mark past the farthest provided value
    // (in step direction) — one tiny agg job, only on explicit batches.
    // An empty or all-null batch aggregates to NULL → no extreme, mark
    // untouched (the batchRows guard below would skip anyway, but the
    // eager getLong would crash first)
    val identProvidedExtreme: Map[String, Long] = identProvided.flatMap {
      case (n, _, step, _, _) =>
        val agg = if (step > 0) org.apache.spark.sql.functions.max(col(n))
                  else org.apache.spark.sql.functions.min(col(n))
        val row = df.agg(agg.cast("long")).head()
        if (row.isNullAt(0)) None else Some(n -> row.getLong(0))
    }.toMap
    // contiguous block assignment rides RDD.zipWithIndex (one light
    // partition-size pass + the write pass — Spark's standard 2-pass id
    // shape; inherits zipWithIndex's determinism contract on the input)
    val withIdent =
      if (identAssign.isEmpty) df
      else {
        val firsts = identAssign.map { case (n, start, step, _, hwm) =>
          (n, hwm.map(_ + step).getOrElse(start), step) }
        val sch0 = df.schema
        val rdd = df.rdd.zipWithIndex().map { case (row, i) =>
          org.apache.spark.sql.Row.fromSeq(row.toSeq ++
            firsts.map { case (_, s0, st) => s0 + i * st })
        }
        spark.createDataFrame(rdd, org.apache.spark.sql.types.StructType(
          sch0.fields ++ firsts.map(t => org.apache.spark.sql.types.StructField(
            t._1, org.apache.spark.sql.types.LongType))))
      }
    // DEFAULT columns the batch omits evaluate their default expression
    // (writer feature allowColumnDefaults); provided values pass through
    // UNCHECKED — a default is a fallback, not a constraint
    val withDefaults = columnDefaults.toSeq.sortBy(_._1).foldLeft(withIdent) {
      case (d, (n, e)) =>
        if (d.columns.exists(_.equalsIgnoreCase(n))) d
        else d.withColumn(n, org.apache.spark.sql.functions.expr(e))
    }
    // generated columns the batch omits are COMPUTED from their
    // expressions (the Delta writer contract); provided ones pass through
    // and the fused generation check below refuses any mismatch
    val withGen = generatedColumns.toSeq.sortBy(_._1).foldLeft(withDefaults) { case (d, (n, e)) =>
      if (d.columns.exists(_.equalsIgnoreCase(n))) d
      else d.withColumn(n, org.apache.spark.sql.functions.expr(e))
    }
    val aligned = withConstraintChecks(
      withGen.select(evolvedSchema.fields.map(f => col(f.name).cast(f.dataType)).toSeq: _*))
    // Co-locate rows of one partition value into one task before the
    // partitioned write: without this every task emits a file per value
    // (tasks × values tiny files per batch — measured 4.6× slower ingest
    // at sf0.1, and the classic small-files failure at 100 TB). Micro-
    // batches are bounded (maxMessagesPerBatch), so one-task-per-value
    // skew is capped; compact() remains the lever for residual smalls.
    // With delta.autoOptimize.optimizeWrite the hash repartition upgrades
    // to an AQE REBALANCE (coalesces smalls toward the advisory size,
    // splits a hot partition value); see [[DeltaTable.OptimizeWriteConfigKey]].
    val optimizeWrite = baseSnap.metadata.exists(
      _.configuration.get(DeltaTable.OptimizeWriteConfigKey).contains("true"))
    val arranged =
      if (optimizeWrite) {
        if (parts.nonEmpty) aligned.hint("rebalance", parts.map(col): _*)
        else aligned.hint("rebalance")
      }
      else if (parts.nonEmpty) aligned.repartition(parts.map(col): _*)
      else aligned
    val adds = stage(toPhysicalForWrite(arranged, evolvedSchema), physicalPartNames(parts))
    // identity high-water-mark advance: assigned blocks move it to the
    // last allocated value (batch row count from the staged stats);
    // explicit batches move it past their farthest value
    val batchRows = adds.flatMap(_.stats).map(s =>
      Actions.mapper.readTree(s).path("numRecords").asLong(0L)).sum
    val identUpdates: Map[String, Long] =
      (identAssign.flatMap { case (n, start, step, _, hwm) =>
        if (batchRows == 0L) None
        else {
          val s0 = hwm.map(_ + step).getOrElse(start)
          Some(n -> (s0 + (batchRows - 1L) * step))
        }
      } ++ identProvided.flatMap { case (n, start, step, _, hwm) =>
        if (batchRows == 0L) None
        else identProvidedExtreme.get(n).flatMap { ext =>
          val cur = hwm.getOrElse(start - step)
          val next = if (step > 0) math.max(cur, ext) else math.min(cur, ext)
          if (next == cur) None else Some(n -> next)
        }
      }).toMap
    val needsMeta = evolution.nonEmpty || identUpdates.nonEmpty
    val baseMeta =
      if (!needsMeta) None
      else Some(baseSnap.metadata
        .getOrElse(throw new IllegalStateException(s"no table at $path")))
    val metaSchema =
      if (identUpdates.isEmpty) evolvedSchema
      else org.apache.spark.sql.types.StructType(evolvedSchema.fields.map(f =>
        identUpdates.get(f.name).fold(f)(h =>
          f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putLong(DeltaTable.IdentityHwmKey, h).build()))))
    val schemaUpdate = baseMeta
      .map(m => Action(metaData = Some(m.copy(
        schemaString = metaSchema.json,
        configuration =
          if (!columnMappingEnabled || evolution.isEmpty) m.configuration
          else m.configuration + (DeltaTable.ColumnMappingMaxIdKey ->
            evolvedSchema.fields.flatMap(f =>
              if (f.metadata.contains(DeltaTable.ColMapIdKey))
                Some(f.metadata.getLong(DeltaTable.ColMapIdKey))
              else None).max.toString)))))
      .toSeq
    // an evolution that introduces a TIMESTAMP_NTZ column must raise
    // the timestampNtz feature IN THE SAME COMMIT — NTZ pages under a
    // protocol that never declares the feature violate the spec
    val ntzRaise =
      if (evolution.exists(f => DeltaTable.containsNtz(f.dataType)) &&
        !baseSnap.protocol.exists(_.writerFeatures.exists(_.contains("timestampNtz"))))
        Seq(Action(protocol = Some(raisedProtocol(baseSnap, 3, 7,
          Seq("timestampNtz"), Seq("timestampNtz")))))
      else Nil
    val actions = ntzRaise ++ schemaUpdate ++
      adds.map(a => Action(add = Some(a))) ++
      txnAppId.map(app => Action(txn = Some(Txn(app, txnVersion,
        Some(System.currentTimeMillis()))))).toSeq ++
      Seq(Action(commitInfo = Some(CommitInfo(System.currentTimeMillis(), operation,
        Map("mode" -> "Append"),
        operationMetrics = Some(Map(
          "numFiles" -> adds.size.toString,
          "numOutputRows" -> batchRows.toString,
          "numOutputBytes" -> adds.map(_.size).sum.toString))))))
    // an evolving append must not clobber a schema change that landed
    // while it was staging: its metaData was computed from baseSchema,
    // so committing it over a different schema would silently drop the
    // concurrent evolution — detect and throw instead of retrying past
    var schemaConflict = false
    // compare PARSED StructTypes, not raw JSON: another writer's
    // metadata may serialize the same schema with different key order
    // or formatting, and a string compare would misreport every
    // evolving append against it as a schema race. The CONFIGURATION
    // must also be unchanged: the metaData action above was copied from
    // baseMeta, so retrying it over a concurrently-committed
    // configuration change (a new CHECK constraint, say) would silently
    // erase that change — and never enforce the constraint again.
    // identity allocations ride the same guard: the high-water mark
    // lives in the schema's field METADATA, so "schema unchanged since
    // baseSnap" (StructType equality includes metadata) also proves no
    // concurrent writer advanced the mark our id block was cut from
    def evolutionCheck(snap: Snapshot): Boolean =
      if (!txnNotYetApplied(snap)) false
      else if (ntzRaise.nonEmpty && snap.protocol != baseSnap.protocol) {
        schemaConflict = true; false
      } else if (needsMeta &&
        !snap.metadata.exists(m =>
          org.apache.spark.sql.types.DataType.fromJson(m.schemaString) == baseSchema &&
            m.configuration == baseMeta.get.configuration)) {
        schemaConflict = true; false
      } else true
    val committed = commitStaged(baseSnap.version, adds.map(_.path), _ => actions,
      evolutionCheck)
    if (committed < 0) {
      if (schemaConflict)
        throw new java.util.ConcurrentModificationException(
          "append lost a metadata race: the table schema (including an " +
            "identity column's high-water mark) or configuration changed " +
            "while this append was staging — re-run the append so it " +
            "recomputes against the winner")
      // otherwise: lost the race to a concurrent writer of the same
      // txn batch — the documented idempotent-replay skip
    }
    // auto-compaction is post-commit work: the append has landed
    if (committed >= 0)
      try maybeAutoCompact()
      catch { case scala.util.control.NonFatal(e) => throw new PostCommitFailure(committed, e) }
    committed
  }

  /** COPY INTO (delta-spark's idempotent batch file loader — the batch
    * form of the reference's exactly-once ingest contract): load data
    * files from `source` into the table, skipping files a previous COPY
    * INTO already loaded, so a re-run after a partial failure or on a
    * schedule ingests every source file EXACTLY ONCE. Idempotency rides
    * the protocol's txn mechanism: each loaded file's
    * `txn(appId = "graft.copyInto:<qualified file>", version = 0)`
    * action commits ATOMICALLY with its data — no window where data
    * landed without the bookkeeping or vice versa. One txn entry per
    * file EVER loaded accumulates in checkpoints, so on a COPY
    * INTO-heavy table SET `delta.setTransactionRetentionDuration` (to
    * anything above the re-run horizon — e.g. "interval 30 days"): the
    * wired expiry then ages entries out of checkpoints; without it the
    * checkpoint carries the full load history forever.
    *
    * Source columns align BY NAME and cast to the table schema; columns
    * the source lacks null-fill when nullable (the schema-evolution
    * read rule) and refuse otherwise; EXTRA source columns refuse
    * loudly (a silent drop hides pipeline bugs) — unless
    * `copyOptions("mergeSchema") = "true"` (delta's COPY_OPTIONS), which
    * WIDENS the table instead: extras append as nullable columns
    * (column-mapping ids minted) and the metaData update rides the same
    * commit as the load. DEFAULT and generated columns compute exactly
    * as in [[append]]; CHECK constraints verify; identity columns must
    * be provided explicitly (machine assignment lives in append's batch
    * path). Formats: `parquet` (schema inferred from footers), `json`,
    * `csv` (header row by default; FORMAT_OPTIONS override), and `avro`
    * (object-container files through graft's own avro layer — the
    * reference is an Avro-first ingester). The three text formats share
    * one discipline: the reader schema derives from the SOURCE's
    * sample-inferred fields ∩ the table schema — so missing-column
    * refusal, defaults, generated and identity checks behave exactly as
    * for parquet; a blanket table-schema read would mask every absent
    * field as null.
    *
    * A race against a concurrent COPY INTO of overlapping files — or,
    * when evolving, any concurrent schema/configuration change — aborts
    * the commit, cleans the staged bytes, and RETRIES against the fresh
    * snapshot — loading only what is still new — up to 3 rounds.
    *
    * Scale: the listing is the level-parallel BFS walk of `source`
    * (landing areas accumulate 10⁵–10⁶ small files; a serial driver
    * walk there is a multi-hour metadata crawl); the loaded-file filter
    * is a driver set difference over log metadata; the data job reads
    * ONLY new files. Returns the committed version, or -1 when nothing
    * is new. */
  def copyInto(source: String, format: String = "parquet",
               pattern: Option[String] = None,
               options: Map[String, String] = Map.empty,
               copyOptions: Map[String, String] = Map.empty): Long = {
    require(Set("parquet", "json", "csv", "avro")(format.toLowerCase),
      s"COPY INTO supports FILEFORMAT parquet|json|csv|avro, got '$format'")
    val fmt = format.toLowerCase
    val mergeSchema = copyOptions.exists { case (k, v) =>
      k.equalsIgnoreCase("mergeSchema") && v.equalsIgnoreCase("true") }
    copyOptions.keys.foreach(k => require(k.equalsIgnoreCase("mergeSchema"),
      s"unsupported COPY_OPTIONS key '$k' (supported: mergeSchema)"))
    val srcPath = new Path(source)
    val srcFs = srcPath.getFileSystem(spark.sessionState.newHadoopConf())
    val candidates: Seq[Path] = {
      val globby = source.exists("*?[{".contains(_))
      val all =
        if (globby) srcFs.globStatus(srcPath).toSeq.filter(_.isFile).map(_.getPath)
        else if (srcFs.getFileStatus(srcPath).isFile) Seq(srcPath)
        else {
          // the shared level-parallel BFS ([[DeltaTable.parallelWalk]]):
          // a landing area is exactly where 10⁵–10⁶ small files pile up,
          // and a serial driver listFiles loop there is the same
          // multi-hour-crawl failure the vacuum walk fixed. Hidden files
          // AND hidden directories skip (Spark's file-index rule —
          // `_temporary`, `.spark-staging`); the user-named root itself
          // is exempt from the hidden check.
          val srcQ = srcFs.makeQualified(srcPath)
          def hidden(p: Path): Boolean = {
            val n = p.getName; n.startsWith("_") || n.startsWith(".")
          }
          val buf = mutable.ArrayBuffer.empty[Path]
          DeltaTable.parallelWalk(spark, spark.sessionState.newHadoopConf(),
            srcPath, d => !(srcFs.makeQualified(d) == srcQ) && hidden(d)) { st =>
            val p = new Path(st.path)
            if (!hidden(p)) buf += p
          }
          buf.toSeq
        }
      pattern.fold(all) { g =>
        val m = java.nio.file.FileSystems.getDefault.getPathMatcher(s"glob:$g")
        val baseQ = srcFs.makeQualified(srcPath).toString
        all.filter { p =>
          val rel = srcFs.makeQualified(p).toString
            .stripPrefix(baseQ).stripPrefix("/")
          m.matches(java.nio.file.Paths.get(if (rel.isEmpty) p.getName else rel))
        }
      }
    }
    def appIdOf(p: Path): String =
      "graft.copyInto:" + srcFs.makeQualified(p).toUri.toString
    var attempt = 0
    while (true) {
      attempt += 1
      val baseSnap = snapshot
      val sch = baseSnap.schema.getOrElse(
        throw new IllegalStateException(s"no table at $path — create first"))
      val newFiles = candidates.filterNot(p => baseSnap.txns.contains(appIdOf(p)))
      if (newFiles.isEmpty) return -1L
      val reader = spark.read.options(options)
      // the reader schema derives from the SOURCE, not the table:
      // sample-infer the fields actually present, keep the table's
      // types for the overlap, the inferred types for extras. Reading
      // text formats under the full table schema would make every table
      // column "present" (as null) — silently bypassing the
      // missing-non-nullable refusal, DEFAULT/generated computation,
      // the identity-provided check, and extra-column detection that
      // the parquet path enforces (round-15 advice).
      def overlapExtras(inferred: StructType): StructType = {
        val overlap = sch.fields.filter(f =>
          inferred.fieldNames.exists(_.equalsIgnoreCase(f.name)))
        val extras = inferred.fields.filter(f =>
          !sch.fieldNames.exists(_.equalsIgnoreCase(f.name)))
        StructType((overlap ++ extras).toSeq)
      }
      val raw = fmt match {
        case "parquet" => reader.parquet(newFiles.map(_.toString): _*)
        case "json" =>
          val inferred = spark.read.options(options)
            .json(newFiles.map(_.toString): _*).schema
          reader.schema(overlapExtras(inferred))
            .json(newFiles.map(_.toString): _*)
        case "csv" =>
          // delta-spark's COPY INTO csv defaults: first line is the
          // header (override via FORMAT_OPTIONS). CAVEAT the csv reader
          // dictates: an explicit schema binds BY POSITION (enforceSchema
          // semantics), so the reader schema must keep the FILE's column
          // order — table types substitute in place for overlapping
          // names, inferred types stay for extras; the by-name alignment
          // downstream then works exactly as for json.
          val csvOpts = Map("header" -> "true") ++ options
          // The positional bind below is only sound when EVERY file
          // shares the first file's header: a landing dir fed by two
          // producers with reordered columns would bind one producer's
          // values into the other's columns (PERMISSIVE → nulls/swaps)
          // and COMMIT silently corrupted rows. Refuse loudly instead —
          // one distributed first-line read per file, driver state =
          // one header string per file (∝ the listing already held).
          if (csvOpts.getOrElse("header", "true") == "true" && newFiles.size > 1) {
            val paths = newFiles.map(_.toString)
            val headerOf = spark.sparkContext
              .parallelize(paths, math.min(paths.size, 64))
              .map { p =>
                val hp = new Path(p)
                val hfs = hp.getFileSystem(
                  new org.apache.hadoop.conf.Configuration())
                val in = new java.io.BufferedReader(
                  new java.io.InputStreamReader(hfs.open(hp), "UTF-8"))
                try (p, Option(in.readLine()).getOrElse("")) finally in.close()
              }.collect().toMap
            val canon = headerOf(paths.head)
            val off = paths.filter(p => headerOf(p) != canon)
            require(off.isEmpty,
              "COPY INTO csv: source files disagree on the header row — " +
                "the csv reader binds columns BY POSITION under one " +
                s"schema, so mixed layouts would load corrupted rows. " +
                s"Expected '${canon.take(120)}' (from ${paths.head}); " +
                s"differing: ${off.take(3).mkString(", ")}" +
                (if (off.size > 3) s" (+${off.size - 3} more)" else "") +
                ". Load each layout with its own COPY INTO PATTERN.")
          }
          val inferred = spark.read
            .options(csvOpts + ("inferSchema" -> "true"))
            .csv(newFiles.map(_.toString): _*).schema
          val ordered = StructType(inferred.fields.map { f =>
            sch.fields.find(_.name.equalsIgnoreCase(f.name))
              .map(tf => f.copy(name = tf.name, dataType = tf.dataType))
              .getOrElse(f)
          })
          spark.read.options(csvOpts).schema(ordered)
            .csv(newFiles.map(_.toString): _*)
        case "avro" =>
          // no spark-avro DataSource jar exists in this environment, so
          // the container files decode through the repo's OWN avro layer
          // (the reference is an Avro-first ingester and every graft
          // ingest path already represents avro records as their JSON
          // encoding — serialization/Decoders): a splittable
          // avro-mapred read streams records out as JSON lines, then
          // the json inference discipline above applies unchanged.
          // Union-typed fields surface as their avro-JSON encoding
          // (member-name-keyed objects) — prefer non-union writer
          // schemas, as the reference's fixtures do.
          val jsonDs = DeltaTable.avroContainerJson(spark,
            newFiles.map(_.toString))
          val inferred = spark.read.options(options).json(jsonDs).schema
          reader.schema(overlapExtras(inferred)).json(jsonDs)
      }
      requireIdentityProvided(raw, "COPY INTO")
      // COPY_OPTIONS ('mergeSchema'='true'): extra source columns WIDEN
      // the table through the same evolvedFieldsFor path as append —
      // appended nullable, column-mapping ids minted — and the metaData
      // update rides the SAME commit as the load
      val evolution: Seq[org.apache.spark.sql.types.StructField] =
        if (!mergeSchema) Nil else evolvedFieldsFor(baseSnap, raw.schema)
      val evolvedSchema = StructType(sch.fields ++ evolution)
      val extra = raw.columns.filterNot(c =>
        evolvedSchema.fieldNames.exists(_.equalsIgnoreCase(c)))
      require(extra.isEmpty,
        s"COPY INTO source has columns the table lacks: ${extra.mkString(", ")}" +
          " (COPY_OPTIONS ('mergeSchema'='true') widens the table instead)")
      // defaults and generated columns fill exactly as in append
      val withDefaults = columnDefaults.toSeq.sortBy(_._1).foldLeft(raw) {
        case (d, (n, e)) =>
          if (d.columns.exists(_.equalsIgnoreCase(n))) d
          else d.withColumn(n, org.apache.spark.sql.functions.expr(e))
      }
      val withGen = generatedColumns.toSeq.sortBy(_._1).foldLeft(withDefaults) {
        case (d, (n, e)) =>
          if (d.columns.exists(_.equalsIgnoreCase(n))) d
          else d.withColumn(n, org.apache.spark.sql.functions.expr(e))
      }
      val aligned = withConstraintChecks(evolvedSchema.fields.foldLeft(withGen) { (d, f) =>
        if (d.columns.exists(_.equalsIgnoreCase(f.name))) d
        else {
          require(f.nullable,
            s"COPY INTO source lacks non-nullable column '${f.name}'")
          d.withColumn(f.name, lit(null))
        }
      }.select(evolvedSchema.fields.map(f => col(f.name).cast(f.dataType)).toSeq: _*))
      val parts = partitionColumns
      val arranged =
        if (parts.nonEmpty) aligned.repartition(parts.map(col): _*) else aligned
      val adds = stage(toPhysicalForWrite(arranged, evolvedSchema), physicalPartNames(parts))
      val now = System.currentTimeMillis()
      // an evolving load carries its metaData update in the SAME
      // commit (no reader sees the new columns without the rows or
      // vice versa); column-mapping maxId bumps with the minted ids;
      // a new TIMESTAMP_NTZ column raises the feature atomically too
      val baseMeta =
        if (evolution.isEmpty) None
        else Some(baseSnap.metadata
          .getOrElse(throw new IllegalStateException(s"no table at $path")))
      val schemaUpdate = baseMeta.map(m => Action(metaData = Some(m.copy(
        schemaString = evolvedSchema.json,
        configuration =
          if (!columnMappingEnabled) m.configuration
          else m.configuration + (DeltaTable.ColumnMappingMaxIdKey ->
            evolvedSchema.fields.flatMap(f =>
              if (f.metadata.contains(DeltaTable.ColMapIdKey))
                Some(f.metadata.getLong(DeltaTable.ColMapIdKey))
              else None).max.toString))))).toSeq
      val ntzRaise =
        if (evolution.exists(f => DeltaTable.containsNtz(f.dataType)) &&
          !baseSnap.protocol.exists(_.writerFeatures.exists(_.contains("timestampNtz"))))
          Seq(Action(protocol = Some(raisedProtocol(baseSnap, 3, 7,
            Seq("timestampNtz"), Seq("timestampNtz")))))
        else Nil
      val actions = ntzRaise ++ schemaUpdate ++
        adds.map(a => Action(add = Some(a))) ++
        newFiles.map(p => Action(txn = Some(Txn(appIdOf(p), 0L, Some(now))))) ++
        Seq(Action(commitInfo = Some(CommitInfo(now, "COPY INTO",
          Map("source" -> source, "fileFormat" -> fmt,
            "numSourceFiles" -> newFiles.size.toString),
          operationMetrics = Some(Map(
            "numFiles" -> adds.size.toString,
            "numOutputRows" -> adds.flatMap(_.stats).map(s =>
              Actions.mapper.readTree(s).path("numRecords").asLong(0L))
              .sum.toString,
            "numOutputBytes" -> adds.map(_.size).sum.toString))))))
      // abort if ANY of our files was loaded meanwhile — committing
      // would double their rows (our staged data already fuses them).
      // An evolving load additionally refuses to clobber a schema or
      // configuration change that landed while staging — the outer
      // loop recomputes everything against the winner and retries
      val committed = commitStaged(baseSnap.version, adds.map(_.path), _ => actions,
        s => newFiles.forall(p => !s.txns.contains(appIdOf(p))) &&
          (evolution.isEmpty || (s.metadata.exists(m =>
            org.apache.spark.sql.types.DataType.fromJson(m.schemaString) == sch &&
              m.configuration == baseMeta.get.configuration) &&
            (ntzRaise.isEmpty || s.protocol == baseSnap.protocol))))
      if (committed >= 0) return committed
      if (attempt >= 3) throw new java.util.ConcurrentModificationException(
        "COPY INTO lost the loaded-file (or schema-evolution) race 3 times " +
          "— concurrent writers of the same table; re-run to load the remainder")
    }
    -1L // unreachable
  }

  /** GENERATE symlink_format_manifest (delta-spark's `GENERATE` command):
    * write Hive-symlink manifests under `_symlink_format_manifest/` so
    * engines that read symlink text manifests (Presto, Trino, Athena,
    * Hive) can query the CURRENT table snapshot without a Delta reader.
    * Layout mirrors the data layout: one `manifest` text file per live
    * partition directory (`k1=v1/k2=v2/manifest`; unpartitioned tables
    * get a single root `manifest`), each line one fully-qualified data
    * file URI. Manifest dirs for partitions with no live files are
    * deleted. Returns the table-relative manifest paths written.
    *
    * Refused on deletion-vector tables (a symlink reader would resurrect
    * DV-deleted rows) and on column-mapping tables (external readers
    * resolve parquet columns by PHYSICAL name) — delta-spark's
    * compatibility rules. Scale: manifests are metadata (one small text
    * file per partition, written from the driver's file index); no data
    * bytes move. Reference: kafka-delta-ingest targets external
    * consumers via the delta log itself; this is the Hive-ecosystem
    * bridge delta-spark pairs with it. */
  def generateManifest(): Seq[String] = {
    val snap = snapshot
    require(snap.version >= 0, s"no table at $path")
    val meta = snap.metadata.getOrElse(
      throw new IllegalStateException(s"no table at $path"))
    requireManifestCompatible(meta.configuration, snap.files)
    writeManifests(snap.files, meta.partitionColumns, dirs = None)
  }

  private def requireManifestCompatible(conf: Map[String, String],
                                        live: Seq[AddFile]): Unit = {
    require(!conf.get(DeltaTable.DvConfigKey).contains("true") &&
      !live.exists(_.deletionVector.isDefined),
      "symlink manifests are not supported on deletion-vector tables — " +
        "a manifest reader would see deleted rows; REORG TABLE APPLY " +
        "(PURGE) first")
    require(conf.getOrElse(DeltaTable.ColumnMappingModeKey, "none") == "none",
      "symlink manifests are not supported with column mapping — external " +
        "readers resolve parquet columns by physical name")
  }

  /** The manifest directory a data file belongs to: its Hive partition
    * path built from `partitionValues` (NOT the file's parent dir —
    * shallow-cloned adds carry absolute foreign paths while their
    * partitionValues stay authoritative), "" for unpartitioned tables. */
  private def manifestDirOf(f: AddFile, parts: Seq[String]): String = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
    parts.map { c =>
      val v = f.partitionValues.getOrElse(c, null)
      escapePathName(c) + "=" +
        (if (v == null) DeltaTable.HiveDefaultPartition else escapePathName(v))
    }.mkString("/")
  }

  /** Rewrite manifests from the live file set. `dirs = None` is a FULL
    * generation: every live partition's manifest is (re)written and any
    * stale manifest dir (a partition no longer holding live files) is
    * deleted. `dirs = Some(touched)` rewrites only the touched partition
    * dirs — the incremental path the post-commit hook uses. */
  private def writeManifests(live: Seq[AddFile], parts: Seq[String],
                             dirs: Option[Set[String]]): Seq[String] = {
    val byDir = live.groupBy(f => manifestDirOf(f, parts))
    val manifestRoot = new Path(path, DeltaTable.ManifestDirName)
    val targets = dirs.getOrElse(byDir.keySet)
    val written = scala.collection.mutable.ArrayBuffer.empty[String]
    targets.toSeq.sorted.foreach { dir =>
      val mDir = if (dir.isEmpty) manifestRoot else new Path(manifestRoot, dir)
      byDir.get(dir) match {
        case Some(files) =>
          val mFile = new Path(mDir, "manifest")
          fs.mkdirs(mDir)
          val body = files.map(f =>
            fs.makeQualified(new Path(path, f.path)).toString)
            .sorted.mkString("", "\n", "\n")
          val out = fs.create(mFile, true)
          try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          finally out.close()
          written += (DeltaTable.ManifestDirName +
            (if (dir.isEmpty) "" else "/" + dir) + "/manifest")
        case None =>
          // partition emptied: its manifest must disappear, or a symlink
          // reader keeps resurrecting the dropped files
          if (fs.exists(mDir)) fs.delete(mDir, true)
      }
    }
    if (dirs.isEmpty && fs.exists(manifestRoot)) {
      // full generation also sweeps manifests of partitions that no
      // longer exist at all (not merely emptied-this-commit)
      val it = fs.listFiles(manifestRoot, true)
      val rootQ = fs.makeQualified(manifestRoot).toString
      val stale = scala.collection.mutable.ArrayBuffer.empty[Path]
      while (it.hasNext) {
        val st = it.next()
        if (st.getPath.getName == "manifest") {
          val rel = fs.makeQualified(st.getPath.getParent).toString
            .stripPrefix(rootQ).stripPrefix("/")
          if (!byDir.contains(rel)) stale += st.getPath.getParent
        }
      }
      stale.foreach(p => fs.delete(p, true))
    }
    written.toSeq
  }

  /** Post-commit UniForm hook: when the (possibly just-committed)
    * configuration enables iceberg, advance the [[IcebergUniform]]
    * mirror to the committed version — sync is idempotent per Delta
    * version, so replays and the enabling SET commit itself are safe.
    * The SET/CREATE-time invariant checks
    * ([[DeltaTable.requireIcebergCompatible]]) guarantee sync cannot
    * start refusing mid-lifecycle. */
  private def maybeSyncIceberg(version: Long, prev: Snapshot,
                               actions: Seq[Action]): Unit = {
    val meta = actions.flatMap(_.metaData).lastOption.orElse(prev.metadata)
    val conf = meta.map(_.configuration).getOrElse(Map.empty)
    if (DeltaTable.uniformIcebergOn(conf)) IcebergUniform.sync(this): Unit
  }

  /** Post-commit symlink-manifest maintenance
    * (`delta.compatibility.symlinkFormatManifest.enabled`): after a data
    * commit, rewrite the manifests of exactly the partitions the commit
    * touched; after the enabling ALTER (or any metadata commit), run a
    * full generation. The committed state is derived from the
    * predecessor snapshot + the commit's own actions — no log re-listing
    * on the hot commit path, and hook runs see precisely the state their
    * commit produced even under concurrent writers.
    *
    * Concurrency caveat (delta-spark's too): hooks of RACING writers can
    * land out of order — writer A's manifest for a partition may
    * overwrite writer B's newer one until the partition is next touched.
    * Manifests are eventually consistent with the log; GENERATE is the
    * explicit repair for readers that need a point-in-time sync. */
  private def maybeUpdateManifest(version: Long, prev: Snapshot,
                                  actions: Seq[Action]): Unit = {
    val meta = actions.flatMap(_.metaData).lastOption.orElse(prev.metadata)
    val conf = meta.map(_.configuration).getOrElse(Map.empty)
    if (!conf.get(DeltaTable.SymlinkManifestKey).contains("true")) return
    val parts = meta.map(_.partitionColumns).getOrElse(Nil)
    val adds = actions.flatMap(_.add)
    val removed = actions.flatMap(_.remove).map(_.path).toSet
    val live = log.liveAfter(prev, actions) // the one re-add-wins-by-path rule
    requireManifestCompatible(conf, live)
    val wasOn = prev.metadata.exists(
      _.configuration.get(DeltaTable.SymlinkManifestKey).contains("true"))
    if (!wasOn || actions.exists(_.metaData.isDefined)) {
      writeManifests(live, parts, dirs = None)
    } else {
      // a remove action carries only the path — its partition comes from
      // the predecessor's file index
      val prevByPath = prev.files.iterator.map(f => f.path -> f).toMap
      val touched = (adds.iterator.map(f => manifestDirOf(f, parts)) ++
        removed.iterator.flatMap(prevByPath.get)
          .map(f => manifestDirOf(f, parts))).toSet
      if (touched.nonEmpty) writeManifests(live, parts, Some(touched))
    }
    ()
  }

  /** Post-append auto-compaction (`delta.autoOptimize.autoCompact`,
    * Delta's table property): when the live small-file count reaches the
    * `minNumFiles` threshold, fold them through [[compact]] — the knob
    * that keeps a streaming sink's per-trigger files from accreting into
    * the classic small-files failure without an external OPTIMIZE cron.
    * dataChange=false like any OPTIMIZE (invisible to streams and CDF);
    * quiet on concurrency races (skipping an optimization is safe). */
  private def maybeAutoCompact(): Unit = {
    val conf = snapshot.metadata.map(_.configuration).getOrElse(Map.empty)
    if (!conf.get(DeltaTable.AutoCompactConfigKey).contains("true")) return
    val minFiles = conf.get(DeltaTable.AutoCompactMinFilesKey)
      .map(_.toInt).getOrElse(50)
    val target = 128L * 1024 * 1024
    if (snapshot.files.count(_.size < target) >= minFiles)
      compact(target)
    ()
  }

  /** The table's stats-collection width for footer reads ( -1 ⇒ all). */
  private def statsIndexLimit(conf: Map[String, String]): Int =
    conf.get(DeltaTable.DataSkippingNumIndexedColsKey)
      .flatMap(s => scala.util.Try(s.trim.toInt).toOption)
      .map(n => if (n < 0) Int.MaxValue else n)
      .getOrElse(DeltaTable.DefaultDataSkippingNumIndexedCols)

  /** THE staged write every data-file writer uses: write `frame` (already
    * arranged and under physical column names — each writer keeps its
    * own repartition / rebalance / range routing) to a fresh
    * `_staging-*` dir, then move its parquet files into the table root
    * preserving the Hive partition layout — or under `_change_data/`
    * when `cdc` — and describe each moved file as an [[AddFile]]
    * (partition values from its Hive path; footer-derived stats, none
    * for change files). `conf` is the configuration whose codec and
    * stats width govern the write: REPLACE ... AS SELECT stages under
    * the NEW table config before any commit exists.
    *
    * Failure contract: the staging dir is always removed, and if a move
    * or footer read fails the files already moved are removed before
    * the error surfaces (both through [[discard]]). What the caller then
    * commits goes through [[commitStaged]].
    *
    * Scale: renames are namenode metadata ops and footer reads are one
    * small range-read each, but doing them serially on the driver
    * serializes the commit at thousands of files per batch (round-1
    * verdict #4) — both run on a bounded thread pool here. (The next step
    * at 100 TB would be collecting stats inside the write job's tasks.) */
  private def stage(frame: DataFrame, physParts: Seq[String],
                    conf: Map[String, String] = snapshot.metadata
                      .map(_.configuration).getOrElse(Map.empty),
                    cdc: Boolean = false): Seq[AddFile] = {
    import scala.jdk.CollectionConverters._
    val staging = new Path(path, s"_staging-${java.util.UUID.randomUUID()}")
    val moved = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    try {
      val writer = frame.write.mode("overwrite")
        .option("compression", DeltaTable.codecOf(conf))
      (if (physParts.nonEmpty) writer.partitionBy(physParts: _*) else writer)
        .parquet(staging.toString)
      val statsCols = statsIndexLimit(conf)
      val stagingPrefix = fs.makeQualified(staging).toString
      val files = {
        val it = fs.listFiles(staging, true)
        val buf = mutable.ArrayBuffer.empty[org.apache.hadoop.fs.LocatedFileStatus]
        while (it.hasNext) {
          val st = it.next()
          if (st.getPath.getName.endsWith(".parquet")) buf += st
        }
        buf.toSeq
      }
      DeltaTable.parMap(files) { st =>
        val p = st.getPath
        val sub = fs.makeQualified(p).toString.stripPrefix(stagingPrefix).stripPrefix("/")
        val partitionValues = sub.split('/').dropRight(1).iterator
          .filter(_.contains('='))
          .map { seg =>
            val Array(k, v) = seg.split("=", 2)
            k -> (if (v == DeltaTable.HiveDefaultPartition) null
                  else DeltaTable.unescapePathName(v))
          }.toMap
        val rel = if (cdc) s"_change_data/$sub" else sub
        val dest = new Path(path, rel)
        fs.mkdirs(dest.getParent)
        if (!fs.rename(p, dest))
          throw new RuntimeException(s"failed to move staged file $p -> $dest")
        moved.add(rel)
        AddFile(
          path = rel,
          partitionValues = partitionValues,
          size = st.getLen,
          modificationTime = st.getModificationTime,
          dataChange = true,
          stats = if (cdc) None
                  else ParquetStats.forFile(fs, dest, physParts.toSet, statsCols))
      }
    } catch { case e: Throwable =>
      discard(moved.asScala.toSeq.map(new Path(path, _)))
      throw e
    } finally discard(Seq(staging))
  }

  /** The one place files a commit would have referenced — and staging
    * dirs — are deleted. Best effort with one retry: it runs on paths
    * where another outcome (a lost race, the original error) must
    * surface, and a leftover is only garbage — unreferenced data files
    * wait for VACUUM; a `_staging-*` dir, which VACUUM never collects,
    * is why a transient failure gets the second attempt. */
  private def discard(paths: Seq[Path]): Unit = paths.foreach { p =>
    def attempt(): Boolean =
      try { fs.delete(p, true); true }
      catch { case scala.util.control.NonFatal(_) => false }
    if (!attempt()) attempt(): Unit
  }

  /** Commit files staged by [[stage]] (plus a DV file written for this
    * commit) through [[DeltaLog.commitWith]] and decide their fate.
    * `created` lists their table-relative paths. They are deleted only
    * when the commit provably did not land:
    *   - `check` rejected it (-1: an idempotent replay or a lost race —
    *     the caller decides whether the latter throws);
    *   - it threw something other than [[PostCommitFailure]], and no
    *     version after `base` (a version this writer read before
    *     committing) names any of them.
    * Staged file names carry a UUID, so a version that names one proves
    * this commit published even when the store reported the publish as
    * failed; that surfaces as [[PostCommitFailure]] for the version. If
    * the log cannot be re-read the files stay, for VACUUM, and the
    * original error surfaces. */
  private def commitStaged(base: Long, created: Seq[String],
                           gen: Snapshot => Seq[Action],
                           check: Snapshot => Boolean): Long = {
    val committed =
      try log.commitWith(gen, check)
      catch {
        case e: PostCommitFailure => throw e
        case e: Throwable =>
          val landed =
            try landedVersion(base, created.toSet)
            catch { case scala.util.control.NonFatal(_) => throw e }
          landed.foreach(v => throw new PostCommitFailure(v, e))
          discard(created.map(new Path(path, _)))
          throw e
      }
    if (committed < 0) discard(created.map(new Path(path, _)))
    committed
  }

  /** The first version after `base` whose data, change or DV file
    * references name one of `created`. */
  private def landedVersion(base: Long, created: Set[String]): Option[Long] =
    (base + 1 to log.latestVersion()).find(v =>
      log.readVersion(v).exists(a => a.cdc.exists(c => created(c.path)) ||
        a.add.exists(f => created(f.path) || f.deletionVector.exists(d =>
          d.storageType == "u" &&
            created(DeletionVectors.relativeFileName(d.pathOrInlineDv))))))

  /** Identity columns on non-append write paths: machine assignment
    * lives in [[append]] only. DML that writes NEW row values (merge,
    * overwrite) must provide every identity column explicitly — and the
    * column must allow explicit inserts. The high-water mark does not
    * advance here (Delta proper's answer is SYNC IDENTITY); ids a later
    * append assigns remain collision-free only past the mark, so
    * explicit DML values should stay within already-allocated ranges. */
  private def requireIdentityProvided(source: DataFrame, op: String): Unit =
    schema.fields.filter(_.metadata.contains(DeltaTable.IdentityStartKey)).foreach { f =>
      require(source.columns.exists(_.equalsIgnoreCase(f.name)) &&
        f.metadata.contains(DeltaTable.IdentityAllowExplicitKey) &&
        f.metadata.getBoolean(DeltaTable.IdentityAllowExplicitKey),
        s"$op on a table with identity column '${f.name}' requires the source " +
          "to provide it and the column to allow explicit inserts " +
          "(identityField(allowExplicitInsert = true)) — use append() for " +
          "machine-assigned ids")
    }

  /** Copy-on-write upsert MERGE: [[mergeClauses]] with
    * [[DeltaTable.UpsertClauses]] (`WHEN MATCHED THEN UPDATE SET *
    * WHEN NOT MATCHED THEN INSERT *`). Matched target rows take the
    * source's values for every column the source PROVIDES and keep their
    * own for the rest (delta-rs when-matched-update semantics, so a
    * projected source never null-overwrites unnamed target columns);
    * unmatched source rows insert (absent columns null-fill, the
    * schema-evolution read contract); unmatched target rows are
    * untouched. Only data files that hold a matched row are rewritten.
    *
    * Unlike the clause merge, a source column the table lacks refuses
    * ([[requireKnownColumns]]). A source key matching a target row more
    * than once refuses (Delta's multiple-source-rows-matched error);
    * duplicate keys that match nothing both insert. The txn rides the
    * merge commit: a replayed (appId, version) batch returns -1. Returns
    * the committed version, or -1 when nothing matched and nothing
    * inserts (no commit). */
  def merge(source: DataFrame, keyCols: Seq[String],
            txnAppId: Option[String] = None, txnVersion: Long = -1L): Long = {
    requireKnownColumns(source)
    mergeClauses(source, keyCols, DeltaTable.UpsertClauses, txnAppId, txnVersion)
  }

  /** The upsert merges' typo guard: a source column the table lacks is
    * almost always a misspelled SET column, and dropping it would leave
    * the intended target column unchanged on every matched row — refuse
    * it. (The clause merges keep such columns as condition-only markers.)
    * Case-insensitive, like Spark's column resolution. */
  private[delta] def requireKnownColumns(source: DataFrame): Unit = {
    val tableCols = schema.fieldNames.map(_.toLowerCase).toSet
    val unknown = source.columns.filter(c => !tableCols.contains(c.toLowerCase))
    require(unknown.isEmpty,
      s"source columns ${unknown.mkString(", ")} do not exist in the table schema " +
        "(project them away, or append with mergeSchema to widen first)")
  }

  /** The clause machinery of every MERGE ([[mergeBy]]): validation,
    * clause-group splitting, source alignment, `t.`/`s.` SQL expression
    * resolution over the joined frame (target columns plain, source
    * columns `__merge_src_`-prefixed), the first-satisfied-clause action
    * chain, and the per-column CASE builders for updates and inserts —
    * handed to [[dml]] as a [[Claim]] plus the insert rows. */
  private final class ClauseEngine(source: DataFrame, keyCols: Seq[String],
                                   clauses: Seq[DeltaTable.MergeClause],
                                   effSchema: StructType,
                                   physFields: Set[String]) {
    import DeltaTable._
    requireIdentityProvided(source, "MERGE")
    require(keyCols.nonEmpty, "merge needs at least one key column")
    require(clauses.nonEmpty, "merge needs at least one WHEN clause")
    /** The merge's EFFECTIVE schema — the table's, plus (under
      * mergeSchema) the evolving columns; `physFields` are the columns
      * physically present on the target's files, so an evolving column
      * reads as NULL on target rows ([[targetValue]]). */
    val sch: StructType = effSchema

    /** The target-side value of column `n`: its column when the files
      * have it, a typed NULL when it is this merge's schema evolution. */
    def targetValue(n: String): org.apache.spark.sql.Column =
      if (physFields(n)) col(n)
      else lit(null).cast(sch.fields.find(_.name == n).get.dataType)
    keyCols.foreach(k => require(sch.fieldNames.contains(k), s"unknown key column '$k'"))
    private val srcByLower = source.columns.map(c => c.toLowerCase -> c).toMap
    keyCols.foreach(k => require(srcByLower.contains(k.toLowerCase),
      s"source is missing key column '$k'"))
    private val tableCols = sch.fieldNames.map(_.toLowerCase).toSet
    // source columns OUTSIDE the table schema are legal (Delta proper's
    // semantics): a CDC payload's op/marker columns drive clause
    // conditions via `s.<col>` but are excluded from SET * / INSERT *
    // expansion, so they never write into the table
    private val extraSrcCols: Seq[String] =
      source.columns.filterNot(c => tableCols.contains(c.toLowerCase)).toSeq

    val matchedCs: Seq[MergeClause] = clauses.filter(c =>
      c.isInstanceOf[WhenMatchedUpdate] || c.isInstanceOf[WhenMatchedDelete])
    val insertCs: Seq[WhenNotMatchedInsert] =
      clauses.collect { case c: WhenNotMatchedInsert => c }
    val bySrcCs: Seq[MergeClause] = clauses.filter(c =>
      c.isInstanceOf[WhenNotMatchedBySourceUpdate] ||
        c.isInstanceOf[WhenNotMatchedBySourceDelete])
    Seq("WHEN MATCHED" -> matchedCs, "WHEN NOT MATCHED" -> insertCs,
      "WHEN NOT MATCHED BY SOURCE" -> bySrcCs).foreach { case (g, cs) =>
      cs.dropRight(1).foreach(c => require(c.condition.isDefined,
        s"only the last $g clause may omit its condition"))
    }
    (matchedCs ++ bySrcCs).foreach {
      case WhenMatchedUpdate(set, _) => set.keys.foreach(k =>
        require(sch.fieldNames.exists(_.equalsIgnoreCase(k)), s"UPDATE SET unknown column '$k'"))
      case WhenNotMatchedBySourceUpdate(set, _) =>
        require(set.nonEmpty, "BY SOURCE UPDATE needs explicit SET columns (no source row to take * from)")
        set.keys.foreach(k =>
          require(sch.fieldNames.exists(_.equalsIgnoreCase(k)), s"UPDATE SET unknown column '$k'"))
      case _ => ()
    }
    insertCs.foreach(c => c.values.keys.foreach(k =>
      require(sch.fieldNames.exists(_.equalsIgnoreCase(k)), s"INSERT unknown column '$k'")))

    val pfx = "__merge_src_"
    val provided: Set[String] =
      sch.fieldNames.filter(n => srcByLower.contains(n.toLowerCase)).toSet
    // t/s-qualified SQL → Columns over the joined frame. `mode`: 0 =
    // matched (both sides, bare→target), 1 = by-source (target only),
    // 2 = insert (source only, PLAIN names — the insert frame IS the
    // aligned source)
    private def resolve(sql: String, ctx: String, mode: Int): org.apache.spark.sql.Column = {
      import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
      def canon(n: String): String = sch.fieldNames.find(_.equalsIgnoreCase(n))
        .getOrElse(throw new IllegalArgumentException(
          s"$ctx references unknown column '$n'"))
      def tgt(n: String): org.apache.spark.sql.catalyst.expressions.Expression = {
        require(mode != 2, s"$ctx (an INSERT clause) cannot reference target column '$n'")
        val c = canon(n)
        if (physFields(c)) UnresolvedAttribute(Seq(c))
        else org.apache.spark.sql.catalyst.expressions.Literal.create(null,
          sch.fields.find(_.name == c).get.dataType)
      }
      def src(n: String): UnresolvedAttribute = {
        require(mode != 1,
          s"$ctx (a NOT MATCHED BY SOURCE clause) cannot reference source column '$n' " +
            "— no source row matched, by definition")
        extraSrcCols.find(_.equalsIgnoreCase(n)) match {
          case Some(x) => // a marker column outside the table schema
            UnresolvedAttribute(Seq(if (mode == 2) x else pfx + x))
          case None =>
            val c = canon(n)
            require(provided.contains(c),
              s"$ctx references source column '$n' the source does not provide")
            if (mode == 2 || keyCols.contains(c)) UnresolvedAttribute(Seq(c))
            else UnresolvedAttribute(Seq(pfx + c))
        }
      }
      val bound = spark.sessionState.sqlParser.parseExpression(sql).transformUp {
        case a: UnresolvedAttribute => a.nameParts match {
          case Seq(q, n) if q.equalsIgnoreCase("s") => src(n)
          case Seq(q, n) if q.equalsIgnoreCase("t") => tgt(n)
          case Seq(n) => if (mode == 2) src(n) else tgt(n)
          case _ => throw new IllegalArgumentException(
            s"$ctx: reference columns as t.<col>, s.<col>, or bare, got ${a.sql}")
        }
      }
      org.apache.spark.sql.graft.ColumnBridge.wrap(bound)
    }
    private def condCol(c: Option[String], ctx: String, mode: Int): org.apache.spark.sql.Column =
      c.map(s => coalesce(resolve(s, ctx, mode), lit(false))).getOrElse(lit(true))

    val aligned: DataFrame = source.select((sch.fields.map(f =>
      srcByLower.get(f.name.toLowerCase).map(col).getOrElse(lit(null))
        .cast(f.dataType).as(f.name)).toSeq ++
      extraSrcCols.map(col)): _*).localCheckpoint(true)
    val srcKeys: DataFrame = aligned.select(keyCols.map(col): _*).distinct()
    val srcRen: DataFrame = aligned.select((keyCols.map(col) ++
      provided.toSeq.filterNot(keyCols.contains).map(n => col(n).as(pfx + n)) ++
      extraSrcCols.map(n => col(n).as(pfx + n)) :+
      lit(true).as("__src_present")): _*)
    val present: org.apache.spark.sql.Column = col("__src_present").isNotNull

    /** OR of the by-source conditions (claim test for unmatched target
      * rows) — None when the merge has no by-source clauses. */
    val bySrcHit: Option[org.apache.spark.sql.Column] =
      if (bySrcCs.isEmpty) None
      else Some(bySrcCs.map(c => condCol(c.condition, "WHEN NOT MATCHED BY SOURCE", 1))
        .reduce(_ || _))

    /** First-satisfied-clause index over the joined frame: matched group
      * 1.., by-source group 101.., 0 = no clause claims the row. */
    val act: org.apache.spark.sql.Column = {
      val m = matchedCs.zipWithIndex.foldLeft(Option.empty[org.apache.spark.sql.Column]) {
        case (acc, (c, i)) =>
          val cond = present && condCol(c.condition, "WHEN MATCHED", 0)
          Some(acc.fold(when(cond, lit(i + 1)))(_.when(cond, lit(i + 1))))
      }
      val mb = bySrcCs.zipWithIndex.foldLeft(m) { case (acc, (c, i)) =>
        val cond = !present && condCol(c.condition, "WHEN NOT MATCHED BY SOURCE", 1)
        Some(acc.fold(when(cond, lit(101 + i)))(_.when(cond, lit(101 + i))))
      }
      mb.map(_.otherwise(lit(0))).getOrElse(lit(0))
    }

    private def isUpd(c: MergeClause): Boolean =
      c.isInstanceOf[WhenMatchedUpdate] || c.isInstanceOf[WhenNotMatchedBySourceUpdate]
    val updIdx: Seq[Int] =
      matchedCs.zipWithIndex.collect { case (c, i) if isUpd(c) => i + 1 } ++
        bySrcCs.zipWithIndex.collect { case (c, i) if isUpd(c) => 101 + i }
    val delIdx: Seq[Int] =
      matchedCs.zipWithIndex.collect { case (c, i) if !isUpd(c) => i + 1 } ++
        bySrcCs.zipWithIndex.collect { case (c, i) if !isUpd(c) => 101 + i }
    def inSet(idxs: Seq[Int]): org.apache.spark.sql.Column =
      if (idxs.isEmpty) lit(false) else idxs.map(col("__act") === _).reduce(_ || _)

    private def setValue(n: String, c: MergeClause): Option[org.apache.spark.sql.Column] = c match {
      case WhenMatchedUpdate(set, _) if set.isEmpty => // UPDATE SET *
        if (provided.contains(n) && !keyCols.contains(n)) Some(col(pfx + n)) else None
      case WhenMatchedUpdate(set, _) =>
        set.find(_._1.equalsIgnoreCase(n)).map(kv => resolve(kv._2, "UPDATE SET", 0))
      case WhenNotMatchedBySourceUpdate(set, _) =>
        set.find(_._1.equalsIgnoreCase(n))
          .map(kv => resolve(kv._2, "BY SOURCE UPDATE SET", 1))
      case _ => None
    }
    /** Value of column `n` on a claimed-update row: CASE over the update
      * clauses' indices, falling through to the target's value. */
    def updatedValue(n: String): org.apache.spark.sql.Column = {
      val branches = (matchedCs.zipWithIndex.map { case (c, i) => (i + 1, c) } ++
        bySrcCs.zipWithIndex.map { case (c, i) => (101 + i, c) })
        .collect { case (idx, c) if isUpd(c) => (idx, setValue(n, c)) }
      val f = sch.fields.find(_.name == n).get
      branches.foldRight(targetValue(n)) { case ((idx, v), acc) =>
        v.fold(acc)(vv => when(col("__act") === idx, vv.cast(f.dataType)).otherwise(acc))
      }.as(n)
    }

    /** The anti-joined source frame with its own first-satisfied insert
      * clause index as `__act` (0 = dropped). */
    def insActed(antiSrc: DataFrame): DataFrame = antiSrc.withColumn("__act", {
      insertCs.zipWithIndex.foldLeft(Option.empty[org.apache.spark.sql.Column]) {
        case (acc, (c, i)) =>
          val cond = condCol(c.condition, "WHEN NOT MATCHED", 2)
          Some(acc.fold(when(cond, lit(i + 1)))(_.when(cond, lit(i + 1))))
      }.map(_.otherwise(lit(0))).getOrElse(lit(0))
    })
    def insertValue(n: String): org.apache.spark.sql.Column = {
      val f = sch.fields.find(_.name == n).get
      insertCs.zipWithIndex.foldRight(lit(null).cast(f.dataType): org.apache.spark.sql.Column) {
        case ((c, i), acc) =>
          val v =
            if (c.values.isEmpty) { // INSERT *
              if (provided.contains(n)) col(n) else lit(null).cast(f.dataType)
            } else c.values.find(_._1.equalsIgnoreCase(n))
              .map(kv => resolve(kv._2, "INSERT VALUES", 2).cast(f.dataType))
              .getOrElse(lit(null).cast(f.dataType))
          when(col("__act") === (i + 1), v).otherwise(acc)
      }.as(n)
    }

    /** Ambiguity guard (Delta's multiple-source-rows-matched error): a
      * duplicate-key source row matching a target row would apply two
      * updates — or duplicate a carried row through the join — refuse.
      * Source-side aggregation first (cheap); the target semi-join only
      * runs when duplicates exist at all. */
    def guardDuplicates(tgtKeys: DataFrame): Unit = {
      val dupKeys = aligned.groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as("__c")).filter(col("__c") > 1)
        .select(keyCols.map(col): _*)
      if (!dupKeys.isEmpty) {
        require(dupKeys.join(tgtKeys, keyCols, "left_semi").isEmpty,
          "MERGE: multiple source rows matched the same target row — " +
            "deduplicate the source on the key columns first")
      }
    }

    /** The target-side decisions for [[dml]]: each target row joins the
      * source by key and the first satisfied clause claims it. */
    def claim: Claim = new Claim(
      _.join(srcRen, keyCols, "left_outer").withColumn("__act", act),
      updated = Some(updIdx).filter(_.nonEmpty).map(inSet),
      deleted = Some(delIdx).filter(_.nonEmpty).map(inSet),
      newValue = updatedValue,
      oldValue = targetValue)

    /** Source rows whose key no row of the candidate files holds, through
      * the insert clauses (a row no clause claims drops); None without
      * insert clauses. Exact despite stats pruning: a target key equal to
      * a source key lives in a file whose stats admit it, i.e. a
      * candidate file. */
    def inserts(candKeys: DataFrame): Option[DataFrame] =
      if (insertCs.isEmpty) None
      else Some(insActed(aligned.join(candKeys.distinct(), keyCols, "left_anti"))
        .filter(col("__act") =!= 0)
        .select(sch.fieldNames.toSeq.map(insertValue): _*))
  }

  /** General MERGE with the FULL clause surface (the Delta/ANSI
    * statement; [[merge]] is its upsert special case):
    * `WHEN MATCHED [AND c] THEN UPDATE SET …|DELETE`,
    * `WHEN NOT MATCHED [AND c] THEN INSERT …`, and
    * `WHEN NOT MATCHED BY SOURCE [AND c] THEN UPDATE SET …|DELETE` —
    * conditional CDC apply (op='D' deletes, op='U'/'I' upserts),
    * full-sync replication (by-source DELETE drops rows the source no
    * longer has), and SCD-style conditional updates, each in ONE
    * copy-on-write commit.
    *
    * Semantics (Delta proper's): within each group clauses evaluate in
    * order, first satisfied condition applies, a NULL condition is
    * false; a matched row no matched clause claims — and a
    * not-matched-by-source row no by-source clause claims — carries
    * unchanged; a source row no insert clause claims is dropped. A
    * source with DUPLICATE key rows matching a target row refuses
    * loudly (ambiguous — which update wins would be nondeterministic),
    * exactly Delta's multiple-source-rows-matched error.
    *
    * Expressions are SQL text over `t.<col>` / `s.<col>` (bare names =
    * target, except in INSERT clauses where only the source is in
    * scope). By-source clause expressions see ONLY target columns (no
    * source row matched, by definition). Source columns outside the
    * table schema are condition-only markers; with `mergeSchema`
    * (Delta's autoMerge for MERGE) they instead widen the schema in the
    * same commit, carried rows reading the new columns as NULL.
    *
    * Scale shape: only files containing a CLAIMED row rewrite;
    * matched-key candidates pre-restrict through the add.stats index
    * ([[skipForKeys]]). A by-source clause makes every file a candidate
    * (its condition can hold anywhere, so no key-range pre-restriction
    * is sound — an unconditional by-source DELETE legitimately touches
    * every file holding unmatched rows). Insert detection anti-joins the
    * candidate files' keys.
    *
    * Concurrency: concurrent ADDS refuse (a file appended after the key
    * scan could hold a matched key this merge never saw — committing
    * over it would leave duplicate keys); a lost race throws
    * `ConcurrentModificationException`. The txn rides the commit for
    * exactly-once streaming applies.
    *
    * Row tracking: updated rows KEEP their row id and fall to this
    * commit's version; carried rows keep id and version; inserts get
    * fresh ids. CDF captures update_preimage/postimage, delete, insert
    * rows. Returns the committed version, or -1 on an idempotent-txn
    * skip / when nothing matched any clause (no commit). */
  def mergeClauses(source: DataFrame, keyCols: Seq[String],
                   clauses: Seq[DeltaTable.MergeClause],
                   txnAppId: Option[String] = None,
                   txnVersion: Long = -1L,
                   mergeSchema: Boolean = false): Long =
    mergeBy(mask = false, source, keyCols, clauses, txnAppId, txnVersion, mergeSchema)

  /** APPLY CHANGES (the DLT-style CDC applier, SCD TYPE 1): fold a
    * change feed — key columns, a monotone `sequenceCol`, an optional
    * delete marker — into the table. WITHIN a batch only each key's
    * highest-sequence row applies (window argmax; delete wins a
    * sequence tie, then an md5 tiebreak keeps the pick deterministic
    * under any partitioning). ACROSS batches a change applies only when
    * its sequence is ≥ the stored row's — stale late arrivals no-op —
    * so the TABLE SCHEMA MUST CARRY `sequenceCol` (that stored value IS
    * the cross-batch state; rows predating APPLY CHANGES with a NULL
    * sequence always lose). Delete events remove the row physically
    * (subject to the same sequencing; absent keys no-op).
    *
    * Caveat, documented like DLT's: deletes are PHYSICAL, so a stale
    * insert arriving in a LATER batch than the delete that superseded
    * it re-inserts (no tombstone survives the delete). Within-batch
    * disorder is fully handled; cross-batch disorder must not straddle
    * a delete — or keep soft-delete markers instead of `deleteWhen`.
    *
    * One commit per call (the merge machinery's atomicity/concurrency
    * contract, including txn idempotence for exactly-once feeds).
    * `deleteWhen` is SQL over the SOURCE columns (e.g. "op = 'D'");
    * marker columns outside the table schema ride as condition-only
    * markers and never land in the table. Scale: one keyed shuffle of
    * the batch for the argmax, then [[mergeClauses]]'s
    * stats-pre-restricted file rewrite — cost ∝ batch + touched files,
    * never the table. */
  def applyChanges(changes: DataFrame, keyCols: Seq[String],
                   sequenceCol: String, deleteWhen: Option[String] = None,
                   txnAppId: Option[String] = None,
                   txnVersion: Long = -1L): Long = {
    import DeltaTable._
    require(keyCols.nonEmpty, "applyChanges needs at least one key column")
    require(schema.fieldNames.exists(_.equalsIgnoreCase(sequenceCol)),
      s"table must carry sequence column '$sequenceCol' — it is the " +
        "cross-batch ordering state")
    keyCols.foreach(k => require(changes.columns.exists(_.equalsIgnoreCase(k)),
      s"change feed lacks key column '$k'"))
    val isDel = deleteWhen.map(org.apache.spark.sql.functions.expr)
      .getOrElse(lit(false))
    val marked = changes.withColumn("__is_delete", coalesce(isDel, lit(false)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(col(sequenceCol).desc, col("__is_delete").desc,
        org.apache.spark.sql.functions.md5(
          to_json(struct(marked.columns.map(col).toSeq: _*))).asc)
    val latest = marked
      .withColumn("__rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    val notStale = s"(t.$sequenceCol IS NULL OR s.$sequenceCol >= t.$sequenceCol)"
    val clauses = Seq(
      WhenMatchedDelete(condition = Some(s"s.__is_delete AND $notStale")),
      WhenMatchedUpdate(condition = Some(s"NOT s.__is_delete AND $notStale")),
      WhenNotMatchedInsert(condition = Some("NOT s.__is_delete")))
    // DV tables apply merge-on-read: claimed rows mask by deletion
    // vector, one new file of updates+inserts, ZERO rewrites — the
    // 100 TB CDC-apply shape (the streaming upsert sink's rule)
    if (dvEnabled)
      mergeClausesWithDv(latest, keyCols, clauses, txnAppId, txnVersion)
    else
      mergeClauses(latest, keyCols, clauses, txnAppId, txnVersion)
  }

  /** Merge-on-read MERGE with the FULL clause surface — the 100 TB
    * CDC-apply shape: every CLAIMED target row (matched update/delete
    * AND by-source update/delete) masks OUT of its file by deletion
    * vector, and ONE new file carries the updated rows plus the
    * claimed inserts — zero data-file rewrites. A conditional delete of
    * 0.1% of a 100 TB table commits bitmaps proportional to the deleted
    * rows; the copy-on-write [[mergeClauses]] would rewrite every
    * affected file.
    *
    * Everything but that removal is [[mergeClauses]]' — clause
    * semantics, expression language, ordering, the duplicate-source-key
    * refusal, candidate files and insert detection, row tracking
    * (updated rows keep their ids), CDF capture, the concurrent-adds
    * refusal and the txn: both run [[mergeBy]]. Carried rows differ in
    * mechanism only: copy-on-write rewrites them into fresh files; here
    * they simply stay, untouched, in files whose DVs grew. Affected
    * files must keep their exact DV descriptor until the commit. No
    * `mergeSchema`: schema evolution is copy-on-write only. */
  def mergeClausesWithDv(source: DataFrame, keyCols: Seq[String],
                         clauses: Seq[DeltaTable.MergeClause],
                         txnAppId: Option[String] = None,
                         txnVersion: Long = -1L): Long =
    mergeBy(mask = true, source, keyCols, clauses, txnAppId, txnVersion)

  /** The MERGE half of the four merge entry points: clause validation
    * and source alignment ([[ClauseEngine]]), candidate files, the
    * duplicate-key guard, insert detection and schema evolution, then
    * [[dml]]. */
  private def mergeBy(mask: Boolean, source: DataFrame, keyCols: Seq[String],
                      clauses: Seq[DeltaTable.MergeClause],
                      txnAppId: Option[String], txnVersion: Long,
                      mergeSchema: Boolean = false): Long = {
    requireNotAppendOnly(if (mask) "MERGE (deletion vectors)" else "MERGE")
    val snap = snapshot
    val txn = txnAppId.filter(_ => txnVersion >= 0).map(_ -> txnVersion)
    if (txn.exists { case (app, v) => snap.txns.getOrElse(app, -1L) >= v }) return -1L
    // mergeSchema: source columns outside the table WIDEN the schema —
    // the metaData update rides the SAME commit as the rewrite
    val evolution = if (!mergeSchema) Nil else evolvedFieldsFor(snap, source.schema)
    val sch = StructType(schema.fields ++ evolution)
    val eng = new ClauseEngine(source, keyCols, clauses, sch, schema.fieldNames.toSet)
    // matched-key candidates pre-restrict through the stats index; a
    // by-source clause can claim a row in ANY file, so no restriction
    val cand = if (eng.bySrcCs.isEmpty) skipForKeys(snap, eng.srcKeys, keyCols) else snap
    val candKeys = dfFor(cand).select(keyCols.map(col): _*)
    eng.guardDuplicates(candKeys)
    // an evolving merge carries its metaData (+ any NTZ feature raise)
    // in the same commit, and must not clobber a schema or config
    // change that landed while it staged
    val metaActions: Seq[Action] =
      if (evolution.isEmpty) Nil
      else {
        val meta = snap.metadata.getOrElse(
          throw new IllegalStateException(s"no table at $path"))
        val ntz =
          if (evolution.exists(f => DeltaTable.containsNtz(f.dataType)) &&
            !snap.protocol.exists(_.writerFeatures.exists(_.contains("timestampNtz"))))
            Seq(Action(protocol = Some(raisedProtocol(snap, 3, 7,
              Seq("timestampNtz"), Seq("timestampNtz")))))
          else Nil
        ntz :+ Action(metaData = Some(meta.copy(
          schemaString = sch.json,
          configuration =
            if (!columnMappingEnabled) meta.configuration
            else meta.configuration + (DeltaTable.ColumnMappingMaxIdKey ->
              sch.fields.flatMap(f =>
                if (f.metadata.contains(DeltaTable.ColMapIdKey))
                  Some(f.metadata.getLong(DeltaTable.ColMapIdKey))
                else None).max.toString))))
      }
    dml("MERGE", mask, snap, cand, eng.claim, eng.inserts(candKeys),
      Map("predicateKeys" -> keyCols.mkString(","),
        "clauses" -> clauses.map(_.getClass.getSimpleName).mkString(",")),
      txn, strict = true, sch, metaActions,
      extraCheck = s => evolution.isEmpty ||
        (s.metadata.map(_.schemaString) == snap.metadata.map(_.schemaString) &&
          s.metadata.map(_.configuration) == snap.metadata.map(_.configuration)))
  }

  /** One DML statement's row-level decisions over a target frame, for
    * [[dml]]: `acted` adds `__act` to the target rows (0 = unclaimed: the
    * row stays as it is); `updated` and `deleted` select the claimed rows
    * that are re-added transformed and that just leave (None: the
    * statement has none); `newValue(n)` is column `n` of an updated row,
    * `oldValue(n)` of a target row (a typed NULL for a column this
    * statement's schema evolution adds). */
  private final class Claim(val acted: DataFrame => DataFrame,
                            val updated: Option[org.apache.spark.sql.Column],
                            val deleted: Option[org.apache.spark.sql.Column],
                            val newValue: String => org.apache.spark.sql.Column,
                            val oldValue: String => org.apache.spark.sql.Column = col)

  /** THE body of every MERGE, UPDATE and DELETE (copy-on-write and
    * merge-on-read alike): from the rows `claim` marks in the candidate
    * files `cand` (a stats-pruned restriction of `snap`) and the new rows
    * `inserts`, derive the affected files, the rows to write and the CDF
    * frames, and commit them as one version through [[commitDml]].
    * `mask` is the one choice of how claimed rows leave their files:
    *   - rewrite: every file holding a claimed row is rewritten, its
    *     unclaimed rows carried ([[filesMatching]]);
    *   - mask: the claimed rows get a deletion vector ([[planDvMaskBy]])
    *     and their files stay.
    * Row tracking: updated rows keep their row id and fall to this
    * commit's version; carried rows keep both; inserts get fresh ids.
    * Constraint and generation checks apply to updated and inserted
    * rows. `strict` (MERGE) refuses to commit over files added after
    * `snap` — an appended file could hold a matched key this statement
    * never saw. Returns the committed version, or -1 when nothing is
    * claimed and nothing inserts (no commit). */
  private def dml(op: String, mask: Boolean, snap: Snapshot, cand: Snapshot,
                  claim: Claim, inserts: Option[DataFrame] = None,
                  params: Map[String, String] = Map.empty,
                  txn: Option[(String, Long)] = None, strict: Boolean = false,
                  sch: StructType = schema, extraActions: Seq[Action] = Nil,
                  extraCheck: Snapshot => Boolean = _ => true): Long = {
    import DeltaTable._
    val claimed = (df: DataFrame) => claim.acted(df).filter(col("__act") =!= 0)
    val masks = if (mask) planDvMaskBy(cand, claimed) else Nil
    val affected = if (mask) masks.map(_.f) else filesMatching(cand, claimed)
    if (affected.isEmpty && inserts.forall(_.isEmpty)) return -1L
    val acted = claim.acted(materializingRowIds(cand.copy(files = affected)))
    val plain = sch.fieldNames.toSeq
    val old = (n: String) => claim.oldValue(n).as(n)
    def rows(which: org.apache.spark.sql.Column,
             value: String => org.apache.spark.sql.Column,
             rt: Seq[org.apache.spark.sql.Column] = Nil): DataFrame =
      acted.filter(which).select(plain.map(value) ++ rt: _*)
    val noId = lit(null).cast("long")
    def rtCols(id: org.apache.spark.sql.Column,
               version: org.apache.spark.sql.Column): Seq[org.apache.spark.sql.Column] =
      if (!rowTrackingEnabled) Nil
      else Seq(id.as(MaterializedRowIdCol), version.as(MaterializedRcvCol))
    val updated = claim.updated.map(rows(_, claim.newValue,
      rtCols(col(MaterializedRowIdCol), noId)))
    val fresh = inserts.map(_.select(plain.map(col) ++ rtCols(noId, noId): _*))
    val changed = (updated ++ fresh).reduceOption(_.unionByName(_)).map(withConstraintChecks)
    val newData =
      if (mask) changed
      else {
        val carried = rows(col("__act") === 0, old,
          rtCols(col(MaterializedRowIdCol), col(MaterializedRcvCol)))
        Some(changed.fold(carried)(c => carried.unionByName(c)))
      }
    val cdf = if (!cdfEnabled) None else Some((
      claim.updated.toSeq.flatMap(u => Seq(
        rows(u, old).withColumn(ChangeTypeCol, lit("update_preimage")),
        rows(u, claim.newValue).withColumn(ChangeTypeCol, lit("update_postimage")))) ++
        claim.deleted.map(d => rows(d, old).withColumn(ChangeTypeCol, lit("delete"))) ++
        inserts.map(_.withColumn(ChangeTypeCol, lit("insert"))))
      .reduce(_.unionByName(_)))
    val basePaths = snap.files.map(_.path).toSet
    commitDml(affected, newData, op,
      if (mask) params + ("mode" -> "deletionVectors") else params,
      extraCheck = s => (!strict || s.files.forall(f => basePaths(f.path))) && extraCheck(s),
      conflictHint =
        if (strict) s"a concurrent commit added or rewrote files during this ${op.toLowerCase}"
        else if (mask) "an affected file was rewritten or DV'd concurrently"
        else "a concurrent commit rewrote files this operation was based on",
      changes = cdf, txn = txn, writeSchema = sch, extraActions = extraActions,
      masks = masks)
  }

  /** Copy-on-write DELETE (delta-rs `delete`): drop every row matching
    * `predicate`; only files actually CONTAINING a match are rewritten
    * (the [[dml]] body). Three-valued logic: rows where the predicate is
    * NULL survive — standard DELETE removes only TRUE rows — and a
    * surviving row keeps its row id. Returns the committed version, or
    * -1 when nothing matched (no commit — a no-op delete must not grow
    * the log); a LOST concurrent-rewrite race throws
    * `ConcurrentModificationException` — it must never masquerade as a
    * no-op. Rows in files appended concurrently are not retroactively
    * deleted (the delete covers its read snapshot). */
  def delete(predicate: org.apache.spark.sql.Column): Long =
    dmlWhere("DELETE", mask = false, predicate, set = None)

  /** True when `delta.enableDeletionVectors=true` in the table
    * configuration (the delta-rs / Delta gate for [[deleteWithDv]]). */
  def dvEnabled: Boolean = snapshot.metadata.exists(
    _.configuration.get(DeltaTable.DvConfigKey).contains("true"))

  /** MERGE-ON-READ DELETE via deletion vectors (Delta protocol
    * `deletionVectors` table feature; delta-rs gates it behind
    * `delta.enableDeletionVectors`): instead of rewriting every file
    * containing a match ([[delete]]'s copy-on-write), write a per-file
    * BITMAP of deleted row positions and re-add the file with the
    * descriptor attached — the commit is metadata-plus-KBs regardless of
    * file sizes. Scans ([[rawFor]]) subtract the bitmaps; a later
    * [[purgeDeletionVectors]] or OPTIMIZE materializes them away.
    *
    * This is the 100 TB shape for small-fraction deletes (GDPR erasure,
    * dedup follow-ups, quality-gate revocations): a 0.1% delete under
    * copy-on-write rewrites ~every file; under DVs it writes bitmaps
    * proportional to the DELETED rows and zero data bytes.
    *
    * Semantics match [[delete]]: only predicate-TRUE rows delete (NULL
    * rows survive); rows already DV-deleted cannot re-match (the match
    * scan reads through the DV-applied path); a delete matching nothing
    * returns -1 with no commit. A file whose every remaining row is
    * deleted emits a plain `remove` instead of a 100%-dead DV. Repeated
    * DV deletes MERGE bitmaps (old ∪ new). CDF-enabled tables capture
    * the deleted rows exactly like copy-on-write delete.
    *
    * Concurrency: the commit re-checks that every affected file is still
    * live WITH the descriptor this delete merged from — a concurrent DV
    * delete or rewrite of the same file is a lost race
    * (`ConcurrentModificationException`), never a lost update. Each DV
    * commit also carries the protocol bump to (3, 7) +
    * `deletionVectors` reader/writer features per the spec.
    *
    * Scale shape: per-file positions aggregate and SERIALIZE to roaring
    * bitmaps on the EXECUTORS; the driver collects only (file, compressed
    * bitmap, cardinality) — memory ∝ compressed bitmap bytes (≤ ~1 bit
    * per row of an affected file, usually far less), never 8 bytes × raw
    * deleted positions. Mass deletes still belong to [[delete]] — a DV
    * covering most of the table is the wrong tool regardless of where
    * the bitmap was built. */
  def deleteWithDv(predicate: org.apache.spark.sql.Column): Long =
    dmlWhere("DELETE", mask = true, predicate, set = None)

  /** Merge-on-read UPDATE (the DV sibling of [[deleteWithDv]]): matched
    * rows are masked OUT of their files by deletion vectors — zero data
    * files rewrite — and their TRANSFORMED versions append as new
    * file(s) in the same commit. The 100 TB shape for narrow updates: a
    * point update touches KBs of bitmaps + one small new file instead of
    * rewriting every file a matched row lives in.
    *
    * Row tracking: updated rows KEEP their row id (materialized into the
    * new file) and fall to this commit's version — identical semantics
    * to copy-on-write [[update]]. CDF captures update_preimage/
    * postimage. Constraint/generation checks fuse into the new-file
    * write like any write. Wide updates still belong to [[update]] — a
    * DV covering most of the table is the wrong tool regardless. */
  def updateWithDv(predicate: org.apache.spark.sql.Column,
                   set: Map[String, org.apache.spark.sql.Column]): Long =
    dmlWhere("UPDATE", mask = true, predicate, Some(set))

  /** Merge-on-read upsert MERGE (the DV sibling of [[merge]] — the
    * CDC-apply shape at 100 TB): [[mergeClausesWithDv]] with
    * [[DeltaTable.UpsertClauses]] — matched target rows mask OUT by
    * deletion vectors and ONE new file carries the matched-updated rows
    * plus the inserts, no data file rewrites at all. Same contracts as
    * [[merge]], including the unknown-column refusal. */
  def mergeWithDv(source: DataFrame, keyCols: Seq[String],
                  txnAppId: Option[String] = None, txnVersion: Long = -1L): Long = {
    requireKnownColumns(source)
    mergeClausesWithDv(source, keyCols, DeltaTable.UpsertClauses, txnAppId, txnVersion)
  }

  private final case class DvPlanned(f: AddFile, bytes: Array[Byte], fullFile: Boolean)

  /** The mask half of [[dml]]: positions of the rows `matcher` keeps
    * (over the meta-carrying frame; it must preserve
    * `__meta_fname`/`__meta_pos`) aggregate and SERIALIZE to roaring
    * bitmaps on the EXECUTORS (merged with each file's existing bitmap,
    * broadcast out); the driver collects only (file, compressed bitmap,
    * cardinality). Files whose every remaining row matched are marked
    * `fullFile` (they degrade to plain removes). Nil when nothing
    * matched. Writes nothing: [[commitDml]] writes the DV file after the
    * commit's data files are staged ([[maskedReAdds]]). */
  private def planDvMaskBy(snap: Snapshot,
                           matcher: DataFrame => DataFrame): Seq[DvPlanned] = {
    require(dvEnabled,
      s"${DeltaTable.DvConfigKey} is not 'true' on this table — enable it " +
        "in the table configuration (create(..., configuration)) first")
    if (snap.files.isEmpty) return Nil
    // existing bitmaps ride to the executors by broadcast so the merge
    // with this operation's fresh positions happens where the positions are
    val oldBitmaps: Map[String, Array[Byte]] =
      snap.files.filter(_.deletionVector.isDefined)
        .map(f => fileKey(snap, f) ->
          DeletionVectors.readBitmap(fs, path, f.deletionVector.get)).toMap
    val bcOld = spark.sparkContext.broadcast(oldBitmaps)
    val mergeSer = org.apache.spark.sql.functions.udf { (fname: String, ps: Seq[Long]) =>
      val bytes = DeletionVectors.mergeSerialize(ps.toArray, bcOld.value.get(fname))
      (bytes, DeletionVectors.cardinalityOf(bytes))
    }
    // matching rows through the DV-applied read, aggregated per file and
    // serialized in the same job; one compressed row per affected file
    // comes back to the driver
    val matched: Map[String, (Array[Byte], Long)] = matcher(rawFor(snap, withMeta = true))
      .select(col("__meta_fname").as("__fname"), col("__meta_pos").as("__pos"))
      .groupBy(col("__fname"))
      .agg(org.apache.spark.sql.functions.sort_array(
        org.apache.spark.sql.functions.collect_list(col("__pos"))).as("ps"))
      .select(col("__fname"), mergeSer(col("__fname"), col("ps")).as("s"))
      .select(col("__fname"), col("s._1").as("bytes"), col("s._2").as("card"))
      .collect()
      .map(r => r.getString(0) -> (r.getAs[Array[Byte]](1), r.getLong(2))).toMap
    if (matched.isEmpty) return Nil
    val byKey = snap.files.map(f => fileKey(snap, f) -> f).toMap
    require(byKey.size == snap.files.size,
      "internal: file keys must be unique across the snapshot")
    val affected = matched.keys.toSeq.sorted.map(n => byKey.getOrElse(n,
      throw new IllegalStateException(s"matched file $n not in snapshot")))
    // full-file masks degrade to plain removes (numRecords from the
    // add's stats; the merged cardinality counts old ∪ new)
    def numRecords(f: AddFile): Option[Long] =
      f.stats.map(s => Actions.mapper.readTree(s).path("numRecords").asLong(-1L))
        .filter(_ >= 0L)
    affected.map { f =>
      val (bytes, card) = matched(fileKey(snap, f))
      DvPlanned(f, bytes, numRecords(f).contains(card))
    }
  }

  /** The re-adds of a masked commit: every partly-masked file with its
    * merged deletion vector — inline up to
    * [[DeletionVectors.InlineMaxBytes]], the larger ones batched into ONE
    * new DV file, whose name is appended to `created` so a failure
    * before the commit deletes it too. */
  private def maskedReAdds(masks: Seq[DvPlanned],
                           created: mutable.Buffer[String]): Seq[AddFile] = {
    val partial = masks.filterNot(_.fullFile)
    val big = partial.filter(_.bytes.length > DeletionVectors.InlineMaxBytes)
    val bigDescs =
      if (big.isEmpty) Nil else DeletionVectors.writeDvFile(fs, path, big.map(_.bytes))
    created ++= bigDescs.headOption.map(d => DeletionVectors.relativeFileName(d.pathOrInlineDv))
    val descFor = big.map(_.f.path).zip(bigDescs).toMap
    partial.map(p => p.f.copy(dataChange = true, deletionVector = Some(
      descFor.getOrElse(p.f.path, DeletionVectors.inlineDescriptor(p.bytes)))))
  }

  /** The protocol action a feature-requiring commit carries: versions
    * RAISED to the feature's floor, never lowered, MERGED with what the
    * table already declares. Below the feature-list versions (reader 3 /
    * writer 7) legacy versions imply their features and no lists are
    * written; at or above them the spec says the lists enumerate EVERY
    * active feature, so they are re-derived from table state (plus the
    * `add*` features this very commit is introducing, which the
    * pre-commit state can't yet show). Every protocol-touching write
    * goes through here — a hardcoded action on a feature-bearing table
    * silently downgrades what readers are told (review finding, twice). */
  private def raisedProtocol(snap: Snapshot, floorReader: Int, floorWriter: Int,
                             addReader: Seq[String], addWriter: Seq[String]): Protocol = {
    val old = snap.protocol.getOrElse(Protocol())
    val r = math.max(floorReader, old.minReaderVersion)
    val w = math.max(floorWriter, old.minWriterVersion)
    if (r < 3 && w < 7) Protocol(r, w)
    else {
      val conf = snap.metadata.map(_.configuration).getOrElse(Map.empty)
      val sch = snap.schema.getOrElse(StructType(Nil))
      val mapped = conf.get(DeltaTable.ColumnMappingModeKey)
        .exists(m => m == "name" || m == "id")
      val hasGen = sch.fields.exists(_.metadata.contains(DeltaTable.GenerationExprKey))
      val hasConstraints = conf.keys.exists(_.startsWith(DeltaTable.ConstraintPrefix))
      val hasCdf = conf.get(DeltaTable.CdfConfigKey).contains("true")
      val hasRowTracking = conf.get(DeltaTable.RowTrackingConfigKey).contains("true")
      val hasIdentity = sch.fields.exists(_.metadata.contains(DeltaTable.IdentityStartKey))
      val hasDefaults = sch.fields.exists(_.metadata.contains(DeltaTable.CurrentDefaultKey))
      val hasNtz = sch.fields.exists(f => DeltaTable.containsNtz(f.dataType))
      val reader = (old.readerFeatures.getOrElse(Nil) ++ addReader ++
        (if (hasNtz) Seq("timestampNtz") else Nil) ++
        (if (mapped) Seq("columnMapping") else Nil)).distinct.sorted
      val writer = (old.writerFeatures.getOrElse(Nil) ++ addWriter ++
        (if (mapped) Seq("columnMapping") else Nil) ++
        (if (hasGen) Seq("generatedColumns") else Nil) ++
        (if (hasConstraints) Seq("checkConstraints") else Nil) ++
        (if (hasRowTracking) Seq("rowTracking", "domainMetadata") else Nil) ++
        (if (hasIdentity) Seq("identityColumns") else Nil) ++
        (if (hasDefaults) Seq("allowColumnDefaults") else Nil) ++
        (if (hasNtz) Seq("timestampNtz") else Nil) ++
        (if (hasCdf) Seq("changeDataFeed") else Nil)).distinct.sorted
      // PROTOCOL.md: readerFeatures may only be present when
      // minReaderVersion = 3 — a writer-7-only table (e.g. rowTracking,
      // inCommitTimestamp) must not carry the list or strict readers balk
      Protocol(r, w, if (r >= 3) Some(reader) else None, Some(writer))
    }
  }

  private def protocolWithDv(snap: Snapshot): Protocol =
    raisedProtocol(snap, 3, 7, Seq("deletionVectors"), Seq("deletionVectors"))

  /** Materialize every live deletion vector away (Delta `REORG TABLE …
    * APPLY (PURGE)`): rewrite only the DV-carrying files without their
    * deleted rows and drop the descriptors. dataChange=false — the
    * table's logical content is untouched, so CDF consumers see nothing.
    * Returns the committed version, or -1 when the table has no DVs;
    * quiet on lost races like [[compact]] (skipping an optimization is
    * safe). */
  def purgeDeletionVectors(): Long = {
    val snap = snapshot
    val dvd = snap.files.filter(_.deletionVector.isDefined)
    if (dvd.isEmpty) return -1L
    // DV-applied read; on a row-tracking table the surviving rows carry
    // their materialized identity into the purged files
    val df = materializingRowIds(snap.copy(files = dvd))
    val adds = stage(toPhysicalForWrite(df, schema), physicalPartNames(partitionColumns))
    val expected = dvd.map(f => f.path -> f.deletionVector).toMap
    val actions = dvd.map(f => Action(remove = Some(removeOf(f,
      System.currentTimeMillis(), dataChange = false)))) ++
      adds.map(a => Action(add = Some(a.copy(dataChange = false)))) ++
      Seq(Action(commitInfo = Some(CommitInfo(System.currentTimeMillis(),
        "OPTIMIZE", Map("operation" -> "purgeDeletionVectors")))))
    commitStaged(snap.version, adds.map(_.path), _ => actions, s => {
      val live = s.files.map(f => f.path -> f.deletionVector).toMap
      expected.forall { case (p, dv) => live.get(p).contains(dv) }
    })
  }

  /** Copy-on-write UPDATE (delta-rs `update`): for rows matching
    * `predicate`, replace each column in `set` with its expression (
    * evaluated against the OLD row, the standard UPDATE semantics);
    * non-matching rows in rewritten files are carried unchanged. Returns
    * the committed version, or -1 when nothing matched. */
  def update(predicate: org.apache.spark.sql.Column,
             set: Map[String, org.apache.spark.sql.Column]): Long =
    dmlWhere("UPDATE", mask = false, predicate, Some(set))

  /** The UPDATE/DELETE half of [[dml]]: the predicate-TRUE rows of the
    * files whose stats admit a match ([[skipForDml]]) are claimed — a
    * NULL predicate claims nothing (three-valued logic) — and UPDATE
    * (`set` defined) re-adds them transformed. */
  private def dmlWhere(op: String, mask: Boolean, predicate: org.apache.spark.sql.Column,
                       set: Option[Map[String, org.apache.spark.sql.Column]]): Long = {
    requireNotAppendOnly(if (mask) s"$op (deletion vectors)" else op)
    val sch = schema
    set.foreach { s =>
      require(s.nonEmpty, "update needs at least one SET column")
      s.keys.foreach(k => require(sch.fieldNames.contains(k), s"unknown SET column '$k'"))
    }
    val snap = snapshot
    val hit = col("__act") === 1
    dml(op, mask, snap, skipForDml(snap, predicate), new Claim(
      _.withColumn("__act", coalesce(predicate, lit(false)).cast("int")),
      updated = set.map(_ => hit),
      deleted = if (set.isEmpty) Some(hit) else None,
      newValue = n => set.flatMap(_.get(n)).map(_.cast(sch(n).dataType))
        .getOrElse(col(n)).as(n)))
  }

  /** Align a DML source frame the way [[append]] does: compute omitted
    * generated columns from their expressions, then cast-project to the
    * table schema (constraint/generation checks fuse in separately). */
  private def alignForDml(df: DataFrame): DataFrame = {
    val sch = schema
    val withGen = generatedColumns.toSeq.sortBy(_._1).foldLeft(df) { case (d, (n, e)) =>
      if (d.columns.exists(_.equalsIgnoreCase(n))) d
      else d.withColumn(n, org.apache.spark.sql.functions.expr(e))
    }
    withGen.select(sch.fields.map(f => col(f.name).cast(f.dataType)).toSeq: _*)
  }

  /** INSERT OVERWRITE with a predicate (Delta's `replaceWhere`): one
    * atomic commit deletes every row matching `predicate` and inserts
    * `df` in its place. Every inserted row MUST satisfy the predicate —
    * a nonconforming row fails the write job loudly (Delta's replaceWhere
    * contract), because a row outside the predicate would silently
    * survive the next overwrite of its actual region.
    *
    * Scale shape: only files CONTAINING a matching row rewrite (the
    * [[merge]]/[[delete]] row→file mapping); a predicate on partition
    * columns therefore touches exactly the named partitions — the
    * standard idempotent-backfill shape at 100 TB (recompute one day,
    * `overwriteWhere(col("day") === d, fresh)`).
    *
    * Serializable vs concurrent writers: the commit re-checks that no
    * file beyond the base snapshot exists — a concurrent append could
    * otherwise land matching rows this overwrite never saw, breaking the
    * replace contract (same strictness as [[merge]]). NULL-predicate
    * rows survive, as in [[delete]]. CDF captures delete + insert rows. */
  def overwriteWhere(predicate: org.apache.spark.sql.Column, df: DataFrame): Long = {
    requireNotAppendOnly("OVERWRITE (replaceWhere)")
    requireIdentityProvided(df, "OVERWRITE (replaceWhere)")
    val snap = snapshot
    val aligned = alignForDml(df)
    val conforming = aligned.filter(
      org.apache.spark.sql.functions.when(coalesce(predicate, lit(false)), lit(true))
        .otherwise(org.apache.spark.sql.functions.raise_error(
          concat(lit("replaceWhere: written row does not match the overwrite predicate: "),
            to_json(struct(aligned.columns.map(col).toSeq: _*)))).cast("boolean")))
    val checked = withConstraintChecks(conforming)
    val affected = filesMatching(skipForDml(snap, predicate), _.filter(predicate))
    // row-tracking: carried-over rows keep their identity; the REPLACED
    // rows are new data and get fresh ids at commit
    val survivors = materializingRowIds(snap.copy(files = affected))
      .filter(!coalesce(predicate, lit(false)))
    val checkedRw =
      if (!rowTrackingEnabled) checked
      else checked
        .withColumn(DeltaTable.MaterializedRowIdCol, lit(null).cast("long"))
        .withColumn(DeltaTable.MaterializedRcvCol, lit(null).cast("long"))
    val cdf = if (!cdfEnabled) None else Some(
      dfFor(snap.copy(files = affected))
        .filter(coalesce(predicate, lit(false)))
        .withColumn(DeltaTable.ChangeTypeCol, lit("delete"))
        .unionByName(checked.withColumn(DeltaTable.ChangeTypeCol, lit("insert"))))
    val basePaths = snap.files.map(_.path).toSet
    commitDml(affected, Some(survivors.unionByName(checkedRw)), "WRITE",
      Map("mode" -> "Overwrite", "predicate" -> predicate.toString),
      extraCheck = s => s.files.map(_.path).forall(basePaths.contains),
      conflictHint = "a concurrent commit added or rewrote files during this overwrite",
      changes = cdf)
  }

  /** Full INSERT OVERWRITE: atomically replace the table's entire
    * contents with `df` (schema unchanged — use [[updateSchema]] or
    * `append(mergeSchema=true)` to widen first). Constraint and
    * generated-column checks apply to the new rows like any write. */
  def overwrite(df: DataFrame): Long = {
    requireNotAppendOnly("OVERWRITE")
    requireIdentityProvided(df, "OVERWRITE")
    val snap = snapshot
    val checked = withConstraintChecks(alignForDml(df))
    val cdf = if (!cdfEnabled) None else Some(
      dfFor(snap).withColumn(DeltaTable.ChangeTypeCol, lit("delete"))
        .unionByName(checked.withColumn(DeltaTable.ChangeTypeCol, lit("insert"))))
    val basePaths = snap.files.map(_.path).toSet
    commitDml(snap.files, Some(checked), "WRITE", Map("mode" -> "Overwrite"),
      extraCheck = s => s.files.map(_.path).forall(basePaths.contains),
      conflictHint = "a concurrent commit added or rewrote files during this overwrite",
      changes = cdf)
  }

  /** True when `delta.appendOnly=true` (Delta protocol writer feature
    * `appendOnly`, writer version ≥ 2): the table accepts appends but
    * refuses every operation that deletes or rewrites committed rows. */
  def isAppendOnly: Boolean = snapshot.metadata.exists(
    _.configuration.get(DeltaTable.AppendOnlyConfigKey).contains("true"))

  /** Guard for data-removing DML. File-layout maintenance (compact,
    * OPTIMIZE, purge, vacuum) stays allowed on append-only tables — it
    * rewrites bytes, never logical rows (Delta proper's dataChange=false
    * distinction). */
  private def requireNotAppendOnly(op: String): Unit =
    require(!isAppendOnly,
      s"$op is not allowed: ${DeltaTable.AppendOnlyConfigKey}=true on this table " +
        "(appends and file maintenance only)")

  /** Live files containing at least one row surviving `restrict` (a
    * claim filter or a predicate) — the rewrite half of [[dml]], also
    * used by [[overwriteWhere]], so path normalization can never diverge
    * between them. Bounded collect: ≤ file count.
    *
    * Cost note: the row-level scan runs over the stats-index SURVIVORS
    * only — callers pre-restrict the snapshot through [[skipForDml]] /
    * [[skipForKeys]], so at 100 TB a point DELETE opens the handful of
    * files whose `add.stats` range admits a match, not the table.
    * Catalyst additionally prunes partition DIRECTORIES and pushes
    * comparable predicates into the parquet row-group stats. */
  private def filesMatching(snap: Snapshot,
                            restrict: DataFrame => DataFrame): Seq[AddFile] = {
    if (snap.files.isEmpty) return Nil
    // rawFor applies deletion vectors, so a row already DV-deleted can
    // never mark its file as affected (a delete whose matches were all
    // DV'd before must be a no-op, not a rewrite)
    val raw = rawFor(snap)
    val hitPaths = restrict(raw.withColumn("__file", input_file_name()))
      .select(col("__file")).distinct()
      .collect().map(r => new Path(r.getString(0)).toUri.getPath).toSet
    snap.files.filter(f =>
      hitPaths.contains(fs.makeQualified(new Path(path, f.path)).toUri.getPath))
  }

  /** The schema-evolution delta of a source frame against `baseSnap`'s
    * schema (append's `mergeSchema` and [[mergeClauses]]' share it):
    * source columns the table lacks, appended NULLABLE so existing
    * files read back null-filled. Case-INSENSITIVE name match (Spark's
    * default resolution) — a source column differing only in case must
    * resolve to the existing field, not evolve into a
    * duplicate-modulo-case one, a schema Delta proper rejects outright.
    * On column-mapped tables evolved fields get fresh stable ids and
    * physical names (maxColumnId advances in the same commit). */
  private def evolvedFieldsFor(baseSnap: Snapshot,
                               srcSchema: StructType): Seq[org.apache.spark.sql.types.StructField] = {
    val baseSchema = baseSnap.schema.getOrElse(
      throw new IllegalStateException(s"no table at $path"))
    val have = baseSchema.fieldNames.map(_.toLowerCase).toSet
    val fresh = srcSchema.fields.filter(f => !have.contains(f.name.toLowerCase))
      .map(_.copy(nullable = true)).toSeq
    if (!columnMappingEnabled) fresh
    else {
      val maxId = baseSnap.metadata
        .flatMap(_.configuration.get(DeltaTable.ColumnMappingMaxIdKey))
        .map(_.toLong).getOrElse(0L)
      fresh.zipWithIndex.map { case (f, i) =>
        f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
          .putLong(DeltaTable.ColMapIdKey, maxId + i + 1)
          .putString(DeltaTable.ColMapPhysKey,
            s"col-${java.util.UUID.randomUUID()}")
          .build())
      }
    }
  }

  /** Stage DML output rows with the DML write arrangement: partition
    * values co-located, physical column names. */
  private def stageWrite(newData: DataFrame,
                         writeSchema: StructType = schema): Seq[AddFile] = {
    val parts = partitionColumns
    val arranged = if (parts.nonEmpty) newData.repartition(parts.map(col): _*) else newData
    stage(toPhysicalForWrite(arranged, writeSchema), physicalPartNames(parts))
  }

  /** THE commit tail of every DML ([[dml]], [[overwriteWhere]],
    * [[overwrite]]): stage `newData`, then the change rows, then — for a
    * masked DML — the one DV file for the bitmaps too large to inline,
    * and commit them in one version that removes the `affected` files;
    * `masks` re-adds the partly-claimed ones with their merged deletion
    * vectors (removes precede the re-adds: ReplayState replays in order,
    * keyed by path) and raises the protocol. A failure before the commit
    * deletes everything this tail staged; the commit goes through
    * [[commitStaged]].
    *
    * A failed commit check is a LOST RACE, not a no-op: the staged files
    * are cleaned up and ConcurrentModificationException thrown, so
    * callers can never mistake an unapplied DML for "nothing matched"
    * (compact stays quiet on races — skipping an optimization is safe;
    * skipping a DML is not). Losing to the SAME txn batch is the
    * idempotent replay and returns -1. */
  private def commitDml(affected: Seq[AddFile], newData: Option[DataFrame],
                        operation: String,
                        params: Map[String, String] = Map.empty,
                        extraCheck: Snapshot => Boolean = _ => true,
                        conflictHint: String =
                          "a concurrent commit rewrote files this operation was based on",
                        changes: Option[DataFrame] = None,
                        txn: Option[(String, Long)] = None,
                        writeSchema: StructType = schema,
                        extraActions: Seq[Action] = Nil,
                        masks: Seq[DvPlanned] = Nil): Long = {
    // idempotent-replay pre-check (the append path's txn contract, for
    // DML): a batch the table already recorded skips BEFORE staging;
    // the same predicate re-runs inside the commit check, so a zombie
    // and its restart can't both land
    def txnApplied(s: Snapshot): Boolean = txn.exists { case (app, v) =>
      s.txns.getOrElse(app, -1L) >= v }
    val base = snapshot
    if (txnApplied(base)) return -1L
    val created = mutable.ArrayBuffer.empty[String]
    val (adds, cdcActions, reAdds) =
      try {
        val adds = newData.map(stageWrite(_, writeSchema)).getOrElse(Nil)
        created ++= adds.map(_.path)
        val cdc = changes.map(stageChangeFiles(_, writeSchema)).getOrElse(Nil)
        created ++= cdc.flatMap(_.cdc).map(_.path)
        (adds, cdc, maskedReAdds(masks, created))
      } catch { case e: Throwable =>
        discard(created.toSeq.map(new Path(path, _)))
        throw e
      }
    // a file is "still ours" only with the same path AND the same DV
    // descriptor — a concurrent DV delete keeps the path live while
    // changing the logical content this commit was computed from
    val expected = affected.map(f => f.path -> f.deletionVector).toMap
    val now = System.currentTimeMillis()
    val actions = extraActions ++
      affected.map(f => Action(remove = Some(removeOf(f, now)))) ++
      reAdds.map(a => Action(add = Some(a))) ++
      adds.map(a => Action(add = Some(a))) ++
      cdcActions ++
      txn.map { case (app, v) => Action(txn = Some(Txn(app, v, Some(now)))) }.toSeq ++
      Seq(Action(commitInfo = Some(CommitInfo(now, operation, params,
        operationMetrics = Some(Map(
          "numAddedFiles" -> adds.size.toString,
          "numRemovedFiles" -> (affected.size - reAdds.size).toString,
          "numAddedChangeFiles" -> cdcActions.size.toString,
          "numAddedBytes" -> adds.map(_.size).sum.toString))))))
    var txnSkip = false
    // a masked commit's PROTOCOL regenerates per attempt: a fixed action
    // built from the base snapshot would clobber a feature a concurrent
    // commit raised while this one retried (the widenColumnType invariant)
    val committed = commitStaged(base.version, created.toSeq,
      att => if (masks.isEmpty) actions
             else Action(protocol = Some(protocolWithDv(att))) +: actions,
      s => {
        if (txnApplied(s)) { txnSkip = true; false }
        else {
          val live = s.files.map(f => f.path -> f.deletionVector).toMap
          expected.forall { case (p, dv) => live.get(p).contains(dv) } && extraCheck(s)
        }
      })
    if (committed < 0 && !txnSkip)
      throw new java.util.ConcurrentModificationException(
        s"$operation lost a commit race: $conflictHint")
    committed
  }

  /** Write a DML commit's change rows (table columns + `_change_type`)
    * under `_change_data/` and return the `cdc` actions to ride the same
    * commit. On a partitioned table the change files land in Hive
    * partition dirs with `partitionValues` recorded on the action (the
    * PROTOCOL.md cdc shape, what delta-spark writes) — that is what lets
    * [[changes]]' partition pruning skip other partitions' change files;
    * unpartitioned tables write flat. The reader lists paths from the
    * commit JSON, never the directory layout, and still accepts legacy
    * FLAT change files (empty partitionValues, partition columns
    * inline). Change files carry PHYSICAL column names like data files
    * (the `_change_type` column is not in the schema and passes
    * through). */
  private def stageChangeFiles(changes: DataFrame,
                               writeSchema: StructType = schema): Seq[Action] =
    stage(toPhysicalForWrite(changes, writeSchema), physicalPartNames(partitionColumns),
      cdc = true)
      .map(f => Action(cdc = Some(Actions.AddCDCFile(f.path, f.partitionValues, f.size))))

  /** True when `delta.enableChangeDataFeed=true` in the table
    * configuration: every delete/update/merge then captures its change
    * rows ([[changes]] reads them back). */
  def cdfEnabled: Boolean = snapshot.metadata.exists(
    _.configuration.get(DeltaTable.CdfConfigKey).contains("true"))

  /** CHANGE DATA FEED read (delta-rs `load_cdf` / Delta
    * `table_changes`): every row-level change committed in versions
    * [fromVersion, toVersion], with `_change_type`
    * (insert / delete / update_preimage / update_postimage),
    * `_commit_version`, and `_commit_timestamp`. Appends surface as
    * inserts straight from their data files (no change file is written
    * for them — the Delta protocol's optimization); delete/update/merge
    * read back the `_change_data/` files their commit captured;
    * OPTIMIZE/compaction commits (dataChange=false) contribute nothing.
    *
    * Scale: one commit-JSON read per version (driver metadata, KBs) and
    * one parquet scan over exactly the change/add files of the range —
    * the incremental-consumer cost is proportional to the CHANGES, never
    * to the table. This is what turns a downstream pipeline from
    * re-reading 100 TB per day into reading the day's delta.
    *
    * Refuses loudly when a version in range carries row-level removes
    * but no change data (a DML committed while CDF was off, or a
    * RESTORE — read around those versions), or when the commit JSON was
    * already cleaned up ([[DeltaLog.cleanupMetadata]] bounds CDF
    * retention exactly like Delta's log retention). */
  def changes(fromVersion: Long, toVersion: Long): DataFrame =
    changesFrames(fromVersion, toVersion, streaming = false)

  /** Partition-pruned change feed: change and add files whose
    * `partitionValues` fail `where` (a predicate over partition columns,
    * evaluated EXACTLY per file) are never opened — a per-tenant or
    * per-day CDF consumer over a thousand-commit range reads its own
    * slice of each commit, not every partition's change files. The
    * predicate is exact on partition values, so no residual row filter
    * is needed; non-partition references fail analysis loudly. */
  def changes(fromVersion: Long, toVersion: Long,
              where: org.apache.spark.sql.Column): DataFrame =
    changesFrames(fromVersion, toVersion, streaming = false, Some(where))

  /** [[changes]]'s engine, shared with the CDF-mode streaming source
    * ([[DeltaStreamSource]] `readChangeFeed`): identical file
    * classification, vacuum checks, and version stamping — `streaming`
    * only switches the two scans (and the empty fallback) to
    * streaming-tagged frames. */
  private[delta] def changesFrames(fromVersion: Long, toVersion: Long,
                                   streaming: Boolean,
                                   pruneWhere: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    require(fromVersion >= 0 && toVersion >= fromVersion,
      s"bad version range [$fromVersion, $toVersion]")
    // same conformance gate as the batch scan: unknown reader features
    // falsify change rows exactly as they falsify table rows
    DeltaLog.requireReadSupported(snapshot.protocol)
    require(cdfEnabled,
      s"${DeltaTable.CdfConfigKey} is not 'true' on this table")
    val sch = schema
    val physSch = physicalSchema(sch)
    ensureFieldIdRead()
    // commit-JSON reads: driver metadata, cost ∝ versions (KBs each)
    final case class VersionFiles(v: Long, ts: Long,
                                  cdc: Seq[AddCDCFile], adds: Seq[AddFile])
    val versions: Seq[VersionFiles] = (fromVersion to toVersion).map { v =>
      val actions =
        try log.readVersion(v)
        catch {
          case _: java.io.FileNotFoundException =>
            throw new IllegalStateException(
              s"commit JSON for version $v was cleaned up — change data " +
                "below the surviving log tail is no longer readable")
        }
      val ts = actions.flatMap(_.commitInfo).headOption.map(_.timestamp).getOrElse(0L)
      val cdcFiles = actions.flatMap(_.cdc)
      val dataAdds = actions.flatMap(_.add).filter(_.dataChange)
      val dataRemoves = actions.flatMap(_.remove).filter(_.dataChange)
      if (cdcFiles.isEmpty && dataRemoves.nonEmpty)
        throw new IllegalStateException(
          s"version $v rewrote data without capturing change rows " +
            "(DML before CDF was enabled, or a RESTORE) — no change " +
            "feed exists for it; read around this version")
      // a version WITH change files describes itself entirely through
      // them (merge/update cdc capture inserts too) — its adds are not
      // read twice
      VersionFiles(v, ts, cdcFiles, if (cdcFiles.isEmpty) dataAdds else Nil)
    }.pipe { raw =>
      // exact partition pruning over the WHOLE range in two driver
      // frames (never one per version): change/add files whose
      // partitionValues fail the predicate are dropped before the
      // existence checks and reads below ever see them
      pruneWhere.fold(raw) { p =>
        // legacy FLAT change files carry no partitionValues — keep them
        // conservatively (the residual row filter below stays exact)
        val (evalCdc, legacyCdc) = raw.flatMap(_.cdc).partition(_.partitionValues.nonEmpty)
        val cdcKeep = ((if (evalCdc.isEmpty) Seq.empty[AddCDCFile]
          else evalCdc.zip(partitionKeep(evalCdc.map(_.partitionValues), p))
            .collect { case (f, true) => f }) ++ legacyCdc).toSet
        val allAdds = raw.flatMap(_.adds)
        val addKeep = (if (allAdds.isEmpty) Seq.empty[AddFile]
          else allAdds.zip(partitionKeep(allAdds.map(_.partitionValues), p))
            .collect { case (f, true) => f }).toSet
        raw.map(vf => vf.copy(cdc = vf.cdc.filter(cdcKeep),
          adds = vf.adds.filter(addKeep)))
      }
    }
    // change/data files age out under VACUUM's retention (Delta
    // behavior); a vacuumed range must refuse at ANALYSIS time, not die
    // mid-job with a parquet read error. ONE listing per distinct parent
    // directory — never a per-file fs.exists loop (a nightly consumer
    // over thousands of commits would turn that into thousands of
    // namenode round-trips).
    val needed: Seq[(String, Long)] =
      versions.flatMap(vf => (vf.cdc.map(_.path) ++ vf.adds.map(_.path)).map(_ -> vf.v))
    needed.groupBy { case (rel, _) => new Path(path, rel).getParent }
      .foreach { case (parent, files) =>
        val listed: Set[String] =
          try fs.listStatus(parent).map(_.getPath.getName).toSet
          catch { case _: java.io.FileNotFoundException => Set.empty[String] }
        files.foreach { case (rel, v) =>
          if (!listed.contains(new Path(rel).getName))
            throw new IllegalStateException(
              s"file $rel of version $v was vacuumed — change " +
                "data older than the vacuum retention is no longer readable")
        }
      }
    // version/timestamp attribution by file BASENAME: part-file names
    // embed their write job's UUID, so names never repeat across
    // versions (one job CAN reuse a name across partition directories —
    // same version, so the mapping stays well-defined). This keeps the
    // whole range in TWO scans with a literal-map lookup column instead
    // of one unionByName branch per version — a thousand-commit feed
    // was hitting analyzer depth limits under the per-version chain.
    val verOf: Map[String, Long] = needed.map { case (rel, v) =>
      new Path(rel).getName -> v }.toMap
    val tsByV: Map[Long, Long] = versions.map(vf => vf.v -> vf.ts).toMap
    val tsOf: Map[String, Long] = verOf.map { case (n, v) => n -> tsByV(v) }
    import org.apache.spark.sql.functions.{element_at, substring_index, timestamp_millis, typedLit}
    def stamp(df: DataFrame): DataFrame = {
      val key = substring_index(col("_metadata.file_path"), "/", -1)
      df.withColumn("_commit_version", element_at(typedLit(verOf), key))
        .withColumn("_commit_timestamp", timestamp_millis(element_at(typedLit(tsOf), key)))
    }
    // physical parquet names rename back to logical (identity when
    // unmapped); explicit schemas null-fill pre-evolution files
    val extras = Seq(DeltaTable.ChangeTypeCol, "_commit_version", "_commit_timestamp")
    def toLogical(df: DataFrame): DataFrame = df.select(
      (sch.fields.zip(physSch.fields).map { case (l, p) => col(p.name).as(l.name) } ++
        extras.map(col)).toSeq: _*)
    val addPaths = versions.flatMap(_.adds).map(a => new Path(path, a.path).toString)
    def readFrame(paths: Seq[String], schema: StructType,
                  base: Option[String]): DataFrame =
      if (streaming)
        org.apache.spark.sql.graft.StreamBridge.streamingParquet(
          spark, paths, schema, base)
      else {
        val r = spark.read.schema(schema)
        base.fold(r.parquet(paths: _*))(b =>
          r.option("basePath", b).parquet(paths: _*))
      }
    // change files come in two generations: PARTITIONED (Hive dirs under
    // _change_data/, partitionValues on the action — partition columns
    // fill from the dirs) and legacy FLAT (partition columns inline) —
    // a table's history can carry both, so they read as separate frames
    val (partCdc, flatCdc) = versions.flatMap(_.cdc).partition(_.partitionValues.nonEmpty)
    val cdcSchema =
      physSch.add(DeltaTable.ChangeTypeCol, org.apache.spark.sql.types.StringType)
    val cdcFrames = Seq(
      flatCdc -> None,
      partCdc -> Some(new Path(path, "_change_data").toString)
    ).collect { case (fs0, base) if fs0.nonEmpty =>
      toLogical(stamp(readFrame(
        fs0.map(c => new Path(path, c.path).toString), cdcSchema, base)))
    }
    val addFrame =
      if (addPaths.isEmpty) None
      else Some(toLogical(stamp(
        readFrame(addPaths, physSch,
          if (partitionColumns.nonEmpty) Some(path) else None))
        .withColumn(DeltaTable.ChangeTypeCol, lit("insert"))))
    val out = (cdcFrames ++ addFrame.toSeq).reduceOption(_ unionByName _).getOrElse {
      val fullSchema = org.apache.spark.sql.types.StructType(
        sch.fields.toSeq ++ Seq(
          org.apache.spark.sql.types.StructField(DeltaTable.ChangeTypeCol,
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("_commit_version",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("_commit_timestamp",
            org.apache.spark.sql.types.TimestampType)))
      if (streaming)
        org.apache.spark.sql.graft.StreamBridge.emptyStreaming(spark, fullSchema)
      else spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), fullSchema)
    }
    // residual EXACT row filter: pruning dropped provably-non-matching
    // files; legacy flat change files (no partitionValues) are kept
    // conservatively, and this filter makes the result exact either way
    pruneWhere.fold(out)(p => out.filter(p))
  }

  /** [[changes]]'s output schema (CDF rows = table columns + the three
    * change-metadata columns). */
  private[delta] def cdfSchema: StructType = org.apache.spark.sql.types.StructType(
    schema.fields.toSeq ++ Seq(
      org.apache.spark.sql.types.StructField(DeltaTable.ChangeTypeCol,
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("_commit_version",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("_commit_timestamp",
        org.apache.spark.sql.types.TimestampType)))

  /** RESTORE the table to an earlier version (delta-rs `restore`): one
    * commit that re-adds the target version's files, removes the files
    * added since, and re-points the schema at the target's metadata —
    * history is PRESERVED (restore is a new commit, not a log rewrite),
    * so the restore itself can be time-traveled past or re-restored.
    * Files must still exist on disk: a [[vacuum]] that outlived the
    * target version makes it unrestorable, exactly like Delta proper.
    * Returns the committed version. */
  /** RESTORE by timestamp: [[restoreTo]] of the last version committed
    * at or before the cut ([[DeltaLog.versionAt]]'s time-travel rule —
    * clock-skew clamped, adjusted timestamps). */
  def restoreToTimestamp(timestampMs: Long): Long =
    restoreTo(log.versionAt(timestampMs))

  /** DESCRIBE DETAIL: one row of table-level metadata — entirely from
    * the log (no data files opened; sizeInBytes/numFiles from the live
    * add set, like [[statsSummary]]'s log-only contract). */
  def detail(): DataFrame = {
    val snap = snapshot
    val meta = snap.metadata.getOrElse(
      throw new IllegalStateException(s"no table at $path"))
    val proto = snap.protocol.getOrElse(Actions.Protocol())
    import spark.implicits._
    Seq((
      "delta", meta.id, meta.name.orNull, meta.description.orNull, path,
      meta.partitionColumns, snap.files.size.toLong,
      snap.files.map(_.size).sum, meta.configuration,
      proto.minReaderVersion, proto.minWriterVersion,
      meta.createdTime.map(new java.sql.Timestamp(_)).orNull,
      snap.version,
      // the table-features era columns (delta-spark's DESCRIBE DETAIL
      // shows tableFeatures; clustering + DV state ride along)
      (proto.readerFeatures.getOrElse(Nil) ++ proto.writerFeatures.getOrElse(Nil))
        .distinct.sorted,
      clusteringColumns,
      snap.files.count(_.deletionVector.isDefined).toLong,
      snap.files.flatMap(_.deletionVector).map(_.cardinality).sum))
      .toDF("format", "id", "name", "description", "location", "partitionColumns",
        "numFiles", "sizeInBytes", "properties",
        "minReaderVersion", "minWriterVersion", "createdAt", "version",
        "tableFeatures", "clusteringColumns",
        "numDeletionVectors", "deletedRowCount")
  }

  def restoreTo(version: Long): Long = {
    requireNotAppendOnly("RESTORE")
    val target = log.snapshotAt(version)
    val current = snapshot
    // identity is (path, deletion vector): a file whose DV changed since
    // `version` must be re-added with the TARGET's descriptor, or the
    // restore would silently keep rows deleted after the target version
    val targetFiles = target.files.map(f => (f.path, f.deletionVector) -> f).toMap
    val currentKeys = current.files.map(f => (f.path, f.deletionVector)).toSet
    val readds = target.files.filter(f => !currentKeys.contains((f.path, f.deletionVector)))
    val removes = current.files.filter(f => !targetFiles.contains((f.path, f.deletionVector)))
    readds.foreach { f =>
      require(fs.exists(new Path(path, f.path)),
        s"cannot restore to v$version: data file ${f.path} was vacuumed")
      // a file re-added WITH a deletion vector needs that DV readable too
      // — restoring the file without it would resurrect its deleted rows.
      // physicalLocation derives the on-disk name from the descriptor's
      // z85 UUID and, for absolute "p" descriptors, resolves the path's
      // OWN FileSystem (the table's handle would throw "Wrong FS")
      f.deletionVector.filter(d => d.storageType != "i").foreach { d =>
        val (dfs, p) = DeletionVectors.physicalLocation(fs, path, d)
        require(dfs.exists(p),
          s"cannot restore to v$version: deletion vector $p " +
            s"of ${f.path} was vacuumed")
      }
    }
    val metaUpdate = (target.metadata, current.metadata) match {
      case (Some(t), Some(c)) if t.schemaString != c.schemaString ||
        t.partitionColumns != c.partitionColumns =>
        Seq(Action(metaData = Some(c.copy(schemaString = t.schemaString,
          partitionColumns = t.partitionColumns))))
      case _ => Nil
    }
    // adds/removes were computed against `current`: if ANY concurrent
    // commit changes the file set OR a descriptor before we land,
    // committing them would produce neither the old state nor the new
    // one — fail loudly. Removes precede adds: a same-path re-add with
    // the target's DV must survive the in-order replay.
    val baseKeys = current.files.map(f => (f.path, f.deletionVector)).toSet
    val committed = log.commit(metaUpdate ++
      removes.map(f => Action(remove = Some(removeOf(f,
        System.currentTimeMillis())))) ++
      readds.map(f => Action(add = Some(f))) ++
      Seq(Action(commitInfo = Some(CommitInfo(System.currentTimeMillis(), "RESTORE",
        Map("version" -> version.toString),
        operationMetrics = Some(Map(
          "numRestoredFiles" -> readds.size.toString,
          "numRemovedFiles" -> removes.size.toString)))))),
      check = s => s.files.map(f => (f.path, f.deletionVector)).toSet == baseKeys)
    if (committed < 0)
      throw new java.util.ConcurrentModificationException(
        "RESTORE lost a commit race: a concurrent commit changed the table's file set")
    committed
  }

  /** SHALLOW CLONE (Delta `CREATE TABLE … SHALLOW CLONE`): a new table
    * whose first commit REFERENCES the source's current files by
    * absolute path (the Delta protocol allows absolute `add.path`s) —
    * zero data bytes copy, so forking a 100 TB table for an experiment
    * / a schema trial / a what-if DML run costs one metadata commit.
    * Writes to the clone create local files and log-level removes of
    * the absolute references; the source never observes them. Deletion
    * vectors ride along ("u" table-relative descriptors convert to "p"
    * absolute). Stats, schema (incl. column-mapping metadata), config,
    * and protocol replay into the clone, under a fresh table id.
    *
    * Partitioned sources clone too (round 13): the clone's reads resolve
    * partition columns from `add.partitionValues` via a broadcast
    * per-file probe ([[FileStringValue]]) instead of directory discovery
    * — absolute foreign paths share no basePath, but the log is the
    * protocol's authoritative source of partition values anyway.
    *
    * Caveat, same as Delta proper: a later VACUUM of the SOURCE can
    * collect files the clone still references (clones don't pin source
    * retention).
    *
    * @param version snapshot to clone (-1 = current) — cloning a HISTORIC
    *        version forks the table as of that commit, the
    *        `CLONE … VERSION AS OF` shape
    * @return the clone, ready to read/write */
  def shallowCloneTo(targetPath: String, version: Long = -1L): DeltaTable = {
    val snap = if (version < 0) snapshot else log.snapshotAt(version)
    val meta = snap.metadata.getOrElse(
      throw new IllegalStateException(s"no table at $path"))
    val target = new DeltaTable(spark, targetPath)
    require(!target.exists, s"clone target $targetPath already exists")
    def absolute(rel: String): String =
      fs.makeQualified(new Path(path, rel)).toString
    val adds = snap.files.map { f =>
      f.copy(path = absolute(f.path),
        deletionVector = f.deletionVector.map(d =>
          if (d.storageType == "u")
            d.copy(storageType = "p",
              pathOrInlineDv = absolute(DeletionVectors.relativeFileName(d.pathOrInlineDv)))
          else d))
    }
    target.log.commit(
      Seq(Action(protocol = Some(snap.protocol.getOrElse(Protocol()))),
        Action(metaData = Some(meta.copy(
          id = java.util.UUID.randomUUID().toString,
          createdTime = Some(System.currentTimeMillis()))))) ++
        // domain metadata is TABLE STATE and must ride the clone: without
        // the delta.rowTracking high-water mark, the clone's first append
        // would re-stamp baseRowId 0 over the cloned files' ids; without
        // delta.clustering, optimizeClustered forgets the layout
        snap.domainMetadata.toSeq.sortBy(_._1).map { case (dom, cfg) =>
          Action(domainMetadata = Some(DomainMetadata(dom, cfg))) } ++
        adds.map(a => Action(add = Some(a))) ++
        Seq(Action(commitInfo = Some(CommitInfo(System.currentTimeMillis(), "CLONE",
          Map("source" -> path, "sourceVersion" -> snap.version.toString))))))
    target
  }

  /** DEEP CLONE: an independent full copy — the source's current (or
    * historic) files copy byte-for-byte into the target directory and a
    * fresh log references the copies, so unlike [[shallowCloneTo]] a
    * later VACUUM or lifecycle change of the source can never break the
    * clone. Stats ride verbatim (the bytes are identical); schema,
    * config, protocol, and domain metadata (row-tracking high-water
    * mark, clustering layout) replay under a fresh table id; row-id
    * assignments survive (baseRowId + materialized columns both copy).
    *
    * Scale: the copy fans out as ONE Spark job over the file list —
    * cluster-parallel byte movement, the driver handles only metadata.
    * Relative-path sources keep their exact directory layout (partition
    * dirs stay dir-prunable); absolute references (a shallow-clone
    * chain) materialize under collision-safe basenames in the target
    * root with their partition values intact in the log. File-backed
    * deletion vectors re-store into the clone (driver cost = the
    * compressed bitmap bytes, the same order as a DV read). */
  def deepCloneTo(targetPath: String, version: Long = -1L): DeltaTable = {
    val snap = if (version < 0) snapshot else log.snapshotAt(version)
    val meta = snap.metadata.getOrElse(
      throw new IllegalStateException(s"no table at $path"))
    val target = new DeltaTable(spark, targetPath)
    require(!target.exists, s"clone target $targetPath already exists")
    val targetFs = new Path(targetPath).getFileSystem(
      spark.sessionState.newHadoopConf())
    targetFs.mkdirs(new Path(targetPath))
    // destination rel path: identical layout for relative sources;
    // absolute references (shallow-clone chains) land flat under a
    // collision-safe name — their partition values live in the log and
    // [[rawFor]]'s log-authoritative attach would not even be needed
    // (the copied files are local), but dir layout for them is unknowable
    val dstRelByIdx = snap.files.zipWithIndex.map { case (f, i) =>
      if (!new Path(f.path).isAbsolute) f.path
      else s"clone-$i-${new Path(f.path).getName}"
    }
    val copies = snap.files.zip(dstRelByIdx).map { case (f, rel) =>
      (fs.makeQualified(new Path(path, f.path)).toString, rel)
    }
    val confPairs = {
      import scala.jdk.CollectionConverters._
      spark.sessionState.newHadoopConf().iterator().asScala
        .map(e => e.getKey -> e.getValue).toSeq
    }
    val bcConf = spark.sparkContext.broadcast(confPairs)
    val tgt = targetFs.makeQualified(new Path(targetPath)).toString
    val slices = math.max(1, math.min(copies.size, 512))
    val copied = spark.sparkContext.parallelize(copies, slices).map {
      case (src, rel) =>
        val c = new org.apache.hadoop.conf.Configuration(false)
        bcConf.value.foreach { case (k, v) => c.set(k, v) }
        val srcPath = new Path(src)
        val dstPath = new Path(s"$tgt/$rel")
        val sfs = srcPath.getFileSystem(c)
        val dfs = dstPath.getFileSystem(c)
        org.apache.hadoop.fs.FileUtil.copy(sfs, srcPath, dfs, dstPath,
          false, true, c)
        1L
    }.sum()
    require(copied == copies.size.toLong,
      s"deep clone copied $copied of ${copies.size} files")
    // file-backed DVs re-store into the clone's own directory (fresh
    // "u"/"i" descriptors); inline ones ride unchanged
    val adds = snap.files.zip(dstRelByIdx).map { case (f, rel) =>
      val dv = f.deletionVector.map { d =>
        if (d.storageType == "i") d
        else {
          val bytes = DeletionVectors.readBitmap(fs, path, d)
          if (bytes.length <= DeletionVectors.InlineMaxBytes)
            DeletionVectors.inlineDescriptor(bytes)
          else DeletionVectors.writeDvFile(targetFs, targetPath, Seq(bytes)).head
        }
      }
      f.copy(path = rel, deletionVector = dv)
    }
    target.log.commit(
      Seq(Action(protocol = Some(snap.protocol.getOrElse(Protocol()))),
        Action(metaData = Some(meta.copy(
          id = java.util.UUID.randomUUID().toString,
          createdTime = Some(System.currentTimeMillis()))))) ++
        snap.domainMetadata.toSeq.sortBy(_._1).map { case (dom, cfg) =>
          Action(domainMetadata = Some(DomainMetadata(dom, cfg))) } ++
        adds.map(a => Action(add = Some(a))) ++
        Seq(Action(commitInfo = Some(CommitInfo(System.currentTimeMillis(), "CLONE",
          Map("source" -> path, "sourceVersion" -> snap.version.toString,
            "mode" -> "deep"))))))
    target
  }

  /** Read the current snapshot as a DataFrame (partition columns restored
    * from directory layout, cast to the declared schema types). */
  def toDF: DataFrame = dfFor(snapshot)

  def rowTrackingEnabled: Boolean = snapshot.metadata.exists(
    _.configuration.get(DeltaTable.RowTrackingConfigKey).contains("true"))

  /** The table with the row-tracking metadata columns `_row_id` and
    * `_row_commit_version` (Delta "Row Tracking" reader surface): stable
    * per-row identity assigned at commit time, preserved through
    * OPTIMIZE/compaction via materialized columns. Fresh rows read
    * `baseRowId + row_index`; rewritten-file rows read the materialized
    * value. */
  def toDFWithRowIds: DataFrame = {
    require(rowTrackingEnabled,
      s"${DeltaTable.RowTrackingConfigKey} is not 'true' on this table")
    rawFor(snapshot, withRowIds = true)
  }

  /** The clustered table's clustering columns (LOGICAL names — the
    * `delta.clustering` domain stores physical ones). Empty when the
    * table was not created with `clusterBy`. */
  def clusteringColumns: Seq[String] = {
    val snap = snapshot
    snap.domainMetadata.get(DeltaTable.ClusteringDomain).toSeq.flatMap { cfg =>
      val node = Actions.mapper.readTree(cfg).path("clusteringColumns")
      val phys = (0 until node.size).map(i => node.get(i).get(0).asText())
      val logicalByPhys = snap.schema.map(_.fields.map(f =>
        physicalName(f) -> f.name).toMap).getOrElse(Map.empty)
      phys.map(p => logicalByPhys.getOrElse(p, p))
    }
  }

  /** `ALTER TABLE ... CLUSTER BY (cols)` / `CLUSTER BY NONE` (delta's
    * liquid re-clustering statement): change — or first enable, or with
    * `Nil` clear — the clustering columns in ONE metadata commit. No
    * data moves: existing ZCube tags record the OLD physical columns, so
    * the next incremental [[optimizeClustered]] correctly treats every
    * file as a candidate under the new keys (and `OPTIMIZE FULL` is the
    * explicit whole-table lever — the reason it exists). Enabling
    * clustering on a previously-unclustered table raises the
    * `clusteredTable`+`domainMetadata` features; `NONE` keeps the
    * features (delta's rule — protocol never downgrades here) but clears
    * the columns, so clustering maintenance refuses until re-enabled.
    * Refused on Hive-partitioned tables: directory partitioning and
    * liquid clustering are exclusive layouts. Returns the committed
    * version. */
  def alterClusterBy(cols: Seq[String]): Long = {
    val snap = snapshot
    require(snap.version >= 0, s"no table at $path")
    val meta = snap.metadata.getOrElse(
      throw new IllegalStateException(s"no table at $path"))
    require(meta.partitionColumns.isEmpty || cols.isEmpty,
      "CLUSTER BY is not supported on Hive-partitioned tables — directory " +
        "partitioning and liquid clustering are exclusive layouts")
    val sch = snap.schema.getOrElse(StructType(Nil))
    val fields = cols.map(c => sch.fields.find(_.name.equalsIgnoreCase(c))
      .getOrElse(throw new IllegalArgumentException(
        s"clustering column '$c' is not a table column")))
    val domain = Action(domainMetadata = Some(DomainMetadata(
      DeltaTable.ClusteringDomain,
      Actions.mapper.writeValueAsString(Map(
        "clusteringColumns" -> fields.map(f => Seq(physicalName(f))))))))
    val hasFeature = snap.protocol.exists(_.writerFeatures.exists(
      _.contains("clusteredTable")))
    val raise =
      if (cols.isEmpty || hasFeature) Nil
      else Seq(Action(protocol = Some(raisedProtocol(snap,
        snap.protocol.map(_.minReaderVersion).getOrElse(1), 7,
        Nil, Seq("clusteredTable", "domainMetadata")))))
    val committed = log.commit(
      raise ++ Seq(domain,
        Action(commitInfo = Some(CommitInfo(System.currentTimeMillis(),
          "CLUSTER BY", Map("clusterBy" ->
            Actions.mapper.writeValueAsString(cols)))))),
      // a metadata race (REPLACE, concurrent ALTER) invalidates the
      // domain/protocol this commit was computed from — refuse, re-run
      check = s => s.metadata.exists(_.id == meta.id) &&
        s.protocol == snap.protocol &&
        s.domainMetadata.get(DeltaTable.ClusteringDomain) ==
          snap.domainMetadata.get(DeltaTable.ClusteringDomain))
    if (committed < 0)
      throw new java.util.ConcurrentModificationException(
        "ALTER CLUSTER BY lost a metadata race — re-run against the winner")
    committed
  }

  /** Incremental clustering maintenance for a `clusterBy` table (the
    * liquid-clustering OPTIMIZE shape): re-sort on the Hilbert index of
    * the stored clustering columns — callers never re-state the keys, so
    * every maintenance run and every writer agrees on the layout. One
    * clustering column degrades to a plain range-sort on that column.
    *
    * INCREMENTAL by construction (the liquid contract): files already in
    * a final ZCube of the clustering columns are skipped, so re-running
    * after each ingest batch costs the batch, not the table. ZCube tags
    * record PHYSICAL column names (like the clustering domain itself),
    * so a metadata-only RENAME of a clustering column keeps every
    * existing cube valid — maintenance after a rename stays a no-op;
    * correctness never depends on the tags either way. */
  def optimizeClustered(numFiles: Int = 0,
                        where: Option[org.apache.spark.sql.Column] = None,
                        full: Boolean = false): Long = {
    val cols = clusteringColumns
    require(cols.nonEmpty, "not a clustered table — create(clusterBy = ...) first")
    // true N-dimensional curve for >2 keys ([[optimizeHilbert]] Seq
    // form — Skilling transpose), not a 2-D fold with tiebreaks: every
    // clustering column's per-file stats tighten, so skipping serves
    // predicates on any of them. `full` (delta-spark's OPTIMIZE FULL)
    // rewrites final cubes too — the lever after ALTER CLUSTER BY, when
    // incremental maintenance would correctly skip everything under the
    // old keys.
    optimizeHilbert(cols, numFiles, where, incremental = !full)
  }

  /** Time travel: the table as of `version` — that version's file set AND
    * that version's schema (a later schema evolution must not leak into a
    * historical read). */
  def toDF(version: Long): DataFrame = dfFor(log.snapshotAt(version))

  /** Time travel by datetime (delta-rs `load_with_datetime` /
    * `timestampAsOf`): the table as of the last commit at or before
    * `timestampMs`. */
  def toDFAsOf(timestampMs: Long): DataFrame =
    dfFor(log.snapshotAt(log.versionAt(timestampMs)))

  /** Stats-pruned read: skip files whose add.stats / partitionValues prove
    * no row can satisfy the predicate conjunction, then apply the exact
    * predicate to the survivors (pruning is a pure optimization — results
    * never depend on it). See [[DataSkipping]]. */
  def scan(preds: Seq[DataSkipping.ColPred]): DataFrame = {
    val snap = snapshot
    val surviving = DataSkipping.prune(snap, toPhysicalPreds(withDerived(preds)))
    // the EXACT filter stays the caller's predicates — derived partition
    // conjuncts are pruning-only and can never change results
    dfFor(snap.copy(files = surviving)).filter(DataSkipping.exprFor(preds))
  }

  /** Backfill per-file stats (the delta-spark stats-recompute shape):
    * re-add live files LACKING `add.stats` (or ALL live files with
    * `onlyMissing = false` — e.g. after raising
    * `delta.dataSkippingNumIndexedCols`) with footer-derived stats,
    * `dataChange = false` so streams and CDF never re-emit. A
    * foreign-written log or a CONVERTed import becomes skippable without
    * rewriting a byte of data — one footer read per file (driver pool
    * below [[DeltaTable.distributedStatsThreshold]], one Spark job
    * above) and a metadata-sized commit. Returns the committed version,
    * -1 when nothing needed stats. */
  def recomputeStats(onlyMissing: Boolean = true): Long = {
    val snap = snapshot
    val targets = if (onlyMissing) snap.files.filter(_.stats.isEmpty) else snap.files
    if (targets.isEmpty) return -1L
    val width = statsIndexLimit(snap.metadata.map(_.configuration).getOrElse(Map.empty))
    // physical names: parquet footers carry physical columns; absolute
    // add.paths (shallow clones) resolve via Path(parent, child) URI rules
    val physParts = physicalPartNames(partitionColumns).toSet
    val statsOf: Map[String, Option[String]] = DeltaTable.footerStats(
      spark, spark.sessionState.newHadoopConf(),
      targets.map(f => f.path -> fs.makeQualified(new Path(path, f.path)).toString),
      physParts, width)
    val reAdds = targets.flatMap(f => statsOf(f.path).map(s =>
      Action(add = Some(f.copy(stats = Some(s), dataChange = false)))))
    if (reAdds.isEmpty) return -1L // every footer read failed: nothing to say
    val expected = targets.map(f => f.path -> f.deletionVector).toMap
    log.commit(
      reAdds :+ Action(commitInfo = Some(
        CommitInfo(System.currentTimeMillis(), "COMPUTE STATS"))),
      // a re-add must describe the file a concurrent writer left live —
      // same path AND same DV descriptor (stats are physical-file facts,
      // DV-independent, but a vanished file must not resurrect)
      check = s => {
        val live = s.files.map(f => f.path -> f.deletionVector).toMap
        expected.forall { case (p, dv) => live.get(p).contains(dv) }
      })
  }

  /** DML candidate pre-restriction through the `add.stats` index: the
    * snapshot narrowed to files the predicate's ColPred-expressible
    * conjuncts cannot rule out — the SAME pruning pipeline as [[scan]]
    * (generated-partition derivation + physical-name translation), so a
    * point DELETE/UPDATE on a stats'd column touches the few matching
    * files instead of row-scanning the table. Pure optimization: the
    * row-level restriction still runs on the survivors. */
  private def skipForDml(snap: Snapshot,
                         predicate: org.apache.spark.sql.Column): Snapshot = {
    val preds = DataSkipping.fromFilter(spark, schema, predicate)
    if (preds.isEmpty) snap
    else snap.copy(files =
      DataSkipping.prune(snap, toPhysicalPreds(withDerived(preds))))
  }

  /** [[skipForDml]] for the MERGE shape: matches are equality on
    * `keyCols`, so per-key [min, max] ranges of the SOURCE keys (one
    * tiny aggregate over the distinct-key frame) bound which target
    * files can hold a match — a CDC batch of recent keys merges into a
    * time-ordered 100 TB table by opening only the recent files. A file
    * outside the range on ANY key column has no matching row (matching
    * needs every key equal). Null-safe: min/max ignore null keys and a
    * null key never equality-matches. */
  private def skipForKeys(snap: Snapshot, srcKeys: DataFrame,
                          keyCols: Seq[String]): Snapshot = {
    if (snap.files.size <= 1) return snap
    val aggs = keyCols.flatMap(k => Seq(
      org.apache.spark.sql.functions.min(col(k)).as(s"__min_$k"),
      org.apache.spark.sql.functions.max(col(k)).as(s"__max_$k")))
    val r = srcKeys.agg(aggs.head, aggs.tail: _*).head()
    val preds = keyCols.zipWithIndex.flatMap { case (k, i) =>
      (Option(r.get(2 * i)), Option(r.get(2 * i + 1))) match {
        case (Some(lo), Some(hi)) => Seq(
          DataSkipping.ColPred(k, ">=", lo), DataSkipping.ColPred(k, "<=", hi))
        case _ => Nil // all-null source keys: nothing can match anyway
      }
    }
    if (preds.isEmpty) snap
    else snap.copy(files =
      DataSkipping.prune(snap, toPhysicalPreds(withDerived(preds))))
  }

  /** Caller predicates plus partition conjuncts implied through
    * monotone GENERATED partition columns ([[GeneratedPruning]]): a
    * table partitioned by `day GENERATED AS (CAST(ts AS DATE))` prunes
    * to the matching days on a bare `ts` range. */
  private def withDerived(preds: Seq[DataSkipping.ColPred]): Seq[DataSkipping.ColPred] =
    preds ++ GeneratedPruning.derive(spark, schema, partitionColumns,
      generatedColumns, preds)

  /** add.stats are keyed by PHYSICAL column names — translate predicate
    * columns before pruning (the exact filter stays logical). */
  private def toPhysicalPreds(preds: Seq[DataSkipping.ColPred]): Seq[DataSkipping.ColPred] = {
    val m = schema.fields.map(f => f.name -> physicalName(f)).toMap
    preds.map(p => p.copy(column = m.getOrElse(p.column, p.column)))
  }

  /** Files the predicate conjunction cannot rule out (exposed for tests
    * and for observability of skipping effectiveness). */
  def scanFiles(preds: Seq[DataSkipping.ColPred]): Seq[Actions.AddFile] =
    DataSkipping.prune(snapshot, toPhysicalPreds(withDerived(preds)))

  /** Disjunctive pruned read: `column IN (values)` — the union of each
    * value's [[DataSkipping]] survivors ([[scan]] can only express
    * conjunctions). On a table partitioned by `column` this reads exactly
    * the matching partitions' files — the IVF probe path
    * ([[graft.ops.Similarity.ivfTopKDelta]]) and any multi-tenant /
    * multi-day read reduce to this. The exact IN filter re-applies to
    * survivors, so results never depend on pruning. */
  def scanIn(column: String, values: Seq[Any]): DataFrame = {
    val snap = snapshot
    dfFor(snap.copy(files = pruneIn(snap, column, values)))
      .filter(col(column).isin(values: _*))
  }

  /** [[scanIn]]'s surviving file set (for tests / observability) — the
    * SAME pruning code path, so the observed set can't drift. */
  def scanInFiles(column: String, values: Seq[Any]): Seq[Actions.AddFile] =
    pruneIn(snapshot, column, values)

  /** LOG-ONLY table statistics: row count plus exact min/max per
    * requested column, computed entirely from `add.stats` — not one
    * parquet data file is opened (StatsSpec proves it by deleting them).
    * This is the delta-rs/Delta `SELECT count(*)`-from-metadata fast
    * path generalized: on a 100 TB table the answer costs one log
    * replay (already cached in [[snapshot]]) instead of a full scan —
    * the difference between milliseconds and a cluster-hour.
    *
    * Exactness: the writer records per-file numRecords and TRUE min/max
    * for every leaf column ([[ParquetStats]], reference ST1), and every
    * rewrite (delete/update/merge/compact) re-derives stats from the
    * rewritten files' footers — so sum/min/max over live files equal the
    * values a full scan would produce. String stats are exact (no
    * truncation in our writer). A file missing stats, or a column
    * missing from a file's stats, yields NULL for that column's bounds
    * (never a silently-wrong bound); zero-row files contribute nothing.
    *
    * Returns one row: (n_rows, min_<c>, max_<c> ...) with bound types
    * following the table schema (int widens to long). */
  def statsSummary(cols: Seq[String]): DataFrame = {
    val sch = schema
    cols.foreach(c => require(sch.fieldNames.contains(c), s"unknown column '$c'"))
    val types: Map[String, org.apache.spark.sql.types.DataType] =
      sch.fields.map(f => f.name -> f.dataType).toMap
    import org.apache.spark.sql.types._
    def boundType(c: String): DataType = types(c) match {
      case ByteType | ShortType | IntegerType | LongType => LongType
      case DoubleType | FloatType => DoubleType
      case StringType => StringType
      case other => throw new IllegalArgumentException(
        s"statsSummary supports numeric and string columns, '$c' is $other")
    }
    val liveFiles = snapshot.files
    val parsed = liveFiles.map(f => f.stats.map(Actions.mapper.readTree))
    // stats are keyed by PHYSICAL column name (the footers' names)
    val physOf: Map[String, String] =
      sch.fields.map(f => f.name -> physicalName(f)).toMap
    def bound(c: String, key: String): Seq[Option[Any]] = liveFiles.zip(parsed).map {
      case (f, st) =>
        // a deletion vector may have removed the very row a bound came
        // from — the file's stats stay valid OUTER bounds (skipping still
        // prunes on them) but are no longer exact attained values
        if (f.deletionVector.isDefined) None
        else st.flatMap { s =>
          val n = s.path(key).path(physOf(c))
          if (n.isMissingNode || n.isNull ||
              s.path("numRecords").asLong(0L) == 0L) None
          else boundType(c) match {
            case LongType => Some(n.asLong())
            case DoubleType => Some(n.asDouble())
            case _ => Some(n.asText())
          }
        }
    }
    def fold(vs: Seq[Option[Any]], wantMin: Boolean): Any = {
      val known = vs.flatten
      // a single stats-less NON-EMPTY file makes the bound unknowable
      val unknowable = vs.zip(parsed).exists { case (v, st) =>
        v.isEmpty && st.forall(_.path("numRecords").asLong(1L) != 0L) }
      if (known.isEmpty || unknowable) null
      else known.reduce[Any] { (a, b) =>
        val cmp = (a, b) match {
          case (x: Long, y: Long) => java.lang.Long.compare(x, y)
          case (x: Double, y: Double) => java.lang.Double.compare(x, y)
          case (x: String, y: String) => x.compareTo(y)
          case _ => 0
        }
        if ((cmp <= 0) == wantMin) a else b
      }
    }
    val nRows = parsed.map(_.map(_.path("numRecords").asLong(0L)).getOrElse(
      throw new IllegalStateException(
        "a live file has no stats: row count from the log would be wrong — scan instead"))).sum -
      liveFiles.flatMap(_.deletionVector).map(_.cardinality).sum // logical = physical − deleted
    val values: Seq[Any] = nRows +: cols.flatMap { c =>
      Seq(fold(bound(c, "minValues"), wantMin = true),
        fold(bound(c, "maxValues"), wantMin = false))
    }
    val outSchema = StructType(
      StructField("n_rows", LongType, nullable = false) +:
        cols.flatMap(c => Seq(
          StructField(s"min_$c", boundType(c), nullable = true),
          StructField(s"max_$c", boundType(c), nullable = true))))
    spark.createDataFrame(
      java.util.Collections.singletonList(org.apache.spark.sql.Row(values: _*)),
      outSchema)
  }

  private def pruneIn(snap: Snapshot, column: String,
                      values: Seq[Any]): Seq[Actions.AddFile] =
    // ONE pass with an IN predicate — the per-value union form was
    // O(files × values) with a stats-JSON parse per (file, value),
    // measurably slow on wide probes (a 118-bucket IVF/adjacency probe
    // over a 2048-file table spent ~0.8 s here); DataSkipping's "in"
    // keeps a file iff ANY candidate may match, which is exactly the
    // per-value union
    DataSkipping.prune(snap,
      toPhysicalPreds(Seq(DataSkipping.ColPred(column, "in", values))))

  private def dfFor(snap: Snapshot): DataFrame = {
    // gate BEFORE the empty-table shortcut: emptiness itself is an
    // answer an unknown reader feature could falsify
    DeltaLog.requireReadSupported(snap.protocol)
    val sch = snap.schema.getOrElse(
      throw new IllegalStateException(s"no table metadata at $path"))
    if (snap.files.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sch)
    rawFor(snap).select(sch.fields.map(f => col(f.name).cast(f.dataType)).toSeq: _*)
  }

  /** A STREAMING-tagged batch over an explicit live-file set — the
    * [[DeltaStreamSource.getBatch]] read path. Mirrors [[rawFor]]'s
    * physical→logical rename and declared-schema cast (column-mapped
    * tables stream under their LOGICAL names). Files carrying deletion
    * vectors need `dvSnap` (the snapshot they belong to, for partition-
    * aware file keys): their masks apply as the same broadcast-bitmap
    * scan-stage filter as the batch path, so a DV-maintained table's
    * initial snapshot streams its LOGICAL rows. The incremental tail
    * path stays DV-free by construction (DV re-adds never re-emit). */
  private[delta] def streamingBatchFor(files: Seq[AddFile],
                                       dvSnap: Option[Snapshot] = None): DataFrame = {
    import org.apache.spark.sql.graft.{ColumnBridge, StreamBridge}
    val sch = schema
    if (files.isEmpty) return StreamBridge.emptyStreaming(spark, sch)
    val dvd = files.filter(_.deletionVector.isDefined)
    require(dvd.isEmpty || dvSnap.isDefined,
      "streaming batches must not carry deletion vectors")
    val phys = physicalSchema(sch)
    val paths = files.map(f => new Path(path, f.path).toString)
    ensureFieldIdRead()
    val raw0 = StreamBridge.streamingParquet(spark, paths, phys,
      if (partitionColumns.isEmpty) None else Some(path))
    // DV subtraction BEFORE the logical rename (the hidden _metadata
    // column only resolves directly over the file-source relation) —
    // identical membership filter to [[rawFor]], no join, no driver list
    val raw = if (dvd.isEmpty) raw0 else {
      val keySnap = dvSnap.get.copy(files = dvd)
      val b = dvLookup(keySnap).get
      raw0.withColumn("__meta_fname", fileKeyExpr(keySnap))
        .withColumn("__meta_pos", col("_metadata.row_index"))
        .filter(!ColumnBridge.wrap(DvDeleted(
          ColumnBridge.toExpr(col("__meta_fname")),
          ColumnBridge.toExpr(col("__meta_pos")), b)))
        .drop("__meta_fname", "__meta_pos")
    }
    val renamed =
      if (phys.fieldNames.sameElements(sch.fieldNames)) raw
      else raw.select(sch.fields.zip(phys.fields).map {
        case (l, p) => col(p.name).as(l.name) }.toSeq: _*)
    renamed.select(sch.fields.map(f => col(f.name).cast(f.dataType)).toSeq: _*)
  }

  /** The snapshot's rows with deletion vectors APPLIED. The one read
    * path under [[toDF]]/time travel/[[scan]]/DML — so every consumer
    * subtracts DV'd rows identically. With `withMeta` the result carries
    * `__meta_fname` (data file name) and `__meta_pos` (row position in
    * file) — projected BEFORE the DV anti-join, because the hidden
    * `_metadata` column is only resolvable directly over the file-source
    * relation and would be lost past a join. */
  private def rawFor(snap: Snapshot, withMeta: Boolean = false,
                     withRowIds: Boolean = false): DataFrame = {
    // conformance gate (PROTOCOL.md): a reader feature this engine does
    // not implement means scanning would return WRONG rows — refuse
    DeltaLog.requireReadSupported(snap.protocol)
    val sch = snap.schema.getOrElse(
      throw new IllegalStateException(s"no table metadata at $path"))
    val paths = snap.files.map(f => new Path(path, f.path).toString)
    val parts = snap.metadata.map(_.partitionColumns).getOrElse(Nil)
    // column mapping: parquet files store PHYSICAL names — read with the
    // physical schema and rename back to logical below (one projection)
    val phys = physicalSchema(sch)
    // row tracking: OPTIMIZE-rewritten files carry the surviving rows'
    // original ids in materialized physical columns; files that were
    // never rewritten lack them and null-fill (the coalesce below then
    // falls back to baseRowId + row_index)
    val readSchema =
      if (!withRowIds) phys
      else StructType(phys.fields ++ Seq(
        org.apache.spark.sql.types.StructField(DeltaTable.MaterializedRowIdCol,
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField(DeltaTable.MaterializedRcvCol,
          org.apache.spark.sql.types.LongType)))
    // the declared schema is passed EXPLICITLY on both branches: files
    // written before a schema evolution lack the new columns, and an
    // inferred schema would make the select below fail instead of
    // null-filling them (partition columns resolve from the dir layout —
    // except for shallow clones of partitioned sources, below)
    ensureFieldIdRead()
    val del = dvLookup(snap)
    // SHALLOW CLONES of partitioned sources reference files by ABSOLUTE
    // path, so Spark's directory discovery (which needs one shared
    // basePath) cannot resolve partition columns. The log can:
    // `add.partitionValues` is the Delta protocol's authoritative
    // representation — attach each partition column as a broadcast
    // fileKey→value probe inside the scan stage (FileStringValue, the
    // same shape as the DV/row-id lookups), cast to its declared type.
    val foreignPartitioned =
      parts.nonEmpty && snap.files.exists(f => new Path(f.path).isAbsolute)
    val needMeta = withMeta || withRowIds || del.isDefined
    val physByLogical = sch.fields.zip(phys.fields).map {
      case (l, p) => l.name -> p.name }.toMap
    // per-file key = URI path suffix incl. partition dirs (see
    // [[fileKey]] — a bare basename collides across partition
    // directories). `_metadata` is projected BEFORE the logical rename
    // (hidden metadata columns do not survive projections).
    val withPhysCols =
      if (!foreignPartitioned) {
        val reader = spark.read.schema(readSchema)
        val df =
          if (parts.isEmpty) reader.parquet(paths: _*)
          else reader.option("basePath", path).parquet(paths: _*)
        if (!needMeta) df else df
          .withColumn("__meta_fname", fileKeyExpr(snap))
          .withColumn("__meta_pos", col("_metadata.row_index"))
      } else {
        import org.apache.spark.sql.graft.ColumnBridge
        val partPhysSet = parts.map(physByLogical).toSet
        val dataSchema = StructType(readSchema.fields.filterNot(f => partPhysSet(f.name)))
        val keyed = spark.read.schema(dataSchema).parquet(paths: _*)
          .withColumn("__meta_fname", fileKeyExpr(snap))
          .withColumn("__meta_pos", col("_metadata.row_index"))
        val attached = parts.foldLeft(keyed) { (d, lp) =>
          val pn = physByLogical(lp)
          val bc = spark.sparkContext.broadcast(new FileStringLookup(
            snap.files.map(f => fileKey(snap, f) ->
              f.partitionValues.getOrElse(pn, null)).toMap))
          d.withColumn(pn, ColumnBridge.wrap(FileStringValue(
            ColumnBridge.toExpr(col("__meta_fname")), bc))
            .cast(sch.fields.find(_.name == lp).get.dataType))
        }
        if (needMeta) attached else attached.drop("__meta_fname", "__meta_pos")
      }
    val withCols =
      if (phys.fieldNames.sameElements(sch.fieldNames)) withPhysCols
      else withPhysCols.select(
        (sch.fields.zip(phys.fields).map { case (l, p) => col(p.name).as(l.name) } ++
          (if (needMeta) Seq(col("__meta_fname"), col("__meta_pos")) else Nil) ++
          (if (withRowIds) Seq(col(DeltaTable.MaterializedRowIdCol),
            col(DeltaTable.MaterializedRcvCol)) else Nil)).toSeq: _*)
    // DV subtraction is a broadcast-bitmap membership FILTER inside the
    // scan stage — no join node, no driver-side position list; per
    // executor the cost is the compressed bitmap bytes once
    val filtered = del.fold(withCols) { b =>
      import org.apache.spark.sql.graft.ColumnBridge
      withCols.filter(!ColumnBridge.wrap(DvDeleted(
        ColumnBridge.toExpr(col("__meta_fname")),
        ColumnBridge.toExpr(col("__meta_pos")), b)))
    }
    // _row_id / _row_commit_version: materialized column first (rows
    // preserved through an OPTIMIZE rewrite), else the file's committed
    // baseRowId + physical row position — both resolved INSIDE the scan
    // stage via broadcast per-file lookups, the same shape as the DV
    // filter above. A DV'd row simply never surfaces its id (the filter
    // runs first), matching the protocol's merge-on-read semantics.
    val withIds = if (!withRowIds) filtered else {
      import org.apache.spark.sql.graft.ColumnBridge
      val baseBc = spark.sparkContext.broadcast(new FileLongLookup(
        snap.files.flatMap(f => f.baseRowId.map(fileKey(snap, f) -> _)).toMap))
      val dcvBc = spark.sparkContext.broadcast(new FileLongLookup(
        snap.files.flatMap(f =>
          f.defaultRowCommitVersion.map(fileKey(snap, f) -> _)).toMap))
      val fnameE = ColumnBridge.toExpr(col("__meta_fname"))
      filtered
        .withColumn(DeltaTable.RowIdCol,
          coalesce(col(DeltaTable.MaterializedRowIdCol),
            ColumnBridge.wrap(FileLongValue(fnameE, baseBc, "base_row_id")) +
              col("__meta_pos")))
        .withColumn(DeltaTable.RowCommitVersionCol,
          coalesce(col(DeltaTable.MaterializedRcvCol),
            ColumnBridge.wrap(FileLongValue(fnameE, dcvBc, "row_commit_version"))))
        .drop(DeltaTable.MaterializedRowIdCol, DeltaTable.MaterializedRcvCol)
    }
    if (withMeta || !needMeta) withIds
    else withIds.drop("__meta_fname", "__meta_pos")
  }

  /** Broadcast file-key → serialized-bitmap lookup for every live file
    * carrying a deletion vector; None when the snapshot has no DVs (the
    * common case pays nothing). The driver touches only the COMPRESSED
    * bitmap bytes (KBs–MBs); positions are never materialized — executors
    * probe the serialized form directly ([[BitmapView]]). */
  private def dvLookup(snap: Snapshot): Option[org.apache.spark.broadcast.Broadcast[DvLookup]] = {
    val dvd = snap.files.filter(_.deletionVector.isDefined)
    if (dvd.isEmpty) None
    else Some(spark.sparkContext.broadcast(new DvLookup(
      dvd.map(f => fileKey(snap, f) ->
        DeletionVectors.readBitmap(fs, path, f.deletionVector.get)).toMap)))
  }

  /** Distributed join key identifying ONE data file of `snap`: the
    * URI-rendered path suffix of 1 + |partition columns| segments. The
    * basename alone is NOT unique on partitioned tables — one task
    * writing several partition directories reuses its
    * `part-<task>-<jobUUID>` name in each (guaranteed under compact's
    * coalesce(1)) — so the key carries the partition directories too.
    * Both sides render through the URI form (`Path.toUri.toString` here,
    * Spark's `_metadata.file_path` = SparkPath's uri string there), so
    * percent-encoding agrees by construction. */
  /** RemoveFile for a live AddFile. Carries the add's DV descriptor AND
    * its row-tracking fields (baseRowId/defaultRowCommitVersion) — the
    * Delta spec says writers preserve these on removes so external
    * readers/CDC tooling can attribute the removed rows. */
  private def removeOf(f: AddFile, ts: Long, dataChange: Boolean = true): RemoveFile =
    RemoveFile(f.path, Some(ts), dataChange = dataChange,
      deletionVector = f.deletionVector,
      baseRowId = f.baseRowId, defaultRowCommitVersion = f.defaultRowCommitVersion)

  private def fileKeySegments(snap: Snapshot): Int =
    snap.metadata.map(_.partitionColumns.size).getOrElse(0) + 1

  private def fileKey(snap: Snapshot, f: AddFile): String =
    fs.makeQualified(new Path(path, f.path)).toUri.toString
      .split('/').takeRight(fileKeySegments(snap)).mkString("/")

  private def fileKeyExpr(snap: Snapshot): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.substring_index(
      col("_metadata.file_path"), "/", -fileKeySegments(snap))

  /** LOG COMPACTION maintenance (PROTOCOL.md log-compaction files): fold
    * the commit JSONs of [from, to] into one `from.to.compacted.json`
    * that replays substitute for the span — bounds snapshot-replay file
    * count between checkpoints on high-commit-rate tables (a streaming
    * sink lands one commit per trigger). Defaults to everything since
    * the last checkpoint. Original commits stay for CDF/audit; metadata
    * cleanup ages the span out with its end version. */
  def compactLog(from: Long = -1L, to: Long = -1L): Int = {
    val latest = log.latestVersion()
    require(latest >= 0, s"no table at $path")
    val hi = if (to >= 0) to else latest
    // default from = just past the newest checkpoint: a span overlapping
    // the checkpoint can never be substituted (replays seed past it), so
    // compacting from 0 on a checkpointed table would be wasted I/O
    val lo = if (from >= 0) from
             else log.newestCheckpointVersion().map(_ + 1).getOrElse(0L)
    // routine maintenance right after a checkpoint has nothing to fold —
    // a quiet no-op, not a crash (explicit callers still get compactLog's
    // own span validation)
    if (lo > hi) return -1
    log.compactLog(lo, hi)
  }

  /** Garbage-collect data files no longer referenced by the CURRENT
    * snapshot and older than `retentionMs` (delta VACUUM analog; pairs
    * with [[toDF(version:Long)*]] — vacuumed history is no longer
    * time-travelable, like Delta proper). Staging dirs and the log are
    * never touched. Returns the number of files deleted.
    *
    * Scale: the referenced-set is path strings only (no footers), and
    * deletion is metadata-rate; for object stores this would batch
    * delete calls. */
  def vacuum(retentionMs: Long = DeltaTable.TableDefaultRetention): Int =
    vacuumImpl(resolvedRetention(retentionMs), dryRun = false)

  /** The [[DeltaTable.TableDefaultRetention]] sentinel means "the
    * table's default": the `delta.deletedFileRetentionDuration` property
    * if set, else delta's 7-day standard. Every explicit retention wins
    * verbatim — including NEGATIVE ones (cutoff in the future), which
    * specs use for collect-everything-now sweeps. */
  private def resolvedRetention(retentionMs: Long): Long =
    if (retentionMs != DeltaTable.TableDefaultRetention) retentionMs
    else snapshot.metadata
      .flatMap(_.configuration.get(DeltaTable.DeletedFileRetentionKey))
      .map(DeltaTable.parseIntervalMs)
      .getOrElse(7L * 24 * 3600 * 1000)

  /** FSCK REPAIR (delta-spark's `FSCK REPAIR TABLE`): find snapshot
    * files whose bytes are GONE from storage (out-of-band deletion, a
    * bad lifecycle rule, a botched manual cleanup) and commit removes
    * for them so reads stop failing with FileNotFound. The repair is a
    * metadata commit — the lost rows are lost either way; recording the
    * removes makes the loss explicit in the log (and CDC-visible)
    * instead of a scan-time crash. `dryRun` lists the dangling
    * references without committing. Returns the dangling paths.
    *
    * Scale: one existence probe per snapshot file — driver pool for
    * ordinary tables, a Spark job past the threshold (only dangling
    * paths ship back); no data bytes move. */
  def fsckRepair(dryRun: Boolean = false): Seq[String] = {
    val snap = snapshot
    // one existence probe per snapshot file — bounded pool below the
    // threshold, ONE Spark job above it, and only the DANGLING side
    // collects (serial driver probes turn a million-file table's FSCK
    // into a multi-hour metadata crawl; per-file booleans shipped back
    // would be a second, avoidable driver buffer)
    val missingRels = DeltaTable.filterByExistence(spark,
      spark.sessionState.newHadoopConf(), new Path(path),
      snap.files.map(_.path), wantExisting = false).toSet
    val missing = snap.files.filter(f => missingRels(f.path)).sortBy(_.path)
    if (missing.isEmpty || dryRun) return missing.map(_.path)
    val expected = missing.map(f => f.path -> f.deletionVector).toMap
    val now = System.currentTimeMillis()
    val committed = log.commit(
      missing.map(f => Action(remove = Some(removeOf(f, now)))) ++
        Seq(Action(commitInfo = Some(CommitInfo(now, "FSCK",
          Map("numRemovedFiles" -> missing.size.toString))))),
      // only repair files still referenced EXACTLY as we observed them —
      // a concurrent rewrite already un-referenced the path, and
      // committing our remove over it would tombstone a live re-add
      check = s => {
        val live = s.files.map(f => f.path -> f.deletionVector).toMap
        expected.forall { case (p, dv) => live.get(p).contains(dv) }
      })
    if (committed < 0)
      throw new java.util.ConcurrentModificationException(
        "FSCK lost a commit race: a concurrent commit touched the dangling files")
    missing.map(_.path)
  }

  /** VACUUM DRY RUN: list the files a vacuum at this retention WOULD
    * delete, touching nothing — the delta-spark `VACUUM ... DRY RUN`
    * safety valve before an irreversible collection. */
  def vacuumDryRun(retentionMs: Long = DeltaTable.TableDefaultRetention): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    vacuumImpl(resolvedRetention(retentionMs), dryRun = true, onCandidate = out += _)
    out.toSeq.sorted
  }

  /** VACUUM from an INVENTORY (delta-spark's `VACUUM ... USING
    * INVENTORY`): candidates come from a caller-provided listing — an S3
    * Inventory / GCS Storage Insights table — instead of a live
    * filesystem walk. At 100 TB this is THE listing shape: object stores
    * publish daily inventories precisely because LIST over millions of
    * keys is slow and billed; even the parallel walk is metadata
    * round-trips ∝ directories, while the inventory is a table scan.
    *
    * `inventory` needs (path, length, isDir, modificationTime[, ...]) —
    * delta-spark's inventory schema (length is accepted-but-unused, as
    * there). Paths may be absolute (rows outside the table root are
    * ignored) or table-relative. The referenced-file ANTI-JOIN runs
    * DISTRIBUTED — the inventory frame never collects before filtering;
    * only the surviving candidates reach the driver for the bounded-pool
    * deletes. Retention/tombstone semantics match [[vacuum]] exactly:
    * only unreferenced data/DV files older than the cutoff delete, and a
    * LIVE file can never be deleted (the anti-join is against the
    * current snapshot; parquet objects are write-once so inventory
    * modification times are stable). A STALE inventory only ever misses
    * newer garbage — it cannot over-delete. Returns the deleted count
    * (or the would-delete count under `dryRun`; use
    * [[vacuumInventoryDryRun]] for the paths). */
  def vacuumUsingInventory(inventory: DataFrame,
                           retentionMs: Long = DeltaTable.TableDefaultRetention,
                           dryRun: Boolean = false): Int = {
    val ds = inventoryCandidates(inventory, resolvedRetention(retentionMs))
    // the candidate set stays DISTRIBUTED end-to-end: dry run counts it,
    // the real run deletes from a Spark job past the threshold and
    // streams (toLocalIterator, never collect) below it — inventory
    // mode's motivating scale is exactly when garbage is 10⁶–10⁸ objects
    // and a driver buffer + driver-pool round-trips would take hours
    if (dryRun) return ds.count().toInt
    DeltaTable.deleteRelPathsDs(spark.sessionState.newHadoopConf(),
      new Path(path), ds)
  }

  /** The table-relative paths an inventory vacuum at this retention
    * would delete — the DRY RUN safety valve, sorted. (This one DOES
    * collect: its purpose is handing a human the list; use
    * `vacuumUsingInventory(dryRun = true)` for a scale-safe count.) */
  def vacuumInventoryDryRun(inventory: DataFrame,
                            retentionMs: Long = DeltaTable.TableDefaultRetention): Seq[String] = {
    import inventory.sparkSession.implicits._
    inventoryCandidates(inventory, resolvedRetention(retentionMs))
      .as[String].collect().toSeq.sorted
  }

  private def inventoryCandidates(inventory: DataFrame,
                                  retentionMs: Long): org.apache.spark.sql.Dataset[String] = {
    val snap = snapshot
    require(snap.version >= 0, s"no table at $path")
    val referenced = snap.files.map(_.path) ++
      snap.files.flatMap(_.deletionVector).filter(_.storageType == "u")
        .map(d => DeletionVectors.relativeFileName(d.pathOrInlineDv))
    val cutoff = System.currentTimeMillis() - retentionMs
    val rootQ = fs.makeQualified(new Path(path)).toString
    val rootUri = new Path(rootQ).toUri.getPath // scheme-less absolute form
    import org.apache.spark.sql.functions.{col, lit, when, not, element_at, split, unix_millis, size => fsize}
    val spk = inventory.sparkSession
    import spk.implicits._
    // inventory schema validation (delta-spark validates the same way):
    // the required columns must exist, and modificationTime must be
    // epoch MILLIS. A raw cast("long") on a TimestampType column yields
    // SECONDS — three orders of magnitude early against the ms cutoff,
    // which would make every file "past retention" and let the window
    // stop protecting recently-removed files. Longs pass through,
    // timestamps convert via unix_millis, anything else rejects loudly.
    Seq("path", "isDir", "modificationTime").foreach(c => require(
      inventory.schema.fieldNames.exists(_.equalsIgnoreCase(c)),
      s"inventory is missing required column '$c' " +
        "(expected schema: path STRING, length LONG, isDir BOOLEAN, " +
        "modificationTime LONG epoch-millis)"))
    val modField = inventory.schema.fields
      .find(_.name.equalsIgnoreCase("modificationTime")).get
    val modMs = modField.dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType => col(modField.name).cast("long")
      case org.apache.spark.sql.types.TimestampType => unix_millis(col(modField.name))
      case other => throw new IllegalArgumentException(
        s"inventory modificationTime must be LONG epoch-millis (or TIMESTAMP), " +
          s"got ${other.simpleString} — refusing: a mis-typed cutoff compare " +
          "could treat every file as past retention")
    }
    // absolute rows relativize against either the qualified or the
    // scheme-less root; relative rows pass through; anything else (a
    // different table's files) drops
    val p = col("path").cast("string")
    val rel0 = when(p.startsWith(rootQ + "/"),
        org.apache.spark.sql.functions.expr(s"substring(path, ${rootQ.length + 2})"))
      .when(p.startsWith(rootUri + "/"),
        org.apache.spark.sql.functions.expr(s"substring(path, ${rootUri.length + 2})"))
      .when(p.startsWith("/") || p.contains(":/"), lit(null).cast("string"))
      .otherwise(p)
    val segs = split(col("__rel"), "/")
    val base = element_at(segs, -1)
    // the walk's skip rules, segment-exact at any depth
    val skippedSeg = org.apache.spark.sql.functions.exists(segs, s =>
      s === DeltaTable.ManifestDirName || s === "_delta_log" ||
        s.startsWith("_staging-"))
    val collectable =
      (base.endsWith(".parquet") ||
        (base.startsWith("deletion_vector_") && base.endsWith(".bin"))) &&
        not(skippedSeg)
    val refDs = referenced.toDF("__rel")
    inventory
      .filter(not(col("isDir")) && modMs < cutoff)
      .withColumn("__rel", rel0)
      .filter(col("__rel").isNotNull && fsize(segs) >= 1 && collectable)
      .select(col("__rel"))
      .join(refDs, Seq("__rel"), "left_anti")
      .as[String]
  }

  /** VACUUM LITE (delta-spark 3.2's mode): collect garbage from the LOG
    * alone — the remove-action tombstones in the surviving commit JSONs
    * — with ZERO filesystem listing. The trade is explicit: only files
    * the retained log still names can collect (metadata cleanup ages
    * tombstones out with their commit JSONs), so LITE is the cheap
    * steady-state sweep — "yesterday's rewrites" after each OPTIMIZE or
    * DML wave — while orphans from crashed writes or pre-cleanup history
    * need the listing walk ([[vacuum]]) or an inventory
    * ([[vacuumUsingInventory]]). Retention semantics match delta-spark:
    * a path collects when its NEWEST tombstone's deletionTimestamp is
    * past the cutoff AND the path is not LIVE in the current snapshot —
    * RESTORE re-adds previously removed paths (the live-set anti-check
    * covers the currently-live re-add), and keying off the newest remove
    * keeps a remove-RESTORE-remove path safe for readers pinned to the
    * intermediate versions while the recent remove is inside retention. A removed file's file-backed deletion vector collects
    * with it (unless still referenced by a live add). Absolute
    * (cross-table) tombstones — a shallow clone's log names its SOURCE's
    * files — are never touched. Cost: one `_delta_log` listing + one
    * bounded-pool read per surviving commit JSON (driver metadata, ∝
    * retained history, never data). */
  def vacuumLite(retentionMs: Long = DeltaTable.TableDefaultRetention): Int = {
    val candidates = liteCandidates(resolvedRetention(retentionMs))
    if (candidates.isEmpty) return 0
    // deletes are idempotent: a tombstone named twice across commits or
    // already-collected bytes count zero; threshold-routed like the walk
    DeltaTable.deleteRelPaths(spark, spark.sessionState.newHadoopConf(),
      new Path(path), candidates)
  }

  /** The table-relative paths a LITE vacuum at this retention would
    * delete, sorted. Tombstones stay in the log after their bytes
    * collect, so the dry run existence-probes its candidates (bounded
    * pool, one RPC each — cost ∝ tombstones, still zero listing). */
  def vacuumLiteDryRun(
      retentionMs: Long = DeltaTable.TableDefaultRetention): Seq[String] =
    DeltaTable.filterByExistence(spark, spark.sessionState.newHadoopConf(),
      new Path(path), liteCandidates(resolvedRetention(retentionMs)),
      wantExisting = true).sorted

  private def liteCandidates(retentionMs: Long): Seq[String] = {
    val snap = snapshot
    require(snap.version >= 0, s"no table at $path")
    val live = snap.files.map(_.path).toSet
    val liveDv = snap.files.flatMap(_.deletionVector).filter(_.storageType == "u")
      .map(d => DeletionVectors.relativeFileName(d.pathOrInlineDv)).toSet
    val cutoff = System.currentTimeMillis() - retentionMs
    val versions = log.survivingCommitVersions()
    val removes = DeltaTable.parMap(versions)(v =>
        try log.readVersion(v) catch {
          case _: java.io.FileNotFoundException => Nil // raced cleanup
        })
      .flatten.flatMap(_.remove)
      .filterNot(r => new Path(r.path).isAbsolute || r.path.contains(":/"))
    // retention keys off each path's NEWEST deletionTimestamp
    // (delta-spark's rule): a file removed long ago, RESTORE-re-added,
    // and removed again recently must NOT collect via the old tombstone —
    // readers pinned to the intermediate versions still need it. A path
    // collects only when its latest remove is past the cutoff (all-None
    // timestamps count as unknown-age → collectable, the walk's
    // mod-time-absent analog). DV files collect only WITH their path.
    val collectablePaths = removes.groupBy(_.path).collect {
      case (p, rs) if rs.flatMap(_.deletionTimestamp)
        .maxOption.forall(_ < cutoff) => p
    }.toSet
    val dvs = removes.filter(r => collectablePaths(r.path))
      .flatMap(_.deletionVector).filter(_.storageType == "u")
      .map(d => DeletionVectors.relativeFileName(d.pathOrInlineDv))
    (collectablePaths.toSeq ++ dvs).distinct
      .filterNot(p => live.contains(p) || liveDv.contains(p))
  }

  private def vacuumImpl(retentionMs: Long, dryRun: Boolean,
                         onCandidate: String => Unit = _ => ()): Int = {
    val snap = snapshot
    val referenced = snap.files.map(_.path).toSet
    // DV files referenced by any LIVE add must survive (deleting one
    // resurrects that file's deleted rows); unreferenced ones age out
    // with the same retention as data files
    val referencedDv = snap.files.flatMap(_.deletionVector)
      .filter(_.storageType == "u")
      .map(d => DeletionVectors.relativeFileName(d.pathOrInlineDv)).toSet
    val cutoff = System.currentTimeMillis() - retentionMs
    val root = new Path(path)
    val rootQ = fs.makeQualified(root).toString
    // candidate listing is the shared level-parallel BFS
    // ([[DeltaTable.parallelWalk]]); candidate evaluation runs on the
    // driver thread between levels (onCandidate stays single-threaded
    // for callers). A serial recursive walk turns a million-file
    // partitioned table's listing into a multi-hour metadata crawl — the
    // same failure mode the FSCK comment names.
    val candidates = scala.collection.mutable.ArrayBuffer.empty[String]
    def skipDir(dir: Path): Boolean = {
      val name = dir.getName
      name == "_delta_log" || name.startsWith("_staging-") ||
        name == DeltaTable.ManifestDirName
    }
    DeltaTable.parallelWalk(spark, spark.sessionState.newHadoopConf(),
      root, skipDir) { st =>
      val p = new Path(st.path)
      val rel = fs.makeQualified(p).toString
        .stripPrefix(rootQ).stripPrefix("/")
      val n = p.getName
      val collectable =
        (n.endsWith(".parquet") && !referenced.contains(rel)) ||
          (n.startsWith("deletion_vector_") && n.endsWith(".bin") &&
            !referencedDv.contains(rel))
      if (collectable && st.modificationTime < cutoff) {
        onCandidate(rel)
        candidates += rel
      }
    }
    if (dryRun || candidates.isEmpty) return 0
    // threshold-routed delete: bounded driver pool for routine sweeps,
    // one Spark job when the garbage set is itself big data
    DeltaTable.deleteRelPaths(spark, spark.sessionState.newHadoopConf(),
      root, candidates.toSeq)
  }

  /** Multi-dimensional clustering rewrite (OPTIMIZE ZORDER BY a, b):
    * rewrites every live data file with rows ordered by the Morton
    * interleave of two columns ([[graft.functions.ZValue]]), so per-file
    * min/max stats tighten on BOTH columns and [[DataSkipping]] prunes
    * files for predicates on either one — single-column sort clustering
    * can only ever serve one predicate column.
    *
    * Scale: repartitionByRange samples the z-keys (one extra pass) and
    * range-partitions the shuffle — each output file covers a compact
    * z-interval, which is exactly the property stats pruning feeds on.
    * Hive-partitioned tables range-cluster by (partition cols, z) so each
    * task writes contiguous partition values. Commits add+remove with
    * dataChange=false under the same live-files concurrency guard as
    * [[compact]].
    *
    * @param numFiles target file count (0 = keep the current count)
    * @return committed version, or -1 if nothing to do / lost the race */
  def optimizeZOrder(colA: String, colB: String, numFiles: Int = 0,
                     where: Option[org.apache.spark.sql.Column] = None): Long =
    optimizeZOrder(Seq(colA, colB), numFiles, where)

  /** N-column OPTIMIZE ZORDER (real Z-order takes any number of columns;
    * 3–4-column layouts are routine): one column is a plain range-sort,
    * two keeps the oracle-gated 32-bit binary interleave, three or more
    * use the ⌊63/n⌋-bit round-robin interleave
    * ([[graft.functions.ZValueN]]). Dimensions min-max normalize into
    * each kernel's window internally ([[normalizedCurveInputs]]) — any
    * orderable column clusters correctly, no caller-side rank/bucket.
    *
    * `incremental = true` skips files already in a FINAL ZCube of the
    * same columns (see [[optimizeByKey]]) — the re-maintenance form for
    * an append-mostly table; the default full rewrite is the one-shot
    * re-layout. Output files are ZCube-tagged either way, so a full
    * rewrite seeds later incremental runs. */
  def optimizeZOrder(cols: Seq[String], numFiles: Int,
                     where: Option[org.apache.spark.sql.Column]): Long =
    optimizeZOrder(cols, numFiles, where, incremental = false)

  def optimizeZOrder(cols: Seq[String], numFiles: Int,
                     where: Option[org.apache.spark.sql.Column],
                     incremental: Boolean): Long = {
    require(cols.nonEmpty, "OPTIMIZE ZORDER needs at least one column")
    optimizeByKey(numFiles, where, (cols, "zorder"), incremental)
  }

  def optimizeZOrder(cols: Seq[String]): Long = optimizeZOrder(cols, 0, None)

  /** [[optimizeZOrder]] with the order-16 Hilbert index as the clustering
    * key ([[graft.functions.HilbertValue]] — what liquid-style clustering
    * uses): consecutive key values are always grid-adjacent cells, so a
    * file's key interval maps to a tighter two-dimensional region than
    * the Morton key's seam-jumping intervals and stats prune at least as
    * hard. Dimensions normalize into the 16-bit window internally
    * ([[normalizedCurveInputs]]). */
  def optimizeHilbert(colA: String, colB: String, numFiles: Int = 0,
                      where: Option[org.apache.spark.sql.Column] = None): Long =
    optimizeHilbert(Seq(colA, colB), numFiles, where)

  /** N-column Hilbert OPTIMIZE: one column range-sorts, two keeps the
    * oracle-gated 2-D walk, three or more use Skilling's N-dimensional
    * transpose ([[graft.functions.HilbertValueN]], min(16, ⌊63/n⌋) bits
    * per dimension). `incremental` as on [[optimizeZOrder]]. */
  def optimizeHilbert(cols: Seq[String], numFiles: Int,
                      where: Option[org.apache.spark.sql.Column]): Long =
    optimizeHilbert(cols, numFiles, where, incremental = false)

  def optimizeHilbert(cols: Seq[String], numFiles: Int,
                      where: Option[org.apache.spark.sql.Column],
                      incremental: Boolean): Long = {
    require(cols.nonEmpty, "OPTIMIZE (Hilbert) needs at least one column")
    optimizeByKey(numFiles, where, (cols, "hilbert"), incremental)
  }

  def optimizeHilbert(cols: Seq[String]): Long = optimizeHilbert(cols, 0, None)

  /** Files whose PARTITION VALUES satisfy `predicate` — the `OPTIMIZE
    * ... WHERE` restriction. Evaluated through one small driver-side
    * frame of the files' typed partition values (row count = live file
    * count, log-bounded), so any Column over partition columns works and
    * the semantics are exactly Spark's. Non-partition references fail
    * analysis loudly. */
  private def filesInPartitions(files: Seq[AddFile],
                                predicate: org.apache.spark.sql.Column): Seq[AddFile] = {
    val keep = partitionKeep(files.map(_.partitionValues), predicate)
    files.zip(keep).collect { case (f, true) => f }
  }

  /** Exact per-entry evaluation of a partition-column predicate over a
    * list of `partitionValues` maps — one small driver-side frame of the
    * TYPED partition values (row count = entry count, log-bounded), so
    * any Column over partition columns works with Spark's exact
    * semantics. Non-partition references fail analysis loudly. Shared by
    * OPTIMIZE/compact scoping and the change-feed partition pruning. */
  private def partitionKeep(pvs: Seq[Map[String, String]],
                            predicate: org.apache.spark.sql.Column): Seq[Boolean] = {
    val parts = partitionColumns
    require(parts.nonEmpty,
      "a partition predicate needs a partitioned table (use the unscoped form)")
    val sch = schema
    val partFields = parts.map(p => sch.fields.find(_.name == p).get)
    // partitionValues maps are keyed by PHYSICAL column names (like the
    // partition dirs) — on a column-mapped table a logical-name lookup
    // would miss every entry and silently match nothing
    val physOf = partFields.map(f => f.name -> physicalName(f)).toMap
    import scala.jdk.CollectionConverters._
    val strSchema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("__idx",
        org.apache.spark.sql.types.LongType) +:
        partFields.map(f => org.apache.spark.sql.types.StructField(f.name,
          org.apache.spark.sql.types.StringType)))
    val data = pvs.zipWithIndex.map { case (pv, i) =>
      org.apache.spark.sql.Row.fromSeq(
        i.toLong +: parts.map(p => pv.getOrElse(physOf(p), null)))
    }
    val keep = spark.createDataFrame(data.asJava, strSchema)
      .select(col("__idx") +: partFields.map(f =>
        col(f.name).cast(f.dataType).as(f.name)): _*)
      .filter(predicate)
      .select("__idx").collect().map(_.getLong(0)).toSet
    pvs.indices.map(i => keep(i.toLong))
  }

  /** The rewrite-input frame for OPTIMIZE paths: on a row-tracking table,
    * each surviving row carries its CURRENT `_row_id` /
    * `_row_commit_version` renamed into the materialized physical
    * columns, so the rewritten files preserve row identity (the fresh
    * baseRowIds the commit stamps on them are shadowed by the
    * materialized values at read time). [[toPhysicalForWrite]] passes
    * the extra columns through to the parquet write untouched. */
  private def materializingRowIds(snap: Snapshot): DataFrame =
    if (!rowTrackingEnabled) dfFor(snap)
    else rawFor(snap, withRowIds = true)
      .withColumnRenamed(DeltaTable.RowIdCol, DeltaTable.MaterializedRowIdCol)
      .withColumnRenamed(DeltaTable.RowCommitVersionCol, DeltaTable.MaterializedRcvCol)

  /** Shared OPTIMIZE rewrite. `cubeSpec = (columns, curve)` stamps the
    * output files with ZCube identity tags; `incremental = true`
    * additionally SKIPS input files already in a FINAL cube of the same
    * spec (total cube size ≥ [[DeltaTable.MinCubeSizeKey]]) — so a
    * maintenance re-run after an append touches the appended files plus
    * any not-yet-full cubes, never the already-clustered bulk. Output
    * file count defaults to bin-packing the REWRITTEN bytes to
    * [[DeltaTable.TargetFileSizeKey]] (explicit `numFiles > 0` wins). */
  /** Order-preserving DOUBLE ordinal of one clustering dimension — the
    * per-type image the curve normalization scales into the kernel
    * window. Strings map through a codepoint-weighted 8-char prefix
    * (exact lexicographic order on ASCII prefixes, a locality proxy
    * beyond); dates/timestamps through their epoch integers (µs fits
    * doubles exactly below 2^53). */
  private[delta] def curveOrdinal(f: org.apache.spark.sql.types.StructField): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{ascii, coalesce, least, substring, unix_date, unix_micros}
    import org.apache.spark.sql.types._
    f.dataType match {
      case StringType =>
        // full-codepoint prefix ordinal: three codepoint slots (Spark's
        // ascii() returns the whole codepoint; substring counts
        // codepoints), each clamped to 17 bits — the entire BMP fits,
        // and astral codepoints clamp to the top, still above every BMP
        // value. Clamping is monotone, so there are TIES above the
        // clamp but never inversions. 3×17 = 51 bits keeps the double
        // EXACT; the previous 8×8-bit layout let a CJK codepoint bleed
        // into the previous position's weight — a real ordering
        // inversion. Layout-only (a locality proxy): three codepoints
        // of prefix discrimination instead of eight, traded for correct
        // ordering on non-ASCII text; can never change results.
        (0 until 3).map(i =>
          least(
            coalesce(ascii(substring(col(f.name), i + 1, 1)).cast("double"), lit(0.0)),
            lit(131071.0)) *
            lit(math.pow(2.0, 17 * (2 - i)))).reduce(_ + _)
      case DateType => unix_date(col(f.name)).cast("double")
      case TimestampType | TimestampNTZType =>
        unix_micros(col(f.name).cast("timestamp")).cast("double")
      case BooleanType => col(f.name).cast("int").cast("double")
      case _: NumericType => col(f.name).cast("double")
      case other => throw new IllegalArgumentException(
        s"cannot cluster on '${f.name}' of type ${other.simpleString}")
    }
  }

  /** Clustering inputs normalized into the curve kernel's `bits`-bit
    * window: min-max scaled over the REWRITE INPUT. Bounds come from the
    * candidates' own `add.stats` (log metadata — ZERO data I/O) whenever
    * every candidate carries usable min/max for every dimension; the
    * fallback is one exact min/max aggregation over the input (strings,
    * stats-less foreign files). The kernels mask to their window by
    * contract, so raw wide-domain values (epoch micros, 64-bit ids)
    * would cluster on their LOW bits — locality destroyed exactly where
    * it matters; scaling makes `clusterBy` correct on any orderable
    * column with no caller-side rank/bucket step. Power-of-two ranges
    * scale as exact bit shifts, so small-domain layouts (ids, day
    * numbers) are bit-identical to the unscaled interleave. Nulls
    * cluster at the origin. Stats-derived bounds can understate a
    * truncated maximum (timestamp stats render at ms) — out-of-range
    * values clamp into the edge bucket, a layout detail never a
    * correctness one. */
  private def normalizedCurveInputs(df: DataFrame, snap: Snapshot, cols: Seq[String],
                                    bits: Int): Seq[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{coalesce, floor, greatest, least, max, min}
    val sch = schema
    val fields = cols.map(c => sch.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
      throw new IllegalArgumentException(s"OPTIMIZE column '$c' is not in the table schema")))
    val ords = fields.map(curveOrdinal)
    val bounds: Seq[(Double, Double)] = curveBoundsFromStats(snap, fields).getOrElse {
      val aggs = ords.zipWithIndex.flatMap { case (o, i) =>
        Seq(min(o).as(s"mn$i"), max(o).as(s"mx$i")) }
      val r = df.agg(aggs.head, aggs.tail: _*).head()
      ords.indices.map { i =>
        val mn = if (r.isNullAt(2 * i)) 0.0 else r.getDouble(2 * i)
        val mx = if (r.isNullAt(2 * i + 1)) mn else r.getDouble(2 * i + 1)
        (mn, mx)
      }
    }
    val window = math.pow(2.0, bits)
    ords.zip(bounds).map { case (o, (mn, mx)) =>
      val scale = window / (mx - mn + 1.0)
      // clamp BOTH edges: an out-of-bounds value (stats drift, truncated
      // maxima) degrades to the edge bucket instead of mask-wrapping
      greatest(lit(0.0),
        least(floor((coalesce(o, lit(mn)) - lit(mn)) * lit(scale)),
          lit(window - 1.0))).cast("long")
    }
  }

  /** Per-dimension [min, max] in [[curveOrdinal]] space from the
    * candidates' `add.stats`, or None when any candidate lacks a usable
    * bound for any dimension (no stats, all-null column, or a type —
    * strings — whose stats rendering does not map exactly onto the
    * ordinal). Truncation in the stats only ever UNDERSTATES a maximum,
    * which the scaling clamp absorbs. */
  private def curveBoundsFromStats(snap: Snapshot,
      fields: Seq[org.apache.spark.sql.types.StructField]): Option[Seq[(Double, Double)]] = {
    import org.apache.spark.sql.types._
    val exact = fields.forall(_.dataType match {
      // NOT Decimal: ParquetStats renders the UNSCALED integer, 10^scale
      // away from curveOrdinal's cast-to-double image. NOT TimestampNTZ:
      // its ordinal goes through the SESSION timezone while the stats
      // text renders a fixed wall-clock — both fall back to the agg,
      // which is self-consistent by construction.
      case DateType | TimestampType | BooleanType => true
      case _: DecimalType => false
      case _: NumericType => true
      case _ => false
    })
    if (!exact || snap.files.isEmpty) return None
    def ordinalOf(f: StructField, v: com.fasterxml.jackson.databind.JsonNode): Double =
      f.dataType match {
        case DateType =>
          // this engine's own footers render DATE stats as epoch-day
          // integers; delta-spark renders ISO strings — accept both
          if (v.isNumber) v.asDouble
          else java.time.LocalDate.parse(v.asText).toEpochDay.toDouble
        case TimestampType =>
          java.time.LocalDateTime.parse(v.asText,
            java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"))
            .toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000.0 // µs, curveOrdinal's unit
        case BooleanType => if (v.asBoolean) 1.0 else 0.0
        case _ => v.asDouble
      }
    val phys = fields.map(physicalName)
    val perFile: Seq[Option[Seq[(Double, Double)]]] = snap.files.map { f =>
      f.stats.flatMap { s =>
        val node = try Actions.mapper.readTree(s) catch { case _: Exception => null }
        if (node == null) None
        else {
          val mins = node.path("minValues")
          val maxs = node.path("maxValues")
          val per = fields.zip(phys).map { case (fld, p) =>
            val mn = mins.path(p)
            val mx = maxs.path(p)
            if (mn.isMissingNode || mx.isMissingNode || mn.isNull || mx.isNull) None
            else try Some((ordinalOf(fld, mn), ordinalOf(fld, mx)))
            catch { case _: Exception => None }
          }
          if (per.exists(_.isEmpty)) None else Some(per.map(_.get))
        }
      }
    }
    if (perFile.exists(_.isEmpty)) None
    else {
      val all = perFile.flatten
      Some(fields.indices.map(i =>
        (all.map(_(i)._1).min, all.map(_(i)._2).max)))
    }
  }

  private def optimizeByKey(numFiles: Int,
                            where: Option[org.apache.spark.sql.Column],
                            cubeSpec: (Seq[String], String),
                            incremental: Boolean): Long = {
    val (cubeCols, curve) = cubeSpec
    val snap0 = snapshot
    val tableConf = snap0.metadata.map(_.configuration).getOrElse(Map.empty)
    val selected = where.fold(snap0.files)(p => filesInPartitions(snap0.files, p))
    // cube tags record PHYSICAL column names (like the clustering domain
    // and partition directories): a metadata-only RENAME of a clustering
    // column on a mapped table must not invalidate every existing cube —
    // logical-name tags would stop matching and the next incremental run
    // would re-cluster the whole table once for nothing
    val physOfLogical = snap0.metadata.map(m =>
      org.apache.spark.sql.types.DataType.fromJson(m.schemaString)
        .asInstanceOf[StructType].fields.map(f => f.name -> physicalName(f)).toMap)
      .getOrElse(Map.empty[String, String])
    val colsJson = Actions.mapper.writeValueAsString(
      cubeCols.map(c => physOfLogical.getOrElse(c, c)))
    val candidates =
      if (!incremental) selected
      else {
        val minCube = tableConf.get(DeltaTable.MinCubeSizeKey)
          .flatMap(s => scala.util.Try(s.trim.toLong).toOption).filter(_ > 0)
          .getOrElse(DeltaTable.DefaultMinCubeSize)
        // a file belongs to a cube only if it was written by an OPTIMIZE
        // over the SAME columns and curve — anything else (fresh append,
        // DML rewrite, different layout) is a candidate
        def cubeOf(f: AddFile): Option[String] = f.tags.filter(t =>
          t.get(DeltaTable.ZCubeColsTag).contains(colsJson) &&
            t.get(DeltaTable.ZCubeCurveTag).contains(curve))
          .flatMap(_.get(DeltaTable.ZCubeIdTag))
        selected.groupBy(cubeOf).toSeq.sortBy(_._1).flatMap {
          case (None, fs) => fs // untagged: always rewritten
          case (Some(_), fs) if fs.map(_.size).sum < minCube => fs // partial cube: re-merge
          case _ => Nil // final cube: already clustered, skip
        }
      }
    val snap = snap0.copy(files = candidates)
    if (snap.files.isEmpty || (snap.files.size < 2 && numFiles <= 0)) return -1L
    val parts = partitionColumns
    val n = if (numFiles > 0) numFiles else {
      // bin-pack the rewritten bytes to the target file size: a table of
      // accumulated small files COMPACTS while it clusters, and a file
      // larger than the target splits — the old file count is not a
      // layout goal
      val target = tableConf.get(DeltaTable.TargetFileSizeKey)
        .flatMap(s => scala.util.Try(s.trim.toLong).toOption).filter(_ > 0)
        .getOrElse(DeltaTable.DefaultTargetFileSize)
      val total = snap.files.map(_.size).sum
      math.max(1L, (total + target - 1) / target).toInt
    }
    val base = materializingRowIds(snap)
    val zv: org.apache.spark.sql.Column =
      if (cubeCols.size == 1) col(cubeCols.head) // plain range sort: any orderable type
      else {
        val bits = curve match {
          case "zorder" =>
            if (cubeCols.size == 2) 32 else graft.functions.ZValueN.bitsFor(cubeCols.size)
          case _ =>
            if (cubeCols.size == 2) 16 else graft.functions.HilbertValueN.bitsFor(cubeCols.size)
        }
        val scaled = normalizedCurveInputs(base, snap, cubeCols, bits)
        (curve, cubeCols.size) match {
          case ("zorder", 2) => graft.functions.ZValue.of(scaled(0), scaled(1))
          case ("zorder", _) => graft.functions.ZValueN.of(scaled)
          case (_, 2) => graft.functions.HilbertValue.of(scaled(0), scaled(1))
          case _ => graft.functions.HilbertValueN.of(scaled)
        }
      }
    val rangeCols = parts.map(col) :+ org.apache.spark.sql.functions.col("__zv")
    val sorted = base.withColumn("__zv", zv)
      .repartitionByRange(n, rangeCols: _*)
      .sortWithinPartitions(rangeCols: _*)
      .drop("__zv")
    val adds = stage(toPhysicalForWrite(sorted, schema), physicalPartNames(parts))
    // one fresh cube id per run: every output file of this rewrite is
    // one cluster unit for later incremental candidate selection
    val cubeTags = Some(Map(
      DeltaTable.ZCubeIdTag -> java.util.UUID.randomUUID().toString,
      DeltaTable.ZCubeColsTag -> colsJson,
      DeltaTable.ZCubeCurveTag -> curve))
    val expected = snap.files.map(f => f.path -> f.deletionVector).toMap
    val actions =
      adds.map(a => Action(add = Some(a.copy(dataChange = false, tags = cubeTags)))) ++
        snap.files.map(f => Action(remove = Some(removeOf(f,
          System.currentTimeMillis(), dataChange = false)))) ++
        Seq(Action(commitInfo = Some(CommitInfo(System.currentTimeMillis(), "OPTIMIZE",
          operationMetrics = Some(Map(
            "numAddedFiles" -> adds.size.toString,
            "numRemovedFiles" -> snap.files.size.toString,
            "numAddedBytes" -> adds.map(_.size).sum.toString,
            "numRemovedBytes" -> snap.files.map(_.size).sum.toString))))))
    // path-AND-descriptor guard: a concurrent DV delete keeps paths live
    // while changing logical content — clobbering it would resurrect its
    // deleted rows
    commitStaged(snap0.version, adds.map(_.path), _ => actions, s => {
      val live = s.files.map(f => f.path -> f.deletionVector).toMap
      expected.forall { case (p, dv) => live.get(p).contains(dv) }
    })
  }

  /** The bin-routing frame [[compact]] shuffles: each row tagged with
    * its bin through a BROADCAST fileKey→bin probe inside the scan stage
    * (the FileLongValue shape the DV/row-id reads use) — never a
    * plan-embedded map literal. The motivating case is a 100 TB table's
    * accumulated small-file debt (10⁵–10⁶ entries), where a typedlit map
    * would serialize multi-MB into every task's plan and through
    * codegen. Seam for PlanSpec's no-map-literal pin. */
  private[delta] def binRoutedFrame(snap: Snapshot, df0: DataFrame,
                                    binOf: Map[String, Int],
                                    totalBins: Int): DataFrame =
    if (totalBins == 1) df0.coalesce(1)
    else {
      import org.apache.spark.sql.graft.ColumnBridge
      val bc = spark.sparkContext.broadcast(new FileLongLookup(
        binOf.map { case (k, b) => k -> b.toLong }))
      df0.withColumn("__bin", ColumnBridge.wrap(FileLongValue(
          ColumnBridge.toExpr(fileKeyExpr(snap)), bc, "compact_bin")))
        .repartitionByRange(totalBins, col("__bin"))
        .drop("__bin")
    }

  /** [[compact]]'s greedy packing as a seam (driver-side, exact
    * `add.size` metadata): deterministic (partition, path) order so a
    * replay packs identically. A bin of one file is dropped, since
    * rewriting it changes nothing, unless the file has a deletion vector
    * (the rewrite purges its deleted rows). */
  private[delta] def compactBins(snap: Snapshot, small: Seq[AddFile],
                                 target: Long): Map[String, Int] = {
    import scala.collection.mutable.ArrayBuffer
    val bins = ArrayBuffer.empty[ArrayBuffer[AddFile]]
    small.groupBy(_.partitionValues).toSeq
      .sortBy(_._1.toSeq.sorted.mkString("|")).foreach { case (_, fs) =>
        var used = Long.MaxValue // forces a fresh bin per partition
        fs.sortBy(_.path).foreach { f =>
          if (used > target - f.size) { bins += ArrayBuffer.empty; used = 0L }
          used += f.size
          bins.last += f
        }
      }
    bins.filter(b => b.size > 1 || b.exists(_.deletionVector.isDefined)).zipWithIndex
      .flatMap { case (b, i) => b.map(f => fileKey(snap, f) -> i) }.toMap
  }

  /** Small-file compaction (the reference's min_bytes_per_file lever, B3,
    * re-expressed as OPTIMIZE): rewrite files below `minBytes` per partition
    * into bin-packed ~target-size ones; commits add+remove with
    * dataChange=false.
    *
    * Output sizing: files greedily pack into bins of
    * `max(minBytes, delta.targetFileSize)` bytes per PARTITION (exact
    * `add.size` values, driver-side — the file list is log metadata).
    * The max keeps compaction CONVERGENT, and a bin of one file is not
    * rewritten (a partition's lone small file stays as it is), so a
    * re-run never rewrites a file to itself. Returns -1 when no bin is
    * left. Rows route to their bin by source file name (UUID-unique
    * within a table) and one range-partition task writes ≈ one bin — a
    * 100 TB streaming table's small-file debt compacts into target-size
    * files with one shuffle of ONLY the small bytes, instead of
    * funneling through the single output task a coalesce(1) would
    * schedule. */
  def compact(minBytes: Long = 128L * 1024 * 1024,
              where: Option[org.apache.spark.sql.Column] = None): Long = {
    val snap = snapshot
    // `where` = partition-scoped OPTIMIZE (the `OPTIMIZE t WHERE day = x`
    // shape): at 100 TB you compact yesterday's partition, not the table
    val small0 = snap.files.filter(_.size < minBytes)
    val candidates = where.fold(small0)(p => filesInPartitions(small0, p))
    val parts = partitionColumns
    val target = {
      val prop = snap.metadata.flatMap(_.configuration.get(DeltaTable.TargetFileSizeKey))
        .flatMap(s => scala.util.Try(s.trim.toLong).toOption).filter(_ > 0)
        .getOrElse(DeltaTable.DefaultTargetFileSize)
      math.max(minBytes, prop)
    }
    // greedy per-partition packing over the exact add.size list; keys
    // are the [[fileKey]] suffix (partition dirs + name) — a BASENAME
    // key would collide across partition dirs (one job reuses its
    // part-file name in each) and silently merge two partitions' bins
    val binOf = compactBins(snap, candidates, target)
    if (binOf.isEmpty) return -1L
    val small = candidates.filter(f => binOf.contains(fileKey(snap, f)))
    val totalBins = binOf.values.max + 1
    // dfFor handles the declared-schema read (old files null-fill evolved
    // columns) — an inferred read crashes after schema evolution
    val df0 = materializingRowIds(snap.copy(files = small))
    val df = binRoutedFrame(snap, df0, binOf, totalBins)
    val adds = stage(toPhysicalForWrite(df, schema), physicalPartNames(parts))
    val expected = small.map(f => f.path -> f.deletionVector).toMap
    val actions =
      adds.map(a => Action(add = Some(a.copy(dataChange = false)))) ++
        small.map(f => Action(remove = Some(removeOf(f,
          System.currentTimeMillis(), dataChange = false)))) ++
        Seq(Action(commitInfo = Some(CommitInfo(System.currentTimeMillis(), "OPTIMIZE",
          operationMetrics = Some(Map(
            "numAddedFiles" -> adds.size.toString,
            "numRemovedFiles" -> small.size.toString,
            "numAddedBytes" -> adds.map(_.size).sum.toString,
            "numRemovedBytes" -> small.map(_.size).sum.toString))))))
    // concurrency guard: if ANY of the files this rewrite is based on is
    // no longer live — or now carries a different DV descriptor (a
    // concurrent compaction, vacuum, or DV delete got there first) —
    // committing our adds would duplicate or resurrect rows; abort
    // instead (the retry re-runs this check on the new snapshot)
    commitStaged(snap.version, adds.map(_.path), _ => actions, s => {
      val live = s.files.map(f => f.path -> f.deletionVector).toMap
      expected.forall { case (p, dv) => live.get(p).contains(dv) }
    })
  }
}
