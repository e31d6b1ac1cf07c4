package graft.delta

import java.nio.charset.StandardCharsets

import scala.collection.mutable

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.fasterxml.jackson.annotation.JsonInclude
import com.fasterxml.jackson.databind.annotation.JsonDeserialize
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

/** Minimal Delta-protocol transaction log (reader+writer version 1 / 2).
  *
  * The environment ships no delta-spark jar, so the sink the reference
  * commits to (SURVEY §2.7) is re-implemented against the *public Delta
  * protocol spec* (github.com/delta-io/delta/blob/master/PROTOCOL.md):
  * `_delta_log/<20-digit-version>.json` files of newline-delimited action
  * JSON — `protocol`, `metaData`, `add`, `remove`, `txn`, `commitInfo` —
  * with optimistic concurrency via atomic create-if-absent, per-app `txn`
  * versions for idempotent writes (the reference's exactly-once core,
  * /root/reference/src/delta_helpers.rs:15-40), and spec-schema PARQUET
  * checkpoints every `checkpointInterval` versions plus `_last_checkpoint`
  * (src/delta_helpers.rs:42-68) — readable by delta-spark/delta-rs.
  *
  * Scale notes: the log is driver-side metadata (KBs per commit); data files
  * are written by executors. Snapshot reconstruction reads the last
  * checkpoint + tail JSON, not the whole history.
  */
object Actions {
  final case class Format(provider: String = "parquet",
                          options: Map[String, String] = Map.empty)
  final case class Protocol(minReaderVersion: Int = 1, minWriterVersion: Int = 2,
                            readerFeatures: Option[Seq[String]] = None,
                            writerFeatures: Option[Seq[String]] = None)

  /** Deletion-vector descriptor (PROTOCOL.md): where a file's deleted-row
    * bitmap lives. storageType "i" = Z85 inline in `pathOrInlineDv`,
    * "u" = table-relative DV file, "p" = absolute path; `offset` locates
    * the DV inside a shared file; `sizeInBytes` is the serialized bitmap
    * length; `cardinality` the number of deleted rows. */
  final case class DeletionVectorDescriptor(
      storageType: String,
      pathOrInlineDv: String,
      offset: Option[Int] = None,
      sizeInBytes: Int = 0,
      cardinality: Long = 0L)
  final case class Metadata(
      id: String,
      name: Option[String] = None,
      description: Option[String] = None,
      format: Format = Format(),
      schemaString: String = "",
      partitionColumns: Seq[String] = Nil,
      configuration: Map[String, String] = Map.empty,
      createdTime: Option[Long] = None)
  final case class AddFile(
      path: String,
      partitionValues: Map[String, String] = Map.empty,
      size: Long = 0L,
      modificationTime: Long = 0L,
      dataChange: Boolean = true,
      stats: Option[String] = None,
      deletionVector: Option[DeletionVectorDescriptor] = None,
      // contentAs: Jackson would otherwise deserialize small JSON numbers
      // into an Option[Integer] that unboxes as Long only at CRASH time
      @JsonDeserialize(contentAs = classOf[java.lang.Long])
      baseRowId: Option[Long] = None,
      @JsonDeserialize(contentAs = classOf[java.lang.Long])
      defaultRowCommitVersion: Option[Long] = None,
      // PROTOCOL.md `add.tags`: writer-owned per-file metadata. Carries
      // the ZCube identity OPTIMIZE stamps (ZCUBE_ID / ZCUBE_ZORDER_BY /
      // ZCUBE_ZORDER_CURVE) so a later incremental OPTIMIZE can skip
      // files already clustered by the same key — at 100 TB the
      // difference between re-sorting the table and touching only the
      // files appended since the last maintenance run.
      tags: Option[Map[String, String]] = None) {
    /** Checkpoint-provided PRE-PARSED stats (delta-spark's `stats_parsed`
      * checkpoint column): populated only when this add was replayed from
      * a checkpoint carrying the typed struct — [[DataSkipping]] prefers
      * it over re-parsing the `stats` JSON, which at 10⁶ files is the
      * snapshot-load + per-prune bottleneck. Deliberately a @transient
      * var OUTSIDE the case-class equality (a cold-read add must stay ==
      * to its JSON-replayed twin) and @JsonIgnore'd (never serialized to
      * commits — the JSON `stats` string stays the protocol's canonical
      * form). */
    @com.fasterxml.jackson.annotation.JsonIgnore
    @transient var parsedStats: Option[ParsedStats] = None
    def withParsedStats(ps: Option[ParsedStats]): AddFile = {
      parsedStats = ps; this
    }
  }

  /** Typed per-file stats decoded from a checkpoint's `stats_parsed`
    * struct. Values carry Spark external types (java.lang numbers,
    * String, java.sql.Timestamp/Date, java.math.BigDecimal) — exactly
    * what [[DataSkipping]]'s comparators consume. Top-level leaf columns
    * only (nested mins exist in the checkpoint struct for protocol
    * faithfulness, but pruning consumes top-level bounds). */
  final case class ParsedStats(numRecords: Option[Long],
                               minValues: Map[String, Any],
                               maxValues: Map[String, Any],
                               nullCount: Map[String, Long])
  final case class RemoveFile(
      path: String,
      @JsonDeserialize(contentAs = classOf[java.lang.Long])
      deletionTimestamp: Option[Long] = None,
      dataChange: Boolean = true,
      deletionVector: Option[DeletionVectorDescriptor] = None,
      @JsonDeserialize(contentAs = classOf[java.lang.Long])
      baseRowId: Option[Long] = None,
      @JsonDeserialize(contentAs = classOf[java.lang.Long])
      defaultRowCommitVersion: Option[Long] = None)
  /** Change-data file (Delta PROTOCOL.md `cdc` action): a parquet file
    * under `_change_data/` carrying the commit's change rows with their
    * `_change_type`. Not part of table STATE — replay ignores it, and it
    * is excluded from checkpoints per the spec; [[DeltaLog.readVersion]]
    * on the commit JSON is the (only) way change files are discovered. */
  final case class AddCDCFile(
      path: String,
      partitionValues: Map[String, String] = Map.empty,
      size: Long = 0L,
      dataChange: Boolean = false)
  final case class Txn(appId: String, version: Long, lastUpdated: Option[Long] = None)
  /** Domain metadata (Delta PROTOCOL.md `domainMetadata` action, writer
    * feature `domainMetadata`): a named system domain carrying a
    * configuration string as part of TABLE STATE — replay keeps the last
    * writer per domain, `removed=true` tombstones it, and checkpoints
    * persist the live domains. Carries the row-tracking high-water mark
    * (`delta.rowTracking`) and clustered-table clustering columns
    * (`delta.clustering`). */
  final case class DomainMetadata(domain: String, configuration: String = "",
                                  removed: Boolean = false)
  /** V2-checkpoint actions (PROTOCOL.md "V2 Spec Checkpoints"): the
    * top-level checkpoint file carries one `checkpointMetadata` plus a
    * `sidecar` pointer per sidecar parquet (under `_delta_log/_sidecars/`)
    * holding the file actions. Replay ignores both outside checkpoint
    * loading. */
  final case class CheckpointMetadata(version: Long,
                                      tags: Map[String, String] = Map.empty)
  final case class SidecarFile(path: String,
                               @JsonDeserialize(contentAs = classOf[java.lang.Long])
                               sizeInBytes: Option[Long] = None,
                               @JsonDeserialize(contentAs = classOf[java.lang.Long])
                               modificationTime: Option[Long] = None)
  final case class CommitInfo(
      timestamp: Long,
      operation: String,
      operationParameters: Map[String, String] = Map.empty,
      inCommitTimestamp: Option[Long] = None,
      // delta-spark's DESCRIBE HISTORY metrics column (numFiles,
      // numOutputRows, numAddedFiles, …): absent (not {}) when an
      // operation reports none, matching delta's JSON
      operationMetrics: Option[Map[String, String]] = None)

  /** One log line: exactly one of the fields set. */
  final case class Action(
      protocol: Option[Protocol] = None,
      metaData: Option[Metadata] = None,
      add: Option[AddFile] = None,
      remove: Option[RemoveFile] = None,
      cdc: Option[AddCDCFile] = None,
      txn: Option[Txn] = None,
      domainMetadata: Option[DomainMetadata] = None,
      checkpointMetadata: Option[CheckpointMetadata] = None,
      sidecar: Option[SidecarFile] = None,
      commitInfo: Option[CommitInfo] = None)

  val mapper: ObjectMapper = {
    val m = new ObjectMapper()
    m.registerModule(DefaultScalaModule)
    m.configure(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)
    m.setSerializationInclusion(JsonInclude.Include.NON_ABSENT)
    m
  }

  /** Delta-spec checkpoint row schema (PROTOCOL.md "Checkpoint Schema"):
    * one column per action type, one action per row. `commitInfo` is
    * excluded from checkpoints per the spec. */
  val CheckpointSchema: StructType = {
    val format = StructType(Seq(
      StructField("provider", StringType),
      StructField("options", MapType(StringType, StringType))))
    val deletionVector = StructType(Seq(
      StructField("storageType", StringType),
      StructField("pathOrInlineDv", StringType),
      StructField("offset", IntegerType),
      StructField("sizeInBytes", IntegerType),
      StructField("cardinality", LongType)))
    StructType(Seq(
      StructField("protocol", StructType(Seq(
        StructField("minReaderVersion", IntegerType),
        StructField("minWriterVersion", IntegerType),
        StructField("readerFeatures", ArrayType(StringType)),
        StructField("writerFeatures", ArrayType(StringType))))),
      StructField("metaData", StructType(Seq(
        StructField("id", StringType),
        StructField("name", StringType),
        StructField("format", format),
        StructField("schemaString", StringType),
        StructField("partitionColumns", ArrayType(StringType)),
        StructField("configuration", MapType(StringType, StringType)),
        StructField("createdTime", LongType),
        StructField("description", StringType)))),
      StructField("txn", StructType(Seq(
        StructField("appId", StringType),
        StructField("version", LongType),
        StructField("lastUpdated", LongType)))),
      StructField("add", StructType(Seq(
        StructField("path", StringType),
        StructField("partitionValues", MapType(StringType, StringType)),
        StructField("size", LongType),
        StructField("modificationTime", LongType),
        StructField("dataChange", BooleanType),
        StructField("stats", StringType),
        StructField("deletionVector", deletionVector),
        StructField("baseRowId", LongType),
        StructField("defaultRowCommitVersion", LongType),
        StructField("tags", MapType(StringType, StringType))))),
      StructField("remove", StructType(Seq(
        StructField("path", StringType),
        StructField("deletionTimestamp", LongType),
        StructField("dataChange", BooleanType),
        StructField("deletionVector", deletionVector),
        StructField("baseRowId", LongType),
        StructField("defaultRowCommitVersion", LongType)))),
      StructField("domainMetadata", StructType(Seq(
        StructField("domain", StringType),
        StructField("configuration", StringType),
        StructField("removed", BooleanType))))))
  }

  /** The typed `stats_parsed` struct for a table's (physical,
    * partition-pruned) data schema — delta-spark's checkpoint
    * acceleration column: min/max keep each leaf's real type (structs
    * recurse; array/map/binary leaves carry no orderable bounds and
    * drop), nullCount is the same shape with LongType leaves. */
  def statsParsedSchema(dataSchema: StructType): StructType = {
    def minMax(dt: DataType): Option[DataType] = dt match {
      case s: StructType =>
        val kept = s.fields.flatMap(f =>
          minMax(f.dataType).map(t => StructField(f.name, t)))
        if (kept.isEmpty) None else Some(StructType(kept))
      case _: ArrayType | _: MapType | BinaryType => None
      case other => Some(other)
    }
    def nullCount(dt: DataType): DataType = dt match {
      case s: StructType =>
        StructType(s.fields.map(f => StructField(f.name, nullCount(f.dataType))))
      case _ => LongType
    }
    val mm = minMax(dataSchema).getOrElse(StructType(Nil))
    StructType(Seq(
      StructField("numRecords", LongType),
      StructField("minValues", mm),
      StructField("maxValues", mm),
      StructField("nullCount", nullCount(dataSchema))))
  }

  /** from_json options matching [[ParquetStats]]' stats rendering:
    * timestamps are ISO-8601 at millisecond precision with a literal Z
    * (fixed-width; [[ParquetStats.tsFmt]]), dates ISO yyyy-MM-dd. A
    * stats string from another engine (or a legacy epoch-day date) that
    * fails this parse yields a NULL `stats_parsed` for that file — the
    * read path falls back to the JSON, never wrong, just unaccelerated. */
  val StatsJsonOptions: Map[String, String] = Map(
    "timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'",
    "timestampNTZFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'",
    "dateFormat" -> "yyyy-MM-dd")
}

/** Direct Row → [[Actions.Action]] conversion for checkpoint replay
  * (field positions follow [[Actions.CheckpointSchema]] exactly). */
private[delta] object CheckpointRows {
  import Actions._
  import org.apache.spark.sql.Row

  private def optStr(r: Row, i: Int): Option[String] =
    if (r.isNullAt(i)) None else Some(r.getString(i))
  private def optLong(r: Row, i: Int): Option[Long] =
    if (r.isNullAt(i)) None else Some(r.getLong(i))
  private def optInt(r: Row, i: Int): Option[Int] =
    if (r.isNullAt(i)) None else Some(r.getInt(i))
  private def optSeq(r: Row, i: Int): Option[Seq[String]] =
    if (r.isNullAt(i)) None else Some(r.getSeq[String](i))
  private def mapOf(r: Row, i: Int): Map[String, String] =
    if (r.isNullAt(i)) Map.empty else r.getMap[String, String](i).toMap

  /** Decode an add row's `stats_parsed` struct (present only when the
    * checkpoint was read under [[DeltaLog]]'s extended schema). Top-level
    * LEAF values only — nested struct bounds exist in the file for
    * protocol faithfulness but pruning consumes top-level columns. */
  private def parsedStatsOf(a: Row): Option[Actions.ParsedStats] = {
    val i =
      try a.fieldIndex("stats_parsed")
      catch { case _: Exception => return None }
    if (a.isNullAt(i)) return None
    val s = a.getStruct(i)
    def at(name: String): Option[Int] =
      try Some(s.fieldIndex(name)).filterNot(s.isNullAt)
      catch { case _: Exception => None }
    def leaves(name: String): Map[String, Any] =
      at(name).map { j =>
        val r = s.getStruct(j)
        r.schema.fields.iterator.zipWithIndex.collect {
          case (f, k) if !r.isNullAt(k) && !f.dataType.isInstanceOf[org.apache.spark.sql.types.StructType] =>
            f.name -> r.get(k)
        }.toMap
      }.getOrElse(Map.empty)
    def longLeaves(name: String): Map[String, Long] =
      at(name).map { j =>
        val r = s.getStruct(j)
        r.schema.fields.iterator.zipWithIndex.collect {
          case (f, k) if !r.isNullAt(k) &&
            f.dataType == org.apache.spark.sql.types.LongType =>
            f.name -> r.getLong(k)
        }.toMap
      }.getOrElse(Map.empty)
    Some(Actions.ParsedStats(
      numRecords = at("numRecords").map(s.getLong),
      minValues = leaves("minValues"),
      maxValues = leaves("maxValues"),
      nullCount = longLeaves("nullCount")))
  }

  private def dv(r: Row, i: Int): Option[DeletionVectorDescriptor] =
    if (r.isNullAt(i)) None
    else {
      val d = r.getStruct(i)
      Some(DeletionVectorDescriptor(
        storageType = d.getString(0),
        pathOrInlineDv = d.getString(1),
        offset = optInt(d, 2),
        sizeInBytes = if (d.isNullAt(3)) 0 else d.getInt(3),
        cardinality = if (d.isNullAt(4)) 0L else d.getLong(4)))
    }

  def toAction(r: Row): Action = {
    if (!r.isNullAt(0)) {
      val p = r.getStruct(0)
      Action(protocol = Some(Protocol(
        minReaderVersion = p.getInt(0), minWriterVersion = p.getInt(1),
        readerFeatures = optSeq(p, 2), writerFeatures = optSeq(p, 3))))
    } else if (!r.isNullAt(1)) {
      val m = r.getStruct(1)
      val format =
        if (m.isNullAt(2)) Format()
        else {
          val f = m.getStruct(2)
          Format(provider = if (f.isNullAt(0)) "parquet" else f.getString(0),
            options = mapOf(f, 1))
        }
      Action(metaData = Some(Metadata(
        id = m.getString(0), name = optStr(m, 1), format = format,
        schemaString = if (m.isNullAt(3)) "" else m.getString(3),
        partitionColumns = if (m.isNullAt(4)) Nil else m.getSeq[String](4),
        configuration = mapOf(m, 5),
        createdTime = optLong(m, 6),
        description = optStr(m, 7))))
    } else if (!r.isNullAt(2)) {
      val t = r.getStruct(2)
      Action(txn = Some(Txn(t.getString(0), t.getLong(1), optLong(t, 2))))
    } else if (!r.isNullAt(3)) {
      val a = r.getStruct(3)
      Action(add = Some(AddFile(
        path = a.getString(0), partitionValues = mapOf(a, 1),
        size = if (a.isNullAt(2)) 0L else a.getLong(2),
        modificationTime = if (a.isNullAt(3)) 0L else a.getLong(3),
        dataChange = !a.isNullAt(4) && a.getBoolean(4),
        stats = optStr(a, 5), deletionVector = dv(a, 6),
        baseRowId = optLong(a, 7), defaultRowCommitVersion = optLong(a, 8),
        tags = if (a.isNullAt(9)) None else Some(mapOf(a, 9)))
        .withParsedStats(parsedStatsOf(a))))
    } else if (!r.isNullAt(4)) {
      val rm = r.getStruct(4)
      Action(remove = Some(RemoveFile(
        path = rm.getString(0), deletionTimestamp = optLong(rm, 1),
        dataChange = !rm.isNullAt(2) && rm.getBoolean(2),
        deletionVector = dv(rm, 3),
        baseRowId = optLong(rm, 4), defaultRowCommitVersion = optLong(rm, 5))))
    } else if (!r.isNullAt(5)) {
      val dm = r.getStruct(5)
      Action(domainMetadata = Some(DomainMetadata(
        domain = dm.getString(0),
        configuration = if (dm.isNullAt(1)) "" else dm.getString(1),
        removed = !dm.isNullAt(2) && dm.getBoolean(2))))
    } else Action() // blank row: ignored by replay, like an unknown action
  }
}

final case class Snapshot(
    version: Long,
    metadata: Option[Actions.Metadata],
    files: Seq[Actions.AddFile],
    txns: Map[String, Long],
    protocol: Option[Actions.Protocol] = None,
    domainMetadata: Map[String, String] = Map.empty,
    // per-app `txn.lastUpdated` (absent = never expires) — feeds
    // delta.setTransactionRetentionDuration's checkpoint-time expiry
    txnTimes: Map[String, Long] = Map.empty) {
  // Table state derived from `metadata`, parsed once per snapshot: every
  // reader of a schema-level fact or a table property asks the snapshot
  // its operation read, so one operation sees one table version.

  /** The table schema (None before the table exists). */
  lazy val schema: Option[StructType] =
    metadata.map(m => DataType.fromJson(m.schemaString).asInstanceOf[StructType])
  private def fields: Seq[StructField] = schema.fold(Seq.empty[StructField])(_.fields.toSeq)
  lazy val partitionColumns: Seq[String] = metadata.fold(Seq.empty[String])(_.partitionColumns)
  lazy val configuration: Map[String, String] =
    metadata.fold(Map.empty[String, String])(_.configuration)
  /** True when table property `key` is set to "true". */
  def enabled(key: String): Boolean = configuration.get(key).contains("true")
  /** `delta.columnMapping.mode`: `none`, `name` or `id`. */
  def columnMappingMode: String = configuration.getOrElse(DeltaTable.ColumnMappingModeKey, "none")
  def columnMappingEnabled: Boolean = columnMappingMode == "name" || columnMappingMode == "id"
  /** Logical → physical column name (identity without mapping metadata). */
  lazy val physicalNames: Map[String, String] =
    fields.map(f => f.name -> DeltaTable.physicalName(f)).toMap
  /** Partition columns by physical name: Hive directory names and
    * `add.partitionValues` keys on a mapped table. */
  lazy val physicalPartitionColumns: Seq[String] =
    partitionColumns.map(p => physicalNames.getOrElse(p, p))
  /** Read-side physical schema. In `id` mode each field also carries
    * `parquet.field.id` (its Delta stable id), so Spark's parquet reader
    * matches columns by field id, the protocol's id-mode contract. */
  lazy val physicalSchema: StructType = StructType(fields.map { f =>
    val renamed = f.copy(name = DeltaTable.physicalName(f))
    if (columnMappingMode == "id" && f.metadata.contains(DeltaTable.ColMapIdKey))
      renamed.copy(metadata = new MetadataBuilder().withMetadata(renamed.metadata)
        .putLong("parquet.field.id", f.metadata.getLong(DeltaTable.ColMapIdKey)).build())
    else renamed
  })
  /** DEFAULT expressions by column: the SQL a write evaluates for a
    * column its rows omit. */
  lazy val columnDefaults: Map[String, String] = fieldStrings(DeltaTable.CurrentDefaultKey)
  /** Generation expressions by column. */
  lazy val generatedColumns: Map[String, String] = fieldStrings(DeltaTable.GenerationExprKey)
  /** CHECK constraints by name (`delta.constraints.<name>` properties). */
  lazy val checkConstraints: Map[String, String] = configuration.collect {
    case (k, v) if k.startsWith(DeltaTable.ConstraintPrefix) =>
      k.stripPrefix(DeltaTable.ConstraintPrefix) -> v
  }
  lazy val identityFields: Seq[StructField] =
    fields.filter(_.metadata.contains(DeltaTable.IdentityStartKey))
  private def fieldStrings(key: String): Map[String, String] =
    fields.collect { case f if f.metadata.contains(key) => f.name -> f.metadata.getString(key) }
      .toMap
}

/** Per-commit state summary persisted as `<version>.crc` next to the
  * commit JSON (delta-spark's VersionChecksum sidecar — not part of
  * PROTOCOL.md, ignored by readers that don't know it). */
final case class VersionChecksum(
    tableSizeBytes: Long,
    numFiles: Long,
    numMetadata: Int,
    numProtocol: Int,
    // delta-spark's field names (Checksum.scala) so crc files round-trip
    // with real delta-spark logs; Option because either writer may omit
    @JsonDeserialize(contentAs = classOf[java.lang.Long])
    numDeletionVectorsOpt: Option[Long] = None,
    @JsonDeserialize(contentAs = classOf[java.lang.Long])
    numDeletedRecordsOpt: Option[Long] = None,
    metadata: Option[Actions.Metadata] = None,
    protocol: Option[Actions.Protocol] = None)

/** Commit failed because the target version already exists. */
final class VersionAlreadyExists(val version: Long)
  extends RuntimeException(s"delta version $version already exists")

/** `version` is committed and durable, but something after the publish
  * failed: a post-commit hook, auto-compaction, or the store's own
  * acknowledgement of the publish. The write LANDED: its files must
  * never be deleted, and a replay of the same txn batch is a skip. */
final class PostCommitFailure(val version: Long, cause: Throwable)
  extends RuntimeException(
    s"delta version $version is committed; post-commit work failed: ${cause.getMessage}", cause)

object DeltaLog {
  private[delta] val logger = org.slf4j.LoggerFactory.getLogger(classOf[DeltaLog])

  /** Row-tracking domain name (Delta PROTOCOL.md "Row Tracking": fresh
    * base row IDs are assigned AT COMMIT TIME from this domain's
    * `rowIdHighWaterMark`). */
  val RowTrackingDomain = "delta.rowTracking"

  /** Protocol features this engine IMPLEMENTS. PROTOCOL.md's conformance
    * rule: a client MUST refuse tables whose protocol names anything it
    * does not implement — reading past an unknown reader feature returns
    * wrong results (e.g. unapplied masks), writing past an unknown
    * writer feature silently breaks the table's invariants. */
  val SupportedReaderFeatures: Set[String] =
    Set("columnMapping", "deletionVectors", "timestampNtz", "v2Checkpoint",
      // a reader-writer feature: readers must up-cast narrower physical
      // types written before the widen — this engine's reads do
      "typeWidening")
  val SupportedWriterFeatures: Set[String] = SupportedReaderFeatures ++ Set(
    "appendOnly", "invariants", "checkConstraints", "changeDataFeed",
    "generatedColumns", "identityColumns", "rowTracking", "domainMetadata",
    "inCommitTimestamp", "clusteredTable", "allowColumnDefaults",
    // UniForm: writes keep the IcebergCompatV1 invariants (no DVs, no
    // column mapping) and the post-commit hook mirrors the metadata
    "icebergCompatV1")

  /** Refuse reading a table whose protocol requires anything this engine
    * does not implement (legacy reader versions 1–2 imply only
    * implemented behavior; version 3 enumerates features). */
  def requireReadSupported(p: Option[Actions.Protocol]): Unit = p.foreach { pr =>
    require(pr.minReaderVersion <= 3,
      s"table requires reader version ${pr.minReaderVersion}; this engine " +
        "implements up to 3 — refusing to read")
    val unknown = pr.readerFeatures.getOrElse(Nil).toSet -- SupportedReaderFeatures
    require(unknown.isEmpty,
      "table requires reader features this engine does not implement: " +
        s"${unknown.toSeq.sorted.mkString(", ")} — refusing to read " +
        "(scanning past them would return wrong results)")
  }

  /** Refuse writing a table whose protocol requires anything this engine
    * does not implement (a writer must also be a conforming reader). */
  def requireWriteSupported(p: Option[Actions.Protocol]): Unit = p.foreach { pr =>
    requireReadSupported(p)
    require(pr.minWriterVersion <= 7,
      s"table requires writer version ${pr.minWriterVersion}; this engine " +
        "implements up to 7 — refusing to write")
    val unknown = pr.writerFeatures.getOrElse(Nil).toSet -- SupportedWriterFeatures
    require(unknown.isEmpty,
      "table requires writer features this engine does not implement: " +
        s"${unknown.toSeq.sorted.mkString(", ")} — refusing to write " +
        "(blind commits would break invariants those features maintain)")
  }

  /** Grace window before [[DeltaLog.cleanupMetadata]] collects V2-checkpoint
    * transients (unreferenced `_sidecars` parquet, stale `.ck2-*` staging
    * dirs). Must exceed the longest plausible gap between a writer's
    * sidecar rename and its atomic top-level publish. */
  val DefaultTempGraceMs: Long = 60L * 60 * 1000

  /** Default bound on |commitInfo timestamp − log-file mtime| assumed by
    * [[DeltaLog.versionAt]]'s bounded-read search: generous for NTP drift
    * plus object-store upload lag. */
  val DefaultMaxClockSkewMs: Long = 15L * 60L * 1000L

  /** One COMPLETE checkpoint on disk: the classic single file
    * (`v.checkpoint.parquet`), a full multi-part set
    * (`v.checkpoint.<part>.<parts>.parquet`, parts 1..N all present —
    * PROTOCOL.md classic multi-part form), or a V2 top-level file
    * (`v.checkpoint.<uuid>.json` whose sidecar pointers are resolved at
    * load). An incomplete set (a writer died mid-upload) is IGNORED,
    * never half-read. */
  private final case class CheckpointSet(version: Long, files: Seq[Path],
                                         v2: Boolean = false)

  /** One `listStatus` of `_delta_log`, parsed once: everything a read, a
    * commit's bookkeeping and a cleanup learn from the log's file names.
    *
    * @param commits     (version, mtime) of every plain commit JSON, by version
    * @param checkpoints complete checkpoints, one per version (V2 preferred
    *                    over classic), by version
    * @param v2Files     every V2 top-level file, whichever its version carries
    * @param spans       log-compaction (from, to) spans, sorted
    * @param retirable   every versioned file with the version it dies with:
    *                    commits, `.crc`s, checkpoint files of any form
    *                    (incomplete sets too), compaction spans (by end)
    * @param temps       staging entries a crashed writer can leave
    *                    (checkpoint temp dirs, checksum temp files)
    * @param sidecars    whether `_sidecars/` exists */
  private final case class LogListing(commits: Vector[(Long, Long)],
                                      checkpoints: Vector[CheckpointSet],
                                      v2Files: Vector[Path],
                                      spans: Vector[(Long, Long)],
                                      retirable: Vector[(Long, Path)],
                                      temps: Vector[FileStatus],
                                      sidecars: Boolean) {
    def latest: Long = if (commits.isEmpty) -1L else commits.last._1
    /** The newest complete checkpoint at or below `version`. */
    def checkpointAtOrBelow(version: Long): Option[CheckpointSet] =
      checkpoints.takeWhile(_.version <= version).lastOption
  }
}

/** @param spark when present, checkpoints are written/read as spec-schema
  *              parquet; when absent (log-only tooling), checkpoint writing
  *              is skipped and snapshots replay the JSON commits — equally
  *              correct, just slower on long histories. */
final class DeltaLog(val tablePath: String, conf: Configuration,
                     spark: Option[SparkSession] = None) {
  import Actions._
  import DeltaLog.{CheckpointSet, LogListing}

  private val logPath = new Path(tablePath, "_delta_log")
  private def fs: FileSystem = logPath.getFileSystem(conf)

  def versionFile(v: Long): Path = new Path(logPath, f"$v%020d.json")
  private def checksumFile(v: Long): Path = new Path(logPath, f"$v%020d.crc")
  private def checkpointFile(v: Long): Path =
    new Path(logPath, f"$v%020d.checkpoint.parquet")
  private def checkpointPartFile(v: Long, part: Int, parts: Int): Path =
    new Path(logPath, f"$v%020d.checkpoint.$part%010d.$parts%010d.parquet")
  private def compactedFile(from: Long, to: Long): Path =
    new Path(logPath, f"$from%020d.$to%020d.compacted.json")
  private[delta] val sidecarDir = new Path(logPath, "_sidecars")

  def exists(): Boolean = fs.exists(logPath)

  private val SinglePartRx = """(\d{20})\.checkpoint\.parquet""".r
  private val MultiPartRx = """(\d{20})\.checkpoint\.(\d{10})\.(\d{10})\.parquet""".r
  private val V2Rx = """(\d{20})\.checkpoint\.([0-9a-fA-F-]{36})\.json""".r
  private val CompactedRx = """(\d{20})\.(\d{20})\.compacted\.json""".r
  // checkpoint staging dirs: `.ck-` from the part writer, `.ck2-` from
  // V2 writers that had their own prefix
  private val CheckpointTempRx = """\.ck2?-.*""".r

  /** The one listing of `_delta_log`. A missing directory lists empty. */
  private def listLog(): LogListing = {
    val statuses =
      try fs.listStatus(logPath)
      catch { case _: java.io.FileNotFoundException => Array.empty[FileStatus] }
    def versionOf(name: String, suffix: String): Option[Long] =
      if (!name.endsWith(suffix)) None
      else try Some(name.stripSuffix(suffix).toLong)
      catch { case _: NumberFormatException => None }
    val commits = Vector.newBuilder[(Long, Long)]
    val singles = Vector.newBuilder[CheckpointSet]
    val parts = Vector.newBuilder[(Long, Int, Int, Path)]
    val v2s = Vector.newBuilder[CheckpointSet]
    val spans = Vector.newBuilder[(Long, Long)]
    val retirable = Vector.newBuilder[(Long, Path)]
    val temps = Vector.newBuilder[FileStatus]
    var sidecars = false
    statuses.foreach { st =>
      val n = st.getPath.getName
      val p = new Path(logPath, n)
      n match {
        case SinglePartRx(v) =>
          singles += CheckpointSet(v.toLong, Seq(p)); retirable += v.toLong -> p
        case MultiPartRx(v, part, of) =>
          parts += ((v.toLong, of.toInt, part.toInt, p)); retirable += v.toLong -> p
        case V2Rx(v, _) =>
          v2s += CheckpointSet(v.toLong, Seq(p), v2 = true); retirable += v.toLong -> p
        // a compaction span dies with its END version: any replay that
        // could still use it starts at a checkpoint >= cutoff > end
        case CompactedRx(a, b) =>
          spans += a.toLong -> b.toLong; retirable += b.toLong -> p
        case CheckpointTempRx() if st.isDirectory => temps += st
        case _ if n.startsWith(".crc-tmp-") && !st.isDirectory => temps += st
        case "_sidecars" => sidecars = true
        case _ =>
          if (!n.contains("checkpoint")) versionOf(n, ".json").foreach { v =>
            commits += v -> st.getModificationTime; retirable += v -> p
          }
          // version checksums die with their commit JSON
          versionOf(n, ".crc").foreach(v => retirable += v -> p)
      }
    }
    val multis = parts.result().groupBy(t => (t._1, t._2)).collect {
      case ((v, of), found) if found.map(_._3).toSet == (1 to of).toSet =>
        CheckpointSet(v, found.sortBy(_._3).map(_._4))
    }
    val v2Sets = v2s.result()
    // a version can carry both forms; prefer the V2 (sidecars parallelize)
    val checkpoints = (singles.result() ++ multis ++ v2Sets)
      .groupBy(_.version).map { case (_, sets) => sets.find(_.v2).getOrElse(sets.head) }
      .toVector.sortBy(_.version)
    LogListing(commits.result().sortBy(_._1), checkpoints, v2Sets.map(_.files.head),
      spans.result().sorted, retirable.result(), temps.result(), sidecars)
  }

  def latestVersion(): Long = listLog().latest

  /** Commit-file reads performed by [[versionAt]] since construction —
    * instrumentation for the bounded-read contract (specs assert it stays
    * O(band), never O(versions)). */
  private[delta] val versionAtReads = new java.util.concurrent.atomic.AtomicLong(0)

  /** Latest version committed at or before `timestampMs` — time travel by
    * datetime, mirroring delta-rs `load_with_datetime` (and Delta's
    * `timestampAsOf`). A version's timestamp is its commitInfo timestamp
    * when present, else the version file's modification time (the same
    * fallback order delta-rs uses); out-of-order timestamps are clamped
    * to the running maximum (Delta's timestamp-adjustment rule), so a
    * commit whose writer's clock lags a predecessor resolves as if it
    * happened no earlier than that predecessor — multi-writer clock skew
    * cannot make the search return an older version than the adjusted
    * history allows. Throws if the table's FIRST commit is already after
    * the cut — there is no table to read at that time.
    *
    * Cost: O(log n) over file mtimes (from the directory listing — zero
    * file reads) plus commitInfo reads ONLY for commits whose mtime lies
    * within `maxClockSkewMs` of the cut, not O(versions) as a naive
    * history walk would. Exactness contract: a commit's commitInfo
    * timestamp and its file mtime agree within `maxClockSkewMs` (the
    * write and the stamp are the same filesystem operation modulo clock
    * drift and object-store upload lag; 15 min covers both by a wide
    * margin). A commit skewed beyond that is classified by its mtime. */
  def versionAt(timestampMs: Long,
                maxClockSkewMs: Long = DeltaLog.DefaultMaxClockSkewMs): Long = {
    require(maxClockSkewMs >= 0, s"negative maxClockSkewMs: $maxClockSkewMs")
    val stamped = listLog().commits
    if (stamped.isEmpty) throw new IllegalStateException(s"no commits in _delta_log at $tablePath")
    val n = stamped.size
    // running-max mtimes: a monotone search structure built from the one
    // listing, no file reads
    val adjMtime = new Array[Long](n)
    var run = Long.MinValue
    var i = 0
    while (i < n) { run = math.max(run, stamped(i)._2); adjMtime(i) = run; i += 1 }
    // first index whose running-max mtime exceeds `limit`
    def upperBound(limit: Long): Int = {
      var lo = 0; var hi = n
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (adjMtime(mid) > limit) hi = mid else lo = mid + 1
      }
      lo
    }
    // Under the skew contract the adjusted authoritative timestamp of
    // version i lies in [adjMtime(i) - skew, adjMtime(i) + skew]:
    //  - indices before `bandStart` are certainly at-or-before the cut,
    //  - indices at/after `bandEnd` are certainly after it,
    //  - only the band between needs its commitInfo read.
    // saturating on BOTH edges: near-MinValue cuts must resolve to the
    // documented "no commit at or before" error, not an ArithmeticException
    val bandStart = upperBound(
      if (timestampMs < Long.MinValue + maxClockSkewMs) Long.MinValue
      else timestampMs - maxClockSkewMs)
    val bandEnd = upperBound(
      if (timestampMs > Long.MaxValue - maxClockSkewMs) Long.MaxValue
      else timestampMs + maxClockSkewMs)
    def tsOf(v: Long, mtime: Long): Long = {
      versionAtReads.incrementAndGet()
      // the in-commit timestamp, when present, is the AUTHORITATIVE
      // stamp (monotone by construction) — wall-clock commitInfo, then
      // mtime, are the fallbacks
      readVersion(v).flatMap(_.commitInfo).headOption
        .map(ci => ci.inCommitTimestamp.getOrElse(ci.timestamp)).getOrElse(mtime)
    }
    var best = bandStart - 1 // last certainly-eligible index
    // running max SEEDED only within the band: everything before it is
    // at-or-before the cut by the band bounds, so earlier values cannot
    // flip a band verdict
    var runTs = Long.MinValue
    var j = bandStart
    var stop = false
    while (j < bandEnd && !stop) {
      val (v, m) = stamped(j)
      runTs = math.max(runTs, tsOf(v, m))
      // the running max only grows — once past the cut, every later
      // version's adjusted timestamp is past it too
      if (runTs <= timestampMs) best = j else stop = true
      j += 1
    }
    if (best < 0)
      throw new IllegalArgumentException(
        s"no commit at or before timestamp $timestampMs (first commit is later)")
    stamped(best)._1
  }

  /** Commit history, NEWEST first (delta-rs `DeltaTable.history`): one
    * entry per version with its commitInfo when the writer recorded one.
    * Reads exactly `limit` commit files when a limit is given — a bounded
    * probe, not a log scan. After [[cleanupMetadata]] removed the JSON
    * commits below the surviving checkpoint, the walk TRUNCATES at the
    * first missing file and returns the surviving tail (delta-rs
    * behavior) instead of surfacing a raw FileNotFoundException. */
  def history(limit: Option[Int] = None): Seq[(Long, Option[Actions.CommitInfo])] = {
    val latest = latestVersion()
    if (latest < 0) Nil
    else {
      val versions = latest to 0L by -1L
      limit.fold[Seq[Long]](versions)(n => versions.take(n.max(0)))
        .iterator
        .map { v =>
          try Some(v -> readVersion(v).flatMap(_.commitInfo).headOption)
          catch { case _: java.io.FileNotFoundException => None }
        }
        .takeWhile(_.isDefined).flatMap(_.toSeq).toSeq
    }
  }

  def readVersion(v: Long): Seq[Action] = readActionsJson(versionFile(v))

  /** The one NDJSON reader: commits, compaction spans, V2 top-level files. */
  private def readActionsJson(file: Path): Seq[Action] = {
    val in = fs.open(file)
    try {
      val text = new String(org.apache.commons.io.IOUtils.toByteArray(in), StandardCharsets.UTF_8)
      text.split('\n').iterator.map(_.trim).filter(_.nonEmpty)
        .map(l => mapper.readValue(l, classOf[Action])).toSeq
    } finally in.close()
  }

  /** The one atomic publish: serialize `actions` as NDJSON and put `file`
    * through the scheme's [[LogStore]] (put-if-absent; `version` names
    * the contended version in [[VersionAlreadyExists]]). */
  private def publish(file: Path, actions: Seq[Action], version: Long): Unit = {
    val sb = new java.lang.StringBuilder()
    actions.foreach(a => sb.append(mapper.writeValueAsString(a)).append('\n'))
    LogStore.forScheme(Option(fs.getUri.getScheme).getOrElse("file"))
      .writeAtomic(fs, file, sb.toString.getBytes(StandardCharsets.UTF_8), version)
  }

  /** Versions whose plain commit JSON still survives on disk, sorted —
    * the tombstone horizon VACUUM LITE can see (metadata cleanup ages
    * history out below the newest checkpoint). One listing, no reads. */
  private[delta] def survivingCommitVersions(): Seq[Long] = listLog().commits.map(_._1)

  /** All log-compaction files on disk as (from, to) spans, sorted. */
  private[delta] def compactedSpans(): Seq[(Long, Long)] = listLog().spans

  /** LOG COMPACTION (PROTOCOL.md "Log Compaction Files",
    * `<from>.<to>.compacted.json`): aggregate commits from..to into one
    * file a replay can substitute for the span — per-path LAST file
    * action (a path both added and removed in the span keeps the REMOVE:
    * earlier state may hold it live and the tombstone must still apply),
    * last metaData/protocol, per-app last txn, per-domain last
    * domainMetadata; commitInfo and cdc are dropped like checkpoints.
    * The original commit JSONs stay (CDF readers and audits still need
    * them) — this bounds REPLAY file count between checkpoints, the
    * protocol's stated purpose. Atomic via the LogStore; idempotent
    * (same span → same content). Returns the actions written. */
  def compactLog(from: Long, to: Long): Int = {
    require(from >= 0 && to >= from, s"bad compaction span [$from, $to]")
    require(to <= latestVersion(), s"span end $to past the latest version")
    // ONE pass over the span feeds both the live state and the
    // TOMBSTONES — paths whose last action was a remove, and domains
    // whose last action was removed=true, must both ride the compacted
    // file explicitly: earlier state may hold them live and replay
    // substitution has to erase them
    val state = new ReplayState()
    val removedPaths = mutable.LinkedHashMap.empty[String, RemoveFile]
    val removedDomains = mutable.LinkedHashSet.empty[String]
    (from to to).foreach { v =>
      val actions = readVersion(v)
      state.apply(actions)
      actions.foreach { a =>
        a.add.foreach(f => removedPaths.remove(f.path))
        a.remove.foreach(r => removedPaths(r.path) = r)
        a.domainMetadata.foreach(d =>
          if (d.removed) removedDomains += d.domain else removedDomains -= d.domain)
      }
    }
    val actions: Seq[Action] =
      state.protocol.map(p => Action(protocol = Some(p))).toSeq ++
        state.metadata.map(m => Action(metaData = Some(m))).toSeq ++
        state.txns.toSeq.sortBy(_._1).map { case (app, v) =>
          Action(txn = Some(Txn(app, v, state.txnTimes.get(app)))) } ++
        state.domains.toSeq.sortBy(_._1).map { case (dom, cfg) =>
          Action(domainMetadata = Some(DomainMetadata(dom, cfg))) } ++
        removedDomains.toSeq.sorted.map(dom =>
          Action(domainMetadata = Some(DomainMetadata(dom, removed = true)))) ++
        state.adds.values.toSeq.map(f => Action(add = Some(f))) ++
        removedPaths.values.toSeq.map(r => Action(remove = Some(r)))
    val file = compactedFile(from, to)
    if (!fs.exists(file)) publish(file, actions, from)
    actions.size
  }

  /** Replay versions (after..to] into `state`, substituting the
    * compacted spans of `listing` that lie FULLY inside the range — the
    * reader side of log compaction. Greedy: at each position, take the
    * longest applicable span, else the single commit JSON. A missing
    * commit JSON (cleanup aged it out after the listing) re-lists once
    * and retries that version through the fresh spans. */
  private def replayRange(state: ReplayState, listing: LogListing,
                          after: Long, to: Long): Unit = {
    def spansIn(l: LogListing): Map[Long, Long] =
      l.spans.filter { case (a, b) => a > after && b <= to }
        .groupBy(_._1).map { case (a, ss) => a -> ss.map(_._2).max }
    var spans = spansIn(listing)
    var relisted = false
    var v = after + 1
    while (v <= to) {
      spans.get(v) match {
        case Some(end) =>
          state.apply(readActionsJson(compactedFile(v, end)))
          v = end + 1
        case None =>
          try {
            state.apply(readVersion(v)); v += 1
          } catch {
            case _: java.io.FileNotFoundException if !relisted =>
              relisted = true
              spans = spansIn(listLog())
          }
      }
    }
  }

  /** Mutable log-replay accumulator: every replay (the cached latest
    * snapshot, time travel, log compaction) and every commit's own state
    * apply actions through [[apply]]. */
  private final class ReplayState(
      var metadata: Option[Metadata] = None,
      val adds: mutable.LinkedHashMap[String, AddFile] = mutable.LinkedHashMap.empty,
      val txns: mutable.HashMap[String, Long] = mutable.HashMap.empty,
      var protocol: Option[Protocol] = None,
      val domains: mutable.LinkedHashMap[String, String] = mutable.LinkedHashMap.empty,
      val txnTimes: mutable.HashMap[String, Long] = mutable.HashMap.empty) {
    /** The accumulator a replay holds once it has reached `snap`. */
    def this(snap: Snapshot) = {
      this(snap.metadata, protocol = snap.protocol)
      snap.files.foreach(f => adds(f.path) = f)
      txns ++= snap.txns
      domains ++= snap.domainMetadata
      txnTimes ++= snap.txnTimes
    }
    def apply(actions: Seq[Action]): Unit = actions.foreach { a =>
      a.protocol.foreach(p => protocol = Some(p))
      a.metaData.foreach(m => metadata = Some(m))
      a.add.foreach(f => adds(f.path) = f)
      a.remove.foreach(r => adds.remove(r.path))
      a.txn.foreach { t =>
        txns(t.appId) = t.version
        // no lastUpdated = never expires (delta's rule) — a later
        // timeless write clears any earlier stamp rather than keeping a
        // stale one that could expire a LIVE app
        t.lastUpdated match {
          case Some(ts) => txnTimes(t.appId) = ts
          case None => txnTimes.remove(t.appId)
        }
      }
      a.domainMetadata.foreach(d =>
        if (d.removed) domains.remove(d.domain)
        else domains(d.domain) = d.configuration)
    }
    def snapshot(version: Long): Snapshot =
      Snapshot(version, metadata, adds.values.toSeq, txns.toMap, protocol, domains.toMap,
        txnTimes.toMap)
  }

  /** Newest checkpoint version on disk, if any (the natural start of a
    * log-compaction span — spans at or below a checkpoint can never be
    * substituted, because replays seed past them). */
  private[delta] def newestCheckpointVersion(): Option[Long] =
    listLog().checkpoints.lastOption.map(_.version)

  /** A replay accumulator seeded from the newest checkpoint of `listing`
    * at or below `cap`, with the version it holds (-1 when unseeded).
    * Checkpoint rows map STRAIGHT to [[Actions.Action]] — a toJSON→Jackson
    * round-trip would double the serialization work per checkpoint row,
    * which at 10⁶-file tables is the dominant cold-start cost of this
    * (driver-side-log) design. After cleanupMetadata, JSON below the
    * surviving checkpoint is gone: a replay that cannot seed (no
    * SparkSession, or `cap` below every checkpoint) fails with a
    * diagnosis, not FileNotFoundException. */
  private def seeded(listing: LogListing, cap: Long): (Long, ReplayState) = {
    val state = new ReplayState()
    def rowsOf(ss: SparkSession, paths: Seq[String]): Unit =
      state.apply(ss.read.schema(checkpointReadSchema(ss, paths)).parquet(paths: _*)
        .collect().iterator.map(CheckpointRows.toAction).toSeq)
    val from = (spark, listing.checkpointAtOrBelow(cap)) match {
      case (Some(ss), Some(ck)) if ck.v2 =>
        // V2: the top-level JSON carries the non-file actions + sidecar
        // pointers; the file actions live in sidecar parquet(s), read
        // with the same spec schema as classic checkpoints
        val top = readActionsJson(ck.files.head)
        state.apply(top.filter(a => a.sidecar.isEmpty && a.checkpointMetadata.isEmpty))
        val sidecars = top.flatMap(_.sidecar).map(s => new Path(sidecarDir, s.path).toString)
        if (sidecars.nonEmpty) rowsOf(ss, sidecars)
        ck.version
      case (Some(ss), Some(ck)) =>
        rowsOf(ss, ck.files.map(_.toString))
        ck.version
      case _ => -1L
    }
    if (from < 0 && !listing.commits.exists(_._1 == 0L))
      throw new IllegalStateException(
        s"log at $tablePath starts at a checkpoint (metadata was cleaned up); " +
          (if (spark.isEmpty) "reading it requires a SparkSession to load the parquet checkpoint"
           else "the requested version predates the oldest surviving checkpoint"))
    (from, state)
  }

  /** Incremental snapshot cache: a streaming writer calls snapshot()
    * before every commit attempt; replaying the whole log each time is
    * O(history²) over a query's life. The cache applies only the versions
    * committed since the last call, and a commit through this handle
    * leaves the state it produced here. Cross-process writers are still
    * seen: the log is listed on every call. */
  private var cached: Option[(Snapshot, ReplayState)] = None

  /** Reconstruct table state from one listing: cached state + new
    * commits; on a cold cache, the newest complete checkpoint the listing
    * shows plus the JSON tail; full JSON replay when no
    * SparkSession/checkpoint is available. With no new commit the cached
    * snapshot itself returns: no file-list copy, and its derived state
    * stays parsed. */
  def snapshot(): Snapshot = synchronized {
    val listing = listLog()
    val latest = listing.latest
    if (latest < 0) return Snapshot(-1L, None, Nil, Map.empty)
    val (from, state) = cached match {
      case Some((s, _)) if s.version == latest => return s
      case Some((s, st)) if s.version < latest => (s.version, st)
      case _ => seeded(listing, latest)
    }
    replayRange(state, listing, from, latest)
    val snap = state.snapshot(latest)
    cached = Some((snap, state))
    snap
  }

  /** Reconstruct table state AS OF `version` (time travel — what delta-rs
    * calls load_version). Uncached: history reads are occasional, and the
    * checkpoint seed still bounds the replay when one exists at ≤ version. */
  def snapshotAt(version: Long): Snapshot = synchronized {
    val listing = listLog()
    if (version < 0 || version > listing.latest)
      throw new IllegalArgumentException(
        s"version $version out of range [0, ${listing.latest}] for $tablePath")
    val (from, state) = seeded(listing, version)
    replayRange(state, listing, from, version)
    state.snapshot(version)
  }

  /** Atomic single-version commit: put-if-absent of the version file
    * through the scheme's [[LogStore]] — hard-link publish on `file://`,
    * namenode exclusive-create on HDFS-likes, a registered conditional-put
    * impl on object stores (see [[LogStore]]; the contract the reference's
    * DynamoDB lock covered, SURVEY §2.7 X6). Throws
    * [[VersionAlreadyExists]] on contention (caller retries with a fresh
    * snapshot, mirroring the reference's optimistic-concurrency loop,
    * /root/reference/src/lib.rs:968-1024). */
  def write(version: Long, actions: Seq[Action]): Unit = {
    fs.mkdirs(logPath)
    val file = versionFile(version)
    // cheap fast-path only — the LogStore enforces the real guarantee
    if (fs.exists(file)) throw new VersionAlreadyExists(version)
    publish(file, actions, version)
  }

  /** Commit with optimistic-concurrency retry. Before EVERY attempt —
    * including retries after losing a race — `check` runs against the
    * then-current snapshot; returning false aborts with -1 (idempotent
    * skip). This closes the zombie-writer double-commit window: a restarted
    * query whose predecessor won the race sees its txn version already
    * advanced and skips (reference conflict loop, src/lib.rs:1148-1171).
    *
    * @return the committed version, or -1 if `check` rejected. */
  def commit(actions: Seq[Action], check: Snapshot => Boolean = _ => true,
             maxAttempts: Int = 1000): Long =
    commitWith(_ => actions, check, maxAttempts)

  private def rowIdHighWaterMark(snap: Snapshot): Long =
    snap.domainMetadata.get(DeltaLog.RowTrackingDomain)
      .map(c => mapper.readTree(c).path("rowIdHighWaterMark").asLong(-1L))
      .getOrElse(-1L)

  /** When row tracking is enabled, stamp every fresh `add` (one missing a
    * baseRowId — re-adds of existing files keep theirs) with a contiguous
    * base-row-id block from the CURRENT high-water mark and this commit's
    * version, and ride the advanced mark in the same commit. Runs per
    * retry attempt, so a lost race re-allocates against the winner's
    * mark — two writers can never mint overlapping row ids. */
  private def stampRowIds(snap: Snapshot, next: Long, actions: Seq[Action]): Seq[Action] = {
    val enabled = actions.flatMap(_.metaData).lastOption.orElse(snap.metadata)
      .exists(_.configuration.get(DeltaTable.RowTrackingConfigKey).contains("true"))
    if (!enabled || !actions.exists(_.add.exists(_.baseRowId.isEmpty))) return actions
    var hwm = rowIdHighWaterMark(snap)
    val stamped = actions.map { a =>
      a.add match {
        case Some(ad) if ad.baseRowId.isEmpty =>
          val n = ad.stats.map(s => mapper.readTree(s).path("numRecords").asLong(-1L))
            .getOrElse(-1L)
          require(n >= 0L, s"row tracking requires numRecords stats on ${ad.path}")
          val base = hwm + 1; hwm += n
          a.copy(add = Some(ad.copy(baseRowId = Some(base),
            defaultRowCommitVersion = Some(next))))
        case _ => a
      }
    }.filterNot(_.domainMetadata.exists(_.domain == DeltaLog.RowTrackingDomain))
    stamped :+ Action(domainMetadata = Some(DomainMetadata(DeltaLog.RowTrackingDomain,
      s"""{"rowIdHighWaterMark":$hwm}""")))
  }

  /** [[commit]] with per-attempt action GENERATION: `gen` runs against
    * the then-current snapshot on every retry, so actions that depend on
    * the predecessor state (row-id blocks, version-stamped fields) are
    * recomputed against the actual winner instead of committing stale.
    *
    * Outcome contract: once `write(next, …)` returns, version `next` is
    * durable and this method returns `next` — the `.crc` and checkpoint
    * that follow are best-effort (a failure is a logged warning), and a
    * failing post-commit hook throws [[PostCommitFailure]] carrying
    * `next`. Any other exception means `write` never returned: the
    * version is unpublished unless `write` itself failed after the
    * publish (an ambiguous store error), which only a re-read of `next`
    * can tell. */
  def commitWith(gen: Snapshot => Seq[Action], check: Snapshot => Boolean = _ => true,
                 maxAttempts: Int = 1000): Long = {
    var attempt = 0
    while (attempt < maxAttempts) {
      val snap = snapshot()
      // conformance gate: never commit over a protocol this engine does
      // not fully implement (foreign tables with e.g. icebergCompat)
      if (snap.version >= 0) DeltaLog.requireWriteSupported(snap.protocol)
      if (!check(snap)) return -1L
      val next = snap.version + 1
      val actions = stampRowIds(snap, next, gen(snap))
      // IN-COMMIT TIMESTAMPS (Delta writer feature `inCommitTimestamp`,
      // `delta.enableInCommitTimestamps`): the commitInfo carries an
      // authoritative timestamp max(now, predecessor's + 1) — strictly
      // monotone by construction, so time travel survives file copies /
      // mtime-mangling backfills. Recomputed per retry attempt against
      // the actual winning predecessor.
      val stamped =
        if (!snap.enabled(DeltaTable.IctConfigKey)) actions
        else {
          val prev =
            if (snap.version < 0) 0L
            else readVersion(snap.version).flatMap(_.commitInfo).headOption
              .flatMap(_.inCommitTimestamp).getOrElse(0L)
          val ict = math.max(System.currentTimeMillis(), prev + 1)
          actions.map(a => a.commitInfo match {
            case Some(ci) =>
              a.copy(commitInfo = Some(ci.copy(inCommitTimestamp = Some(ict))))
            case None => a
          })
        }
      // txn actions get a lastUpdated stamp when the caller left it out —
      // setTransactionRetentionDuration can only age entries that carry a
      // time, and every writer path here is "now" by definition
      val withTxnTimes = {
        lazy val now = System.currentTimeMillis()
        stamped.map(a => a.txn match {
          case Some(t) if t.lastUpdated.isEmpty =>
            a.copy(txn = Some(t.copy(lastUpdated = Some(now))))
          case _ => a
        })
      }
      val published =
        try { write(next, withTxnTimes); true }
        catch { case _: VersionAlreadyExists => false }
      if (published) {
        afterCommit(snap, next, withTxnTimes)
        return next
      }
      attempt += 1
    }
    throw new RuntimeException(s"commit retry ceiling ($maxAttempts) hit")
  }

  /** Everything after a DURABLE commit. The state the commit produced is
    * derived here, once — the predecessor's replay state plus the
    * commit's actions, applied as any replay applies them — and becomes
    * the cached snapshot; the `.crc`, the interval checkpoint and the
    * hooks all read it. Only a hook failure escapes, as
    * [[PostCommitFailure]] — delta-spark's postCommit contract: the
    * checkpoint is an optimization the next interval retries, while a
    * hook's artifact (a symlink manifest) is what its readers see, so its
    * failure stays visible. */
  private def afterCommit(prev: Snapshot, version: Long, actions: Seq[Action]): Unit = {
    val state = new ReplayState(prev)
    state.apply(actions)
    val committed = state.snapshot(version)
    synchronized {
      if (cached.forall(_._1.version < version)) cached = Some((committed, state))
    }
    writeChecksum(committed)
    try maybeCheckpoint(committed)
    catch { case scala.util.control.NonFatal(e) =>
      DeltaLog.logger.warn(s"checkpoint at version $version of $tablePath failed; " +
        "the commit stands and the next checkpoint interval retries", e)
    }
    try postCommitHooks.foreach(h => h(prev, committed, actions))
    catch { case scala.util.control.NonFatal(e) => throw new PostCommitFailure(version, e) }
  }

  /** The `.crc` summary of `snap`'s state: what a commit writes and what
    * [[validateChecksum]] expects of a replay. */
  private def checksumOf(snap: Snapshot): VersionChecksum = VersionChecksum(
    tableSizeBytes = snap.files.map(_.size).sum,
    numFiles = snap.files.size.toLong,
    numMetadata = 1, numProtocol = 1,
    numDeletionVectorsOpt = Some(snap.files.count(_.deletionVector.isDefined).toLong),
    numDeletedRecordsOpt = Some(snap.files.flatMap(_.deletionVector).map(_.cardinality).sum),
    metadata = snap.metadata,
    protocol = snap.protocol)

  /** Per-commit VERSION CHECKSUM (`<version>.crc`, delta-spark's
    * VersionChecksum sidecar): a one-line JSON summary of the table
    * state the commit produced — file count, byte size, DV tallies, the
    * effective metadata and protocol. Readers cross-check replayed state
    * against it ([[validateChecksum]]) to catch log corruption (a
    * truncated JSON, a lost add line, a bad backfill) the moment it
    * happens instead of as silently wrong query results. Write failures
    * are a logged warning — the commit is already durable and the next
    * commit writes the next checksum — and leave no temp file behind. */
  private def writeChecksum(committed: Snapshot): Unit = {
    val tmp = new Path(logPath, f".crc-tmp-${java.util.UUID.randomUUID()}")
    try {
      // write-temp-then-rename: a killed writer must never leave a
      // TRUNCATED crc (a parse error would read as corruption on a
      // healthy table); a lost rename race just means the winner's
      // identical-content file stands
      val out = fs.create(tmp, true)
      try out.write(mapper.writeValueAsString(checksumOf(committed))
        .getBytes(StandardCharsets.UTF_8))
      finally out.close()
      if (!fs.rename(tmp, checksumFile(committed.version))) fs.delete(tmp, false)
      ()
    } catch { case scala.util.control.NonFatal(e) =>
      DeltaLog.logger.warn(s"checksum of version ${committed.version} of $tablePath " +
        "not written; the commit stands", e)
      try fs.delete(tmp, false)
      catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  /** Cross-check a snapshot's replayed state against its commit's
    * `.crc` checksum. Missing checksum (pre-feature history, a writer
    * that crashed between the commit and the crc write, an external
    * writer) validates vacuously; a PRESENT checksum that disagrees
    * throws — replay produced state some writer never committed. */
  def validateChecksum(snap: Snapshot): Unit = {
    val f = checksumFile(snap.version)
    if (!fs.exists(f)) return
    val in = fs.open(f)
    val crc =
      try mapper.readValue(in: java.io.InputStream, classOf[VersionChecksum])
      catch {
        case scala.util.control.NonFatal(e) =>
          // writes are temp+rename atomic, so an unparseable crc is real
          // corruption, not a crash artifact — still a LOUD, diagnosed
          // failure instead of a raw Jackson trace
          throw new IllegalStateException(s"version ${snap.version} checksum " +
            s"file is unreadable (${e.getMessage}) — the crc is corrupt; " +
            "delete it to skip validation", e)
      } finally in.close()
    val got = checksumOf(snap)
    def check(field: String, expect: Any, replayed: Any): Unit =
      if (expect != replayed)
        throw new IllegalStateException(s"version ${snap.version} checksum " +
          s"mismatch on $field: crc=$expect replayed=$replayed — the log is " +
          "corrupt or was modified out-of-band")
    check("numFiles", crc.numFiles, got.numFiles)
    check("tableSizeBytes", crc.tableSizeBytes, got.tableSizeBytes)
    // DV tallies are optional in the wild (older writers) — absent skips
    crc.numDeletionVectorsOpt.foreach(check("numDeletionVectorsOpt", _, got.numDeletionVectorsOpt.get))
    crc.numDeletedRecordsOpt.foreach(check("numDeletedRecordsOpt", _, got.numDeletedRecordsOpt.get))
    crc.metadata.zip(snap.metadata).foreach { case (a, b) => check("metadata.id", a.id, b.id) }
    crc.protocol.zip(snap.protocol).foreach { case (a, b) => check("protocol", a, b) }
  }

  /** Hooks invoked after every SUCCESSFUL commit through this log handle
    * with (predecessorSnapshot, committedSnapshot, committedActions): the
    * state the commit produced, the state it replaced and the actions
    * between them, so hooks maintain derived artifacts without re-listing
    * the log. Registered once per [[DeltaTable]] instance; commits made
    * through OTHER handles (or other writers entirely) do not fire them —
    * same scope as delta-spark's transaction-local post-commit hooks.
    * Hooks run only after the version is durable, so a hook that throws
    * reaches the committer as [[PostCommitFailure]] with the committed
    * version — never as a failed commit. */
  private val postCommitHooks =
    scala.collection.mutable.ArrayBuffer.empty[(Snapshot, Snapshot, Seq[Action]) => Unit]
  def onPostCommit(h: (Snapshot, Snapshot, Seq[Action]) => Unit): Unit =
    synchronized { postCommitHooks += h }

  /** Default checkpoint cadence; the `delta.checkpointInterval` table
    * property overrides it per table (delta-spark's knob — a 100 TB
    * table with thousand-commit days checkpoints more often so cold
    * snapshot reads replay less JSON). */
  val checkpointInterval = 10

  /** Actions per checkpoint part: above this, the checkpoint writes as
    * the protocol's classic MULTI-PART form
    * (`v.checkpoint.<part>.<parts>.parquet`) so a million-file table's
    * checkpoint is N executor-written parquet parts instead of one
    * driver-coalesced file — and cold-start readers scan the parts in
    * parallel. private[delta] var so specs can exercise the multi-part
    * path without staging 50k files. */
  private[delta] var checkpointPartSize: Int = 50000

  /** Every Nth version, checkpoint the state the commit produced and
    * expire old log entries. The checkpoint requires a SparkSession
    * (skipped, with the log staying pure-JSON, when constructed without
    * one). */
  private def maybeCheckpoint(committed: Snapshot): Unit = {
    val interval = committed.configuration.get(DeltaTable.CheckpointIntervalKey)
      .flatMap(s => scala.util.Try(s.trim.toInt).toOption).filter(_ >= 1)
      .getOrElse(checkpointInterval)
    if (committed.version <= 0 || committed.version % interval != 0) return
    writeCheckpoint(committed)
    maybeExpireLog(committed.configuration)
  }

  /** Checkpoint-time txn expiry (delta-spark's
    * `delta.setTransactionRetentionDuration`): per-app txn entries whose
    * `lastUpdated` is older than the retention drop from the checkpoint —
    * a streaming sink fleet's dead appIds stop accreting forever. An
    * entry WITHOUT a timestamp never expires (delta's rule), and replay
    * from tail JSON still sees everything — only the checkpointed state
    * forgets. The trade, documented by delta as well: an expired app's
    * next write is no longer idempotence-checked, so set the retention
    * well above any writer's maximum pause. */
  private def liveTxns(snap: Snapshot): Seq[(String, Long)] = {
    // lenient for the same post-commit reason as maybeExpireLog: an
    // unparseable retention keeps every txn (never expires = safe side)
    val retention = snap.configuration.get(DeltaTable.TxnRetentionKey)
      .flatMap(DeltaTable.parseIntervalMsLenient)
    val cutoff = retention.map(System.currentTimeMillis() - _)
    snap.txns.toSeq.sortBy(_._1).filter { case (app, _) =>
      cutoff.forall(c => snap.txnTimes.get(app).forall(_ >= c))
    }
  }

  /** Enrich a checkpoint frame with delta-spark's acceleration columns:
    * `add.stats_parsed` (the stats JSON decoded ONCE, at checkpoint-write
    * time, into a struct typed by the table's physical data schema) and
    * `add.partitionValues_parsed` (partition strings cast to their real
    * types). Readers then prune from typed values instead of re-parsing
    * every add's stats JSON on every cold start — at 10⁶ files that parse
    * IS the snapshot-load bottleneck. The JSON `stats` column stays
    * alongside (the protocol's canonical form; foreign readers ignore the
    * extra struct — delta-spark itself writes the same shape). */
  private def withParsedStatsCols(df: org.apache.spark.sql.DataFrame,
                                  snap: Snapshot): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, element_at, from_json, struct}
    val schemaOpt = snap.schema
    if (schemaOpt.isEmpty) return df
    val physName = snap.physicalNames
    val parts = snap.partitionColumns
    val byLogical = schemaOpt.get.fields.map(f => f.name -> f).toMap
    val dataFields = schemaOpt.get.fields.filterNot(f => parts.contains(f.name))
      .map(f => StructField(physName(f.name), f.dataType))
    val statsSchema = Actions.statsParsedSchema(StructType(dataFields))
    var add = col("add").withField("stats_parsed",
      from_json(col("add.stats"), statsSchema, Actions.StatsJsonOptions))
    val pvFields = parts.flatMap(byLogical.get).map { f =>
      val pn = physName(f.name)
      element_at(col("add.partitionValues"), pn).cast(f.dataType).as(pn)
    }
    if (pvFields.nonEmpty)
      add = add.withField("partitionValues_parsed", struct(pvFields: _*))
    df.withColumn("add", add)
  }

  /** The read schema for checkpoint parquet: the spec schema, plus
    * `add.stats_parsed` when the files carry it (one footer-schema read
    * decides; checkpoints from engines/rounds without the column read
    * exactly as before). */
  private def checkpointReadSchema(ss: SparkSession, paths: Seq[String]): StructType = {
    val actual =
      try ss.read.parquet(paths: _*).schema
      catch { case _: Exception => return CheckpointSchema }
    actual.fields.find(_.name == "add").map(_.dataType) match {
      case Some(s: StructType) if s.fieldNames.contains("stats_parsed") =>
        val sp = s.fields.find(_.name == "stats_parsed").get
        StructType(CheckpointSchema.fields.map(f =>
          if (f.name == "add")
            StructField("add", StructType(
              f.dataType.asInstanceOf[StructType].fields :+ sp))
          else f))
      case _ => CheckpointSchema
    }
  }

  /** Unconditionally checkpoint `version` (the cadence-independent form:
    * DROP FEATURE's history truncation needs a checkpoint NOW at the
    * current version, whatever the interval). The checkpoint holds
    * exactly that version's state, replayed, never a newer commit a
    * concurrent writer landed. */
  def checkpointAt(version: Long): Unit =
    if (spark.isDefined) writeCheckpoint(snapshotAt(version))

  /** Write `snap` as the checkpoint of its version — classic or V2 per
    * the table's `delta.checkpointPolicy` — then advance
    * `_last_checkpoint`. */
  private def writeCheckpoint(snap: Snapshot): Unit = {
    val ss = spark.getOrElse(return)
    // conformance: a checkpoint REWRITES table state — on a table with
    // unknown features it would silently drop the action types those
    // features add (this replay only knows the spec's action set)
    DeltaLog.requireWriteSupported(snap.protocol)
    val version = snap.version
    val nonFile: Seq[Action] =
      // the REPLAYED protocol, not a fresh default: a checkpoint after a
      // feature upgrade (e.g. deletionVectors → (3,7)) must not
      // downgrade what readers are told the table requires
      Seq(Action(protocol = Some(snap.protocol.getOrElse(Protocol())))) ++
        snap.metadata.map(m => Action(metaData = Some(m))).toSeq ++
        liveTxns(snap).map { case (app, v) =>
          Action(txn = Some(Txn(app, v, snap.txnTimes.get(app)))) } ++
        snap.domainMetadata.toSeq.sortBy(_._1).map { case (dom, cfg) =>
          Action(domainMetadata = Some(DomainMetadata(dom, cfg))) }
    val files = snap.files.map(f => Action(add = Some(f)))
    val (size, parts) =
      if (snap.configuration.get(DeltaTable.CheckpointPolicyKey).contains("v2")) {
        // V2: file actions go to sidecar parquet(s) under _sidecars/, the
        // UUID-named top-level JSON carries the rest + checkpointMetadata
        // + pointers. A crash before the top-level publish leaves only
        // unreferenced sidecars, which [[cleanupMetadata]] collects.
        val sidecars =
          if (files.isEmpty) Nil
          else {
            fs.mkdirs(sidecarDir)
            writeParts(ss, snap, files)((_, _) =>
              new Path(sidecarDir, s"${java.util.UUID.randomUUID()}.parquet")).map { p =>
              val st = fs.getFileStatus(p)
              SidecarFile(p.getName, Some(st.getLen), Some(st.getModificationTime))
            }
          }
        publish(new Path(logPath, f"$version%020d.checkpoint.${java.util.UUID.randomUUID()}.json"),
          Action(checkpointMetadata = Some(CheckpointMetadata(version))) +:
            (nonFile ++ sidecars.map(s => Action(sidecar = Some(s)))), version)
        (nonFile.size + files.size + 1, 1)
      } else {
        val written = writeParts(ss, snap, nonFile ++ files)((part, of) =>
          if (of == 1) checkpointFile(version) else checkpointPartFile(version, part, of))
        (nonFile.size + files.size, written.size)
      }
    val partsField = if (parts == 1) "" else s""","parts":$parts"""
    val lc = fs.create(new Path(logPath, "_last_checkpoint"), true)
    try lc.write(s"""{"version":$version,"size":$size$partsField}"""
      .getBytes(StandardCharsets.UTF_8))
    finally lc.close()
  }

  /** The checkpoint part writer: `actions` as spec-schema parquet, one
    * part per `checkpointPartSize` actions (executor-written), through a
    * `.ck-<uuid>` temp dir; part i of the n written is renamed to
    * `dest(i, n)`. The temp dir goes whether the write succeeds or fails,
    * and a failed rename throws, so no caller advertises a part that is
    * not there. */
  private def writeParts(ss: SparkSession, snap: Snapshot, actions: Seq[Action])
                        (dest: (Int, Int) => Path): Seq[Path] = {
    import scala.jdk.CollectionConverters._
    val lines = actions.map(mapper.writeValueAsString)
    val df = withParsedStatsCols(ss.read.schema(CheckpointSchema)
      .json(ss.createDataset(lines.asJava)(org.apache.spark.sql.Encoders.STRING)), snap)
    val wantParts = math.max(1, math.ceil(actions.size.toDouble / checkpointPartSize).toInt)
    val tmpDir = new Path(logPath, s".ck-${java.util.UUID.randomUUID()}")
    try {
      (if (wantParts == 1) df.coalesce(1) else df.repartition(wantParts))
        .write.mode("overwrite").parquet(tmpDir.toString)
      // the ACTUAL part count is whatever the job produced (a repartition
      // slot can come up empty) — the final names encode that count, and
      // a rename-then-crash window leaves an INCOMPLETE set which readers
      // ignore by construction (a listing keeps complete sets only)
      val written = fs.listStatus(tmpDir)
        .filter(_.getPath.getName.endsWith(".parquet")).sortBy(_.getPath.getName).toSeq
      require(written.nonEmpty, "checkpoint write produced no parquet")
      written.zipWithIndex.map { case (st, i) =>
        val to = dest(i + 1, written.size)
        if (!fs.rename(st.getPath, to))
          throw new java.io.IOException(s"failed to publish checkpoint part $to")
        to
      }
    } finally fs.delete(tmpDir, true)
  }

  /** Checkpoint-time log expiry (delta-spark's `doLogCleanup`, governed
    * by `delta.enableExpiredLogCleanup`, default ON): commits whose file
    * mtime is older than `delta.logRetentionDuration` (default 30 days)
    * feed [[cleanupMetadata]] — its snap-down-to-a-checkpoint rule keeps
    * every surviving version reconstructable, so this can only ever
    * retire history nobody can time-travel to anyway. One listing, taken
    * after the checkpoint (the commit it follows may itself be expired
    * under a short retention); nothing to do on young tables. */
  private def maybeExpireLog(conf: Map[String, String]): Unit = {
    if (conf.get(DeltaTable.ExpiredLogCleanupKey).contains("false")) return
    // LENIENT parse: this runs AFTER the commit is durable — an
    // unparseable retention on an externally-written table must mean
    // "skip expiry", never an exception the committer misreads as a
    // failed (and then duplicated) commit
    val retentionMs = conf.get(DeltaTable.LogRetentionKey)
      .flatMap(DeltaTable.parseIntervalMsLenient).getOrElse(30L * 24 * 3600 * 1000)
    val cutoffTime = System.currentTimeMillis() - retentionMs
    val expired = listLog().commits.collect { case (v, mtime) if mtime < cutoffTime => v }
    if (expired.nonEmpty) cleanupMetadata(expired.max)
    ()
  }

  /** Delete JSON commits and checkpoints strictly below the newest
    * checkpoint at or below `beforeVersion` — the Delta metadata-cleanup
    * analog. The cutoff SNAPS DOWN to an existing checkpoint version, and
    * that checkpoint survives as the seed, so snapshot() and
    * snapshotAt(v ≥ cutoff) keep working (including versions between the
    * cutoff checkpoint and a newer one); time travel BELOW the cutoff
    * stops, like Delta's logRetentionDuration cleanup. Returns the number
    * of files deleted; a file whose delete fails stays, and so does
    * everything it needs.
    *
    * `tempGraceMs` guards the transients of concurrent writers: an
    * unreferenced `_sidecars` parquet is only GC'd once older than the
    * grace (a V2 writer renames sidecars BEFORE its atomic top-level
    * publish, so a fresh unreferenced sidecar may be an in-flight
    * checkpoint, not garbage), and a stale checkpoint staging dir or
    * checksum temp file (crash mid-write) is likewise only collected
    * past the grace. */
  def cleanupMetadata(beforeVersion: Long,
                      tempGraceMs: Long = DeltaLog.DefaultTempGraceMs): Int = synchronized {
    val listing = listLog()
    val cutoff = listing.checkpointAtOrBelow(beforeVersion).map(_.version).getOrElse(return 0)
    if (cutoff <= 0) return 0
    val staleBefore = System.currentTimeMillis() - math.max(0L, tempGraceMs)
    def drop(p: Path, recursive: Boolean): Boolean =
      try fs.delete(p, recursive)
      catch { case scala.util.control.NonFatal(e) =>
        DeltaLog.logger.warn(s"metadata cleanup of $tablePath kept $p", e)
        false
      }
    val temps = listing.temps.count(st =>
      st.getModificationTime < staleBefore && drop(st.getPath, st.isDirectory))
    val retired = listing.retirable.collect { case (v, p) if v < cutoff && drop(p, false) => p }
      .toSet
    // sidecar GC: a sidecar survives while a surviving V2 top-level file
    // references it, OR while it is younger than the grace window — a
    // concurrent checkpointer renames sidecars before publishing its
    // top-level, so "unreferenced and fresh" may be in-flight, not orphaned
    val sidecars =
      if (!listing.sidecars) 0
      else {
        val referenced = listing.v2Files.filterNot(retired)
          .flatMap(f => readActionsJson(f).flatMap(_.sidecar.map(_.path))).toSet
        fs.listStatus(sidecarDir).count(st =>
          !referenced.contains(st.getPath.getName) &&
            st.getModificationTime < staleBefore && drop(st.getPath, false))
      }
    temps + retired.size + sidecars
  }
}
