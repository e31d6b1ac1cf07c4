package graft.delta

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.execution.streaming.{Offset, Sink, Source}
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, Filter, PrunedFilteredScan, RelationProvider, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, Dataset, Row, SQLContext, SparkSession}

/** A graft Delta table as a Structured Streaming SOURCE (the delta-spark
  * `spark.readStream.format("delta")` shape, V1 Source API — the same
  * API delta-spark's own DeltaSource uses):
  *
  * {{{
  * spark.readStream.format("graft-delta").option("path", dir).load()
  * }}}
  *
  * Offsets are table VERSIONS (`LongOffset(v)` = "data through commit v
  * emitted"), so the checkpoint contract is exactly the log: a restart
  * resumes from the last committed version with no duplicates and no
  * loss. The INITIAL SNAPSHOT (the whole table at stream start) emits
  * in file-chunked batches of `maxFilesPerTrigger` via
  * [[SnapshotOffset]] — at 100 TB the snapshot is the table, and one
  * batch over it would be a cluster-day trigger; the checkpoint records
  * exact (version, fileIndex) progress so a restart resumes
  * MID-SNAPSHOT. After the snapshot (or from `startingVersion` on),
  * each batch is the `dataChange` adds of the new commits.
  *
  * Options:
  *  - `path` (required): table directory
  *  - `startingVersion`: skip the initial snapshot, emit commits ≥ v
  *  - `maxFilesPerTrigger` (default 1000): initial-snapshot chunk size
  *  - `maxBytesPerTrigger`: soft byte cap per batch (snapshot chunks
  *    and tail versions), from log metadata sizes; ≥1 file/version
  *    always admits
  *  - `ignoreDeletes`: tolerate delete-only commits (their removed rows
  *    were already emitted; nothing re-emits)
  *  - `ignoreChanges`: additionally tolerate rewrites (UPDATE/MERGE/
  *    overwrite): their re-added files RE-EMIT in full — the documented
  *    at-least-once caveat, same as delta-spark
  *  - `skipChangeCommits`: skip delete/rewrite commits ENTIRELY (no
  *    re-emission) while appends flow — supersedes ignoreChanges
  *  - `maxVersionsPerTrigger`: rate-limit a catch-up backlog
  *  - `readChangeFeed`: stream the CHANGE FEED instead of the data —
  *    batches carry table columns + `_change_type` / `_commit_version` /
  *    `_commit_timestamp`, deletes/updates arrive as rows (no ignore*
  *    needed), the initial snapshot emits as `insert` changes
  *
  *
  * Scale shape: a trigger's work is one log listing plus the new commit
  * JSONs — never a table scan; the batch reads exactly the new files.
  * OPTIMIZE/compaction commits (`dataChange=false`) are invisible to the
  * stream by construction. Live deletion vectors in the initial
  * snapshot are APPLIED (broadcast-bitmap scan filter, like the batch
  * read) — a table maintained by merge-on-read upserts tails directly;
  * DV re-adds in the incremental tail never re-emit (their surviving
  * rows already went out). Mid-stream schema changes fail loudly
  * (restart to pick up the new schema — delta-spark's contract too). */
final class DeltaStreamProvider extends StreamSourceProvider
    with StreamSinkProvider with RelationProvider
    with CreatableRelationProvider with DataSourceRegister {
  override def shortName(): String = "graft-delta"

  /** `spark.read.format("graft-delta").load(dir)` — the BATCH reader
    * (delta-spark's `format("delta")` shape), with the reader options
    * `versionAsOf` / `timestampAsOf` for time travel. File-level
    * stats/partition pruning applies through the pushed filters on
    * current-version reads; every filter is still re-applied row-level
    * by Spark (V1 unhandled-filters contract), so pruning can never
    * change results. */
  override def createRelation(sqlContext: SQLContext,
                              parameters: Map[String, String]): BaseRelation =
    new DeltaBatchRelation(sqlContext, pathOf(parameters), parameters)

  /** `df.write.format("graft-delta").mode(...).save(dir)` — the BATCH
    * writer: Append/Overwrite ride the full [[DeltaTable.append]] /
    * [[DeltaTable.overwrite]] paths (constraints, generated columns,
    * stats); ErrorIfExists/Ignore follow their SaveMode contracts. A
    * missing table is created from the frame's schema (partition columns
    * via option `partitionBy`, comma-separated — the V1 API does not
    * forward `.partitionBy(...)` to non-file sources). */
  override def createRelation(sqlContext: SQLContext,
                              mode: org.apache.spark.sql.SaveMode,
                              parameters: Map[String, String],
                              data: DataFrame): BaseRelation = {
    import org.apache.spark.sql.SaveMode._
    val path = pathOf(parameters)
    val t = DeltaTable.forPath(sqlContext.sparkSession, path)
    val parts = parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase("partitionBy") =>
        v.split(",").map(_.trim).filter(_.nonEmpty).toSeq }.getOrElse(Nil)
    def ensure(): Unit =
      if (!t.exists) { t.create(data.schema, parts); () }
    mode match {
      case Append => ensure(); t.append(data)
      case Overwrite => ensure(); t.overwrite(data)
      case ErrorIfExists =>
        require(!t.exists, s"table already exists at $path (SaveMode.ErrorIfExists)")
        ensure(); t.append(data)
      case Ignore => if (!t.exists) { ensure(); t.append(data) }
    }
    new DeltaBatchRelation(sqlContext, path, Map.empty)
  }

  private def pathOf(parameters: Map[String, String]): String =
    parameters.collectFirst { case (k, v) if k.equalsIgnoreCase("path") => v }
      .getOrElse(throw new IllegalArgumentException(
        "option 'path' (the Delta table directory) is required"))

  override def sourceSchema(sqlContext: SQLContext,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): (String, StructType) = {
    require(schema.isEmpty, "graft-delta streams the table's own schema; " +
      "a user-specified schema is not supported")
    val t = DeltaTable.forPath(sqlContext.sparkSession, pathOf(parameters))
    val cdf = parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase("readChangeFeed") => v.toBoolean }
      .getOrElse(false)
    (shortName(), if (cdf) DeltaTable.cdfSchema(t.schema) else t.schema)
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): Source =
    new DeltaStreamSource(sqlContext.sparkSession, pathOf(parameters), parameters)

  /** `writeStream.format("graft-delta")` — the SINK side (delta-spark's
    * DeltaSink shape, V1 Sink API): each micro-batch appends through the
    * full [[DeltaTable.append]] write path (constraints, generated
    * columns, schema alignment, footer stats), carrying a
    * `txn(appId, batchId)` so a REPLAYED batch after a crash-restart is
    * the idempotent no-op — exactly-once end to end with zero
    * foreachBatch plumbing. `appId` is `txnAppId` if given, else derived
    * from the checkpoint location (stable across restarts by
    * construction). Append output mode only; the target table is created
    * from the first batch's schema (honoring `.partitionBy(...)`) when
    * absent. */
  override def createSink(sqlContext: SQLContext, parameters: Map[String, String],
                          partitionColumns: Seq[String], outputMode: OutputMode): Sink = {
    require(outputMode == OutputMode.Append(),
      s"graft-delta sink supports Append output mode only, got $outputMode " +
        "(aggregate into complete/update sinks via foreachBatch + merge)")
    val appId = parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase("txnAppId") => v }
      .orElse(parameters.collectFirst {
        case (k, v) if k.equalsIgnoreCase("checkpointLocation") =>
          s"graft-delta-sink:$v" })
      .getOrElse(throw new IllegalArgumentException(
        "graft-delta sink needs option 'txnAppId' or a checkpointLocation " +
          "to derive a stable exactly-once transaction id"))
    val mergeKeys = parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase("mergeKeys") =>
        v.split(",").map(_.trim).filter(_.nonEmpty).toSeq }
      .getOrElse(Nil)
    val mergeSchema = parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase("mergeSchema") => v.toBoolean }
      .getOrElse(false)
    val deleteWhen = parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase("deleteWhen") => v }
    require(deleteWhen.isEmpty || mergeKeys.nonEmpty,
      "deleteWhen needs mergeKeys (it refines the upsert sink into a CDC apply)")
    new DeltaStreamSink(sqlContext.sparkSession, pathOf(parameters),
      partitionColumns, appId, mergeKeys, mergeSchema, deleteWhen)
  }
}

/** `mergeKeys` empty = append sink; nonempty = UPSERT sink: each batch
  * MERGEs on those keys (streaming dedup/CDC-apply shape — late copies
  * of a key overwrite instead of duplicating). Exactly-once like the
  * append path: the `txn(appId, batchId)` rides the merge commit
  * itself, so a crash-replayed batch skips without re-merging — one
  * commit per batch, no marker, no crash window.
  *
  * `deleteWhen` (with mergeKeys) refines the upsert into a full CDC
  * APPLY: batch rows satisfying the condition DELETE their key, the
  * rest upsert — `deleteWhen = "op = 'delete'"` tails a Debezium-style
  * changelog straight into the table. The condition sees the BATCH row
  * (bare column names — marker columns outside the table schema are
  * fine, they never write); delete rows for absent keys are no-ops, not
  * inserts.
  *
  * Either way each batch is one clause-merge commit
  * ([[DeltaTable.mergeClauses]]), which keeps the txn exactly-once
  * contract; on a DV-enabled table the merge runs MERGE-ON-READ
  * ([[DeltaTable.mergeClausesWithDv]]) — streaming upsert and CDC apply
  * with zero file rewrites, the 100 TB shape. A plain upsert batch
  * carrying a column the table lacks refuses, like [[DeltaTable.merge]]. */
final class DeltaStreamSink(spark: SparkSession, path: String,
                            partitionColumns: Seq[String], appId: String,
                            mergeKeys: Seq[String] = Nil,
                            mergeSchema: Boolean = false,
                            deleteWhen: Option[String] = None) extends Sink {
  override def addBatch(batchId: Long, data: Dataset[Row]): Unit = {
    // the V1 contract hands a STREAMING-planned frame; re-wrap it as this
    // trigger's batch (ForeachBatchSink's construction) before writing
    val batch = org.apache.spark.sql.graft.StreamBridge.asBatch(data.toDF())
    val t = DeltaTable.forPath(spark, path)
    require(deleteWhen.isEmpty || t.exists,
      "deleteWhen needs an EXISTING target table — at create time a CDC " +
        "batch's marker columns are indistinguishable from data columns")
    if (!t.exists)
      t.create(DeltaTable.relaxContainers(batch.schema), partitionColumns)
    else require(partitionColumns.isEmpty ||
      t.partitionColumns == partitionColumns,
      s"sink partitionBy(${partitionColumns.mkString(",")}) does not match " +
        s"the existing table's partitioning (${t.partitionColumns.mkString(",")})")
    if (mergeKeys.isEmpty) {
      // append returns -1 on an idempotent replay (txn already applied) —
      // exactly the crash-restart double-delivery case. mergeSchema
      // (option of the same name) lets an upstream schema widening flow
      // through — the new columns ride the same commit as the batch.
      t.append(batch, txnAppId = Some(appId), txnVersion = batchId,
        operation = "STREAMING UPDATE", mergeSchema = mergeSchema)
    } else {
      import org.apache.spark.sql.functions.{col, monotonically_increasing_id, row_number}
      // in-batch dedup: keep the LAST row per key (source order) so a
      // batch carrying two versions of a key upserts deterministically
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(mergeKeys.map(col): _*)
        .orderBy(monotonically_increasing_id().desc)
      val deduped = batch
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
      // one clause list — the upsert pair, or the CDC-apply triple — and
      // one merge; the txn rides the merge commit itself — one commit per
      // batch, and a crash-replayed batch returns -1 without re-merging
      val clauses = deleteWhen match {
        case None => DeltaTable.UpsertClauses
        case Some(condSql) =>
          // bare column names in the user's condition mean the BATCH row
          import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
          val cond = spark.sessionState.sqlParser.parseExpression(condSql)
            .transformUp {
              case a: UnresolvedAttribute if a.nameParts.size == 1 =>
                UnresolvedAttribute(Seq("s", a.nameParts.head))
            }.sql
          Seq(
            DeltaTable.WhenMatchedDelete(Some(cond)),
            DeltaTable.WhenMatchedUpdate(),
            DeltaTable.WhenNotMatchedInsert(condition = Some(s"NOT ($cond)")))
      }
      if (t.dvEnabled)
        t.mergeClausesWithDv(deduped, mergeKeys, clauses,
          txnAppId = Some(appId), txnVersion = batchId)
      else
        t.mergeClauses(deduped, mergeKeys, clauses,
          txnAppId = Some(appId), txnVersion = batchId)
    }
    ()
  }
  override def toString: String = s"DeltaStreamSink[$path]"
}

/** Composite stream offset: `index >= 0` means "the first `index` files
  * (path-sorted) of version `version`'s INITIAL SNAPSHOT are emitted";
  * `index = -1` means "everything through commit `version` is emitted"
  * (the tail-mode / snapshot-complete form, JSON-compatible with the
  * legacy plain-long offsets older checkpoints carry). Splitting the
  * initial snapshot is the 100 TB requirement: a snapshot is the whole
  * table, and ONE micro-batch over it would be a cluster-day batch —
  * `maxFilesPerTrigger` (default 1000, delta-spark's) paces it while
  * the checkpoint records exact file progress for restart. */
final case class SnapshotOffset(version: Long, index: Long) extends Offset {
  override def json(): String = s"""{"version":$version,"index":$index}"""
}

final class DeltaStreamSource(spark: SparkSession, path: String,
                              parameters: Map[String, String]) extends Source
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import Actions._

  private val opts = parameters.map { case (k, v) => k.toLowerCase -> v }
  private val table = DeltaTable.forPath(spark, path)
  // conformance gate at stream construction (the batch path gates in
  // dfFor/rawFor): tailing past an unknown reader feature would emit
  // wrong rows on every micro-batch
  DeltaLog.requireReadSupported(table.snapshot.protocol)
  private val startingVersion: Option[Long] = {
    val byVersion = opts.get("startingversion").map(_.toLong)
    // startingTimestamp (delta-spark's sibling option): epoch millis or
    // an ISO-8601 instant. Tail from the first commit AT or after the
    // cut (delta-spark's inclusive contract), via versionAt's
    // time-travel rule on the instant just before it
    val byTs = opts.get("startingtimestamp").map { s =>
      val ms = try s.toLong catch {
        case _: NumberFormatException => java.time.Instant.parse(s).toEpochMilli
      }
      try table.log.versionAt(ms - 1) + 1
      catch { case _: IllegalArgumentException => 0L } // cut before v0: everything
    }
    require(byVersion.isEmpty || byTs.isEmpty,
      "startingVersion and startingTimestamp are mutually exclusive")
    byVersion.orElse(byTs)
  }
  private val ignoreChanges = opts.get("ignorechanges").exists(_.toBoolean)
  private val ignoreDeletes = ignoreChanges || opts.get("ignoredeletes").exists(_.toBoolean)
  // delta-spark's successor option to ignoreChanges: SKIP data-changing
  // commits wholesale (no re-emission of rewritten files at all) while
  // plain appends keep flowing — the clean semantics for a downstream
  // that wants an append-only view of an upserted table
  private val skipChangeCommits = opts.get("skipchangecommits").exists(_.toBoolean)
  private val maxVersionsPerTrigger: Option[Long] =
    opts.get("maxversionspertrigger").map(_.toLong)
  require(maxVersionsPerTrigger.forall(_ > 0), "maxVersionsPerTrigger must be > 0")
  /** Initial-snapshot pacing (delta-spark's option + default): at most
    * this many snapshot FILES per micro-batch. Tail batches stay
    * version-granular (`maxVersionsPerTrigger`) — commits are already
    * incremental; the snapshot is the whole table. */
  private val maxFilesPerTrigger: Long =
    opts.get("maxfilespertrigger").map(_.toLong).getOrElse(1000L)
  require(maxFilesPerTrigger > 0, "maxFilesPerTrigger must be > 0")

  /** Byte-granular pacing (delta-spark's `maxBytesPerTrigger`, a SOFT
    * cap): a batch stops admitting once its accumulated `add.size`
    * reaches the cap, always taking at least one file (snapshot mode) or
    * one version (tail mode) so progress never stalls. File sizes come
    * from log metadata — pacing never opens data files. The 100 TB
    * rationale: file COUNT is a poor proxy for batch cost when file
    * sizes vary 1000×; a byte cap keeps trigger latency stable through
    * a backlog of mixed compacted/uncompacted history. */
  private val maxBytesPerTrigger: Option[Long] =
    opts.get("maxbytespertrigger").map(_.toLong)
  require(maxBytesPerTrigger.forall(_ > 0), "maxBytesPerTrigger must be > 0")

  /** Snapshot-mode chunk end: admit path-sorted files from `from` until
    * the file or byte cap, whichever first (≥ 1 file). */
  private def snapshotChunkEnd(files: Seq[AddFile], from: Long): Long = {
    val hardEnd = math.min(files.size.toLong, from + maxFilesPerTrigger)
    maxBytesPerTrigger match {
      case None => hardEnd
      case Some(cap) =>
        var j = from
        var bytes = 0L
        while (j < hardEnd && (j == from || bytes + files(j.toInt).size <= cap)) {
          bytes += files(j.toInt).size
          j += 1
        }
        math.max(j, from + 1)
    }
  }

  /** Data bytes a tail version would admit — what this stream will
    * actually OPEN (one commit-JSON read, no data I/O). CDF mode mirrors
    * [[DeltaTable.changesFrames]]' classification: a version WITH change
    * files reads exactly them (counting its rewritten adds too would
    * double-charge a MERGE and halve versions-per-trigger); a version
    * without reads its dataChange adds. Data mode reads adds only —
    * cdc bytes it never opens don't count against the cap. */
  private def versionBytes(v: Long): Long = {
    val actions = table.log.readVersion(v)
    val addBytes = actions.flatMap(_.add).filter(_.dataChange).map(_.size).sum
    if (!readChangeFeed) addBytes
    else {
      val cdcBytes = actions.flatMap(_.cdc).map(_.size).sum
      if (cdcBytes > 0) cdcBytes else addBytes
    }
  }

  /** CDF mode (`readChangeFeed=true`, the delta-spark option): batches
    * are CHANGE rows (table columns + `_change_type` /
    * `_commit_version` / `_commit_timestamp`) from the table's change
    * feed — deletes and updates arrive as data instead of failing the
    * stream, so a downstream consumer can replicate DML incrementally.
    * The initial snapshot emits as `insert` rows stamped with the
    * starting version (delta-spark's initial-snapshot contract). */
  private val readChangeFeed = opts.get("readchangefeed").exists(_.toBoolean)
  require(!readChangeFeed || (!ignoreChanges && !ignoreDeletes),
    "readChangeFeed already delivers deletes/updates as change rows — " +
      "ignoreDeletes/ignoreChanges do not apply")

  override val schema: StructType =
    if (readChangeFeed) DeltaTable.cdfSchema(table.schema) else table.schema
  private val schemaJson = table.schema.json

  /** Rate-limit baseline: the last (version, index) handed out (or
    * resumed to); index -1 = tail mode / snapshot complete.
    * Authoritative progress lives in the CHECKPOINT, not here — getBatch
    * re-seeds this on restart. */
  private var lastSeen: Option[(Long, Long)] = None

  /** The initial snapshot's path-SORTED file list (cached per version):
    * deterministic across restarts, so a checkpointed file index always
    * means the same files. */
  private var snapCache: Option[(Long, Seq[AddFile])] = None
  private def snapAt(v: Long): Seq[AddFile] = snapCache match {
    case Some((cv, fs)) if cv == v => fs
    case _ =>
      val fs = table.log.snapshotAt(v).files.sortBy(_.path)
      snapCache = Some((v, fs))
      fs
  }

  private def rank(o: (Long, Long)): (Long, Long) =
    (o._1, if (o._2 < 0) Long.MaxValue else o._2)

  /** One pacing step from `cur` toward `latest` — shared by the V1
    * getOffset and the admission-control latestOffset (which the engine
    * prefers whenever the interface is present). */
  private def step(cur: Option[(Long, Long)], latest: Long): Option[(Long, Long)] = {
    if (latest < 0) return None
    def tailFrom(v: Long): (Long, Long) = {
      val capV = maxVersionsPerTrigger.fold(latest)(m => math.min(latest, v + m))
      val end = maxBytesPerTrigger.fold(capV) { cap =>
        var e = v + 1 // at least one version: progress never stalls
        var bytes = versionBytes(e)
        var stop = false
        while (e < capV && !stop) {
          val next = versionBytes(e + 1)
          if (bytes + next <= cap) { e += 1; bytes += next }
          else stop = true
        }
        e
      }
      (end, -1L)
    }
    Some(cur match {
      case None =>
        // fresh start: begin the chunked initial snapshot at `latest`
        val files = snapAt(latest)
        (latest, snapshotChunkEnd(files, 0L))
      case Some((v, i)) if i >= 0 =>
        val files = snapAt(v)
        val n = files.size.toLong
        if (i < n) (v, snapshotChunkEnd(files, i)) // next snapshot chunk
        else if (latest > v) tailFrom(v) // snapshot complete → tail
        else (v, i)
      case Some((v, _)) =>
        if (latest > v) tailFrom(v) else (v, -1L)
    })
  }

  private def offsetOf(o: (Long, Long)): Offset =
    if (o._2 >= 0) SnapshotOffset(o._1, o._2) else LongOffset(o._1)

  override def getOffset: Option[Offset] = {
    val next = step(lastSeen.orElse(startingVersion.map(sv => (sv - 1, -1L))),
      cappedLatest)
    next.foreach(n => lastSeen = Some(n))
    next.map(offsetOf)
  }

  // ---- SupportsTriggerAvailableNow / SupportsAdmissionControl: the
  // engine drives pacing through this STATELESS start→next API when the
  // interface is present — and it is what lets Trigger.AvailableNow
  // drain a chunked initial snapshot over MULTIPLE batches (the V1
  // fallback fixes its end from one getOffset call and would stop after
  // the first chunk) ----
  private var availableNowCap: Option[Long] = None
  private def cappedLatest: Long = {
    val latest = table.log.latestVersion()
    availableNowCap.fold(latest)(math.min(latest, _))
  }
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(table.log.latestVersion())
  override def getDefaultReadLimit: org.apache.spark.sql.connector.read.streaming.ReadLimit =
    org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()
  override def initialOffset(): org.apache.spark.sql.connector.read.streaming.Offset =
    startingVersion.map(sv => offsetOf((sv - 1, -1L)))
      .getOrElse(SnapshotOffset(-1L, -1L)) // sentinel: nothing emitted yet
  override def deserializeOffset(json: String): org.apache.spark.sql.connector.read.streaming.Offset =
    offsetOf(parseOffset(SerializedOffset(json)))
  override def latestOffset(start: org.apache.spark.sql.connector.read.streaming.Offset,
                            limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : org.apache.spark.sql.connector.read.streaming.Offset = {
    val cur = (start match {
      case o: Offset => Some(parseOffset(o))
      case _ => None
    }).filter(_._1 >= 0) // the sentinel parses as (-1, -1) = fresh start
    val next = step(cur.orElse(startingVersion.map(sv => (sv - 1, -1L))),
      cappedLatest)
    next.foreach(n => lastSeen = Some(n))
    next.map(offsetOf).orNull
  }
  override def reportLatestOffset(): org.apache.spark.sql.connector.read.streaming.Offset = {
    val l = table.log.latestVersion()
    if (l < 0) null else LongOffset(l)
  }
  override def commit(end: org.apache.spark.sql.connector.read.streaming.Offset): Unit = ()

  private def parseOffset(o: Offset): (Long, Long) = o match {
    case SnapshotOffset(v, i) => (v, i)
    case LongOffset(v) => (v, -1L)
    case s: SerializedOffset =>
      val txt = s.json.trim
      if (txt.startsWith("{")) {
        val node = Actions.mapper.readTree(txt)
        (node.get("version").asLong(), node.get("index").asLong())
      } else (txt.toLong, -1L)
    case other => throw new IllegalArgumentException(s"unexpected offset $other")
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val (endV, endI) = parseOffset(end)
    lastSeen = Some(Seq(lastSeen.getOrElse((endV, endI)), (endV, endI))
      .maxBy(rank))
    // the table's current schema, mapping and partitioning, read once
    lazy val snap = table.snapshot
    // the initial snapshot streams with deletion vectors APPLIED (the
    // same broadcast-bitmap scan filter as the batch read) — a table
    // maintained by merge-on-read upserts tails downstream directly
    def snapshotChunk(v: Long, from: Long, until: Long): DataFrame = {
      val files = snapAt(v)
      val hi = if (until < 0) files.size.toLong else math.min(until, files.size.toLong)
      table.streamingBatchFor(snap, files.slice(from.toInt, hi.toInt))
    }
    def stamped(df: DataFrame, v: Long): DataFrame = {
      import org.apache.spark.sql.functions.{lit, timestamp_millis}
      val ts = table.log.readVersion(v)
        .flatMap(_.commitInfo).headOption.map(_.timestamp).getOrElse(0L)
      df.withColumn(DeltaTable.ChangeTypeCol, lit("insert"))
        .withColumn("_commit_version", lit(v))
        .withColumn("_commit_timestamp", timestamp_millis(lit(ts)))
    }
    def empty: DataFrame =
      org.apache.spark.sql.graft.StreamBridge.emptyStreaming(spark, schema)
    val startP = start.map(parseOffset)
    (startP, startingVersion) match {
      // ---- mid-snapshot progress: emit the next chunk (plus, when the
      // end offset already moved to tail form, the snapshot remainder
      // and the tail range in one batch — restart compatibility) ----
      case (Some((sv, si)), _) if si >= 0 =>
        val chunk = snapshotChunk(sv, si, if (endV == sv) endI else -1L)
        val chunkOut = if (readChangeFeed) stamped(chunk, sv) else chunk
        if (endV == sv) chunkOut
        else {
          val tail =
            if (readChangeFeed) table.changesFrames(snap, sv + 1, endV, streaming = true)
            else table.streamingBatchFor(snap, addsInRange(sv + 1, endV))
          chunkOut.unionByName(tail)
        }
      // ---- tail mode ----
      case (Some((s, _)), _) =>
        if (s + 1 > endV) empty
        else if (readChangeFeed) table.changesFrames(snap, s + 1, endV, streaming = true)
        else table.streamingBatchFor(snap, addsInRange(s + 1, endV))
      case (None, Some(startV)) =>
        if (readChangeFeed) table.changesFrames(snap, startV, endV, streaming = true)
        else table.streamingBatchFor(snap, addsInRange(startV, endV))
      // ---- first batch of the initial snapshot (endI < 0 = the legacy
      // whole-snapshot offset an old checkpoint may carry) ----
      case (None, None) =>
        val chunk = snapshotChunk(endV, 0L, endI)
        if (readChangeFeed) stamped(chunk, endV) else chunk
    }
  }

  /** `dataChange` adds of commits `from..to`, with the streaming append
    * contract enforced per commit: delete-only commits need
    * `ignoreDeletes`, rewrites need `ignoreChanges`, schema changes and
    * protocol-invisible maintenance follow delta-spark's source rules. */
  private def addsInRange(from: Long, to: Long): Seq[AddFile] =
    (math.max(0L, from) to to).flatMap { v =>
      val actions = table.log.readVersion(v)
      actions.flatMap(_.metaData).foreach { m =>
        require(m.schemaString == schemaJson,
          s"the table schema changed at version $v — restart the stream " +
            "to pick up the new schema")
      }
      val removes = actions.flatMap(_.remove).filter(_.dataChange)
      val adds = actions.flatMap(_.add).filter(_.dataChange)
      val (dvAdds, plainAdds) = adds.partition(_.deletionVector.isDefined)
      val op = actions.flatMap(_.commitInfo).headOption.map(_.operation)
      if (removes.isEmpty && dvAdds.isEmpty) plainAdds
      else if (skipChangeCommits) Nil // deletes AND rewrites: emit nothing
      else if (op.contains("DELETE")) {
        // both delete shapes — copy-on-write (remove + survivor re-add)
        // and deletion vectors (DV re-add) — emit NOTHING: every
        // surviving row already went out with its original file, so
        // re-emitting the rewritten survivors would duplicate and the
        // deleted rows are simply not retracted
        require(ignoreDeletes,
          s"version $v deletes data. Set ignoreDeletes=true to continue " +
            "(already-emitted rows are not retracted)")
        Nil
      } else {
        require(ignoreChanges,
          s"version $v rewrites data (UPDATE/MERGE/overwrite). Set " +
            "ignoreChanges=true to continue (rewritten files re-emit in full)")
        plainAdds
      }
    }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** V1 batch relation over a graft Delta table — the
  * `spark.read.format("graft-delta")` shape. Pushed filters translate to
  * [[DataSkipping.ColPred]]s for FILE-level stats/partition pruning
  * (current-version reads; time travel reads its version's file set
  * directly); every filter is declared unhandled so Spark re-applies it
  * row-level — pruning can only skip files that provably hold no match,
  * never change results. `needConversion = false` + `toRdd` hands Spark
  * the internal rows without a per-row conversion pass. */
final class DeltaBatchRelation(override val sqlContext: SQLContext,
                               path: String, parameters: Map[String, String])
    extends BaseRelation with PrunedFilteredScan {
  private val table = DeltaTable.forPath(sqlContext.sparkSession, path)
  private val versionAsOf: Option[Long] = parameters.collectFirst {
    case (k, v) if k.equalsIgnoreCase("versionAsOf") => v.toLong }
  private val timestampAsOf: Option[Long] = parameters.collectFirst {
    case (k, v) if k.equalsIgnoreCase("timestampAsOf") =>
      try v.toLong catch {
        case _: NumberFormatException => java.time.Instant.parse(v).toEpochMilli
      } }
  require(versionAsOf.isEmpty || timestampAsOf.isEmpty,
    "versionAsOf and timestampAsOf are mutually exclusive")

  private val snapVersion: Option[Long] =
    versionAsOf.orElse(timestampAsOf.map(table.log.versionAt(_)))

  private def baseDf: DataFrame =
    snapVersion.map(table.toDF(_)).getOrElse(table.toDF)

  // schema from the LOG, not from a constructed frame: relation
  // construction must not touch data files (a stats-pruned read may
  // legitimately never open some of them)
  override val schema: StructType =
    snapVersion.map(table.log.snapshotAt).getOrElse(table.snapshot)
      .schema.getOrElse(
        throw new IllegalStateException(s"no Delta table at $path"))
  override def needConversion: Boolean = false
  override def unhandledFilters(filters: Array[Filter]): Array[Filter] = filters

  override def buildScan(requiredColumns: Array[String],
                         filters: Array[Filter]): org.apache.spark.rdd.RDD[Row] = {
    import org.apache.spark.sql.functions.col
    val preds = filters.toSeq.flatMap(toColPred)
    val base =
      if (preds.nonEmpty && versionAsOf.isEmpty && timestampAsOf.isEmpty)
        table.scan(preds)
      else baseDf
    val projected =
      if (requiredColumns.isEmpty) base.select() // zero-width count shape
      else base.select(requiredColumns.toSeq.map(col): _*)
    projected.queryExecution.toRdd
      .asInstanceOf[org.apache.spark.rdd.RDD[Row]]
  }

  private def toColPred(f: Filter): Option[DataSkipping.ColPred] = {
    import org.apache.spark.sql.sources._
    f match {
      case EqualTo(a, v) if v != null => Some(DataSkipping.ColPred(a, "=", v))
      case LessThan(a, v) if v != null => Some(DataSkipping.ColPred(a, "<", v))
      case LessThanOrEqual(a, v) if v != null => Some(DataSkipping.ColPred(a, "<=", v))
      case GreaterThan(a, v) if v != null => Some(DataSkipping.ColPred(a, ">", v))
      case GreaterThanOrEqual(a, v) if v != null => Some(DataSkipping.ColPred(a, ">=", v))
      case In(a, vs) if vs.nonEmpty && !vs.contains(null) =>
        Some(DataSkipping.ColPred(a, "in", vs.toSeq))
      case _ => None
    }
  }
}
