package graft.sql

import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Row, SparkSession}

import graft.delta.DeltaTable

/** Runnable commands behind [[GraftSqlParser]]'s statements. Each wraps
  * the Scala API one-to-one, so SQL and programmatic callers share the
  * exact same semantics (commit protocol, concurrency guards, protocol
  * raising). Eager like every Spark command: `spark.sql("OPTIMIZE …")`
  * runs the operation and returns its result rows. */
private object CmdSchema {
  def attrs(fields: (String, DataType)*): Seq[Attribute] =
    fields.map { case (n, t) => AttributeReference(n, t, nullable = true)() }
}

/** `OPTIMIZE` — plain small-file compaction without ZORDER BY, an
  * N-column space-filling-curve rewrite with it; WHERE scopes either to
  * matching partitions. Version is -1 when there was nothing to do (the
  * quiet-no-op contract of the Scala API). The WHERE rides as raw SQL
  * text — a stored unresolved Expression would fail CheckAnalysis before
  * the command ever runs (it resolves against the TABLE, not this plan). */
case class OptimizeTableCommand(path: String, whereSql: Option[String],
                                zorderBy: Seq[String],
                                full: Boolean = false) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = CmdSchema.attrs(
    "path" -> StringType, "operation" -> StringType, "version" -> LongType)

  override def run(spark: SparkSession): Seq[Row] = {
    val t = DeltaTable.forPath(spark, path)
    val whereCol = whereSql.map(org.apache.spark.sql.functions.expr)
    val clusterCols = if (zorderBy.isEmpty) t.clusteringColumns else Nil
    // FULL binds to clustered maintenance only (delta-spark's contract):
    // ZORDER BY and plain compaction are already whole-rewrite shapes
    require(!full || (zorderBy.isEmpty && clusterCols.nonEmpty),
      "OPTIMIZE ... FULL is only supported on clustered tables")
    val (op, v) =
      if (zorderBy.nonEmpty)
        (s"ZORDER BY (${zorderBy.mkString(", ")})",
          t.optimizeZOrder(zorderBy, 0, whereCol))
      else if (clusterCols.nonEmpty)
        // a clustered table's bare OPTIMIZE is INCREMENTAL layout
        // maintenance on the stored keys (the liquid contract), not a
        // small-file compaction that would destroy the clustering;
        // FULL forces the complete re-cluster (final cubes included)
        (s"CLUSTER BY (${clusterCols.mkString(", ")})${if (full) " FULL" else ""}",
          t.optimizeClustered(where = whereCol, full = full))
      else ("COMPACT", t.compact(where = whereCol))
    Seq(Row(path, op, v))
  }
}

/** `VACUUM` — DRY RUN returns one row per collectable file (and deletes
  * nothing); the real run returns the deleted count. */
case class VacuumTableCommand(path: String, retainHours: Option[Long],
                              dryRun: Boolean,
                              inventorySql: Option[String] = None,
                              lite: Boolean = false)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    if (dryRun) CmdSchema.attrs("path" -> StringType)
    else CmdSchema.attrs("path" -> StringType, "deleted_files" -> LongType)

  override def run(spark: SparkSession): Seq[Row] = {
    val t = DeltaTable.forPath(spark, path)
    // no RETAIN clause → the table's delta.deletedFileRetentionDuration
    // (or delta's 7-day standard), resolved by the Scala API
    val retentionMs = retainHours.map(_ * 3600L * 1000)
      .getOrElse(DeltaTable.TableDefaultRetention)
    if (lite) {
      // LITE: tombstones from the retained log only, zero listing
      if (dryRun) t.vacuumLiteDryRun(retentionMs).map(Row(_))
      else Seq(Row(path, t.vacuumLite(retentionMs).toLong))
    } else inventorySql match {
      case Some(q) =>
        // USING INVENTORY: candidates from the subquery (an object-store
        // inventory table), distributed anti-join instead of any walk
        val inv = spark.sql(q)
        if (dryRun) t.vacuumInventoryDryRun(inv, retentionMs).map(Row(_))
        else Seq(Row(path, t.vacuumUsingInventory(inv, retentionMs).toLong))
      case None =>
        if (dryRun) t.vacuumDryRun(retentionMs).map(Row(_))
        else Seq(Row(path, t.vacuum(retentionMs).toLong))
    }
  }
}

/** `COPY INTO delta.`path` FROM '<src>' FILEFORMAT = PARQUET|JSON|CSV|AVRO
  * [PATTERN = '<glob>'] [FORMAT_OPTIONS ('k'='v', …)]
  * [COPY_OPTIONS ('mergeSchema'='true')]` —
  * [[DeltaTable.copyInto]] verbatim: idempotent per-source-file loading
  * (each file's txn action rides its data commit). version = -1 when
  * every matching file was already loaded. */
case class CopyIntoCommand(path: String, source: String, format: String,
                           pattern: Option[String],
                           options: Map[String, String],
                           copyOptions: Map[String, String] = Map.empty)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = CmdSchema.attrs(
    "path" -> StringType, "source" -> StringType, "version" -> LongType)
  override def run(spark: SparkSession): Seq[Row] = {
    val t = DeltaTable.forPath(spark, path)
    Seq(Row(path, source,
      t.copyInto(source, format, pattern, options, copyOptions)))
  }
}

/** `DESCRIBE DETAIL` — one row of log-only table metadata
  * ([[DeltaTable.detail]]'s columns verbatim). */
case class DescribeDetailCommand(path: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = CmdSchema.attrs(
    "format" -> StringType, "id" -> StringType, "name" -> StringType,
    "description" -> StringType, "location" -> StringType,
    "partitionColumns" -> ArrayType(StringType),
    "numFiles" -> LongType, "sizeInBytes" -> LongType,
    "properties" -> MapType(StringType, StringType),
    "minReaderVersion" -> IntegerType, "minWriterVersion" -> IntegerType,
    "createdAt" -> TimestampType, "version" -> LongType,
    "tableFeatures" -> ArrayType(StringType),
    "clusteringColumns" -> ArrayType(StringType),
    "numDeletionVectors" -> LongType, "deletedRowCount" -> LongType)

  override def run(spark: SparkSession): Seq[Row] =
    DeltaTable.forPath(spark, path).detail().collect().toSeq
}

/** `DESCRIBE HISTORY` — newest-first commit log
  * (version, timestamp, operation, operationParameters,
  * operationMetrics — delta-spark's metrics column: numFiles /
  * numOutputRows / numAddedFiles / …, empty for metric-less commits). */
case class DescribeHistoryCommand(path: String,
                                  limit: Option[Int]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = CmdSchema.attrs(
    "version" -> LongType, "timestamp" -> TimestampType,
    "operation" -> StringType,
    "operationParameters" -> MapType(StringType, StringType),
    "operationMetrics" -> MapType(StringType, StringType))

  override def run(spark: SparkSession): Seq[Row] =
    DeltaTable.forPath(spark, path).log.history(limit).map { case (v, ci) =>
      Row(v,
        ci.map(c => new java.sql.Timestamp(c.timestamp)).orNull,
        ci.map(_.operation).orNull,
        ci.map(_.operationParameters).getOrElse(Map.empty[String, String]),
        ci.flatMap(_.operationMetrics).getOrElse(Map.empty[String, String]))
    }
}

/** `CREATE TABLE delta.`path` (cols…) [USING delta] [PARTITIONED BY …]
  * [CLUSTER BY …] [TBLPROPERTIES …]` — [[DeltaTable.create]] verbatim
  * (same protocol floors, feature raising, generated/identity/default
  * column handling). SQL semantics on an existing table: error unless
  * IF NOT EXISTS (the Scala API's quiet no-op would silently ignore a
  * conflicting schema). */
case class DeltaCreateTableCommand(path: String, tableSchema: StructType,
                                   partitionCols: Seq[String],
                                   clusterCols: Seq[String],
                                   properties: Map[String, String],
                                   ignoreIfExists: Boolean,
                                   replace: Boolean = false,
                                   orCreate: Boolean = false)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = CmdSchema.attrs(
    "path" -> StringType, "created" -> BooleanType)
  override def run(spark: SparkSession): Seq[Row] = {
    val t = DeltaTable.forPath(spark, path)
    if (replace && t.exists) {
      // created=false: the table was REPLACED, not created — a
      // provisioning script branching on the flag can tell them apart
      t.replaceAs(tableSchema, partitionCols, None, properties, clusterCols)
      return Seq(Row(path, false))
    }
    if (replace && !orCreate)
      throw new IllegalStateException(
        s"no table at $path to REPLACE — use CREATE OR REPLACE TABLE")
    if (t.exists) {
      if (ignoreIfExists) return Seq(Row(path, false))
      throw new IllegalStateException(
        s"table already exists at $path — use CREATE TABLE IF NOT EXISTS")
    }
    t.create(tableSchema, partitionCols, None, properties, clusterCols)
    Seq(Row(path, true))
  }
}

/** `CREATE TABLE delta.`path` [USING delta] [PARTITIONED BY …] AS
  * SELECT …` — create + first append in sequence (the append is its own
  * commit: CTAS on a path table is create-then-load, and a concurrent
  * writer race surfaces through the normal commit conflict checks). */
case class DeltaCreateTableAsSelectCommand(path: String,
                                           partitionCols: Seq[String],
                                           clusterCols: Seq[String],
                                           properties: Map[String, String],
                                           query: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
                                           ignoreIfExists: Boolean,
                                           replace: Boolean = false,
                                           orCreate: Boolean = false)
    extends org.apache.spark.sql.execution.command.RunnableCommand {
  override def children: Seq[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] =
    Seq(query)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]): DeltaCreateTableAsSelectCommand =
    copy(query = newChildren.head)
  override val output: Seq[Attribute] = CmdSchema.attrs(
    "path" -> StringType, "created" -> BooleanType, "version" -> LongType)
  override def run(spark: SparkSession): Seq[Row] = {
    val t = DeltaTable.forPath(spark, path)
    val df = org.apache.spark.sql.graft.StreamBridge.ofRows(spark, query)
    if (replace && t.exists) {
      // REPLACE ... AS SELECT is ATOMIC (Delta's CRAS contract): the
      // SELECT's files are staged first, then ONE commit carries the
      // metadata swap + removes + adds — no reader ever observes an
      // empty table between versions. created=false — replaced.
      return Seq(Row(path, false,
        t.replaceAsSelect(df, partitionCols, None, properties, clusterCols)))
    }
    if (replace && !orCreate)
      throw new IllegalStateException(
        s"no table at $path to REPLACE — use CREATE OR REPLACE TABLE")
    if (t.exists) {
      if (ignoreIfExists) return Seq(Row(path, false, -1L))
      throw new IllegalStateException(
        s"table already exists at $path — use CREATE TABLE IF NOT EXISTS")
    }
    t.create(df.schema, partitionCols, None, properties, clusterCols)
    Seq(Row(path, true, t.append(df)))
  }
}

/** `CREATE TABLE <dst> SHALLOW|DEEP CLONE <src> [VERSION AS OF n]` —
  * [[DeltaTable.shallowCloneTo]] (zero-copy fork by absolute reference)
  * or [[DeltaTable.deepCloneTo]] (independent full copy, cluster-parallel),
  * optionally as of a historic version. */
case class CloneTableCommand(target: String, source: String,
                             version: Option[Long],
                             deep: Boolean,
                             timestamp: Option[String] = None)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = CmdSchema.attrs(
    "target" -> StringType, "source" -> StringType, "source_version" -> LongType)
  override def run(spark: SparkSession): Seq[Row] = {
    val src = DeltaTable.forPath(spark, source)
    // TIMESTAMP AS OF resolves through the same versionAt rule as time
    // travel (latest version committed at or before the instant)
    val resolved = timestamp.map { ts =>
      val iso = ts.replace(" ", "T") +
        (if (ts.contains("Z") || ts.contains("+")) "" else "Z")
      src.log.versionAt(java.time.Instant.parse(iso).toEpochMilli)
    }.orElse(version)
    val v = resolved.getOrElse(src.log.latestVersion())
    if (deep) src.deepCloneTo(target, resolved.getOrElse(-1L))
    else src.shallowCloneTo(target, resolved.getOrElse(-1L))
    Seq(Row(target, source, v))
  }
}

/** `CONVERT TO DELTA parquet.`<path>` [PARTITIONED BY (…)]` —
  * [[DeltaTable.convertFrom]]: in-place v0 log over the existing parquet
  * files with footer-derived stats (distributed past the threshold), no
  * data movement. */
case class ConvertToDeltaCommand(path: String, partitionCols: Seq[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = CmdSchema.attrs(
    "path" -> StringType, "num_files" -> LongType)
  override def run(spark: SparkSession): Seq[Row] = {
    val t = DeltaTable.convertFrom(spark, path, partitionCols)
    Seq(Row(path, t.snapshot.files.size.toLong))
  }
}

/** `RESTORE [TABLE] … TO VERSION/TIMESTAMP AS OF` —
  * [[DeltaTable.restoreTo]]/`restoreToTimestamp`. */
case class RestoreTableCommand(path: String, version: Option[Long],
                               timestamp: Option[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = CmdSchema.attrs("version" -> LongType)
  override def run(spark: SparkSession): Seq[Row] = {
    val t = DeltaTable.forPath(spark, path)
    val v = (version, timestamp) match {
      case (Some(n), None) => t.restoreTo(n)
      case (None, Some(ts)) => t.restoreToTimestamp(
        java.time.Instant.parse(ts.replace(" ", "T") +
          (if (ts.contains("Z") || ts.contains("+")) "" else "Z")).toEpochMilli)
      case _ => throw new IllegalArgumentException(
        "RESTORE needs exactly one of VERSION AS OF / TIMESTAMP AS OF")
    }
    Seq(Row(v))
  }
}

/** `ALTER TABLE delta.`path` ADD COLUMNS (c type [COMMENT …], …)` —
  * [[DeltaTable.addColumns]]: a metadata-only commit; existing files
  * null-fill the new columns at read time. */
case class DeltaAddColumnsCommand(path: String,
                                  cols: Seq[(String, DataType, Boolean, Option[String])])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = CmdSchema.attrs("version" -> LongType)
  override def run(spark: SparkSession): Seq[Row] = {
    val fields = cols.map { case (n, dt, nullable, comment) =>
      val f = StructField(n, dt, nullable)
      comment.map(f.withComment).getOrElse(f)
    }
    Seq(Row(DeltaTable.forPath(spark, path).addColumns(fields)))
  }
}

/** `ALTER TABLE delta.`path` RENAME COLUMN a TO b` —
  * [[DeltaTable.renameColumn]] (on a column-mapped table this is
  * metadata-only; otherwise it refuses, the Delta contract). */
case class DeltaRenameColumnCommand(path: String, from: String, to: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = CmdSchema.attrs("version" -> LongType)
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(DeltaTable.forPath(spark, path).renameColumn(from, to)))
}

/** `ALTER TABLE delta.`path` DROP COLUMN[S] …` —
  * [[DeltaTable.dropColumn]] per column (metadata-only on mapped
  * tables); IF EXISTS skips absent names quietly. */
case class DeltaDropColumnsCommand(path: String, names: Seq[String],
                                   ifExists: Boolean) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = CmdSchema.attrs("version" -> LongType)
  override def run(spark: SparkSession): Seq[Row] = {
    val t = DeltaTable.forPath(spark, path)
    var v = -1L
    names.foreach { n =>
      if (!ifExists || t.schema.fieldNames.exists(_.equalsIgnoreCase(n)))
        v = t.dropColumn(n)
    }
    Seq(Row(v))
  }
}

/** `ALTER TABLE delta.`path` ALTER COLUMN c TYPE t` —
  * [[DeltaTable.widenColumnType]] (the Delta type-widening feature:
  * only safe widenings commit; anything else refuses there). */
case class DeltaAlterColumnTypeCommand(path: String,
                                       changes: Seq[(String, DataType)])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = CmdSchema.attrs("version" -> LongType)
  override def run(spark: SparkSession): Seq[Row] = {
    val t = DeltaTable.forPath(spark, path)
    Seq(Row(changes.map { case (n, dt) => t.widenColumnType(n, dt) }.last))
  }
}

/** `ALTER TABLE delta.`path` ADD CONSTRAINT name CHECK (…)` —
  * [[DeltaTable.addCheckConstraint]]: verifies existing rows FIRST,
  * then commits the constraint into the table configuration. */
case class DeltaAddConstraintCommand(path: String, name: String,
                                     conditionSql: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = CmdSchema.attrs("version" -> LongType)
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(DeltaTable.forPath(spark, path).addCheckConstraint(name, conditionSql)))
}

/** `ALTER TABLE delta.`path` DROP CONSTRAINT [IF EXISTS] name`. */
case class DeltaDropConstraintCommand(path: String, name: String,
                                      ifExists: Boolean) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = CmdSchema.attrs("version" -> LongType)
  override def run(spark: SparkSession): Seq[Row] = {
    val t = DeltaTable.forPath(spark, path)
    val key = DeltaTable.ConstraintPrefix + name.toLowerCase
    val present = t.snapshot.configuration.contains(key)
    if (!present && ifExists) Seq(Row(-1L))
    else Seq(Row(t.dropConstraint(name)))
  }
}

/** `SHOW TBLPROPERTIES delta.`path` [('key')]` — the table
  * configuration (constraints ride under their `delta.constraints.`
  * keys, exactly as stored). */
case class DeltaShowPropertiesCommand(path: String, key: Option[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = CmdSchema.attrs(
    "key" -> StringType, "value" -> StringType)
  override def run(spark: SparkSession): Seq[Row] = {
    val conf = DeltaTable.forPath(spark, path).snapshot.configuration
    key match {
      case Some(k) => Seq(Row(k, conf.getOrElse(k,
        s"Table ${path} does not have property: $k")))
      case None => conf.toSeq.sortBy(_._1).map { case (k, v) => Row(k, v) }
    }
  }
}

/** `REORG TABLE delta.`path` APPLY (PURGE)` —
  * [[DeltaTable.purgeDeletionVectors]]: rewrite every DV-carrying file
  * without its deleted rows so the bitmaps disappear (Delta proper's
  * REORG PURGE). Version is -1 when the table has no deletion vectors
  * (quiet no-op, no commit). */
case class ReorgTableCommand(path: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = CmdSchema.attrs(
    "path" -> StringType, "version" -> LongType)
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(path, DeltaTable.forPath(spark, path).purgeDeletionVectors()))
}

/** `FSCK REPAIR TABLE delta.`path` [DRY RUN]` —
  * [[DeltaTable.fsckRepair]]: commit removes for snapshot files whose
  * bytes are gone from storage so reads stop failing; DRY RUN lists the
  * dangling references and touches nothing. One row per dangling file. */
case class FsckRepairCommand(path: String, dryRun: Boolean)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = CmdSchema.attrs("dangling_file" -> StringType)
  override def run(spark: SparkSession): Seq[Row] =
    DeltaTable.forPath(spark, path).fsckRepair(dryRun).map(Row(_))
}

/** `COMMENT ON TABLE ... IS '<text>' | NULL` — sets/clears the metaData
  * description (the protocol's table comment). */
case class CommentOnTableCommand(path: String, comment: Option[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = CmdSchema.attrs(
    "path" -> StringType, "version" -> LongType)
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(path, DeltaTable.forPath(spark, path).commentTable(comment)))
}

/** `ALTER TABLE ... DROP FEATURE` — protocol feature removal with the
  * optional TRUNCATE HISTORY for reader-scoped features. */
case class DropFeatureCommand(path: String, feature: String,
                              truncateHistory: Boolean)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = CmdSchema.attrs(
    "path" -> StringType, "feature" -> StringType, "version" -> LongType)
  override def run(spark: SparkSession): Seq[Row] = {
    val v = DeltaTable.forPath(spark, path).dropFeature(feature, truncateHistory)
    Seq(Row(path, feature, v))
  }
}

/** `GENERATE symlink_format_manifest FOR TABLE` — (re)writes the Hive
  * symlink manifests for external Presto/Trino/Athena readers. Returns
  * one row per manifest file written. */
case class GenerateManifestCommand(path: String, mode: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = CmdSchema.attrs("manifest_file" -> StringType)
  override def run(spark: SparkSession): Seq[Row] = {
    require(mode.equalsIgnoreCase("symlink_format_manifest"),
      s"unsupported GENERATE mode '$mode' — only symlink_format_manifest")
    DeltaTable.forPath(spark, path).generateManifest().map(Row(_))
  }
}

/** `DELETE FROM delta.`path` WHERE …` — [[DeltaTable.delete]] verbatim
  * (stats-index candidate pruning, CDF, row tracking, concurrency
  * guards). The condition re-resolves against the target table from its
  * SQL text. Version -1 = nothing matched (no commit).
  *
  * On a table with `delta.enableDeletionVectors=true` SQL DML runs
  * MERGE-ON-READ ([[DeltaTable.deleteWithDv]]) — delta-spark's
  * behavior: the table property is SQL's only lever to pick the DV
  * path, and enabling it declares exactly that intent. Semantics are
  * identical either way: one DML body claims the rows for both, and
  * only how the claimed rows leave their files (rewrite or deletion
  * vector) differs. */
case class DeltaDeleteCommand(path: String, condSql: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = CmdSchema.attrs("version" -> LongType)
  override def run(spark: SparkSession): Seq[Row] = {
    val t = DeltaTable.forPath(spark, path)
    val cond = org.apache.spark.sql.functions.expr(condSql)
    Seq(Row(if (t.dvEnabled) t.deleteWithDv(cond) else t.delete(cond)))
  }
}

/** `UPDATE delta.`path` SET c = e, … [WHERE …]` — [[DeltaTable.update]];
  * no WHERE means every row (`true`), standard SQL semantics. DV-enabled
  * tables run merge-on-read ([[DeltaTable.updateWithDv]], see
  * [[DeltaDeleteCommand]]). */
case class DeltaUpdateCommand(path: String, set: Seq[(String, String)],
                              condSql: Option[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = CmdSchema.attrs("version" -> LongType)
  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.{expr, lit}
    val t = DeltaTable.forPath(spark, path)
    val cond = condSql.map(expr).getOrElse(lit(true))
    val sets = set.map { case (c, e) => c -> expr(e) }.toMap
    Seq(Row(if (t.dvEnabled) t.updateWithDv(cond, sets) else t.update(cond, sets)))
  }
}

/** `MERGE INTO delta.`path` … ON t.k = s.k WHEN MATCHED THEN UPDATE SET *
  * WHEN NOT MATCHED THEN INSERT *` — [[DeltaTable.merge]]'s key-equality
  * upsert. The SOURCE rides as this command's child so the analyzer
  * resolves it like any query. */
case class DeltaMergeCommand(path: String, keyCols: Seq[String],
                             source: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
    extends org.apache.spark.sql.execution.command.RunnableCommand {
  override def children: Seq[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] =
    Seq(source)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]): DeltaMergeCommand =
    copy(source = newChildren.head)
  override val output: Seq[Attribute] = CmdSchema.attrs("version" -> LongType)
  override def run(spark: SparkSession): Seq[Row] = {
    val src = org.apache.spark.sql.graft.StreamBridge.ofRows(spark, source)
    val t = DeltaTable.forPath(spark, path)
    Seq(Row(if (t.dvEnabled) t.mergeWithDv(src, keyCols)
    else t.merge(src, keyCols)))
  }
}

/** `MERGE INTO delta.`path` … ` with the FULL clause surface —
  * conditional matched UPDATE/DELETE, conditional INSERT, and
  * WHEN NOT MATCHED BY SOURCE UPDATE/DELETE — resolved to
  * [[DeltaTable.mergeClauses]]. Clause expressions arrive canonicalized
  * to `t.`/`s.` qualifiers by [[GraftPathRules.mergeClausesOf]]. */
case class DeltaMergeClausesCommand(path: String, keyCols: Seq[String],
                                    source: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
                                    clauses: Seq[DeltaTable.MergeClause])
    extends org.apache.spark.sql.execution.command.RunnableCommand {
  override def children: Seq[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] =
    Seq(source)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]): DeltaMergeClausesCommand =
    copy(source = newChildren.head)
  override val output: Seq[Attribute] = CmdSchema.attrs("version" -> LongType)
  override def run(spark: SparkSession): Seq[Row] = {
    val src = org.apache.spark.sql.graft.StreamBridge.ofRows(spark, source)
    val t = DeltaTable.forPath(spark, path)
    Seq(Row(if (t.dvEnabled) t.mergeClausesWithDv(src, keyCols, clauses)
    else t.mergeClauses(src, keyCols, clauses)))
  }
}

/** `INSERT INTO / INSERT OVERWRITE delta.`path` [(cols)] <query>` —
  * [[DeltaTable.append]]/`overwrite`. Positional column mapping like SQL
  * INSERT (renamed to the table schema; arity must match), or by the
  * user-specified column list when given. */
case class DeltaInsertCommand(path: String,
                              query: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
                              userCols: Seq[String], overwrite: Boolean)
    extends org.apache.spark.sql.execution.command.RunnableCommand {
  override def children: Seq[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] =
    Seq(query)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]): DeltaInsertCommand =
    copy(query = newChildren.head)
  override val output: Seq[Attribute] = CmdSchema.attrs("version" -> LongType)
  override def run(spark: SparkSession): Seq[Row] = {
    val t = DeltaTable.forPath(spark, path)
    val df = org.apache.spark.sql.graft.StreamBridge.ofRows(spark, query)
    val names = if (userCols.nonEmpty) userCols else t.schema.fieldNames.toSeq
    require(df.columns.length == names.length,
      s"INSERT query produces ${df.columns.length} columns but the target " +
        s"expects ${names.length} (${names.mkString(", ")})")
    val aligned = df.toDF(names: _*)
    Seq(Row(if (overwrite) t.overwrite(aligned) else t.append(aligned)))
  }
}

/** `ALTER TABLE … CLUSTER BY (cols)` / `CLUSTER BY NONE` —
  * [[DeltaTable.alterClusterBy]] verbatim: one metadata commit changes
  * (or clears) the liquid clustering columns; the next incremental
  * OPTIMIZE re-clusters under the new keys, OPTIMIZE FULL for the
  * whole table at once. */
case class AlterClusterByCommand(path: String,
                                 cols: Seq[String]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = CmdSchema.attrs("version" -> LongType)

  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(DeltaTable.forPath(spark, path).alterClusterBy(cols)))
}

/** `ALTER TABLE … SET/UNSET TBLPROPERTIES` — the feature-aware property
  * paths ([[DeltaTable.setProperties]]/`unsetProperties`): protocol
  * raising, engine-maintained-key refusals, and the no-downgrade rule
  * all apply identically from SQL. */
case class AlterPropertiesCommand(path: String, props: Map[String, String],
                                  unset: Boolean) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = CmdSchema.attrs("version" -> LongType)

  override def run(spark: SparkSession): Seq[Row] = {
    val t = DeltaTable.forPath(spark, path)
    val v = if (unset) t.unsetProperties(props.keys.toSeq)
    else t.setProperties(props)
    Seq(Row(v))
  }
}
