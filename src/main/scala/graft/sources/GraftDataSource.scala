package graft.sources

import java.util.{Map => JMap}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.sources.{DataSourceRegister, InsertableRelation}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.operators.{Dedup, Merge, MergeOnRead, TableMaintenance}
import graft.table.SnapshotTable

/** SQL/catalog surface for a [[graft.table.SnapshotTable]]:
  *
  * {{{
  *   spark.read.format("graft").load(tableRoot)                    // live view
  *   spark.read.format("graft").option("version", 3).load(root)    // time travel
  *   spark.read.format("graft").option("changesFrom", 2)           // CDC-out
  *     .option("changesTo", 5).load(root)                          //   changelog
  *   df.write.format("graft").mode("append").save(root)            // LWW upsert
  *   df.write.format("graft").mode("overwrite").save(root)         // replace
  *   df.writeStream.format("graft").option("path", root)           // streaming
  *     .option("checkpointLocation", cp).start()                   //   upsert sink
  * }}}
  *
  * A DataSource V2 [[TableProvider]] supplies discovery (short name
  * "graft" via the service registry) and the table's logical schema; the
  * companion analyzer rule [[GraftRelationResolution]] — injected by
  * [[graft.plans.GraftExtensions]] — expands the V2 relation into the
  * library's snapshot-resolve plan ([[MergeOnRead.liveView]]): base ∪
  * delta parquet scans, bucket-local LWW fold, tombstone filter. The
  * same expand-at-resolution pattern Delta Lake uses for its file-index
  * views: readers get the full native parquet scan path (vectorization,
  * whole-stage codegen, filter/column pushdown into the scan — PlanSpec
  * "V2 read" gates) instead of a row-at-a-time connector shim, and every
  * plan gate that holds for the library path holds verbatim through SQL.
  *
  * Reference analog: the authoritative table is queryable by any ArcGIS
  * client, not only the ETL scripts (compareSGIDpts.py:21,
  * UpdateAddressPointsSDE.py:24) — this is the engine's equivalent
  * open-to-all-readers surface.
  */
class GraftDataSource extends TableProvider with DataSourceRegister
    with org.apache.spark.sql.sources.StreamSourceProvider
    with org.apache.spark.sql.sources.StreamSinkProvider {

  override def shortName(): String = "graft"

  // ---- streaming changelog source (spark.readStream.format("graft")) ----
  // V1 StreamSourceProvider by design: getBatch returns the native
  // changesSince plan per micro-batch — see GraftChangelogSource.

  override def sourceSchema(
      sqlContext: org.apache.spark.sql.SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val root = parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft streaming source requires a path: spark.readStream.format(\"graft\").load(<tableRoot>)"))
    val table = SnapshotTable.load(sqlContext.sparkSession, root)
    (shortName(), GraftDataSource.changesSchema(table, None))
  }

  override def createSource(
      sqlContext: org.apache.spark.sql.SQLContext,
      metadataPath: String, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]):
      org.apache.spark.sql.execution.streaming.Source = {
    val snapshotMode = parameters.get("initialSnapshot").exists { v =>
      v.trim.toLowerCase(java.util.Locale.ROOT) match {
        case "true"  => true
        case "false" => false
        case other   => throw new IllegalArgumentException(
          s"initialSnapshot must be 'true' or 'false'; got '$other'")
      }
    }
    new graft.streaming.GraftChangelogSource(
      sqlContext.sparkSession,
      parameters("path"),
      metadataPath,
      parameters.get("startingVersion"),
      parameters.get("maxVersionsPerTrigger").map(_.toInt),
      // initialSnapshot exists to stand up an LWW replica, the consumer
      // for whom silently-absorbed retraction diffs mean divergence —
      // so snapshot mode flips the rollback policy to fail-typed unless
      // the user overrides it explicitly
      parameters.getOrElse("onRollback", if (snapshotMode) "fail" else "retract"),
      snapshotMode)
  }

  // ---- streaming upsert sink (df.writeStream.format("graft")) ----
  // V1 StreamSinkProvider (the DataStreamWriter falls back to it when
  // the V2 table does not declare STREAMING_WRITE — the bridge Delta
  // shipped on): addBatch gets the whole micro-batch frame on the
  // driver, which is exactly the shape the MERGE machinery wants.

  override def createSink(
      sqlContext: org.apache.spark.sql.SQLContext,
      parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode): org.apache.spark.sql.execution.streaming.Sink = {
    import org.apache.spark.sql.streaming.OutputMode
    val ci = parameters.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }
    require(partitionColumns.isEmpty,
      "graft sink manages its own bucketing; partitionBy is not supported")
    require(outputMode != OutputMode.Complete(),
      "graft sink supports Append/Update output modes (rows are LWW upserts); " +
        "Complete would re-land the whole result every trigger — use a batch overwrite instead")
    val root = ci.getOrElse("path", throw new IllegalArgumentException(
      "graft streaming sink requires a path: .writeStream.format(\"graft\").option(\"path\", <tableRoot>)"))
    // fail at start(), not first batch, when the table doesn't exist
    val table = SnapshotTable.load(sqlContext.sparkSession, root)
    require(table.current.isDefined,
      s"no graft table at $root — create it (SnapshotTable.create / SQL CREATE TABLE) first")
    // exactly-once key: explicit streamId, else the checkpoint location
    // (stable across restarts), else a per-query nonce. Hashed — the
    // commit id lands in delta file names, so no raw paths.
    val rawKey = ci.get("streamid").orElse(ci.get("checkpointlocation"))
      .getOrElse(graft.table.Fs.nonce)
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(rawKey.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString.take(16)
    new graft.streaming.GraftStreamSink(sqlContext.sparkSession, root, key)
  }

  private def rootOf(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "graft source requires a path: spark.read.format(\"graft\").load(<tableRoot>)"))

  private def versionOf(options: CaseInsensitiveStringMap): Option[Long] =
    Option(options.get("version")).map(_.toLong)

  private def changesFromOf(options: CaseInsensitiveStringMap): Option[Long] =
    Option(options.get("changesFrom")).map(_.toLong)

  private def changesToOf(options: CaseInsensitiveStringMap): Option[Long] =
    Option(options.get("changesTo")).map(_.toLong)

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val table = SnapshotTable.load(SparkSession.active, rootOf(options))
    if (changesFromOf(options).isDefined)
      GraftDataSource.changesSchema(table, changesToOf(options))
    else
      GraftDataSource.logicalSchema(table, versionOf(options))
  }

  override def getTable(
      schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    GraftTable(rootOf(opts), versionOf(opts), schema,
      changesFromOf(opts), changesToOf(opts))
  }
}

object GraftDataSource {
  /** The reader-visible schema: payload columns only (internal `_lsn` /
    * `_tombstone` stripped — same contract as [[MergeOnRead.liveView]]). */
  def logicalSchema(table: SnapshotTable, version: Option[Long]): StructType = {
    val m = version.map(table.manifest).orElse(table.current).getOrElse(
      throw new IllegalStateException(s"no graft snapshot at ${table.root}"))
    StructType(m.schema.fields.filterNot(f => Merge.InternalCols.contains(f.name)))
  }

  /** Schema of the changelog view (`option("changesFrom", v)`): payload
    * columns + (lsn, op) — the [[MergeOnRead.changesSince]] contract. */
  def changesSchema(table: SnapshotTable, toVersion: Option[Long]): StructType =
    StructType(logicalSchema(table, toVersion).fields ++ Seq(
      org.apache.spark.sql.types.StructField("lsn",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("op",
        org.apache.spark.sql.types.StringType, nullable = false)))

  /** `df.write.format("graft")` semantics — rows are UPSERTS through the
    * standard MERGE machinery (never a bare file append):
    *  - `mode("append")`: LWW upsert of the frame. A frame WITHOUT
    *    lsn/op columns gets op='U' at one fresh LSN above the watermark
    *    (so it wins over all current state; duplicate doc_ids within
    *    such a frame are ambiguous — carry an explicit `lsn` to order
    *    them). A frame WITH lsn/op is a verbatim change batch.
    *  - `mode("overwrite")`: tombstone-everything commit, then the frame
    *    re-lands at a fresh LSN above the tombstones — full replace with
    *    history (time travel to the pre-overwrite state still works).
    * Exactly-once: pass `.option("commitId", id)` to ledger the write;
    * without it every save() is a new commit. Commits go through
    * merge-on-read (O(frame) commit cost). */
  def insertInto(
      root: String, data: org.apache.spark.sql.DataFrame,
      overwrite: Boolean, commitId: Option[String]): Unit =
    insertInto(SnapshotTable.load(data.sparkSession, root), data, overwrite, commitId)

  /** [[insertInto]] against a caller-held table handle. Long-lived
    * writers (the streaming sink) MUST use this: a fresh
    * `SnapshotTable.load` per micro-batch starts with an empty manifest
    * cache, so the ledger's `appliedCommitIds` re-parses every manifest
    * JSON each trigger — O(versions²) cumulative driver IO over a
    * standing query. Manifests are immutable once committed, so holding
    * one instance across batches is always safe. */
  def insertInto(
      table: SnapshotTable, data: org.apache.spark.sql.DataFrame,
      overwrite: Boolean, commitId: Option[String]): Unit = {
    val spark = data.sparkSession
    val root  = table.root
    val cur = table.current.getOrElse(throw new IllegalStateException(
      s"no graft table at $root — create it (SnapshotTable.create) first"))
    require(data.columns.contains("doc_id"), "graft writes require a doc_id column")
    val hasMeta = data.columns.contains("lsn") && data.columns.contains("op")
    // SQL INSERT has no writer options — the session conf carries the
    // exactly-once commit id there; DataFrameWriter's option wins if both
    val id = commitId
      .orElse(Option(spark.conf.get("graft.sql.commitId", null)).filter(_.nonEmpty))
      .getOrElse("w-" + graft.table.Fs.nonce)
    import org.apache.spark.sql.functions.{col, lit}
    if (overwrite) {
      TableMaintenance.deleteWhere(table, lit(true), s"$id.truncate", mode = "mor")
      val w2 = table.current.get.watermarkLsn
      // a change-batch frame's LWW-winning deletes must stay deletes —
      // re-landing them as op='U' would resurrect the docs as live
      // null-payload rows (round-3 review finding)
      // null-safe: a malformed null op must re-land as an upsert (the
      // pre-round-3 behavior), never be silently dropped by the
      // three-valued `=!= "D"` (second-pass review)
      val fresh = (if (hasMeta)
                     Dedup.lww(data)
                       .filter(col("op").isNull || col("op") =!= "D")
                       .drop("lsn", "op")
                   else data)
        .withColumn("lsn", lit(w2 + 1)).withColumn("op", lit("U"))
      // stamped-LSN writes guard against a concurrent commit reaching the
      // stamp (typed CommitConflict, not an undefined same-LSN LWW tie)
      MergeOnRead(table, fresh, id, batchId = -4L,
        requireWatermarkBelow = Some(w2 + 1))
    } else {
      val events =
        if (hasMeta) Dedup.lww(data)
        else data.withColumn("lsn", lit(cur.watermarkLsn + 1))
          .withColumn("op", lit("U"))
      MergeOnRead(table, events, id, batchId = -4L,
        requireWatermarkBelow =
          if (hasMeta) None else Some(cur.watermarkLsn + 1))
    }
    ()
  }
}

/** V2 table handle: carries the root + pinned version for the analyzer
  * rule. Scans never come from here — [[GraftRelationResolution]]
  * replaces the relation before scan planning; the [[ScanBuilder]] below
  * only fires when the extensions are not installed, and then fails with
  * the actionable message instead of a silent wrong answer. */
case class GraftTable(
    root: String, pinnedVersion: Option[Long], tableSchema: StructType,
    changesFrom: Option[Long] = None, changesTo: Option[Long] = None)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.TruncatableTable {

  /** SQL `TRUNCATE TABLE` — an empty-state COMMIT, not a file purge:
    * every live doc tombstones at watermark+1 through the same
    * delete-by-predicate path the library exposes, so history and time
    * travel to the pre-truncate state survive (the engine's
    * never-truncate-always-commit posture; vacuum reclaims the old
    * files on its own schedule). */
  override def truncateTable(): Boolean = {
    require(pinnedVersion.isEmpty && changesFrom.isEmpty,
      s"cannot truncate a pinned/changelog graft read ($name); load without options")
    val spark = SparkSession.active
    val t     = SnapshotTable.load(spark, root)
    require(t.current.isDefined, s"no graft table at $root")
    TableMaintenance.deleteWhere(t, org.apache.spark.sql.functions.lit(true),
      "truncate-" + graft.table.Fs.nonce, mode = "mor")
    true
  }

  override def name(): String = s"graft.`$root`" + pinnedVersion.fold("")(v => s"@v$v") +
    changesFrom.fold("")(v => s"@changes($v,${changesTo.getOrElse(-1L)})")
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(
      // BATCH_WRITE gates DataFrameWriter's mode routing; the write
      // itself is the V1 bridge (build() returns a V1Write, so the
      // planner picks the V1 fallback exec, not DataWritingSparkTask)
      TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    throw new IllegalStateException(
      "graft tables read through the GraftExtensions analyzer rule; " +
        graft.plans.GraftExtensions.InstallHint)

  /** Write path: the V2→V1 write bridge (`V1_BATCH_WRITE`, the same
    * bridge Delta shipped on) hands the driver-side frame to
    * [[GraftDataSource.insertInto]], which routes it through the
    * standard MERGE machinery — commit ledger, LWW, schema evolution,
    * lineage all apply; never a bare file append. */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(pinnedVersion.isEmpty && changesFrom.isEmpty,
      s"cannot write to a pinned/changelog graft read ($name); load without options")
    new WriteBuilder with SupportsTruncate {
      private var replace = false
      override def truncate(): WriteBuilder = { replace = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(
                data: org.apache.spark.sql.DataFrame, overwrite: Boolean): Unit =
              GraftDataSource.insertInto(root, data, replace || overwrite,
                Option(info.options.get("commitId")))
          }
      }
    }
  }
}

/** Analyzer rule, two passes per invocation:
  *  1. claim `MERGE INTO` statements whose target is a [[GraftTable]]
  *     relation ([[GraftMergeInto.translate]] → a runnable command) —
  *     top-down, so the target is translated before pass 2 could expand
  *     it out from under the MergeIntoTable node;
  *  2. expand every remaining [[GraftTable]] V2 relation into the
  *     library's resolve plan for that (root, version / changes range),
  *     re-aliased to the relation's output attribute ids so references
  *     above it stay bound. Relations that sit under a NOT-yet-resolved
  *     MergeIntoTable target are left alone (reference-identity guard)
  *     until the statement resolves and pass 1 claims it. */
case class GraftRelationResolution(session: SparkSession) extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.plans.logical.{DeleteFromTable, MergeIntoTable, UpdateTable}

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val merged = plan.resolveOperatorsDown {
      // claim only a FULLY resolved statement: childrenResolved alone is
      // not enough when the condition or an action needs a later
      // ResolveReferences pass (nested fields, late-resolved functions) —
      // translate()'s AttributeReference patterns would miss and reject a
      // supported statement. Leave the node untouched for the next
      // fixed-point iteration instead (round-4 review finding).
      case m: MergeIntoTable
          if GraftMergeInto.graftTargetOf(m.targetTable).isDefined &&
            m.childrenResolved && m.mergeCondition.resolved &&
            (m.matchedActions ++ m.notMatchedActions ++ m.notMatchedBySourceActions)
              .forall(_.resolved) =>
        GraftMergeInto.translate(m)
      // DELETE FROM / UPDATE: row-level SQL DML over the live view,
      // compiled onto the same O(matches) tombstone/rewrite commits the
      // library's TableMaintenance ops use (the condition and assignment
      // expressions stay bound — the target expands inside the compiled
      // command with the relation's own attribute ids)
      case d: DeleteFromTable
          if GraftMergeInto.graftTargetOf(d.table).isDefined &&
            d.childrenResolved && d.condition.resolved =>
        GraftDml.translateDelete(session, d)
      case u: UpdateTable
          if GraftMergeInto.graftTargetOf(u.table).isDefined &&
            u.childrenResolved && u.assignments.forall(_.resolved) &&
            u.condition.forall(_.resolved) =>
        GraftDml.translateUpdate(session, u)
    }
    // targets of not-yet-claimed DML statements must stay UNEXPANDED so
    // the claim above can still read the GraftTable (root, version) off
    // the relation on a later fixed-point pass
    val pendingTargets: Seq[LogicalPlan] = merged.collect {
      case m: MergeIntoTable   => relationsIn(m.targetTable)
      case d: DeleteFromTable  => relationsIn(d.table)
      case u: UpdateTable      => relationsIn(u.table)
    }.flatten
    merged.resolveOperatorsUp {
      case r: DataSourceV2Relation
          if r.table.isInstanceOf[GraftTable] && !pendingTargets.exists(_ eq r) =>
        GraftRelationResolution.expand(session, r)
    }
  }

  private def relationsIn(p: LogicalPlan): Seq[LogicalPlan] = p.collect {
    case r: DataSourceV2Relation if r.table.isInstanceOf[GraftTable] => r: LogicalPlan
  }
}

object GraftRelationResolution {
  /** Expand a [[GraftTable]] V2 relation into the library's resolve plan
    * for its (root, version / changes range), re-aliased to the
    * relation's output attribute ids so references above it stay bound. */
  def expand(session: SparkSession, r: DataSourceV2Relation): LogicalPlan = {
    val t  = r.table.asInstanceOf[GraftTable]
    val st = SnapshotTable.load(session, t.root)
    val expanded = (t.changesFrom match {
      // changelog view through SQL: the engine's CDC-out, same
      // contract and paths as the library call
      case Some(from) => MergeOnRead.changesSince(st, from, t.changesTo)
      case None       => MergeOnRead.liveView(st, t.pinnedVersion)
    }).queryExecution.analyzed
    val byName = expanded.output.map(a => a.name -> a).toMap
    Project(
      r.output.map { o =>
        val src = byName.getOrElse(o.name, throw new IllegalStateException(
          s"graft table ${t.root} no longer has column ${o.name}; re-read the table"))
        Alias(src, o.name)(exprId = o.exprId, qualifier = o.qualifier)
      },
      expanded)
  }
}
