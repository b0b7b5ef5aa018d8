package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, LongType, StructField, StructType}

import graft.table.{Manifest, SnapshotTable}

/** Initial snapshot load — the write half of the "snapshot + binlog"
  * bootstrap pattern (load the upstream table's full state once, then
  * tail the change stream from the snapshot's LSN).
  *
  * Why not just MERGE into the empty table: [[Merge]] folds the batch
  * with the target slice. Against an empty table the fold finds nothing
  * to merge, but the batch still pays its sort, LWW run-fold and per-row
  * action classification — pure overhead at bootstrap scale
  * (the 100-TB initial load is the single largest write the table will
  * ever see). This path is the minimal plan instead: one hash-partition
  * shuffle on the bucket key → bucketed parquet write → one manifest
  * commit. No tombstones, no LWW fold.
  *
  * Every snapshot row is stamped `_lsn = asOfLsn` and the manifest's
  * watermark starts there, so subsequent CDC events interact correctly by
  * construction: an event with lsn > asOfLsn wins LWW over the snapshot
  * row, an out-of-order event at or below it is recognized as stale.
  *
  * Input contract: `cleanEvents` is conformed, validated, and KEYED (at
  * most one row per doc_id) — [[graft.streaming.CdcPipeline.bootstrap]]
  * owns conform/validate/error-routing and the duplicate sweep. Extra
  * columns evolve the target schema additively, exactly as in [[Merge]].
  *
  * Reference analog: the initial full-county load that precedes the
  * incremental update loop (CountyAddressPointETL.py:252-259 chaining a
  * fresh export before per-run deltas).
  */
object Bootstrap {

  /** The target table already has rows (or pending deltas): bootstrap is
    * only defined as the FIRST write. Loading a snapshot over existing
    * state silently discards neither side correctly — use MERGE (or
    * truncate first, explicitly). */
  case class NonEmptyTable(root: String, rows: Long)
      extends IllegalStateException(
        s"bootstrap requires an empty table; $root already holds $rows row(s) " +
          "(truncate explicitly, or apply the snapshot as a MERGE batch)")

  /** Duplicate sweep over validated snapshot rows: identical copies
    * collapse to one; doc_ids still duplicated after that carry
    * CONFLICTING payloads — every distinct conflicting variant routes to
    * quarantine (`ambiguous_doc_id`), because a snapshot must be keyed
    * and guessing a winner is silent corruption.
    *
    * ONE doc_id shuffle serves both sweeps: two window passes over the
    * same partitioning (the sorted `lag` tags each doc's first row per
    * distinct payload; the unordered `sum` totals the variants), so
    * Catalyst plans one Exchange + one sort — vs a
    * dropDuplicates-then-window shape, which shuffles the full snapshot
    * twice (once on ALL columns, once on doc_id). Plan-gated in
    * PlanSpec. Complex-type equality in Spark is ordering-based (nulls
    * inside the struct compare equal), matching dropDuplicates. */
  def sweepDuplicates(valid: DataFrame, commitId: String): (DataFrame, DataFrame) = {
    val payloadStruct = struct(
      valid.columns.filterNot(Merge.EventMetaCols.contains)
        .toIndexedSeq.map(col): _*)
    val byDoc  = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
    val sorted = byDoc.orderBy(col("_payload"))
    val tagged = valid
      .withColumn("_payload", payloadStruct)
      .withColumn("_first_of_variant",
        lag(col("_payload"), 1).over(sorted).isNull ||
          lag(col("_payload"), 1).over(sorted) =!= col("_payload"))
      .withColumn("_variants",
        sum(when(col("_first_of_variant"), 1L).otherwise(0L)).over(byDoc))
    def strip(df: DataFrame) =
      df.drop("_payload", "_first_of_variant", "_variants")
    val amb = strip(tagged.filter(col("_variants") > 1 && col("_first_of_variant")))
    val ambErrors = amb.select(
      lit(commitId).as("commit_id"),
      col("lsn"),
      col("doc_id"),
      lit("ambiguous_doc_id").as("reason"),
      to_json(struct(amb.columns.filterNot(_ == "commit_id").toIndexedSeq.map(col): _*)).as("raw"))
    (strip(tagged.filter(col("_variants") === 1 && col("_first_of_variant"))),
      ambErrors)
  }

  def apply(
      table: SnapshotTable,
      cleanEvents: DataFrame,
      asOfLsn: Long,
      commitId: String,
      batchId: Long = -1L): MergeStats = {
    val t0  = System.nanoTime()
    val cur = table.current.getOrElse(
      throw new IllegalStateException("table has no snapshot; create() first"))
    if (cur.rowCount > 0 || cur.deltaRows > 0)
      throw NonEmptyTable(table.root, cur.rowCount + cur.deltaRows)

    val targetPayload = StructType(
      cur.schema.fields.filterNot(f => Merge.InternalCols.contains(f.name)))
    val batchPayload = StructType(cleanEvents.schema.fields.filterNot(f =>
      Merge.EventMetaCols.contains(f.name)))
    val (evolvedPayload, changes) = SchemaEvolution.evolve(targetPayload, batchPayload)
    val physicalSchema = StructType(evolvedPayload.fields ++ Seq(
      StructField(Merge.LsnCol, LongType, nullable = false),
      StructField(Merge.TombCol, BooleanType, nullable = true)))

    val numBuckets = cur.numBuckets
    val present    = cleanEvents.columns.toSet
    val rows = cleanEvents.select(
      evolvedPayload.fields.toIndexedSeq.map { f =>
        if (present.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      } ++ Seq(
        lit(asOfLsn).as(Merge.LsnCol),
        lit(false).as(Merge.TombCol),
        MergeOnRead.bucketOf(col("doc_id"), numBuckets).as("_bucket")): _*)

    val newFiles = table.writeDataFiles(rows, commitId)
    val n        = newFiles.map(_.rows).sum
    try
      table.commit(Manifest(
        version = cur.version + 1,
        parent = cur.version,
        commitId = commitId,
        batchId = batchId,
        schemaJson = physicalSchema.json,
        numBuckets = numBuckets,
        watermarkLsn = math.max(cur.watermarkLsn, asOfLsn),
        rowCount = n,
        files = newFiles,
        minEventLsn = asOfLsn))
    catch {
      // the version CAS lost: someone committed to the "empty" table
      // concurrently — the empty-table precondition no longer holds, and
      // unlike Merge there is no rebase that preserves it. Fail typed;
      // the written files are unreferenced orphans vacuum sweeps.
      case _: java.nio.file.FileAlreadyExistsException =>
        throw Merge.CommitConflict(commitId, newFiles.map(_.bucket).toSet,
          s"bootstrap $commitId lost the race: a concurrent commit landed on the " +
            "empty table; re-examine the table state before retrying")
    }
    MergeStats(
      commitId, cur.version + 1, skipped = false,
      touchedBuckets = newFiles.map(_.bucket).distinct.size,
      rowsBefore = 0L, rowsAfter = n,
      inserted = n, updated = 0, deleted = 0, deleteNoops = 0,
      staleEvents = 0, batchEvents = n,
      minLsn = asOfLsn, maxLsn = asOfLsn,
      wallMs = (System.nanoTime() - t0) / 1000000,
      schemaChanges = changes.map(_.toString))
  }
}
