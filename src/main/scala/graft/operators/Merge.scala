package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, LongType, StructField, StructType}

import graft.table.{Manifest, SnapshotTable}

/** Result of applying one change batch. */
case class MergeStats(
    commitId: String,
    version: Long,
    skipped: Boolean,
    touchedBuckets: Int,
    rowsBefore: Long,
    rowsAfter: Long,
    inserted: Long,
    updated: Long,
    deleted: Long,
    deleteNoops: Long,
    staleEvents: Long,
    batchEvents: Long,
    minLsn: Long,
    maxLsn: Long,
    wallMs: Long,
    schemaChanges: Seq[String])

/** Copy-on-write MERGE of a deduped change batch into a [[SnapshotTable]].
  *
  * Reference analog: `update_sde`'s guarded delete-partition-then-append
  * (UpdateAddressPointsSDE.py:26-63), made atomic by the snapshot commit
  * and idempotent by the commit-id ledger + row-level LSN condition.
  *
  * One plan, one exchange of its own:
  *  - Only buckets the batch touches are read and rewritten; untouched
  *    buckets' files carry forward by manifest reference (zero IO).
  *  - The touched target slice re-enters as events (stored `_lsn`, op D
  *    for tombstones) and unions with the batch. ONE exchange keyed on
  *    the bucket id ([[SnapshotTable.routeByBucket]]; doc_id is never a
  *    shuffle key) co-locates every doc's rows, and the in-partition LWW
  *    run-fold [[MergeOnRead.localLww]] — the kernel MOR resolve and
  *    [[MergeOnRead.foldTouched]] also run — picks each doc's winner and
  *    classifies it (insert / update / delete / delete_noop / stale /
  *    keep). The fold output is already bucket-partitioned, so the write
  *    adds no routing exchange (PlanSpec "COW merge write inside
  *    foreachBatch" gate). The route's partitions are sized by bytes —
  *    AQE coalesces its bucket slots, never splitting one — so a small
  *    batch's touched buckets fold and write in one task and a bulk
  *    batch spreads over a few, each bucket whole in one of them.
  *  - Base rows sort after batch rows at equal LSN, so the strict
  *    `batch.lsn > target._lsn` contract holds: replayed or out-of-order
  *    events are stale no-ops even if the ledger is bypassed.
  *  - All merge metrics come from `Dataset.observe` on the single write
  *    pass — no second job.
  *
  * Measured against the full-outer-join plan this replaced, on a 4-core /
  * 15 GB VM with perfbench `bulk_cow` (10 pairs, seeds 301-310, alternating
  * which side ran first): median events/s 81.2k fold vs 78.6k join and
  * commit p50 0.483 vs 0.498 s, both inside the run-to-run spread; the
  * insert batch into an empty table (setup_s) 0.803 vs 0.751 s. One
  * traced pair moved 242.3 vs 270.8 MB of shuffle (-10%) in 60 vs 68 jobs.
  * The join crossed two exchanges (doc_id join shuffle, then write
  * routing) and sorted full payload rows on both join inputs; bytes moved
  * is the cost that carries to a cluster.
  *
  * Workload shape picks the mode: COW pays the touched-bucket rewrite per
  * commit, MOR ([[MergeOnRead]]) appends deltas and folds later — the
  * right trade when batches are small relative to the table.
  */
object Merge {

  val LsnCol  = "_lsn"
  /** Deletes persist as tombstone rows (payload nulled, `_lsn` = delete
    * LSN) so LAST-writer-wins stays correct under ANY delivery order —
    * without them, a delete applied before a lower-LSN insert of the same
    * doc arrives would let the late insert resurrect the doc (Kafka
    * log-compaction / Iceberg equality-delete semantics). Readers filter
    * them; compaction/vacuum can expire them below the applied-LSN
    * frontier. */
  val TombCol = "_tombstone"

  val InternalCols: Seq[String] = Seq(LsnCol, TombCol)

  /** Change-stream metadata columns — everything an event carries that is
    * NOT payload. The single source of truth for every surface that
    * splits event shape from payload shape (merge, bootstrap, the
    * pipeline's table-create filter, the bootstrap banned-column check):
    * adding a new event-level column here keeps all of them agreeing. */
  val EventMetaCols: Seq[String] = Seq("lsn", "op", "ingest_ts")

  /** Payload columns = everything that persists in the target table. */
  private def payloadSchemaOf(batch: DataFrame): StructType =
    StructType(batch.schema.fields.filterNot(f => EventMetaCols.contains(f.name)))

  /** @param preCommitBarrier invoked after the survivors are written,
    *   immediately BEFORE the first commit attempt — the pipeline joins
    *   its concurrent side-table staging here (guide §2.6) so staged
    *   errors stay durable before any manifest commit. */
  def apply(
      table: SnapshotTable,
      dedupedBatch: DataFrame,
      commitId: String,
      batchId: Long,
      preCommitBarrier: () => Unit = () => ()): MergeStats = {
    val t0  = System.nanoTime()
    val cur0 = table.current.getOrElse(
      throw new IllegalStateException("table has no snapshot; create() first"))

    if (table.appliedCommitIds.contains(commitId)) {
      // Exactly-once: the ledger says this commit already landed.
      return MergeStats(commitId, cur0.version, skipped = true, 0,
        cur0.rowCount, cur0.rowCount, 0, 0, 0, 0, 0, 0, -1, -1,
        (System.nanoTime() - t0) / 1000000, Seq.empty)
    }

    // A COW merge folds only BASE files; pending MOR deltas (pipeline
    // restarted in cow mode after running mor) would silently vanish.
    // Fold them first — targeted: only delta-CARRYING buckets rewrite
    // (foldTouched), not the whole table. Idempotent: a crash-replay
    // re-enters with the deltas already empty and the fold skips.
    val cur =
      if (cur0.deltaFiles.isEmpty) cur0
      else {
        MergeOnRead.foldTouched(table, s"$commitId.pre-compact", batchId)
        table.current.get
      }

    // ---- schema gate / evolution ----
    val targetPayload =
      StructType(cur.schema.fields.filterNot(f => InternalCols.contains(f.name)))
    val (evolvedPayload, changes) =
      SchemaEvolution.evolve(targetPayload, payloadSchemaOf(dedupedBatch))
    val physicalSchema = StructType(evolvedPayload.fields ++ Seq(
      StructField(LsnCol, LongType, nullable = false),
      StructField(TombCol, BooleanType, nullable = true)))

    val numBuckets = cur.numBuckets
    def bucketOf(docId: Column): Column = MergeOnRead.bucketOf(docId, numBuckets)

    // Touched buckets = the EXACT distinct bucket set of the batch, in
    // ONE narrow probe job (round-6; guide §1.2 "remove passes"). Plan
    // statistics are never consulted — a filter inflates them
    // arbitrarily, and at 10k buckets a trickle batch misclassified as
    // big meant a full rewrite (PipelineSpec "trickle batch with an
    // inflated plan estimate still takes the touched-bucket path").
    // Catalyst's ColumnPruning + RemoveRedundantAggregates collapse the
    // unused LWW aggregate under the distinct, so the probe scans ONE
    // column with a map-side partial distinct; the bucket set is the same
    // before and after dedup (bucket is a pure function of doc_id).
    val touched: Set[Int] =
      inPhase(table.spark.sparkContext, commitId, "probe") {
        dedupedBatch.select(bucketOf(col("doc_id"))).distinct()
          .collect().map(_.getInt(0)).toSet
      }

    // ---- fold the touched slice of the target with the batch ----
    val targetSlice = SchemaEvolution.align(
      table.read(Some(cur.version), Some(touched)), physicalSchema)
    val present = dedupedBatch.columns.toSet
    val obsBatch = Observation(s"merge-batch-$commitId")
    val obs      = Observation(s"merge-$commitId")
    // batch payload aligned to the evolved schema (cast + null-fill). The
    // batch observation rides this leg, the action counts ride the fold
    // output — both evaluate in the single write pass.
    val batchEvents = dedupedBatch
      .select(evolvedPayload.fields.toIndexedSeq.map { f =>
        if (present.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      } ++ Seq(col("lsn"), col("op"), lit(false).as("_from_base")): _*)
      .observe(obsBatch,
        count(lit(1)).as("batch_events"),
        min(col("lsn")).as("min_lsn"),
        max(col("lsn")).as("max_lsn"))
    val baseEvents = targetSlice.select(
      evolvedPayload.fieldNames.toSeq.map(col) ++ Seq(
        col(LsnCol).as("lsn"),
        when(coalesce(col(TombCol), lit(false)), lit("D"))
          .otherwise(lit("I")).as("op"),
        lit(true).as("_from_base")): _*)
    // BATCH side LEFT in the union: a Dataset chain carries its LEFT
    // root's SparkSession, and inside a streaming foreachBatch the
    // micro-batch df lives in a CLONED session. An Observation registers
    // its listener on the session of the df it observes but fires only
    // when THAT session executes the action — with the base side on the
    // left the write ran on the original session and `obsBatch.get`
    // parked forever (PipelineSpec streaming fold drive). Row order is
    // irrelevant: the LWW fold sorts.
    val routed = SnapshotTable.routeByBucket(
      batchEvents.unionByName(baseEvents).withColumn("_bucket", bucketOf(col("doc_id"))),
      col("_bucket")).drop("_bucket")
    val action = col(MergeOnRead.ActionCol)
    def cnt(k: String, v: String) = sum(when(action === v, 1L).otherwise(0L)).as(k)
    val survivors = MergeOnRead
      .localLww(routed, evolvedPayload.fields.toIndexedSeq, classified = true)
      // a winning delete persists payload-null (doc_id excepted) whatever
      // the event carried; ALL rows survive — tombstones included
      .select(evolvedPayload.fields.toSeq.map { f =>
        if (f.name == "doc_id") col(f.name)
        else when(col(TombCol), lit(null).cast(f.dataType))
          .otherwise(col(f.name)).as(f.name)
      } ++ Seq(col(LsnCol), col(TombCol), action): _*)
      .observe(obs,
        cnt("inserted", "insert"), cnt("updated", "update"),
        cnt("deleted", "delete"), cnt("delete_noops", "delete_noop"),
        cnt("stale", "stale"))
      .drop(MergeOnRead.ActionCol)
      .withColumn("_bucket", bucketOf(col("doc_id")))

    val newFiles = table.writeDataFiles(survivors, commitId, prePartitioned = true)
    val m = obs.get ++ obsBatch.get
    def g(k: String): Long = m.get(k) match {
      case Some(v: Number) => v.longValue()
      case _               => -1L // null: no rows seen
    }
    val maxLsn = g("max_lsn")
    val minLsn = g("min_lsn")
    // an empty batch applied no events; -1 from the observation means
    // "no rows seen", which for changesSince must read as nothing-below
    val minEventLsn = if (minLsn < 0) Long.MaxValue else minLsn
    preCommitBarrier()

    // Optimistic concurrency for COW (the MOR appends already rebase —
    // MergeOnRead.apply): losing the version CAS re-checks the new head
    // and either REBASES (the interloper's base rewrites are disjoint
    // from our touched buckets — our files are still exact, only the
    // manifest needs re-pointing; deltas the interloper appended stay
    // pending and resolve at read time, which the LWW fold makes
    // order-independent) or fails with a typed [[CommitConflict]] —
    // never a half-applied state: the loser's data files are
    // unreferenced orphans vacuum sweeps, and a clean retry is simply
    // calling Merge again against the new head (the ledger keeps a
    // replayed winner idempotent). Reference analog: the guarded
    // publish that checks before replacing, UpdateAddressPointsSDE
    // .py:33-39 — guard, don't corrupt.
    var attempt   = 0
    var stats: MergeStats = null
    while (stats == null) {
      val head = table.current.get
      if (head.version != cur.version && table.appliedCommitIds.contains(commitId)) {
        // The SAME logical commit landed from a twin process: nothing
        // here committed → report a ledger skip. Twin COW writers are
        // physically safe since round 5: writeDataFiles gives every
        // WRITER a unique c-<id>.<nonce> data dir, so the loser's
        // files can never interleave with (or overwrite-delete) the
        // winner's — they are true orphans vacuum sweeps, exactly the
        // MOR delta contract (PipelineSpec "twin COW writers of the
        // same commitId" drives the race explicitly).
        stats = MergeStats(commitId, head.version, skipped = true, 0,
          cur.rowCount, cur.rowCount, 0, 0, 0, 0, 0, 0, -1, -1,
          (System.nanoTime() - t0) / 1000000, Seq.empty)
      } else {
        if (head.version != cur.version) {
          if (head.numBuckets != numBuckets)
            throw CommitConflict(commitId, touched,
              s"concurrent rebucket: table now has ${head.numBuckets} buckets, " +
                s"merge computed against $numBuckets")
          val overlap = conflictingBuckets(cur, head, touched)
          if (overlap.nonEmpty)
            throw CommitConflict(commitId, overlap,
              s"commit $commitId lost the race on buckets ${overlap.toSeq.sorted.take(8)}" +
                s"${if (overlap.size > 8) "…" else ""}: a concurrent commit rewrote them; " +
                "retry the merge against the new head")
        }
        // additive evolution by the interloper (e.g. a MOR append with a
        // new column) rebases cleanly: readers null-fill our files
        val headPayload = StructType(head.schema.fields.filterNot(f =>
          InternalCols.contains(f.name)))
        val (rebasedPayload, _) = SchemaEvolution.evolve(headPayload, evolvedPayload)
        val rebasedSchema = StructType(rebasedPayload.fields ++ Seq(
          StructField(LsnCol, LongType, nullable = false),
          StructField(TombCol, BooleanType, nullable = true)))
        val carried = table.filesExcept(head, touched)
        val newRows = newFiles.map(_.rows).sum + carried.map(_.rows).sum
        try {
          table.commit(Manifest(
            version = head.version + 1,
            parent = head.version,
            commitId = commitId,
            batchId = batchId,
            schemaJson = rebasedSchema.json,
            numBuckets = numBuckets,
            watermarkLsn = math.max(head.watermarkLsn, maxLsn),
            rowCount = newRows,
            files = carried ++ newFiles,
            deltaFiles = head.deltaFiles,
            deltaRows = head.deltaRows,
            minEventLsn = minEventLsn))
          stats = MergeStats(
            commitId, head.version + 1, skipped = false, touched.size,
            cur.rowCount, newRows,
            inserted = g("inserted"), updated = g("updated"), deleted = g("deleted"),
            deleteNoops = g("delete_noops"), staleEvents = g("stale"),
            batchEvents = g("batch_events"), minLsn = g("min_lsn"), maxLsn = maxLsn,
            wallMs = (System.nanoTime() - t0) / 1000000,
            schemaChanges = changes.map(_.toString))
        } catch {
          case _: java.nio.file.FileAlreadyExistsException if attempt < 20 =>
            attempt += 1 // lost the CAS — re-examine the new head
        }
      }
    }
    stats
  }

  /** Run `body` with its jobs labelled `cdc <commitId> <phase>` when the
    * caller labels this commit's jobs that way (the pipeline's per-phase
    * job labels); any other caller's label is left as it is. */
  private def inPhase[T](sc: org.apache.spark.SparkContext, commitId: String,
      phase: String)(body: => T): T = {
    val label = sc.getLocalProperty("spark.job.description")
    if (label == null || !label.startsWith(s"cdc $commitId ")) body
    else {
      sc.setJobDescription(s"cdc $commitId $phase")
      try body finally sc.setJobDescription(label)
    }
  }

  /** Touched buckets whose BASE file set changed between the snapshot a
    * merge computed against and the head it is about to commit onto: a
    * concurrent commit rewrote them, so the merge's rewritten files are
    * stale there. Disjoint (empty result) ⇒ safe rebase: the merge's
    * files are still exact, and any deltas the interloper appended stay
    * pending and fold at read time (LWW is order-independent). */
  private[graft] def conflictingBuckets(
      computedAgainst: Manifest, head: Manifest, touched: Set[Int]): Set[Int] = {
    def byBucket(m: Manifest) =
      m.files.filter(f => touched.contains(f.bucket)).groupBy(_.bucket)
        .map { case (b, fs) => b -> fs.map(_.path).toSet }
    val curB  = byBucket(computedAgainst)
    val headB = byBucket(head)
    touched.filter(b => curB.getOrElse(b, Set.empty) != headB.getOrElse(b, Set.empty))
  }

  /** A copy-on-write commit lost its race to a concurrent commit that
    * rewrote one of its touched buckets (or changed the bucket count):
    * the computed files are stale and must not publish. State is clean —
    * nothing was committed, the loser's data files are unreferenced
    * orphans ([[graft.table.SnapshotTable.vacuum]] sweeps them) — and
    * the retry path is simply re-running the merge against the new head. */
  case class CommitConflict(commitId: String, buckets: Set[Int], message: String)
      extends RuntimeException(message)
}
