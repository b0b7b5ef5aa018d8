package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.operators.{Conform, Dedup, Merge, MergeOnRead, MergeStats, SchemaEvolution, Validate}
import graft.table.SnapshotTable

/** Configuration for one CDC ingest pipeline instance. */
case class PipelineConfig(
    tableRoot: String,
    changeLogDir: String,
    checkpointDir: String,
    errorDir: String,
    lineageDir: String,
    numBuckets: Int = 16,
    // two-phase salted LWW pre-aggregation: OFF by default (salt = 1).
    // Measured (Bench.skewStudy, 8M events, 32 cores): single-phase LWW
    // wins or ties in EVERY key distribution — unique keys 3.8 vs 4.4 s,
    // 20%-on-1%-of-keys 2.2 vs 2.6 s, 50%-of-events-on-ONE-key 1.0 vs
    // 1.8 s — because max_by is associative, so the aggregate partial-
    // combines BEFORE the shuffle: each map partition emits at most one
    // pre-aggregated row per locally-seen key, capping the hot key's
    // single reducer at (#map partitions) rows (~40 MB even at 100k map
    // partitions). Salting a combinable aggregate just reshuffles the
    // batch twice. The knob stays for non-combinable dedup variants an
    // operator may swap in; when salt > 1, batches above saltThreshold
    // events (exact limit-probe, never a plan estimate) take the salted
    // path, whose result is equivalence-gated in PropertySpec.
    saltThreshold: Long = 2000000L,
    salt: Int = 1,
    // "cow" rewrites touched buckets per commit; "mor" appends delta files
    // (O(batch) commit) and folds at read/compaction time — the right mode
    // for trickle batches against a large table; "auto" picks per batch
    // with an exact probe (COW when the batch holds at least cowThreshold
    // of the table's live+delta rows — a bulk load — else MOR)
    mode: String = "cow",
    // mor: compact when deltaRows exceed this fraction of base rows
    compactThreshold: Double = 0.5,
    // auto: the bulk/trickle crossover as a fraction of table rows. BELOW
    // it COW's write amplification dominates (a random-keyed trickle
    // batch touches every bucket, so COW rewrites ~the whole table for a
    // sliver of changed rows — measured 48x amplification at batch/table
    // = 2%, BASELINE.md round-1 workload-shape note); at/above it the
    // table is being mostly rewritten anyway and COW's single join beats
    // MOR's delta-write-then-fold double pass. An empty table makes any
    // non-empty first batch a bulk load (initial seed → COW).
    cowThreshold: Double = 0.5,
    // deployment-specific validation rules composed into Validate's
    // reason array (each: Column → reason string | null), e.g.
    // graft.operators.Contamination.rule — failing rows route to
    // error_records like any other rule
    extraRules: Seq[org.apache.spark.sql.Column] = Nil,
    // incremental near-dup detection (graft.operators.DedupIndex):
    //  - "off": no index, no probe (default)
    //  - "flag": arriving inserts probe the persisted MinHash band index;
    //    matches are recorded to the near-dup side table (readNearDups)
    //    and the rows still merge — annotate, don't reject
    //  - "quarantine": additionally every event of a flagged doc routes
    //    to error_records (reason near_dup_of:<doc>) instead of merging,
    //    in this batch and — via the persisted roster — every later one
    nearDupPolicy: String = "off",
    // near-dup state root ("" → sibling of errorDir named "neardups"):
    // flags publish under <root>/c-<id>, the band index under
    // <root>/index, the quarantine roster under <root>/quarantined
    nearDupDir: String = "")

/** The engine's core: change-log tail → conform → validate/route →
  * LWW dedup → exactly-once MERGE, as a Structured Streaming
  * `foreachBatch` pipeline, resumable from checkpoint.
  *
  * Exactly-once story (reference analog: idempotent monthly archive,
  * CountyAddressPointETL.py:242-250):
  *  1. Structured Streaming's checkpoint gives replayable source offsets
  *     and a stable batchId on restart.
  *  2. commit_id = f(pipeline, batchId); the [[SnapshotTable]] manifest
  *     chain is the ledger — a replayed batch is skipped before any write.
  *  3. Even a bypassed ledger cannot corrupt state: MERGE's row-level
  *     `batch.lsn > target._lsn` condition makes re-application a no-op.
  *
  * Delivery contract: duplicate delivery of an applied batch is a no-op
  * (ledger), and ARBITRARY event-to-batch assignment is tolerated — LWW
  * by LSN plus persisted delete tombstones ([[Merge.TombCol]]) make the
  * final state order-independent; even a delete delivered before the
  * batch holding its insert cannot be undone by the late lower-LSN
  * insert. Tombstones expire at compaction once the applied-LSN frontier
  * passes them ([[MergeOnRead.compact]]'s expireTombstonesBelow).
  */
final class CdcPipeline(spark: SparkSession, cfg: PipelineConfig) {

  // an unknown mode string silently meaning COW was a trap even with two
  // modes; with three it must fail construction, not commits later
  require(Seq("cow", "mor", "auto").contains(cfg.mode),
    s"mode must be 'cow', 'mor' or 'auto'; got '${cfg.mode}'")
  require(Seq("off", "flag", "quarantine").contains(cfg.nearDupPolicy),
    s"nearDupPolicy must be 'off', 'flag' or 'quarantine'; got '${cfg.nearDupPolicy}'")

  /** Near-dup state root (flags side table + band index + roster). */
  private val nearDupRoot: String =
    if (cfg.nearDupDir.nonEmpty) cfg.nearDupDir
    else Paths.get(cfg.errorDir).toAbsolutePath.resolveSibling("neardups").toString

  val table: SnapshotTable = {
    val existing = SnapshotTable.load(spark, cfg.tableRoot)
    if (existing.currentVersion.isDefined) existing
    else SnapshotTable.create(
      spark, cfg.tableRoot,
      StructType(Conform.EventSchema.fields.filterNot(f =>
        Merge.EventMetaCols.contains(f.name)))
        .add(Merge.LsnCol, "long", nullable = false)
        .add(Merge.TombCol, "boolean", nullable = true),
      cfg.numBuckets)
  }

  def commitIdFor(batchId: Long): String = s"b$batchId"

  /** Apply one raw change batch (batch API — also the foreachBatch body). */
  def applyBatch(raw: DataFrame, batchId: Long): MergeStats =
    applyRaw(raw, commitIdFor(batchId), batchId)

  private def applyRaw(batch: DataFrame, commitId: String, batchId: Long): MergeStats = {
    val raw = CdcPipeline.inTasks(batch)
    if (table.appliedCommitIds.contains(commitId)) {
      // exactly-once for the SIDE tables too: a crash between the
      // manifest commit and side-table publication leaves a staged error
      // dir unpublished and/or no lineage row — the replay's ledger skip
      // completes both (idempotently) instead of returning early
      recoverSideTables(commitId, batchId)
      val cur = table.current.get
      return MergeStats(commitId, cur.version, skipped = true, 0, cur.rowCount,
        cur.rowCount, 0, 0, 0, 0, 0, 0, -1, -1, 0, Seq.empty)
    }
    var nearDup: NearDupOutcome = NearDupOutcome.off(raw)
    // Error staging runs CONCURRENTLY with the merge's write job (guide
    // §2.6 — both are independent scans of the same batch, and the merge
    // job's tail leaves cores idle for the staging job to back-fill).
    // The crash contract is unchanged: the merge's preCommitBarrier
    // joins this future BEFORE any manifest commit attempt, so staged
    // errors are durable before the commit exactly as when staging ran
    // inline, and a staging failure still aborts the batch pre-commit.
    var stagedErrorsF: Option[scala.concurrent.Future[Option[java.nio.file.Path]]] =
      None
    def awaitStagedErrors(): Option[java.nio.file.Path] =
      stagedErrorsF.flatMap(f =>
        scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf))
    // Under nearDupPolicy=flag the whole probe/index/stage-flags phase
    // also overlaps the merge (round-6, guide §2.6): "flag" never gates
    // the merge input (events pass through unchanged) and never adds
    // error rows, so the stage and the merge are independent scans of
    // the same batch. The SAME barrier discipline applies — the future
    // is joined at preCommitBarrier, so index appends and staged flags
    // are durable before the manifest commit exactly as when the stage
    // ran inline, and a stage failure aborts the batch pre-commit.
    // "quarantine" keeps the inline order (the stage decides which
    // events merge at all).
    var nearDupF: Option[scala.concurrent.Future[NearDupOutcome]] = None
    def awaitNearDup(): NearDupOutcome = {
      nearDupF.foreach { f =>
        nearDup = scala.concurrent.Await.result(
          f, scala.concurrent.duration.Duration.Inf)
      }
      nearDupF = None
      nearDup
    }
    // reject/teardown paths: a failed stage future has no outcome — fall
    // back to the last known one
    def nearDupQuiet(): NearDupOutcome =
      try awaitNearDup()
      catch { case scala.util.control.NonFatal(_) => nearDupF = None; nearDup }
    // whole-batch reject: join the stage, then sweep the commit's near-dup
    // artifacts BY NAME before rejectBatch ledgers it — its index rows
    // would become ledger-visible for docs that never merged, and a stage
    // that failed after its index append recorded nothing to discard
    def discardNearDup(): Unit = {
      nearDupQuiet()
      if (cfg.nearDupPolicy != "off") {
        graft.operators.DedupIndex.discard(nearDupRoot, commitId)
        stagedDirsFor(nearDupRoot, commitId).foreach(deleteRecursively)
      }
    }
    // Job labels (guide §1.5): every job this batch launches is tagged
    // with its phase so the UI / BenchExtra profile reads per-phase.
    // Descriptions are thread-local — the staging future labels its own.
    val sc = spark.sparkContext
    val stats =
      try {
        val conformed = Conform(raw)
        val split     = Validate(conformed, commitId, cfg.extraRules)
        val overlapNearDup = cfg.nearDupPolicy == "flag"
        if (overlapNearDup) {
          nearDup = NearDupOutcome.off(split.valid)
          nearDupF = Some(scala.concurrent.Future {
            sc.setJobDescription(s"cdc $commitId neardup")
            nearDupStage(split.valid, commitId)
          }(scala.concurrent.ExecutionContext.global))
        } else {
          sc.setJobDescription(s"cdc $commitId neardup")
          nearDup = nearDupStage(split.valid, commitId)
        }
        // flag's stage contributes no error rows by construction, so the
        // staging future never has to wait for it
        val allErrors = nearDup.extraErrors
          .map(split.errors.unionByName(_)).getOrElse(split.errors)
        stagedErrorsF = Some(scala.concurrent.Future {
          sc.setJobDescription(s"cdc $commitId stage-errors")
          stageErrors(allErrors, commitId)
        }(scala.concurrent.ExecutionContext.global))
        val barrier: () => Unit = () => { awaitNearDup(); awaitStagedErrors(); () }
        val events = nearDup.events
        val deduped =
          if (cfg.salt > 1 && shouldSalt(raw)) Dedup.lwwSalted(events, cfg.salt)
          else Dedup.lww(events)
        // probe jobs: mode=auto's bulk/trickle probe here; a COW merge
        // runs its touched-bucket probe under this label too (Merge.apply
        // relabels that one job inside the merge phase)
        sc.setJobDescription(s"cdc $commitId probe")
        val useMor = cfg.mode match {
          case "mor"  => true
          case "cow"  => false
          case "auto" => !bulkBatch(raw)
        }
        sc.setJobDescription(s"cdc $commitId merge:${if (useMor) "mor" else "cow"}")
        val s =
          if (useMor) {
            val s0 = MergeOnRead(table, deduped, commitId, batchId,
              preCommitBarrier = barrier)
            sc.setJobDescription(s"cdc $commitId compact")
            maybeCompact()
            s0
          } else Merge(table, deduped, commitId, batchId,
            preCommitBarrier = barrier)
        sc.setJobDescription(s"cdc $commitId publish")
        publishErrors(awaitStagedErrors(), commitId)
        publishSide(awaitNearDup().stagedFlags, nearDupRoot, commitId)
        s
      } catch {
        // Whole-batch rejects (reference analog: checkRequiredFields
        // abort) — recorded as an error + an empty commit so the ledger
        // marks the batch applied and the STREAM keeps running. The
        // staged-errors await in each arm re-raises a staging failure
        // instead of ledgering the reject — same outcome as when the
        // inline staging failed before the merge ever ran. The near-dup
        // stage is joined quietly and its artifacts swept by name
        // (discardNearDup), whether its future completed or failed.
        case Conform.BatchRejected(missing) =>
          discardNearDup()
          rejectBatch(raw, commitId, batchId,
            s"missing_required_column:${missing.mkString(",")}", awaitStagedErrors())
        case SchemaEvolution.Incompatible(msg) =>
          // extra column re-appeared with a non-widenable type — thrown
          // from the merge, i.e. AFTER the near-dup stage ran/launched
          discardNearDup()
          rejectBatch(raw, commitId, batchId, s"schema_incompatible:$msg",
            awaitStagedErrors())
        case Conform.ConformFailed(detail) =>
          // un-castable required column (e.g. tokens arrived as string).
          // Deliberately NOT a blanket AnalysisException catch: an
          // environment-caused analysis error (vacuumed data file, bad
          // errorDir path) must fail the stream, not ledger the batch as
          // applied with only a sample retained.
          discardNearDup()
          rejectBatch(raw, commitId, batchId, s"conform_failed:$detail",
            awaitStagedErrors())
        case e: Throwable =>
          // non-reject failure: join the staging + stage threads (best
          // effort) so they cannot race the caller's teardown, then
          // surface the original failure — their staged dirs are orphans
          // the next publish/replay sweeps
          try { awaitStagedErrors(); () }
          catch { case scala.util.control.NonFatal(_) => () }
          nearDupQuiet()
          throw e
      } finally {
        nearDupQuiet().unpersist()
        sc.setJobDescription(null)
      }
    writeLineage(stats, batchId)
    stats
  }

  // ---- incremental near-dup stage (cfg.nearDupPolicy) ----

  /** What the near-dup stage hands back to the apply path: the events
    * that should proceed to merge (quarantine removes flagged docs'),
    * extra error rows (quarantined events), the staged flags dir
    * (published post-commit), and the persisted frames to release. */
  private case class NearDupOutcome(
      events: DataFrame,
      extraErrors: Option[DataFrame],
      stagedFlags: Option[java.nio.file.Path],
      persisted: Seq[DataFrame]) {
    def unpersist(): Unit = persisted.foreach { df => df.unpersist(); () }
  }
  private object NearDupOutcome {
    def off(events: DataFrame): NearDupOutcome = NearDupOutcome(events, None, None, Seq.empty)
  }

  /** Probe the arriving batch's valid inserts against the persisted
    * MinHash band index (+ the batch itself), index them, and apply the
    * configured policy. Ordering contract with [[applyRaw]]:
    *  - index/roster appends happen HERE, before the merge commit —
    *    they are invisible to probes until the commitId enters the
    *    table's applied ledger, so a crash anywhere in between is healed
    *    by the replay (a duplicate nonce dir only repeats candidate rows,
    *    and the probe's per-doc `min_by` representative picks the same
    *    earliest match with or without them);
    *  - the flags side dir is STAGED here and published after the
    *    commit, exactly the error-table contract ([[recoverSideTables]]
    *    completes a crashed publish on the ledger-skip path). */
  private def nearDupStage(valid: DataFrame, commitId: String): NearDupOutcome = {
    if (cfg.nearDupPolicy == "off") return NearDupOutcome.off(valid)
    import graft.operators.DedupIndex
    val applied = table.appliedCommitIds
    def errRows(events: DataFrame, dupOf: org.apache.spark.sql.Column): DataFrame =
      events.select(
        lit(commitId).as("commit_id"), col("lsn"), col("doc_id"),
        concat(lit("near_dup_of:"), dupOf).as("reason"),
        to_json(struct(valid.columns.map(col).toIndexedSeq: _*)).as("raw"))
    // 1. roster rejection (quarantine only): events of docs quarantined
    // by EARLIER commits route to errors before anything else
    val (events1, rosterErrs) =
      if (cfg.nearDupPolicy != "quarantine") (valid, None)
      else {
        val r = DedupIndex.readRoster(spark, nearDupRoot, applied)
          .select(col("doc_id").as("_q_doc"), col("dup_of").as("_q_dup"))
        val hits = valid.join(r, col("doc_id") === col("_q_doc"))
        (valid.join(r, col("doc_id") === col("_q_doc"), "left_anti"),
          Some(errRows(hits, col("_q_dup"))))
      }
    // 2. index + probe this batch's inserts. The APPEND runs first and is
    // the batch's ONE materialization job: it writes the band rows under
    // the commit's (not-yet-applied, hence probe-invisible) index dir
    // while filling the persisted frame the probe then reads, and an
    // Observation on that same write yields the touched-bucket set. An
    // empty set means no valid inserts: the commit's dir is dropped by
    // name, so such a batch leaves no index dir. EVERY valid insert is
    // indexed, flagged or not — the non-recursive match rule the oracle
    // replays (DedupIndex scaladoc).
    val inserts = events1.filter(col("op") === "I" && col("doc_id").isNotNull)
    val bands = DedupIndex.bandRows(inserts)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val touched = DedupIndex.append(bands, nearDupRoot, commitId)
      if (touched.isEmpty) { // update/delete-only batch: nothing indexed
        DedupIndex.discard(nearDupRoot, commitId)
        bands.unpersist()
        return NearDupOutcome(events1, rosterErrs, None, Seq.empty)
      }
      // under "flag" the probe result has exactly ONE consumer (the staged
      // flag rows) — persisting it would only add a cache write; under
      // "quarantine" it feeds the roster append and two joins, so pin it
      val flags0 = DedupIndex.probe(spark, nearDupRoot, applied, bands, Some(touched))
      val flags =
        if (cfg.nearDupPolicy == "flag") flags0
        else flags0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // keep the probe's per-batch file count bounded: fold applied
      // commits' index dirs once they pile up (the folded dir keys under
      // the current HEAD's commitId — already applied, so visibility is
      // unchanged; this batch's own dir is not yet applied and stays out)
      if (DedupIndex.commitDirCount(nearDupRoot, applied) >= DedupIndex.CompactAt)
        table.current.foreach { head =>
          DedupIndex.compact(spark, nearDupRoot, applied, head.commitId)
          ()
        }
      val flagRows = flags.select(
        lit(commitId).as("commit_id"), col("doc_id"), col("lsn"),
        col("dup_of"), col("dup_lsn"), col("agree"))
      val stagedFlags = stageSide(flagRows, nearDupRoot, commitId)
      val persisted = Seq(bands, flags)
      if (cfg.nearDupPolicy == "flag")
        NearDupOutcome(events1, rosterErrs, stagedFlags, persisted)
      else {
        DedupIndex.appendRoster(flags, nearDupRoot, commitId)
        val f = flags.select(col("doc_id").as("_f_doc"), col("dup_of").as("_f_dup"))
        val flaggedEvents = events1.join(f, col("doc_id") === col("_f_doc"))
        val errs = errRows(flaggedEvents, col("_f_dup"))
        val remaining = events1.join(f, col("doc_id") === col("_f_doc"), "left_anti")
        val allErrs = rosterErrs.map(_.unionByName(errs)).getOrElse(errs)
        NearDupOutcome(remaining, Some(allErrs), stagedFlags, persisted)
      }
    } catch {
      case e: Throwable =>
        bands.unpersist()
        throw e
    }
  }

  /** Near-dup flags side table (published commits only). */
  def readNearDups(): DataFrame = CdcPipeline.readSideTable(
    spark, nearDupRoot,
    org.apache.spark.sql.Encoders.product[graft.NearDupRecord].schema)

  /** Salt decision = EXACT threshold probe, not a plan-stats estimate.
    * Round 3 evicted the `sizeInBytes/256` estimator from the merge path
    * (a filter keeps its child's sizeInBytes, inflating a trickle batch
    * into "big" arbitrarily) but left it here; same fix as
    * [[graft.operators.Merge]]: `limit(T).count()` is exact w.r.t. the
    * threshold and cheap on both sides — a hot batch fills the limit
    * from the first partitions (CollectLimit runs partitions
    * incrementally over a zero-column scan), a trickle batch is tiny by
    * definition. Mis-decision cost is bounded either way (a needless
    * extra shuffle, or one hot batch unsalted), but the probe makes the
    * decision track the DATA, not the plan's guess. */
  private[graft] def shouldSalt(raw: DataFrame): Boolean = {
    if (cfg.saltThreshold <= 0) return true
    val lim = math.min(cfg.saltThreshold, Int.MaxValue.toLong).toInt
    raw.select(lit(1).as("_probe")).limit(lim).count() >= lim
  }

  /** mode=auto's bulk/trickle pick, by the same exact-probe discipline as
    * [[shouldSalt]] (never a plan-stats estimate): the batch is BULK —
    * COW territory — iff it holds at least `cowThreshold × live table
    * rows` (manifest metadata, free). The probe is a zero-column
    * CollectLimit capped at the threshold, so a trickle batch pays its
    * own tiny size and a bulk batch stops at the limit; raw pre-dedup
    * count is the honest proxy for write volume here — duplicates and
    * invalid rows still flow through conform/validate/dedup either way.
    * An EMPTY table floors the threshold at one row: the initial seed
    * batch is a bulk load by definition. Mis-pick cost is bounded and
    * state-identical (both commit modes produce the same table — the
    * auto-≡-fixed property test pins it); only the write shape differs. */
  private[graft] def bulkBatch(raw: DataFrame): Boolean = {
    val m = table.current.get
    val live = m.rowCount + m.deltaRows
    val t = math.max(1L, math.ceil(live * cfg.cowThreshold).toLong)
    val lim = math.min(t, Int.MaxValue.toLong).toInt
    raw.select(lit(1).as("_probe")).limit(lim).count() >= lim
  }

  private def rejectBatch(
      raw: DataFrame, commitId: String, batchId: Long,
      reason: String,
      validationStaged: Option[java.nio.file.Path]): MergeStats = {
    val err = raw
      .limit(1000) // sample of the rejected batch for the quarantine table
      .select(
        lit(commitId).as("commit_id"),
        lit(-1L).as("lsn"),
        lit(null).cast("string").as("doc_id"),
        lit(s"batch_rejected:$reason").as("reason"),
        to_json(struct(raw.columns.map(col).toIndexedSeq: _*)).as("raw"))
    // the whole-batch sample publishes under its OWN commit id
    // (c-<id>.reject) so the per-row validation errors staged before the
    // batch died keep c-<id> — round 2 retained both; so does this
    val staged = stageErrors(err, s"$commitId.reject")
    val cur = table.current.get
    table.commit(cur.copy(
      version = cur.version + 1, parent = cur.version,
      commitId = commitId, batchId = batchId,
      minEventLsn = Long.MaxValue)) // whole-batch reject: no events applied
    publishErrors(validationStaged, commitId)
    publishErrors(staged, s"$commitId.reject")
    MergeStats(commitId, cur.version + 1, skipped = false, 0, cur.rowCount,
      cur.rowCount, 0, 0, 0, 0, 0, 0, -1, -1, 0,
      Seq(s"batch_rejected:$reason"))
  }

  // ---- exactly-once side tables ----
  // Error and lineage rows publish PER COMMIT under <dir>/c-<commitId>/
  // via stage (.staged-c-<id>-<nonce> dir, which [[readSideTable]]'s
  // `c-` enumeration never admits) → atomic directory rename. Readers
  // ([[readErrors]] / [[readLineage]]) see only published dirs, so no
  // crash window yields duplicate rows (the round-2 defect: a blind
  // append before the manifest commit re-ran on crash-replay →
  // duplicated error rows; a crash after the commit lost the lineage
  // row entirely):
  //  - crash after stage, before manifest commit → the replay re-runs
  //    the whole batch, stages + publishes fresh, sweeps the orphan;
  //  - crash after commit, before publish → the replay's ledger skip
  //    completes publication from the surviving staged dir and writes
  //    the lineage row (reconstructed from the commit's manifest) if
  //    missing — see [[recoverSideTables]].
  // PropertySpec "error/lineage side tables are exactly-once across
  // crash-replay windows" drives each window explicitly.

  private def publishedDir(root: String, commitId: String) =
    Paths.get(root, s"c-$commitId")

  private def stagedDirsFor(root: String, commitId: String): Seq[java.nio.file.Path] = {
    val d = Paths.get(root)
    if (!Files.isDirectory(d)) Seq.empty
    else graft.table.Fs.listDir(d)
      .filter(_.getFileName.toString.startsWith(s".staged-c-$commitId-"))
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit =
    graft.table.Fs.deleteRecursively(p)

  /** Atomically promote a staged dir to the published c-<id> dir. ONLY
    * the lost-the-race case (target already published by a twin)
    * discards the staged copy; any other move failure — no atomic-move
    * support, permissions, IO — must FAIL the batch loudly: silently
    * dropping staged rows is the exact loss class this machinery exists
    * to prevent (round-3 review finding). */
  private def promote(staged: java.nio.file.Path, target: java.nio.file.Path): Unit =
    try Files.move(staged, target, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    catch {
      case _: java.nio.file.FileAlreadyExistsException |
          _: java.nio.file.DirectoryNotEmptyException =>
        deleteRecursively(staged) // twin published first
      case scala.util.control.NonFatal(e) if Files.exists(target) =>
        deleteRecursively(staged) // raced: the target landed anyway
    }

  /** Stage one commit's side-table rows under `root` (pre-commit). Empty
    * sets stage nothing. ONE pass (guide §1.2): write, then decide
    * emptiness from the parquet footers driver-side — the previous
    * `isEmpty`-probe-then-write shape paid a second scan of the batch
    * (and on a CLEAN batch the probe's filter never matched, so it
    * scanned everything) for information the write's own footers carry
    * for free. A crash between write and the empty-dir delete leaves a
    * zero-row staged dir; publish/recovery promote it to an empty
    * published dir, which readers see as zero rows — harmless. */
  private def stageSide(
      rows: DataFrame, root: String, commitId: String): Option[java.nio.file.Path] = {
    val dir = Paths.get(root, s".staged-c-$commitId-${graft.table.Fs.nonce}")
    rows.write.mode(SaveMode.Overwrite).parquet(dir.toString)
    if (graft.table.Fs.parquetRowCount(dir) == 0L) {
      graft.table.Fs.deleteRecursively(dir)
      None
    } else Some(dir)
  }

  /** Publish a commit's staged side rows under `root` (post-commit) and
    * sweep any orphan staged dirs left by crashed or superseded attempts. */
  private def publishSide(
      staged: Option[java.nio.file.Path], root: String, commitId: String): Unit = {
    val target = publishedDir(root, commitId)
    staged.foreach { dir =>
      if (Files.exists(target)) deleteRecursively(dir) else promote(dir, target)
    }
    stagedDirsFor(root, commitId).foreach(deleteRecursively)
  }

  private def stageErrors(errors: DataFrame, commitId: String): Option[java.nio.file.Path] =
    stageSide(errors, cfg.errorDir, commitId)

  private def publishErrors(staged: Option[java.nio.file.Path], commitId: String): Unit =
    publishSide(staged, cfg.errorDir, commitId)

  /** Ledger-skip path: finish whatever the crashed run left undone.
    * Errors: promote a surviving complete staged dir (its _SUCCESS
    * marker separates a finished stage from a torn write). Lineage: the
    * per-bucket rows reconstruct exactly from the committed manifest;
    * batch-local stats the crash lost (offset start, action counts) are
    * recorded as -1 — recoverable facts stay exact, lost ones stay
    * visibly lost rather than silently wrong. */
  private def recoverSideTables(commitId: String, batchId: Long): Unit = {
    // both error targets: the per-row validation set (c-<id>) and a
    // whole-batch reject sample (c-<id>.reject), if the batch died
    Seq(commitId, s"$commitId.reject").foreach { id =>
      val target = publishedDir(cfg.errorDir, id)
      if (!Files.exists(target))
        stagedDirsFor(cfg.errorDir, id)
          .find(d => Files.exists(d.resolve("_SUCCESS")))
          .foreach(promote(_, target))
      stagedDirsFor(cfg.errorDir, id).foreach(deleteRecursively)
    }

    // near-dup flags follow the error-table contract: staged pre-commit,
    // published post-commit — complete a crashed publish here too
    if (cfg.nearDupPolicy != "off") {
      val target = publishedDir(nearDupRoot, commitId)
      if (!Files.exists(target))
        stagedDirsFor(nearDupRoot, commitId)
          .find(d => Files.exists(d.resolve("_SUCCESS")))
          .foreach(promote(_, target))
      stagedDirsFor(nearDupRoot, commitId).foreach(deleteRecursively)
    }

    if (!Files.exists(publishedDir(cfg.lineageDir, commitId)))
      table.versions.find(v => table.manifest(v).commitId == commitId).foreach { v =>
        val m = table.manifest(v)
        writeLineage(MergeStats(commitId, v, skipped = false, 0, -1, m.rowCount,
          inserted = -1, updated = 0, deleted = 0, deleteNoops = 0,
          staleEvents = -1, batchEvents = -1, minLsn = -1,
          maxLsn = m.watermarkLsn, wallMs = 0, Seq.empty), batchId)
      }
  }

  /** The quarantine table (published commits only). */
  def readErrors(): DataFrame = CdcPipeline.readSideTable(
    spark, cfg.errorDir, org.apache.spark.sql.Encoders.product[graft.ErrorRecord].schema)

  /** The lineage/metrics table (published commits only). */
  def readLineage(): DataFrame = CdcPipeline.readSideTable(
    spark, cfg.lineageDir, org.apache.spark.sql.Encoders.product[graft.LineageRecord].schema)

  // ---- bootstrap (snapshot + binlog) ----

  /** Initial snapshot load: seed the empty table with the upstream
    * table's full state, stamped at LSN floor `asOfLsn`, then tail the
    * change stream from there — `bootstrap(state_at_w, w) ⊕
    * applyBatch(events > w)` is state-equivalent to replaying the entire
    * log (events above the floor win LWW over snapshot rows; stragglers
    * at or below it read as stale). PipelineSpec proves the equivalence;
    * driver query `q_cdc_bootstrap` shares `q_cdc_merge_state`'s oracle.
    *
    * The write path is [[graft.operators.Bootstrap]]: one bucket-key
    * shuffle → bucketed parquet write → manifest commit. No LWW fold —
    * the plan a 100-TB initial load needs (MERGE into an empty table
    * pays a sort and fold against nothing).
    *
    * Snapshot contract: payload-shaped (`doc_id`, `tokens`[, `n_tok`,
    * `source`, extras]). `lsn`/`op` columns are REJECTED — a snapshot is
    * state, not a change stream; per-row LSNs belong in [[applyBatch]].
    * Rows failing row validation route to the error table under this
    * commit. Duplicate doc_ids: identical copies collapse; CONFLICTING
    * copies all route to errors (reason `ambiguous_doc_id`) — a snapshot
    * must be keyed, and guessing a winner is silent corruption. Pass
    * `assumeUnique = true` to skip both dedup passes when the source
    * enforces a primary key (the 100-TB fast path: conform → validate →
    * write, nothing else).
    *
    * Exactly-once: ledgered under `commitId`; a replayed call is a no-op
    * that completes side-table publication. A malformed snapshot (missing
    * required column, un-castable type) THROWS instead of quarantining —
    * unlike a mid-stream batch there is no stream to keep alive, and
    * ledgering a failed bootstrap as "applied, empty" would silently
    * start the tail from a wrong-empty base. */
  def bootstrap(
      snapshot: DataFrame,
      asOfLsn: Long,
      commitId: String = "bootstrap",
      assumeUnique: Boolean = false): MergeStats = {
    if (table.appliedCommitIds.contains(commitId)) {
      recoverSideTables(commitId, batchId = -1L)
      val cur = table.current.get
      return MergeStats(commitId, cur.version, skipped = true, 0, cur.rowCount,
        cur.rowCount, 0, 0, 0, 0, 0, 0, -1, -1, 0, Seq.empty)
    }
    // the operator re-checks under the commit CAS; checking here too means
    // a mis-aimed call fails BEFORE paying conform/validate/dedup Spark
    // jobs over the (potentially 100-TB) snapshot and before staging
    // error files that nothing would ever sweep (round-4 review finding)
    table.current.filter(c => c.rowCount > 0 || c.deltaRows > 0).foreach { c =>
      throw graft.operators.Bootstrap.NonEmptyTable(table.root, c.rowCount + c.deltaRows)
    }
    val lowered = snapshot.columns.map(_.toLowerCase)
    val banned  = Merge.EventMetaCols.filter(lowered.contains)
    if (banned.nonEmpty)
      throw new IllegalArgumentException(
        s"bootstrap snapshot must be payload-shaped; found change-stream column(s) " +
          s"${banned.mkString(",")} — apply event-shaped data via applyBatch")
    val stamped = snapshot
      .withColumn("lsn", lit(asOfLsn))
      .withColumn("op", lit("I"))
    val conformed = Conform(stamped)
    val split     = Validate(conformed, commitId, cfg.extraRules)
    val (clean, errors) =
      if (assumeUnique) (split.valid, split.errors)
      else {
        // identical copies collapse; conflicting copies quarantine — one
        // doc_id-shuffle window pass ([[graft.operators.Bootstrap
        // .sweepDuplicates]], plan-gated). assumeUnique skips it for
        // sources with an enforced key (the 100-TB fast path).
        val (keyed, ambErrors) =
          graft.operators.Bootstrap.sweepDuplicates(split.valid, commitId)
        (keyed, split.errors.unionByName(ambErrors))
      }
    val stagedErrors = stageErrors(errors, commitId)
    val stats =
      try graft.operators.Bootstrap(table, clean, asOfLsn, commitId)
      catch { case e: Throwable =>
        // no commit landed → nothing will ever publish or sweep the
        // staged error dir; reclaim it before surfacing the failure
        stagedErrors.foreach(deleteRecursively)
        throw e
      }
    publishErrors(stagedErrors, commitId)
    writeLineage(stats, batchId = -1L)
    stats
  }

  // ---- quarantine replay ----

  /** Re-ingest corrected error rows through the full pipeline and mark
    * the ones that now validated as RESOLVED. `corrected` is
    * event-shaped — typically `readErrors()`'s `raw` column parsed back
    * (`from_json(raw, Conform.EventSchema)`) with the failing fields
    * fixed. Rows keep their ORIGINAL lsn, so LWW places each correction
    * exactly where the failed event sat in the log: a fix that a later
    * valid event already superseded stays superseded (stale), never
    * resurrected. Reference analog: the error-points table exists to be
    * fixed and re-loaded (CreateErrorPts.py:4-33).
    *
    * Resolution identity is the error row's (lsn, doc_id) pair: a valid
    * corrected row resolves its exact (lsn, doc_id) error row when one
    * exists; a correction matching no keyed error row resolves the
    * NULL-doc_id quarantine rows at its lsn (the class whose correction
    * supplies the doc_id). Stream errors carry unique lsns, so both arms
    * are exact there; [[bootstrap]] quarantine rows share the floor lsn,
    * where the doc_id arm still separates docs and same-lsn null-doc
    * rows — genuinely keyless — resolve together on the first unclaimed
    * correction at that lsn. `corrected` must be immutable across calls
    * with the same replayId — the crash-recovery recompute assumes it.
    *
    * Exactly-once: the merge ledgers under `replay-<replayId>`; a re-run
    * is a no-op that completes side-table AND resolution publication (a
    * resolution marker publishes even when empty, so repeats after a
    * fully-failed replay are metadata-only). A corrected row that STILL
    * fails validation routes to the error table again (under the replay
    * commit) and is NOT marked resolved — [[outstandingErrors]] keeps
    * showing it. A corrected frame that whole-batch REJECTS (missing
    * column, un-castable type) ledgers the reject exactly like a stream
    * batch and resolves NOTHING — nothing was ingested. */
  def replayErrors(corrected: DataFrame, replayId: String): MergeStats = {
    val commitId = s"replay-$replayId"
    val stats    = applyRaw(corrected, commitId, batchId = -2L)
    // resolutions publish AFTER (and independently of) the merge commit,
    // idempotently: recompute from the immutable inputs and promote; a
    // crash between commit and this point is healed by re-running.
    val resolvedRoot = Paths.get(cfg.errorDir, CdcPipeline.ResolvedSubdir).toString
    val target       = publishedDir(resolvedRoot, commitId)
    if (!Files.exists(target)) {
      // Did this replay actually ingest anything? A whole-batch reject
      // (or an all-invalid frame) records minEventLsn = MaxValue in its
      // manifest — the durable signal that survives crash-recovery
      // replays, where `stats` is just the ledger-skip stub. Recomputing
      // Validate(Conform(...)) on a reject frame would also THROW the
      // conform error post-commit on every call (round-4 review finding).
      val appliedAny = table.versions
        .find(v => table.manifest(v).commitId == commitId)
        .exists(v => table.manifest(v).minEventLsn != Long.MaxValue)
      val staged =
        if (!appliedAny) None
        else {
          val validPairs = Validate(Conform(corrected), commitId, cfg.extraRules).valid
            .select(col("lsn").as("_v_lsn"), col("doc_id").as("_v_doc")).distinct()
          // lsn < 0 = whole-batch reject samples, not row errors; a
          // sample row's lsn identifies nothing, so those never resolve
          val errPairs = readErrors()
            .filter(col("lsn") >= 0).select(col("lsn"), col("doc_id")).distinct()
          // exact matches first: a correction resolves ITS (lsn, doc_id)
          // error row when one exists...
          val keyed    = errPairs.filter(col("doc_id").isNotNull)
          val exactRes = keyed.join(validPairs,
            col("lsn") === col("_v_lsn") && col("doc_id") === col("_v_doc"),
            "left_semi")
          // ...and only a correction matching NO keyed error row can be
          // the fix of a null-doc_id quarantine row at its lsn (the class
          // whose correction SUPPLIES the doc_id). Without this guard a
          // fix for doc X at a shared bootstrap lsn would wrongly resolve
          // the never-corrected null-doc rows there too.
          val unclaimed = validPairs.join(keyed,
            col("_v_lsn") === col("lsn") && col("_v_doc") === col("doc_id"),
            "left_anti")
          val nullRes = errPairs.filter(col("doc_id").isNull)
            .join(unclaimed, col("lsn") === col("_v_lsn"), "left_semi")
          val resolutions = exactRes.unionByName(nullRes)
            .select(col("lsn"), col("doc_id"), lit(commitId).as("resolved_by"))
          stageSide(resolutions, resolvedRoot, commitId)
        }
      staged match {
        case Some(dir) => publishSide(Some(dir), resolvedRoot, commitId)
        // zero resolutions: publish an EMPTY marker so every later call
        // with this replayId is a pure metadata no-op instead of
        // re-running the conform/validate/join jobs each time
        case None => Files.createDirectories(target)
      }
    }
    stats
  }

  /** Error (lsn, doc_id) → replay-commit resolutions (published replays
    * only; empty markers from zero-resolution replays contribute no rows). */
  def readResolutions(): DataFrame = CdcPipeline.readSideTable(
    spark, Paths.get(cfg.errorDir, CdcPipeline.ResolvedSubdir).toString,
    org.apache.spark.sql.Encoders.product[graft.ResolutionRecord].schema)

  /** Quarantined rows not yet resolved by any replay, matched on the
    * exact (lsn, doc_id) pair each resolution recorded (null-safe —
    * null-doc_id quarantine rows match their null-doc_id resolutions).
    * Whole-batch reject samples (lsn = -1) stay outstanding until the
    * batch is re-ingested through the normal stream path. */
  def outstandingErrors(): DataFrame = {
    val res = readResolutions()
      .select(col("lsn").as("_r_lsn"), col("doc_id").as("_r_doc"))
    readErrors().join(res,
      col("lsn") === col("_r_lsn") && col("doc_id") <=> col("_r_doc"),
      "left_anti")
  }

  /** Per-batch AND per-partition lineage to the metrics table: one row
    * per bucket this commit wrote (partition_id = bucket, rows from the
    * committed file's footer) plus a batch summary row (partition_id =
    * -1) carrying the offset range, rows applied, conflict count, and
    * skew ratio (max/avg bucket rows this commit). */
  private def writeLineage(s: MergeStats, batchId: Long): Unit = {
    val target = publishedDir(cfg.lineageDir, s.commitId)
    if (Files.exists(target)) return // replay — the commit's row is published
    // attribute against the manifest AT the committed version, not the
    // current head: on recovery (or after a concurrent commit) the head
    // may have already rewritten this commit's files out of its list
    val cur =
      try Some(table.manifest(s.version))
      catch { case scala.util.control.NonFatal(_) => table.current }
    // exact dir match — a bare prefix would conflate commit b1 with b10.
    // A COW apply that found pending MOR deltas first folds them under
    // c-<id>.pre-compact.<nonce> (Merge.apply's foldTouched) and then
    // writes its own join output under c-<id>.<nonce>; count each bucket
    // once, preferring the later (join) file. EVERY data dir carries a
    // writer-unique hex nonce appended by writeDataFiles (twin-writer
    // safety, round 5) and MOR delta dirs additionally a `.d` marker;
    // the optional middle nonce group also still matches round-4-era
    // `c-<id>.<nonce>.d` delta layouts on upgraded tables.
    val q = java.util.regex.Pattern.quote(s.commitId)
    val all = cur.toSeq.flatMap(m => m.files ++ m.deltaFiles)
    val mainDir = ("/c-" + q + "(\\.[0-9a-f]+)?(\\.d)?(\\.[0-9a-f]+)?/").r
    val mainFiles = all.filter(f => mainDir.findFirstIn(f.path).isDefined)
    val mainB = mainFiles.map(_.bucket).toSet
    // pre-compact files survive in the manifest only for buckets the merge
    // did not rewrite; attribute those to this batch too (its fold IO)
    val preDir = ("/c-" + q + "\\.pre-compact(\\.[0-9a-f]+)?/").r
    val commitFiles = mainFiles ++ all.filter(f =>
      preDir.findFirstIn(f.path).isDefined && !mainB.contains(f.bucket))
    val skew =
      if (commitFiles.isEmpty) 1.0
      else {
        val rows = commitFiles.map(_.rows.toDouble)
        val avg  = rows.sum / rows.size
        if (avg == 0) 1.0 else rows.max / avg
      }
    val summary = graft.LineageRecord(
      commit_id = s.commitId, batch_id = batchId, partition_id = -1,
      offset_start = s.minLsn, offset_end = s.maxLsn,
      rows_applied = s.inserted + s.updated + s.deleted,
      conflict_count = s.updated + s.staleEvents,
      skew_ratio = skew, wall_ms = s.wallMs)
    val perBucket = commitFiles.map { f =>
      graft.LineageRecord(
        commit_id = s.commitId, batch_id = batchId, partition_id = f.bucket,
        offset_start = s.minLsn, offset_end = s.maxLsn,
        rows_applied = f.rows, conflict_count = -1,
        skew_ratio = skew, wall_ms = s.wallMs)
    }
    val staged = Paths.get(cfg.lineageDir, s".staged-c-${s.commitId}-${graft.table.Fs.nonce}")
    CdcPipeline.writeLineageParquet(staged, summary +: perBucket)
    promote(staged, target)
  }

  /** Stream the change-log directory to completion (AvailableNow) and
    * return per-batch stats observed this run. Restart-safe: offsets come
    * from the checkpoint; replayed batches hit the commit ledger. */
  def runAvailableNow(maxFilesPerTrigger: Option[Int] = None): Seq[MergeStats] = {
    Files.createDirectories(Paths.get(cfg.checkpointDir))
    val reader = spark.readStream.schema(Conform.EventSchema)
    val src = maxFilesPerTrigger
      .map(n => reader.option("maxFilesPerTrigger", n))
      .getOrElse(reader)
      .parquet(s"${cfg.changeLogDir}/batch-*")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[MergeStats]()
    val query = src.writeStream
      .option("checkpointLocation", cfg.checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        seen.add(applyBatch(df, batchId))
        ()
      }
      .start()
    query.awaitTermination()
    import scala.collection.JavaConverters._
    seen.iterator().asScala.toSeq
  }

  /** Fold deltas into base when they outgrow the configured fraction of
    * the TOTAL table (base + deltas — a ratio on base alone would fire
    * forever against an empty base). Set compactThreshold = infinity to
    * run compaction purely as scheduled maintenance via
    * [[MergeOnRead.compact]]. */
  private def maybeCompact(): Unit = {
    val m = table.current.get
    if (m.deltaRows > (m.rowCount + m.deltaRows) * cfg.compactThreshold) {
      // targeted: rewrite only delta-carrying buckets (clean buckets'
      // files carry by reference); full compact() stays the scheduled-
      // maintenance path (tombstone expiry rides it)
      MergeOnRead.foldTouched(table, s"compact-v${m.version}", batchId = -1L)
      ()
    }
  }

  /** The authoritative table, logical view: delta-resolved (MOR),
    * tombstones filtered, internal columns stripped. */
  def readTable(): DataFrame = MergeOnRead.liveView(table)

  /** Time travel: the same logical view AT an earlier committed version
    * (manifests are immutable, so this is just a resolve against that
    * version's file lists — no data copies). Versions whose data files
    * were vacuumed fail on read, by design (Iceberg expire_snapshots
    * tradeoff; see SnapshotTable.vacuum). */
  def readTableAt(version: Long): DataFrame =
    MergeOnRead.liveView(table, Some(version))

  /** Typed view of the authoritative table (the engine contract's
    * `Dataset[TokenDoc]`; `n_tok` downcast from the widened internal
    * long). A value above Int range — the exact case widening exists
    * for — must FAIL the read, not wrap silently in the downcast. */
  def readTyped(): org.apache.spark.sql.Dataset[graft.TokenDoc] = {
    import spark.implicits._
    readTable()
      .select(col("doc_id"), col("tokens"),
        when(col("n_tok") > Int.MaxValue,
          raise_error(concat(lit("n_tok exceeds Int range for doc_id="), col("doc_id"))))
          .otherwise(col("n_tok").cast("int")).as("n_tok"),
        col("source"))
      .as[graft.TokenDoc]
  }

  /** Point lookup by doc_id: prunes the read to the key's single hash
    * bucket (1/numBuckets of the data files), then drops files whose
    * footer min/max doc_id range cannot contain the key (zone map) —
    * before any IO. The partition-pruning path a doc-id-keyed table
    * exists for. */
  def lookup(docId: String): DataFrame =
    MergeOnRead.resolveKey(table, docId)
      .filter(col("doc_id") === docId &&
        !coalesce(col(Merge.TombCol), lit(false)))
      .drop(Merge.InternalCols: _*)
}

object CdcPipeline {
  /** A driver-local batch (a `LocalRelation`, as tests and local
    * DataFrames build) rebound to its RDD, so Validate's and the extra
    * rules' expressions evaluate in tasks. Left local, the optimizer
    * folds them on the driver (`ConvertToLocalRelation`) in every plan
    * the batch feeds, and the apply path plans those concurrently (error
    * staging, the near-dup stage, the merge): lambda functions keep
    * their loop variable, and `to_json` its generator, in the expression
    * instance those plans share, so a row could land on the wrong side
    * or a plan fail. Other batches pass through. */
  private[graft] def inTasks(batch: DataFrame): DataFrame =
    if (batch.queryExecution.analyzed.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]))
      org.apache.spark.sql.classic.GraftSqlBridge.asBatch(batch)
    else batch

  /** Resolutions live in a subdirectory of the error dir whose name does
    * NOT match the `c-*` published-commit pattern, so [[readSideTable]]
    * over the error root never globs them in. */
  private[streaming] val ResolvedSubdir = "resolved"

  /** Parquet schema of the lineage side table — MUST stay in lockstep
    * with [[graft.LineageRecord]] (readLineage reads these files under
    * that case class's encoder schema). */
  private lazy val lineageMessageType =
    org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      """message lineage {
        |  required binary commit_id (STRING);
        |  required int64 batch_id;
        |  required int32 partition_id;
        |  required int64 offset_start;
        |  required int64 offset_end;
        |  required int64 rows_applied;
        |  required int64 conflict_count;
        |  required double skew_ratio;
        |  required int64 wall_ms;
        |}""".stripMargin)

  /** Write lineage rows as ONE parquet file, driver-side (parquet-hadoop
    * Group API, no Spark job): the rows are a handful of driver-local
    * records per commit — a 1-task Spark write job per batch was pure
    * fixed overhead on the per-batch hot path (guide §1.2 "per-task
    * work" at its degenerate limit: the task launch WAS the cost). */
  private[streaming] def writeLineageParquet(
      dir: java.nio.file.Path, rows: Seq[graft.LineageRecord]): Unit = {
    Files.createDirectories(dir)
    val file = dir.resolve("part-00000.parquet")
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.parquet.io.LocalOutputFile(file))
      .withType(lineageMessageType)
      .withConf(new org.apache.parquet.conf.PlainParquetConfiguration())
      .build()
    val factory =
      new org.apache.parquet.example.data.simple.SimpleGroupFactory(lineageMessageType)
    try rows.foreach { r =>
      val g = factory.newGroup()
      g.append("commit_id", r.commit_id)
      g.append("batch_id", r.batch_id)
      g.append("partition_id", r.partition_id)
      g.append("offset_start", r.offset_start)
      g.append("offset_end", r.offset_end)
      g.append("rows_applied", r.rows_applied)
      g.append("conflict_count", r.conflict_count)
      g.append("skew_ratio", r.skew_ratio)
      g.append("wall_ms", r.wall_ms)
      writer.write(g)
    } finally writer.close()
  }

  /** Read a per-commit-published side table: only `c-<commitId>` dirs
    * count — the enumeration keeps staged `.staged-c-*` dirs, the
    * `resolved` subdir and stray root files out. Each published dir is
    * flat; [[graft.table.KnownFiles]] lists it driver-side (no Spark
    * listing job) and skips its `_SUCCESS`/`.crc` sidecars. Empty table
    * → an empty frame with the declared schema. */
  def readSideTable(spark: SparkSession, root: String, schema: StructType): DataFrame = {
    val d = Paths.get(root)
    val published =
      if (!Files.isDirectory(d)) Seq.empty
      else graft.table.Fs.listDir(d)
        .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("c-"))
    graft.table.KnownFiles.read(spark, graft.table.KnownFiles.ofDirs(published), schema)
  }
}
