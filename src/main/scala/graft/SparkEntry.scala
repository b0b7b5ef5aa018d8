package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{DedupOps, Multimodal, Similarity, TextAnalysis}
import graft.ingest.{CdcGenerator, Tokenize}
import graft.operators.{Conform, Validate}
import graft.plans.RollingHash
import graft.streaming.{CdcPipeline, PipelineConfig}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every `queries` entry has a DuckDB-runnable oracle in [[oracleSql]]
  * (tables registered by file name: documents, events, lineitem, …).
  * Column names, types, and row ordering match between the Spark plan and
  * the oracle SQL. All floating outputs are rounded to 4dp (2dp for large
  * money sums) so cross-engine float noise cannot flip the hash compare.
  */
object SparkEntry {

  /** Caches taken out by queries (q_dedup_minhash persists its shingled
    * corpus — it feeds three joins). A query fn returns a LAZY DataFrame,
    * so the query itself cannot unpersist; the runner (Bench/Verify)
    * calls [[releaseCaches]] after each query's action so one session
    * running all queries doesn't accumulate cached blocks. */
  private val liveCaches =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  private def tracked(df: DataFrame): DataFrame = {
    val cached = df.persist()
    liveCaches.add(cached)
    cached
  }

  def releaseCaches(): Unit = {
    var df = liveCaches.poll()
    while (df != null) { df.unpersist(); df = liveCaches.poll() }
  }

  /** Every fixture temp tree this process creates, deleted by a JVM
    * shutdown hook: leaked bench/verify temp trees are the documented
    * cause of monotone /tmp-writeback run degradation on this box
    * (BASELINE.md round-3 notes; VERDICT r3 "what's wrong" #2). The hook
    * (vs deleting eagerly) is correct here because fixtures are cached
    * per-process and shared across queries until exit. */
  private val tempRoots =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  private lazy val sweepHookInstalled: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      var p = tempRoots.poll()
      while (p != null) { graft.table.Fs.deleteRecursively(p); p = tempRoots.poll() }
    }, "graft-fixture-sweep"))

  private def tempRoot(prefix: String): String = {
    sweepHookInstalled
    val p = java.nio.file.Files.createTempDirectory(prefix)
    tempRoots.add(p)
    p.toString
  }

  /** Flagship: run the full CDC pipeline (generate change log → stream →
    * conform → validate/route → LWW dedup → exactly-once MERGE) on
    * sf0.001 and return the final authoritative table state. */
  def entry(spark: SparkSession): DataFrame =
    cdcMergeState(spark, "/root/testdata/sf0.001")

  /** Staged change logs by source dir: four pipeline-fixture queries
    * stream the IDENTICAL deterministic change log, so generate it once
    * per process (the generator pass + quantile split cost ~3-4 s each
    * at sf0.1). Tables/checkpoints stay per-query — only the immutable
    * input is shared. */
  private val changelogCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def stagedChangelog(spark: SparkSession, dir: String): String =
    changelogCache.computeIfAbsent(dir, _ => {
      val out = tempRoot("graft-changelog")
      // 4 files per logical batch + 4 files per trigger → exactly 4
      // micro-batches regardless of session parallelism. Sourced from the
      // staged event parquet (round-6): the interpreted generator chain
      // runs ONCE per process — the quantile probe + 4 filter passes here
      // re-read columnar bytes instead of re-tokenizing the corpus.
      CdcGenerator.writeBatchesFrom(spark, stagedEvents(spark, dir), out,
        batches = 4, filesPerBatch = 4)
      out
    })

  /** The deterministic event stream, staged to parquet once per
    * (process, sf dir) — same discipline as [[stagedChangelog]] (round-6
    * optimization; guide §1.2). The direct generator chain re-runs the
    * interpreted tokenizer HOFs over every doc × rep in EVERY job that
    * consumes it; the versioned/bootstrap fixtures consume the stream in
    * 4-8 jobs each, so each non-streamed fixture re-tokenized the corpus
    * several times. Identical rows (the generator is deterministic), read
    * back under the canonical event schema. Queries whose *declared
    * computation* is the generator itself (q_cdc_events, q_cdc_errors,
    * q_orphan_events, q_enrich_dims, q_cdc_tokenize) keep the direct
    * chain — only fixture construction reads the staged copy. */
  private val eventsCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def stagedEvents(spark: SparkSession, dir: String): DataFrame = {
    val p = eventsCache.computeIfAbsent(dir, _ => {
      val out = s"${tempRoot("graft-events")}/events"
      CdcGenerator.events(spark, dir).write.parquet(out)
      out
    })
    spark.read.schema(Conform.EventSchema).parquet(p)
  }

  /** Build + stream a full pipeline over a fresh temp table. */
  private def runPipeline(
      spark: SparkSession, dir: String, mode: String,
      nearDupPolicy: String = "off"): CdcPipeline = {
    val base = tempRoot("graft-cdc")
    val p = new CdcPipeline(spark, PipelineConfig(
      tableRoot = s"$base/table",
      changeLogDir = stagedChangelog(spark, dir),
      checkpointDir = s"$base/checkpoint",
      errorDir = s"$base/errors",
      lineageDir = s"$base/lineage",
      numBuckets = 16,
      mode = mode,
      nearDupPolicy = nearDupPolicy))
    p.runAvailableNow(maxFilesPerTrigger = Some(4))
    p
  }

  /** Two-commit fixture for the time-travel + CDC-out queries: a MOR
    * table built from the SAME deterministic event stream, split into two
    * batches at the LSN stride boundary (batch 0 = every rep-0 event,
    * batch 1 = everything later). Unlike the streaming fixture's
    * quantile-balanced batches, this boundary is pure arithmetic
    * (lsn < LsnStride), so the state at the intermediate version and the
    * change set between the two versions are both exactly expressible in
    * the DuckDB oracle. Built once per (process, sf dir). */
  private case class VersionedFixture(pipeline: CdcPipeline, v1: Long)
  private val versionedCache =
    new java.util.concurrent.ConcurrentHashMap[String, VersionedFixture]()

  private def versionedFixture(
      spark: SparkSession, dir: String, mode: String = "mor"): VersionedFixture =
    versionedCache.computeIfAbsent(s"$dir#$mode", _ => {
      val base = tempRoot("graft-tt")
      val p = new CdcPipeline(spark, PipelineConfig(
        tableRoot = s"$base/table",
        changeLogDir = s"$base/changelog-unused",
        checkpointDir = s"$base/checkpoint",
        errorDir = s"$base/errors",
        lineageDir = s"$base/lineage",
        numBuckets = 16,
        mode = mode))
      val ev = stagedEvents(spark, dir)
      p.applyBatch(ev.filter(col("lsn") < CdcGenerator.LsnStride), batchId = 0L)
      val v1 = p.table.currentVersion.get
      p.applyBatch(ev.filter(col("lsn") >= CdcGenerator.LsnStride), batchId = 1L)
      VersionedFixture(p, v1)
    })

  /** Final-state projection. Token content goes out as a scalar csv: the
    * driver's pandas comparator sorts+hashes every column, and a raw
    * array<int> column crashes it (unhashable ndarray) — concat_ws keeps
    * the bytes checkable (DuckDB twin: array_to_string) without the
    * array type. Extra derived columns (enrichment) ride along sorted. */
  private def stateProjection(t: DataFrame): DataFrame = {
    val extras = t.columns.toSeq
      .filterNot(Seq("doc_id", "tokens", "n_tok", "source").contains).sorted
    t.select(
      Seq(col("doc_id"), concat_ws(",", col("tokens")).as("tokens_csv"),
        col("n_tok"), col("source")) ++ extras.map(col): _*)
      .orderBy(col("doc_id"))
  }

  private def finalState(p: CdcPipeline): DataFrame = stateProjection(p.readTable())

  /** Create the empty replica table the streaming-sink queries write
    * into: the pipeline's payload columns (no lsn/op — those live in
    * the change frames, not the state). */
  private def createReplica(s: SparkSession, root: String): Unit = {
    graft.table.SnapshotTable.create(s, root,
      org.apache.spark.sql.types.StructType(Conform.EventSchema.fields
        .filter(f => Set("doc_id", "tokens", "n_tok", "source").contains(f.name))),
      numBuckets = 16)
    ()
  }

  /** The logical live view of a bare [[graft.table.SnapshotTable]]
    * (same contract as CdcPipeline.readTable, for forked clones). */
  private def liveView(t: graft.table.SnapshotTable): DataFrame =
    graft.operators.MergeOnRead.liveView(t)

  /** Streamed pipelines are built ONCE per (sf dir, mode) and treated as
    * immutable from then on; queries that MUTATE table state work on a
    * [[graft.table.SnapshotTable.shallowClone]] of the staged table —
    * O(manifests) to fork, data files shared by reference — instead of
    * re-streaming a table of their own (measured: each full pipeline
    * fixture costs 7-14 s at sf0.1 in the bench; a fork costs ms). */
  private val pipelineCache =
    new java.util.concurrent.ConcurrentHashMap[String, CdcPipeline]()

  private def stagedPipeline(
      spark: SparkSession, dir: String, mode: String): CdcPipeline =
    pipelineCache.computeIfAbsent(s"$dir#$mode", _ => runPipeline(spark, dir, mode))

  private def forkTable(
      spark: SparkSession, dir: String, mode: String): graft.table.SnapshotTable = {
    val dst = tempRoot("graft-fork")
    stagedPipeline(spark, dir, mode).table.shallowClone(s"$dst/table")
  }

  /** End-to-end pipeline over a staged table; returns final state.
    * @param mode "cow" (rewrite touched buckets) or "mor" (delta files +
    *             read-time fold) — same final state either way. */
  private def cdcMergeState(
      spark: SparkSession, dir: String, mode: String = "cow"): DataFrame =
    finalState(stagedPipeline(spark, dir, mode))

  private def docs(s: SparkSession, dir: String)  = s.read.parquet(s"$dir/documents.parquet")
  private def evts(s: SparkSession, dir: String)  = s.read.parquet(s"$dir/events.parquet")
  private def li(s: SparkSession, dir: String)    = s.read.parquet(s"$dir/lineitem.parquet")
  private def ord(s: SparkSession, dir: String)   = s.read.parquet(s"$dir/orders.parquet")
  private def cust(s: SparkSession, dir: String)  = s.read.parquet(s"$dir/customer.parquet")
  private def emb(s: SparkSession, dir: String)   = s.read.parquet(s"$dir/embeddings.parquet")

  /** documents ∪ verbatim copies of id%10==0 (exact dups) — twin in SQL. */
  private def exactDupCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    d.select(Tokenize.docId(col("doc_id")).as("doc_id"), col("text"))
      .unionByName(
        d.filter(col("doc_id") % 10 === 0)
          .select(concat(Tokenize.docId(col("doc_id")), lit("_x")).as("doc_id"), col("text")))
  }
  private val exactDupCorpusSql =
    s"""SELECT ${Tokenize.docIdSql("doc_id")} AS doc_id, text FROM documents
        UNION ALL
        SELECT ${Tokenize.docIdSql("doc_id")} || '_x' AS doc_id, text
        FROM documents WHERE doc_id % 10 = 0"""

  /** One entry per implemented operator from SURVEY.md §2 + the
    * training-data-pipeline ops. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ════ CDC engine (the reference's role, SURVEY.md §0) ════
    "q_cdc_merge_state" -> ((s, dir) => cdcMergeState(s, dir)),
    "q_cdc_merge_state_mor" -> ((s, dir) => cdcMergeState(s, dir, mode = "mor")),
    // auto picks the commit shape per batch (exact bulk/trickle probe vs
    // the live table size); state is mode-independent → shared oracle
    "q_cdc_merge_auto" -> ((s, dir) => cdcMergeState(s, dir, mode = "auto")),
    // pins the COW fold (one bucket-keyed exchange through the MOR LWW
    // kernel) under its own key; since the fold became the only COW plan
    // it runs the same pipeline as q_cdc_merge_state
    "q_cdc_merge_state_fold" -> ((s, dir) => cdcMergeState(s, dir)),
    "q_cdc_events" -> ((s, dir) =>
      CdcGenerator.events(s, dir)
        .select(col("lsn"), col("op"), col("doc_id"),
          concat_ws(",", col("tokens")).as("tokens_csv"), col("n_tok"), col("source"))
        .orderBy(col("lsn"))),
    "q_delete_where" -> ((s, dir) => {
      // Table maintenance: fork the staged table (shallow clone), then
      // retract two bad sources by predicate (tombstones at watermark+1
      // through the same MERGE path). MOR mode: the retraction itself is
      // an O(matches) delta commit, not a table rewrite.
      val t = forkTable(s, dir, mode = "mor")
      graft.operators.TableMaintenance.deleteWhere(
        t, col("source").isin("src3", "src7"), "purge-src3-src7", mode = "mor")
      stateProjection(liveView(t))
    }),
    "q_enrich_rewrite" -> ((s, dir) => {
      // Enrichment-only rewrite: UPDATE-only merge re-deriving a tier
      // column from a broadcast source dimension (reference analog:
      // update_address_point_grids.py:9-21). The added column evolves
      // the target schema additively.
      val t = forkTable(s, dir, mode = "cow")
      graft.operators.TableMaintenance.enrichRewrite(
        t, "enrich-tier", mode = "cow") { live =>
        val dim = live.select(col("source")).distinct()
          // try_cast, not cast: ANSI mode hard-errors on an unparsable
          // source (e.g. Conform's 'unknown' default) — map it to the
          // 'unclassified' tier instead, mirrored in the oracle
          .withColumn("src_num", expr("try_cast(substring(source, 4, 10) AS int)"))
          .withColumn("source_tier",
            when(col("src_num").isNull, lit("unclassified"))
              .when(col("src_num") % 3 === 0, lit("gold"))
              .when(col("src_num") % 3 === 1, lit("silver"))
              .otherwise(lit("bronze")))
          .drop("src_num")
        live.join(broadcast(dim), Seq("source"), "left")
      }
      stateProjection(liveView(t))
    }),
    "q_cdc_time_travel" -> ((s, dir) => {
      // Time travel (S8/S14 family): read the table AT the version
      // committed after batch 0 — i.e. after the second commit has
      // already landed, prove the earlier snapshot is still exactly
      // reconstructable from its immutable manifest.
      val f = versionedFixture(s, dir)
      f.pipeline.readTableAt(f.v1)
        .select(col("doc_id"), concat_ws(",", col("tokens")).as("tokens_csv"),
          col("n_tok"), col("source"))
        .orderBy(col("doc_id"))
    }),
    "q_cdc_changes" -> ((s, dir) => {
      // CDC-out (S14): the engine's own changelog view between two
      // committed versions — O(changes) replay from the delta files the
      // second commit introduced; deletes surface as op='D' rows.
      val f = versionedFixture(s, dir)
      graft.operators.MergeOnRead.changesSince(f.pipeline.table, f.v1)
        .select(col("lsn"), col("op"), col("doc_id"),
          concat_ws(",", col("tokens")).as("tokens_csv"),
          col("n_tok"),
          // contract: a tombstone carries key + lsn only — null the
          // payload source so both changelog paths emit identical rows
          when(col("op") === "D", lit(null: String))
            .otherwise(col("source")).as("source"))
        .orderBy(col("lsn"))
    }),
    "q_sql_changes" -> ((s, dir) => {
      // CDC-out through the SQL surface: option("changesFrom", v) on the
      // V2 relation expands to the same changesSince plan — identical
      // change set, shared oracle with q_cdc_changes.
      val f = versionedFixture(s, dir)
      s.read.format("graft").option("changesFrom", f.v1)
        .load(f.pipeline.table.root)
        .select(col("lsn"), col("op"), col("doc_id"),
          concat_ws(",", col("tokens")).as("tokens_csv"),
          col("n_tok"),
          when(col("op") === "D", lit(null: String))
            .otherwise(col("source")).as("source"))
        .orderBy(col("lsn"))
    }),
    "q_sql_stream_changes" -> ((s, dir) => {
      // The STREAMING changelog source (round-4): readStream.format
      // ("graft") tails the table's versions as micro-batches of
      // changesSince rows — here drained with Trigger.AvailableNow into
      // parquet and read back. Same change set as the batch call
      // (shared oracle with q_cdc_changes).
      val f   = versionedFixture(s, dir)
      val out = tempRoot("graft-chstream")
      val q = s.readStream.format("graft")
        .option("startingVersion", f.v1)
        .load(f.pipeline.table.root)
        .writeStream
        .option("checkpointLocation", s"$out/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (df: DataFrame, _: Long) =>
          df.write.mode("append").parquet(s"$out/rows"); ()
        }
        .start()
      q.awaitTermination()
      s.read.parquet(s"$out/rows")
        .select(col("lsn"), col("op"), col("doc_id"),
          concat_ws(",", col("tokens")).as("tokens_csv"),
          col("n_tok"),
          when(col("op") === "D", lit(null: String))
            .otherwise(col("source")).as("source"))
        .orderBy(col("lsn"))
    }),
    "q_stream_sink" -> ((s, dir) => {
      // The streaming WRITE sink (round-4, the read source's twin): a
      // binlog tail is one statement — readStream(change files) →
      // writeStream.format("graft") — each micro-batch a ledgered LWW
      // upsert commit (exactly-once across restarts via the checkpoint-
      // keyed commit id). Validation is the same predicate the
      // pipeline's conform stage applies, inlined stream-side; the
      // final table state must equal the batch pipeline's (oracle
      // shared with q_cdc_merge_state).
      val root = tempRoot("graft-snk") + "/table"
      createReplica(s, root)
      val q = s.readStream.schema(Conform.EventSchema)
        .option("maxFilesPerTrigger", 4)
        .parquet(s"${stagedChangelog(s, dir)}/batch-*")
        .filter(col("doc_id").isNotNull &&
          (col("op") === "D" ||
            (col("tokens").isNotNull && col("n_tok") === size(col("tokens")))))
        .drop("ingest_ts")
        .writeStream.format("graft")
        .option("path", root)
        .option("checkpointLocation", tempRoot("graft-snk-ckpt"))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      stateProjection(liveView(graft.table.SnapshotTable.load(s, root)))
    }),
    "q_stream_snapshot" -> ((s, dir) => {
      // initialSnapshot replication (round-4): ONE standing statement
      // stands up a replica with no separate bootstrap step — batch 0 of
      // readStream(initialSnapshot=true) anchored MID-HISTORY at v1 is
      // the live view AT v1 (op='U' rows at their ORIGINAL lsns), then
      // the (v1, head] change tail; the graft upsert sink applies both
      // by LWW. Snapshot ⊕ tail ≡ full replay because snapshot rows keep
      // true lsns, so tail events beat them exactly as they beat the
      // state they superseded — replica state shares q_cdc_merge_state's
      // oracle.
      val f    = versionedFixture(s, dir)
      val root = tempRoot("graft-snapstream") + "/table"
      createReplica(s, root)
      val q = s.readStream.format("graft")
        .option("startingVersion", f.v1)
        .option("initialSnapshot", "true")
        .load(f.pipeline.table.root)
        .writeStream.format("graft")
        .option("path", root)
        .option("checkpointLocation", tempRoot("graft-snapstream-ckpt"))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      stateProjection(liveView(graft.table.SnapshotTable.load(s, root)))
    }),
    "q_cdc_changes_cow" -> ((s, dir) => {
      // The changesSince FALLBACK path: a COW join commit leaves no
      // replayable delta files, so the range resolves by snapshot diff —
      // rows whose _lsn exceeds the from-version's watermark. Must emit
      // the IDENTICAL change set as the MOR delta replay (same oracle).
      val f = versionedFixture(s, dir, mode = "cow")
      graft.operators.MergeOnRead.changesSince(f.pipeline.table, f.v1)
        .select(col("lsn"), col("op"), col("doc_id"),
          concat_ws(",", col("tokens")).as("tokens_csv"),
          col("n_tok"),
          // contract: a tombstone carries key + lsn only — null the
          // payload source so both changelog paths emit identical rows
          when(col("op") === "D", lit(null: String))
            .otherwise(col("source")).as("source"))
        .orderBy(col("lsn"))
    }),
    "q_cdc_bootstrap" -> ((s, dir) => {
      // Snapshot + binlog bootstrap (round-4): seed an empty table from
      // the upstream state at the stride boundary via the join-free
      // bucketed-write path (operators.Bootstrap), then tail only the
      // above-boundary events. Final state must equal a full replay of
      // the entire log — oracle shared with q_cdc_merge_state.
      val base = tempRoot("graft-boot")
      val p = new CdcPipeline(s, PipelineConfig(
        tableRoot = s"$base/table",
        changeLogDir = s"$base/changelog-unused",
        checkpointDir = s"$base/checkpoint",
        errorDir = s"$base/errors",
        lineageDir = s"$base/lineage",
        numBuckets = 16,
        mode = "mor"))
      val ev = stagedEvents(s, dir)
      // the "upstream snapshot": the below-boundary slice, payload-shaped
      // (all rep-0 inserts — at most one row per doc_id by construction);
      // its invalid rows quarantine during bootstrap exactly as the
      // oracle's valid-filter drops them
      val snap = ev.filter(col("lsn") < CdcGenerator.LsnStride)
        .select(col("doc_id"), col("tokens"), col("n_tok"), col("source"))
      p.bootstrap(snap, asOfLsn = CdcGenerator.LsnStride - 1)
      p.applyBatch(ev.filter(col("lsn") >= CdcGenerator.LsnStride), batchId = 1L)
      finalState(p)
    }),
    "q_cdc_replay" -> ((s, dir) => {
      // Quarantine replay (round-4): fork the staged MOR table, parse the
      // quarantined rows' raw JSON back to event shape, fix both injected
      // error classes (doc_id restored from the lsn — rep-0 events have
      // lsn == id — and n_tok recomputed), and re-ingest at the ORIGINAL
      // lsns. Final state = LWW over the log with those events corrected.
      val src  = stagedPipeline(s, dir, "mor")
      val base = tempRoot("graft-replay")
      src.table.shallowClone(s"$base/table")
      val p = new CdcPipeline(s, PipelineConfig(
        tableRoot = s"$base/table",
        changeLogDir = s"$base/changelog-unused",
        checkpointDir = s"$base/checkpoint",
        errorDir = s"$base/errors",
        lineageDir = s"$base/lineage",
        numBuckets = 16,
        mode = "mor"))
      val corrected = src.readErrors().filter(col("lsn") >= 0)
        .select(from_json(col("raw"), Conform.EventSchema).as("e")).select("e.*")
        .withColumn("doc_id",
          coalesce(col("doc_id"), concat(lit("doc"), col("lsn"))))
        .withColumn("n_tok",
          when(col("op") === "D", col("n_tok"))
            .otherwise(size(col("tokens")).cast("long")))
      p.replayErrors(corrected, "fix1")
      finalState(p)
    }),
    "q_maintenance_roundtrip" -> ((s, dir) => {
      // Bad-batch recovery drill (S16+S17): apply both batches, roll the
      // second back, re-land its events under a fresh commit id (the
      // ledger rightly refuses the original id), then migrate the table
      // to a larger bucket count. Final state must equal the
      // straight-through merge — recovery leaves no residue.
      import graft.operators.{Conform, Dedup, MergeOnRead, TableMaintenance, Validate}
      val f   = versionedFixture(s, dir)
      val dst = tempRoot("graft-mnt")
      val t   = f.pipeline.table.shallowClone(s"$dst/table")
      val ev  = stagedEvents(s, dir)
      TableMaintenance.rollbackTo(t, f.v1)
      val replay = Dedup.lww(
        Validate(Conform(ev.filter(col("lsn") >= CdcGenerator.LsnStride)), "b1-replay").valid)
      MergeOnRead(t, replay, "b1-replay", batchId = 2L)
      TableMaintenance.rebucket(t, 64, "grow-64")
      stateProjection(liveView(t))
    }),
    "q_sql_read" -> ((s, dir) => {
      // SQL/catalog surface (DataSource V2): the staged MOR table read
      // through spark.read.format("graft") — the analyzer rule expands
      // the relation into the snapshot-resolve plan, so the delta fold,
      // tombstone filter, and pruning all run under the V2 read. Must
      // equal the library-path state (same oracle as q_cdc_merge_state).
      val t = stagedPipeline(s, dir, mode = "mor").table
      stateProjection(s.read.format("graft").load(t.root))
    }),
    "q_sql_read_tt" -> ((s, dir) => {
      // V2 time travel: option("version", v) pins the earlier committed
      // snapshot (same oracle as q_cdc_time_travel).
      val f = versionedFixture(s, dir)
      s.read.format("graft").option("version", f.v1)
        .load(f.pipeline.table.root)
        .select(col("doc_id"), concat_ws(",", col("tokens")).as("tokens_csv"),
          col("n_tok"), col("source"))
        .orderBy(col("doc_id"))
    }),
    "q_sql_merge_into" -> ((s, dir) => {
      // MERGE INTO through the SQL catalog (graft.`root`): the ANSI
      // upsert trio — matched+cond DELETE, matched UPDATE SET *,
      // not-matched INSERT * — compiled onto the standard MOR merge.
      // Note the ANSI action-order semantics the oracle mirrors: an
      // UNMATCHED source row with action='del' falls through to the
      // INSERT branch.
      val t = forkTable(s, dir, mode = "mor")
      docs(s, dir).filter(col("doc_id") % 4 === 0).select(
        Tokenize.docId(col("doc_id")).as("doc_id"),
        array((col("doc_id") % 7).cast("int"), (col("doc_id") % 11).cast("int")).as("tokens"),
        lit(2L).as("n_tok"), lit("sqlmerge").as("source"),
        when(col("doc_id") % 8 === 0, lit("del")).otherwise(lit("upd")).as("action"))
        .createOrReplaceTempView("graft_merge_src")
      s.sql(
        s"""MERGE INTO graft.`${t.root}` t USING graft_merge_src s
            ON t.doc_id = s.doc_id
            WHEN MATCHED AND s.action = 'del' THEN DELETE
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *""").collect()
      stateProjection(liveView(t))
    }),
    "q_sql_merge_expr" -> ((s, dir) => {
      // MERGE INTO with EXPRESSION assignments (round-4 dialect
      // widening): matched rows get n_tok/source computed from source
      // columns while the unassigned tokens column keeps its target
      // value; source rows without a NOT MATCHED action drop.
      val t = forkTable(s, dir, mode = "mor")
      docs(s, dir).filter(col("doc_id") % 5 === 0).select(
        Tokenize.docId(col("doc_id")).as("doc_id"),
        (col("doc_id") % 13).cast("long").as("bump"))
        .createOrReplaceTempView("graft_merge_expr_src")
      s.sql(
        s"""MERGE INTO graft.`${t.root}` t USING graft_merge_expr_src s
            ON t.doc_id = s.doc_id
            WHEN MATCHED THEN UPDATE
              SET n_tok = s.bump + 100, source = concat('expr-', s.doc_id)""").collect()
      stateProjection(liveView(t))
    }),
    "q_sql_merge_sync" -> ((s, dir) => {
      // Full-snapshot sync (round-4): WHEN NOT MATCHED BY SOURCE THEN
      // DELETE makes the source THE desired state — matched rows update,
      // new rows insert, and every live target row absent from the
      // source retracts. Final state == the source, exactly.
      val t = forkTable(s, dir, mode = "mor")
      docs(s, dir).filter(col("doc_id") % 3 === 0).select(
        Tokenize.docId(col("doc_id")).as("doc_id"),
        array((col("doc_id") % 5).cast("int")).as("tokens"),
        lit(1L).as("n_tok"), lit("sync").as("source"))
        .createOrReplaceTempView("graft_merge_sync_src")
      s.sql(
        s"""MERGE INTO graft.`${t.root}` t USING graft_merge_sync_src s
            ON t.doc_id = s.doc_id
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *
            WHEN NOT MATCHED BY SOURCE THEN DELETE""").collect()
      stateProjection(liveView(t))
    }),
    "q_sql_merge_tgt" -> ((s, dir) => {
      // Target-referencing MERGE (round-4 second widening): the
      // canonical LWW-if-newer upsert — the MATCHED condition compares
      // the target's n_tok against the source's version, the assignment
      // computes from BOTH sides, and NOT MATCHED BY SOURCE retracts
      // conditionally on a TARGET predicate. Source-only expressions
      // pre-evaluate over the source; target-referencing ones defer to
      // the classification join where the matched payload is in scope.
      val t = forkTable(s, dir, mode = "mor")
      docs(s, dir).filter(col("doc_id") % 6 === 0).select(
        Tokenize.docId(col("doc_id")).as("doc_id"),
        array((col("doc_id") % 5).cast("int")).as("tokens"),
        lit(1L).as("n_tok"), lit("tgt").as("source"),
        (col("doc_id") % 7).cast("long").as("ver"),
        (col("doc_id") % 11).cast("long").as("delta"))
        .createOrReplaceTempView("graft_merge_tgt_src")
      s.sql(
        s"""MERGE INTO graft.`${t.root}` t USING graft_merge_tgt_src s
            ON t.doc_id = s.doc_id
            WHEN MATCHED AND t.n_tok < s.ver THEN UPDATE
              SET n_tok = t.n_tok + s.delta, source = concat('m', s.ver)
            WHEN NOT MATCHED THEN INSERT *
            WHEN NOT MATCHED BY SOURCE AND t.n_tok > 4 THEN DELETE
            WHEN NOT MATCHED BY SOURCE THEN UPDATE
              SET source = concat(t.source, '!')""").collect()
      stateProjection(liveView(t))
    }),
    "q_sql_insert" -> ((s, dir) => {
      // SQL DDL + INSERT (round-4): CREATE TABLE through the catalog,
      // two INSERT INTO ... SELECT statements (the second upserts a
      // tenth of the keys — LWW, not append-duplication), read back via
      // SQL. The whole round trip is plain SQL; no library calls.
      val root = tempRoot("graft-sqlins") + "/table"
      s.sql(
        s"""CREATE TABLE graft.`$root`
            (doc_id STRING, tokens ARRAY<INT>, n_tok BIGINT, source STRING)
            TBLPROPERTIES ('numBuckets' = '8')""")
      docs(s, dir).select(
        Tokenize.docId(col("doc_id")).as("doc_id"),
        Tokenize.tokens(col("text")).as("tokens"),
        col("doc_id").as("raw_id"))
        .createOrReplaceTempView("graft_ins_src")
      s.sql(
        s"""INSERT INTO graft.`$root`
            SELECT doc_id, tokens, CAST(size(tokens) AS BIGINT), 'sql'
            FROM graft_ins_src""")
      s.sql(
        s"""INSERT INTO graft.`$root`
            SELECT doc_id, array(CAST(raw_id % 97 AS INT)), 1L, 'sql2'
            FROM graft_ins_src WHERE raw_id % 10 = 0""")
      s.sql(
        s"""SELECT doc_id, concat_ws(',', tokens) AS tokens_csv, n_tok, source
            FROM graft.`$root` ORDER BY doc_id""")
    }),
    "q_sql_update" -> ((s, dir) => {
      // SQL UPDATE (round-4 DML widening): self-referencing expression
      // assignments over the live rows matching a payload predicate,
      // committed as one O(matches) MOR rewrite at a fresh LSN — the
      // SQL spelling of TableMaintenance.enrichRewrite's contract.
      val t = forkTable(s, dir, mode = "mor")
      s.sql(
        s"""UPDATE graft.`${t.root}`
            SET n_tok = n_tok + 100, source = concat('upd-', source)
            WHERE n_tok >= 2""").collect()
      stateProjection(liveView(t))
    }),
    "q_sql_delete" -> ((s, dir) => {
      // SQL DELETE FROM: predicate tombstones through the same MOR
      // commit as TableMaintenance.deleteWhere — O(matches) events,
      // never a table rewrite; late below-watermark CDC events cannot
      // resurrect the rows.
      val t = forkTable(s, dir, mode = "mor")
      s.sql(s"DELETE FROM graft.`${t.root}` WHERE doc_id LIKE '%0'").collect()
      stateProjection(liveView(t))
    }),
    "q_sql_call" -> ((s, dir) => {
      // SQL maintenance procedures (round-4 ProcedureCatalog): a
      // mutate-then-restore round trip driven entirely by CALL verbs.
      // UPDATE perturbs the fork; CALL graft.history discovers the
      // pre-update version; rollback restores it; compact folds the MOR
      // deltas; rebucket rewrites the layout; vacuum reclaims expired
      // versions. Every verb is state-transparent or state-restoring,
      // so the final read must equal the untouched merged state.
      val root = forkTable(s, dir, mode = "mor").root
      val v0 = s.sql(s"CALL graft.history('$root')")
        .agg(max(col("version"))).head().getLong(0)
      s.sql(s"UPDATE graft.`$root` SET n_tok = n_tok + 7 WHERE n_tok >= 1").collect()
      s.sql(s"CALL graft.rollback('$root', $v0)").collect()
      s.sql(s"CALL graft.compact('$root')").collect()
      s.sql(s"CALL graft.rebucket('$root', 16)").collect()
      s.sql(s"CALL graft.vacuum('$root', retain_last => 1, orphan_grace_ms => 0)")
        .collect()
      stateProjection(liveView(graft.table.SnapshotTable.load(s, root)))
    }),
    "q_cdc_errors" -> ((s, dir) => {
      val conformed = Conform(CdcGenerator.events(s, dir))
      Validate(conformed, "oracle-run").errors
        .select(col("lsn"), col("doc_id"), col("reason"))
        .orderBy(col("lsn"))
    }),
    "q_cdc_tokenize" -> ((s, dir) =>
      docs(s, dir)
        .select(
          Tokenize.docId(col("doc_id")).as("doc_id"),
          concat_ws(",", Tokenize.tokens(col("text"))).as("tokens_csv"),
          size(Tokenize.tokens(col("text"))).as("n_tok"),
          col("source"))
        .orderBy(col("doc_id"))),

    // ════ scans / filters / projections (S1, P1-P4) ════
    "q_filter_pushdown" -> ((s, dir) =>
      li(s, dir)
        .filter(col("l_quantity") > 45 && col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity").cast("long").as("qty"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))),

    // ════ aggregations (A1-A8) ════
    "q_agg_sum" -> ((s, dir) =>
      li(s, dir)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).cast("long").as("sum_qty"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))),
    "q_group_stats" -> ((s, dir) =>
      evts(s, dir)
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          round(avg(col("value")), 4).as("avg_value"),
          round(min(col("value")), 4).as("min_value"),
          round(max(col("value")), 4).as("max_value"))
        .orderBy(col("event_type"))),
    "q_null_profile" -> ((s, dir) => {
      val e = evts(s, dir)
      e.agg(
        count(lit(1)).as("n_rows"),
        e.columns.toIndexedSeq.map(c =>
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"null_$c")): _*)
    }),
    "q_reconcile_counts" -> ((s, dir) =>
      docs(s, dir)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("source"))),
    "q_centroid_groups" -> ((s, dir) =>
      docs(s, dir)
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n"),
          round(avg(col("n_chars")), 4).as("avg_chars"),
          min(col("doc_id")).as("first_doc"))
        .orderBy(col("lang"))),
    "q_distinct" -> ((s, dir) =>
      docs(s, dir).select(col("lang"), col("source")).distinct()
        .orderBy(col("lang"), col("source"))),

    // ════ joins (J1-J8) ════
    "q_join_broadcast" -> ((s, dir) =>
      ord(s, dir)
        .join(broadcast(cust(s, dir)), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 2).as("revenue"))
        .orderBy(col("c_mktsegment"))),
    "q_join_anti" -> ((s, dir) =>
      cust(s, dir)
        .join(ord(s, dir), col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))),
    "q_join_semi" -> ((s, dir) =>
      cust(s, dir)
        .join(ord(s, dir), col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy(col("c_mktsegment"))),

    // J6 analog — orphan-event detection: change events referencing no
    // doc in the live registry (docs with id%5==2 are "unregistered")
    "q_orphan_events" -> ((s, dir) => {
      val registry = docs(s, dir)
        .filter(col("doc_id") % 5 =!= 2)
        .select(Tokenize.docId(col("doc_id")).as("doc_id"))
      CdcGenerator.events(s, dir)
        .filter(col("doc_id").isNotNull)
        .join(broadcast(registry), Seq("doc_id"), "left_anti")
        .select(col("lsn"), col("doc_id"), col("op"))
        .orderBy(col("lsn"))
    }),
    // J1 analog — enrichment via two chained broadcast dimension joins:
    // event → (doc registry: doc_id→lang) → (lang dim: lang→lang_name)
    "q_enrich_dims" -> ((s, dir) => {
      val d = docs(s, dir)
      val docDim = d.select(Tokenize.docId(col("doc_id")).as("doc_id"), col("lang"))
      val langDim = d.select(col("lang")).distinct()
        .withColumn("lang_name",
          coalesce(
            element_at(
              map(lit("en"), lit("english"), lit("de"), lit("german"),
                lit("es"), lit("spanish"), lit("fr"), lit("french")),
              col("lang")),
            lit("other")))
      CdcGenerator.events(s, dir)
        .filter(col("doc_id").isNotNull && col("op") =!= "D")
        .join(broadcast(docDim), Seq("doc_id"), "left")
        .join(broadcast(langDim), Seq("lang"), "left")
        .select(col("lsn"), col("doc_id"), col("lang"), col("lang_name"))
        .orderBy(col("lsn"))
    }),
    // A5 analog — synthetic base rows: (source,lang) groups with ≥2 docs
    // and no standalone "base" doc (here: a short doc) get one synthesized
    // rollup row at the group mean with first-member attrs
    "q_synthetic_base" -> ((s, dir) => {
      val d = docs(s, dir)
      val groups = d.groupBy(col("source"), col("lang"))
        .agg(
          count(lit(1)).as("n_members"),
          round(avg(col("n_chars")), 4).as("avg_chars"),
          min(col("doc_id")).as("first_doc"))
        .filter(col("n_members") >= 2)
      val standalone = d.filter(col("n_chars") < 200)
        .select(col("source"), col("lang")).distinct()
      groups.join(standalone, Seq("source", "lang"), "left_anti")
        .orderBy(col("source"), col("lang"))
    }),

    // A5 full — the synthesized rollup rows UNIONED BACK into the corpus
    // (the reference inserts them, CreateApartmentDuplicates.py:97-98);
    // flagged rows carry the group-mean size and a derived key
    "q_synthetic_rows" -> ((s, dir) => {
      val d = docs(s, dir)
      val base = d.select(
        Tokenize.docId(col("doc_id")).as("doc_id"),
        col("source"), col("lang"),
        round(col("n_chars").cast("double"), 4).as("n_chars"),
        lit(0).as("is_synthetic"))
      val groups = d.groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_members"), round(avg(col("n_chars")), 4).as("avg_chars"))
        .filter(col("n_members") >= 2)
      val standalone = d.filter(col("n_chars") < 200)
        .select(col("source"), col("lang")).distinct()
      val synth = groups.join(standalone, Seq("source", "lang"), "left_anti")
        .select(
          concat_ws("|", lit("synth"), col("source"), col("lang")).as("doc_id"),
          col("source"), col("lang"),
          col("avg_chars").as("n_chars"),
          lit(1).as("is_synthetic"))
      base.unionByName(synth).orderBy(col("doc_id"))
    }),

    // ════ window semantics (W1-W3) ════
    "q_dedup_exact_firstwin" -> ((s, dir) =>
      evts(s, dir)
        .groupBy(col("user_id"), col("event_type"))
        .agg(min(col("event_id")).as("first_event"))
        .orderBy(col("user_id"), col("event_type"))),
    "q_lww" -> ((s, dir) =>
      evts(s, dir)
        .groupBy(col("user_id"))
        .agg(
          max_by(col("event_type"), col("event_id")).as("last_type"),
          round(max_by(col("value"), col("event_id")), 4).as("last_value"),
          max(col("event_id")).as("last_event"))
        .orderBy(col("user_id"))),
    "q_window_rank" -> ((s, dir) =>
      evts(s, dir)
        .withColumn("rn",
          row_number().over(Window.partitionBy(col("user_id"))
            .orderBy(col("ts"), col("event_id"))))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_id").as("first_event_id"), col("event_type"))
        .orderBy(col("user_id"))),
    "q_dup_flag" -> ((s, dir) =>
      evts(s, dir)
        .withColumn("cnt",
          count(lit(1)).over(Window.partitionBy(col("user_id"), col("event_type"))))
        .filter(col("cnt") > 20)
        .select(col("user_id"), col("event_type"), col("cnt"))
        .distinct()
        .orderBy(col("user_id"), col("event_type"))),

    // tumbling event-time window, batch-expressed (F13 + §2.10 analog)
    "q_event_windows" -> ((s, dir) =>
      evts(s, dir)
        .groupBy(unix_timestamp(date_trunc("hour", col("ts"))).as("window_start"))
        .agg(
          count(lit(1)).as("n_events"),
          round(avg(col("value")), 4).as("avg_value"))
        .orderBy(col("window_start"))),

    // ════ sorts / limits (§2.6) ════
    "q_topk" -> ((s, dir) =>
      docs(s, dir)
        .orderBy(col("n_chars").desc, col("doc_id"))
        .limit(20)
        .select(col("doc_id"), col("n_chars"))),

    // ════ set ops + schema-tolerant union (U1-U3) ════
    "q_union_evolve" -> ((s, dir) => {
      val d  = docs(s, dir)
      val v1 = d.filter(col("lang") === "en").select(col("doc_id"), col("lang"), col("source"))
      val v2 = d.filter(col("lang") === "de").select(col("doc_id"), col("lang"))
      v1.unionByName(v2, allowMissingColumns = true).orderBy(col("doc_id"))
    }),

    // ════ conform-layer scalar functions (F1-F16) ════
    "q_conform_text" -> ((s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        upper(regexp_replace(trim(col("text")), "\\s+", " ")).as("norm_text"),
        element_at(TextAnalysis.words(col("text")), 1).as("first_word"),
        element_at(TextAnalysis.words(col("text")), -1).as("last_word"),
        // dictionary decode (F8): lang code → name, 'other' default
        coalesce(
          element_at(
            map(lit("en"), lit("english"), lit("de"), lit("german"),
              lit("es"), lit("spanish"), lit("fr"), lit("french")),
            col("lang")),
          lit("other")).as("lang_name"),
        // conditional template concat (F9/F10): derived natural key
        concat_ws(" | ", col("source"), col("lang"), col("doc_id")).as("natural_key"))
        .orderBy(col("doc_id"))),

    // ════ validation / error routing (V1-V5) ════
    "q_validate_route" -> ((s, dir) => {
      val reasons = array_compact(array(
        when(col("value") > 400, lit("value_out_of_range")),
        when(col("event_type") === "error", lit("error_event")),
        when(col("user_id") % 37 === 0, lit("quarantined_user"))))
      evts(s, dir)
        .withColumn("reasons", reasons)
        .filter(size(col("reasons")) > 0)
        .select(col("event_id"), concat_ws(";", col("reasons")).as("reason"))
        .orderBy(col("event_id"))
    }),

    // ════ training-data dedup ════
    "q_dedup_exact" -> ((s, dir) =>
      exactDupCorpus(s, dir)
        .groupBy(md5(col("text")).as("content_hash"))
        .agg(min(col("doc_id")).as("canonical"), count(lit(1)).as("n_copies"))
        .filter(col("n_copies") > 1)
        .orderBy(col("canonical"))),
    "q_dedup_minhash" -> ((s, dir) => {
      graft.plans.MinHashSig.register(s)
      graft.plans.ShingleHash.register(s)
      // cache the shingled corpus: it feeds both sides of the band
      // self-join AND the jaccard join-back; recomputing the shingle +
      // signature chain 4x dominated this query's cost
      val corpus = tracked(
        DedupOps.variantDocs(docs(s, dir))
          .withColumn("sh", DedupOps.shinglesFast(col("text"))))
      val banded = corpus
        .select(col("doc_id"),
          explode(DedupOps.bandKeys(call_function("graft_minhash", col("sh")))).as("bk"))
        .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
      // dedupe candidate PAIRS first (ids only), then join shingles back
      // once per unique pair — carrying the shingle arrays through the
      // band join + distinct shuffled ~100x more bytes (45.9s → see
      // BENCH); verify: same pairs, same jaccard, same oracle
      val pairs = banded.as("a")
        .join(banded.as("b"),
          col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      val sh = corpus.select(col("doc_id"), col("sh"))
      pairs
        .join(sh.as("sa"), col("doc_a") === col("sa.doc_id"))
        .join(sh.as("sb"), col("doc_b") === col("sb.doc_id"))
        .select(col("doc_a"), col("doc_b"),
          DedupOps.jaccard(col("sa.sh"), col("sb.sh")).as("jaccard"))
        .filter(col("jaccard") >= 0.5)
        .orderBy(col("doc_a"), col("doc_b"))
    }),
    "q_dedup_simhash" -> ((s, dir) => {
      // Signature-CLUSTER dedup (one groupBy, linear in corpus size):
      // docs sharing the exact 60-bit shingle-simhash collapse to a
      // canonical representative. "Emit every pair within hamming≤k" is
      // inherently O(n²)-output on a self-similar corpus (measured: 19
      // minutes at sf0.1) — pairwise near-dup listing is q_dedup_minhash
      // / q_dedup_jaccard's job; simhash's scale role is this clustering.
      // graft_simhash = fused codegen signature (the composed HOF chain
      // measured ~108 ms/doc).
      graft.plans.SimHashSig.register(s)
      graft.plans.ShingleHash.register(s)
      DedupOps.variantDocs(docs(s, dir))
        .groupBy(call_function("graft_simhash", DedupOps.shinglesFast(col("text"))).as("sim"))
        .agg(min(col("doc_id")).as("canonical"), count(lit(1)).as("n_copies"))
        .filter(col("n_copies") > 1)
        .select(col("canonical"), col("n_copies"))
        .orderBy(col("canonical"))
    }),
    "q_dedup_simhash_pairs" -> ((s, dir) => {
      // Pairwise near-dup listing within hamming ≤ k (SURVEY J7 full).
      // Layered for a self-similar corpus (this one: ~9% of ALL pairs
      // qualify — dup clusters are the norm, not the exception):
      //  1. collapse exact-signature clusters (linear groupBy) — docs
      //     with equal sigs are interchangeable for hamming distance;
      //  2. pigeonhole band join over DISTINCT sigs only (hamming ≤ k ⇒
      //     some 15-bit band of the 60 agrees exactly → recall 1) — the
      //     rep collapse cuts band candidates 9× at sf0.1 (34.6M → 3.8M,
      //     vs 16.3M brute-force pairs; measured, see PlanSpec gate);
      //  3. expand sig pairs back to doc pairs = exactly the output, plus
      //     within-cluster pairs at dist 0.
      graft.plans.SimHashSig.register(s)
      graft.plans.ShingleHash.register(s)
      // cache: the shingle+signature chain feeds three consumers
      val sigged = tracked(
        DedupOps.variantDocs(docs(s, dir))
          .select(col("doc_id"),
            call_function("graft_simhash", DedupOps.shinglesFast(col("text"))).as("sig")))
      val within = sigged.as("a")
        .join(sigged.as("b"),
          col("a.sig") === col("b.sig") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          lit(0).as("dist"))
      val reps = sigged.select(col("sig")).distinct()
      val banded = reps
        .select(col("sig"), explode(DedupOps.simBandKeys(col("sig"))).as("bk"))
        .select(col("sig"), col("bk.band").as("band"), col("bk.key").as("key"))
      val sigPairs = banded.as("a")
        .join(banded.as("b"),
          col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
            col("a.sig") < col("b.sig"))
        .select(col("a.sig").as("sig_a"), col("b.sig").as("sig_b"),
          DedupOps.hamming(col("a.sig"), col("b.sig")).cast("int").as("dist"))
        .filter(col("dist") <= DedupOps.SimHammingK)
        .distinct()
      val cross = sigPairs
        .join(sigged.as("ma"), col("sig_a") === col("ma.sig"))
        .join(sigged.as("mb"), col("sig_b") === col("mb.sig"))
        .select(
          least(col("ma.doc_id"), col("mb.doc_id")).as("doc_a"),
          greatest(col("ma.doc_id"), col("mb.doc_id")).as("doc_b"),
          col("dist"))
      within.unionByName(cross).orderBy(col("doc_a"), col("doc_b"))
    }),
    "q_dedup_jaccard" -> ((s, dir) => {
      graft.plans.ShingleHash.register(s)
      val withVariant = DedupOps.variantDocs(docs(s, dir))
      val a = withVariant.as("a")
      val b = withVariant.as("b")
      a.join(b, concat(col("a.doc_id"), lit("_v")) === col("b.doc_id"))
        .select(
          col("a.doc_id").as("doc_id"),
          DedupOps.jaccard(
            DedupOps.shinglesFast(col("a.text")), DedupOps.shinglesFast(col("b.text")))
            .as("jaccard"))
        .orderBy(col("doc_id"))
    }),

    "q_dedup_incremental" -> ((s, dir) => {
      // Incremental near-dup dedup INSIDE the pipeline (round-4 verdict
      // #1): a dedicated streamed pipeline (nearDupPolicy=flag) whose
      // batches probe the persisted MinHash band index as they arrive —
      // per-batch work reads O(batch + touched index buckets), never the
      // corpus. Near-dup pairs split across micro-batches are caught
      // (the insert stream straddles batch boundaries at sf quantiles).
      // Oracle: replay the event log's valid inserts, band them, flag
      // every doc with an earlier-(lsn, doc_id) band-sharing match at
      // >=12/16 signature agreement — the same non-recursive rule.
      val p = pipelineCache.computeIfAbsent(s"$dir#cow#neardup",
        _ => runPipeline(s, dir, mode = "cow", nearDupPolicy = "flag"))
      p.readNearDups()
        .select(col("doc_id"), col("dup_of"), col("agree"))
        .orderBy(col("doc_id"))
    }),
    "q_dedup_substring" -> ((s, dir) => {
      // Substring/paragraph-level exact dedup (round-4 verdict #5):
      // distinct 20-token SLIDING window hashes per doc (alignment-free
      // — any repeated run of ≥20 tokens shares a window), one
      // window-hash equi-join across the corpus, flag pairs sharing ≥8
      // windows. Corpus plants cross-doc copied spans (id%13 twins);
      // the natural corpus's own dup clusters surface too. Linear
      // shingle-groupBy shape — the 100-TB path, never all-pairs.
      graft.plans.WindowHashes.register(s)
      val corpus = tracked(
        DedupOps.substringCorpus(docs(s, dir))
          .select(col("doc_id"),
            DedupOps.windowHashesFast(
              Tokenize.tokens(col("text")), DedupOps.SubWindow).as("wh")))
      val exploded = corpus.select(col("doc_id"), explode(col("wh")).as("w"))
      exploded.as("a")
        .join(exploded.as("b"),
          col("a.w") === col("b.w") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("shared_windows"))
        .filter(col("shared_windows") >= DedupOps.SubShareMin)
        .orderBy(col("doc_a"), col("doc_b"))
    }),
    "q_contamination" -> ((s, dir) => {
      // Benchmark-contamination screen (round-4 verdict #6): 13-gram
      // hashes of every doc vs a held-out eval set (id%31==1), flag docs
      // sharing ≥4 grams — planted twins (id%41==3 open with 25 eval
      // words) plus any natural cluster overlap. The eval gram table
      // BROADCASTS (a benchmark suite is small by construction); the
      // per-doc side never self-joins. Same flag as the pipeline-rule
      // spelling (operators.Contamination.rule, PipelineSpec-gated).
      graft.plans.WindowHashes.register(s)
      val corpus = tracked(
        DedupOps.contaminationCorpus(docs(s, dir))
          .select(col("doc_id"), col("is_eval"),
            DedupOps.windowHashesFast(
              Tokenize.tokens(col("text")), DedupOps.ContamGram).as("wh")))
      val evalGrams = corpus.filter(col("is_eval"))
        .select(explode(col("wh")).as("w")).distinct()
      val shared = corpus.filter(!col("is_eval"))
        .select(col("doc_id"), explode(col("wh")).as("w"))
        .join(broadcast(evalGrams), Seq("w"), "left_semi")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
      corpus.filter(!col("is_eval"))
        .select(col("doc_id"), size(col("wh")).cast("long").as("n_grams"))
        .join(shared, Seq("doc_id"))
        .filter(col("n_shared") >= DedupOps.ContamShareMin)
        .select(col("doc_id"), col("n_shared"), col("n_grams"),
          round(col("n_shared") / col("n_grams"), 4).as("overlap"),
          lit("contaminated").as("reason"))
        .orderBy(col("doc_id"))
    }),

    // ════ text analysis ════
    "q_lang_id" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), TextAnalysis.langGuess(col("text")).as("lang_guess"))
        .orderBy(col("doc_id"))),
    "q_quality" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id") +: TextAnalysis.qualityCols(col("text")): _*)
        .orderBy(col("doc_id"))),
    "q_token_count" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id") +: TextAnalysis.tokenCountCols(col("text")): _*)
        .orderBy(col("doc_id"))),
    "q_fingerprint" -> ((s, dir) => {
      RollingHash.register(s)
      docs(s, dir)
        .withColumn("tokens", Tokenize.tokens(col("text")))
        .select(col("doc_id"), expr("graft_rolling_hash(tokens)").as("fp"))
        .orderBy(col("doc_id"))
    }),

    // ════ similarity search ════
    "q_ann_topk" -> ((s, dir) => {
      graft.plans.CosineSim.register(s)
      val vecs = emb(s, dir).select(col("vec_id"), col("embedding"))
      val qs = vecs.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      Similarity.bruteForceTopK(vecs, qs, 10, Similarity.cosineFast)
        .orderBy(col("q_id"), col("rank"))
    }),
    "q_ann_threshold" -> ((s, dir) => {
      // Exact cosine-threshold self-join. These embeddings are isotropic
      // (pair scores ~N(0, .014); the >0.4 hits ARE the random tail, max
      // 0.51), so NO candidate scheme can reach recall 1 below Ω(n²)
      // compares — the honest exact plan is a TILED theta-join
      // (1-Bucket-Theta): block both sides, replicate each row K times,
      // equi-join on tile id. Distributed-safe where the old
      // `a.vec_id < b.vec_id` BroadcastNestedLoopJoin was not: no side is
      // ever broadcast whole, tiles are (n/K)² and evenly spread, and
      // shuffle volume is O(nK), tunable to the cluster. The NEAR-dup
      // threshold case — the one a training pipeline actually sweeps —
      // goes through LSH candidates instead: q_ann_threshold_near.
      graft.plans.CosineSim.register(s)
      val v = emb(s, dir).select(col("vec_id"), col("embedding"))
      Similarity.thresholdSelfJoin(s, v, 0.4, tilesPerSide = 8)
        .orderBy(col("vec_a"), col("vec_b"))
    }),
    "q_ann_lsh" -> ((s, dir) => {
      // Multi-table hyperplane LSH: candidates share ANY of L=4 16-bit
      // table signatures (round 1's single 8-bit signature had — by
      // arithmetic accident — only 7 distinct hyperplanes; see
      // plans/HyperplaneSigs). Pairs are deduped on ids BEFORE the
      // embedding payload joins back (the minhash lesson: never carry
      // the payload through the band join).
      graft.plans.CosineSim.register(s)
      graft.plans.HyperplaneSigs.register(s)
      val v = emb(s, dir).select(col("vec_id"), col("embedding"))
      val banded = v.select(
        col("vec_id"),
        posexplode(call_function("graft_hyperplane_sigs",
          col("embedding"), lit(Similarity.LshBits), lit(Similarity.LshTables))))
        .withColumnsRenamed(Map("pos" -> "tbl", "col" -> "sig"))
      val pairs = banded.as("a")
        .join(banded.as("b"),
          col("a.tbl") === col("b.tbl") && col("a.sig") === col("b.sig") &&
            col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
        .distinct()
      pairs
        .join(v.as("ea"), col("vec_a") === col("ea.vec_id"))
        .join(v.as("eb"), col("vec_b") === col("eb.vec_id"))
        .withColumn("score", Similarity.cosineFast(col("ea.embedding"), col("eb.embedding")))
        .filter(col("score") > 0.2)
        .select(col("vec_a"), col("vec_b"), round(col("score"), 4).as("score"))
        .orderBy(col("vec_a"), col("vec_b"))
    }),
    "q_ann_threshold_near" -> ((s, dir) => {
      // The threshold join a training pipeline actually sweeps: near-dup
      // pairs (cos > 0.9) over corpus ∪ perturbed variants, found via
      // multi-table LSH candidates + exact re-check — per-pair miss
      // ~7e-5 at cos≥0.98 while random pairs collide at ~0.4%, so the
      // candidate set is ~n·k, not n². Contrast q_ann_threshold (exact,
      // tiled) for arbitrary thresholds on isotropic data.
      graft.plans.CosineSim.register(s)
      graft.plans.HyperplaneSigs.register(s)
      val corpus = Similarity.variantVectors(emb(s, dir))
      val banded = corpus.select(
        col("vec_id"),
        posexplode(call_function("graft_hyperplane_sigs",
          col("embedding"), lit(Similarity.NearBits), lit(Similarity.NearTables))))
        .withColumnsRenamed(Map("pos" -> "tbl", "col" -> "sig"))
      val pairs = banded.as("a")
        .join(banded.as("b"),
          col("a.tbl") === col("b.tbl") && col("a.sig") === col("b.sig") &&
            col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
        .distinct()
      pairs
        .join(corpus.as("ea"), col("vec_a") === col("ea.vec_id"))
        .join(corpus.as("eb"), col("vec_b") === col("eb.vec_id"))
        .withColumn("score", Similarity.cosineFast(col("ea.embedding"), col("eb.embedding")))
        .filter(col("score") > 0.9)
        .select(col("vec_a"), col("vec_b"), round(col("score"), 4).as("score"))
        .orderBy(col("vec_a"), col("vec_b"))
    }),

    "q_ann_ivf" -> ((s, dir) => {
      // IVF with TRAINED cells + MULTI-PROBE (round-5): deterministic
      // fixed-point Lloyd k-means (no RNG — the oracle replays the
      // identical iterations), data vectors single-assigned, queries
      // probing their top-IvfProbe cells and ranking the candidate
      // union. K=256/nprobe=28 is the measured point MEETING the
      // round-4 bar: non-seed recall@10 0.82 at 10.8% candidates
      // (BENCH ivf_study kmeans256_np28_nsq). Training is 4× K=64 per
      // build — paid once per index build at scale; this query retrains
      // only because its fixture is self-contained.
      graft.plans.CosineSim.register(s)
      val v = emb(s, dir).select(col("vec_id"), col("embedding"))
      val cents = Similarity.kmeansCentroids(s, v, Similarity.IvfK, Similarity.IvfIters)
      val assigned = Similarity.ivfAssignWith(v, cents)
      val qv = v.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val qcells = Similarity.ivfProbe(
          v.filter(col("vec_id") < 5), cents, Similarity.IvfProbe)
        .select(col("vec_id").as("q_id"), col("cent_id"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("q_id")).orderBy(col("raw").desc, col("vec_id"))
      assigned.as("a")
        .join(qcells.as("qc"), col("a.cent_id") === col("qc.cent_id"))
        .join(qv, Seq("q_id"))
        .filter(col("a.vec_id") =!= col("q_id"))
        .withColumn("raw", Similarity.cosineFast(col("q_emb"), col("a.embedding")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10)
        .select(col("q_id"), col("rank"), col("a.vec_id").as("vec_id"),
          round(col("raw"), 4).as("score"))
        .orderBy(col("q_id"), col("rank"))
    }),

    // ════ training-sequence packing (terminal exporter) ════
    "q_pack_sequences" -> ((s, dir) => {
      // The pipeline's terminal consumer (round-4 verdict next-round #4):
      // pack the live view's token docs into fixed-length training
      // sequences — concat in doc order with a boundary token, cut into
      // 128-token examples, tail-drop. Two-level prefix sum (range
      // partition + bounded driver offsets), never a single-partition
      // global window. Oracle: window cumsum over the merged state.
      val p = stagedPipeline(s, dir, "cow")
      graft.operators.SequencePack.pack(
          p.readTable().select(col("doc_id"), col("tokens")),
          seqLen = 128, cachePin = tracked)
        .select(col("seq_id"), concat_ws(",", col("tokens")).as("tokens_csv"))
        .orderBy(col("seq_id"))
    }),

    // ════ multimodal plumbing ════
    "q_multimodal_decode" -> ((s, dir) => {
      // The full decode path (mapPartitions batch shape): header fields +
      // frame-sampled feature reduction, flattened to scalars for the
      // driver comparator. The decode itself is the documented
      // deterministic stand-in (no codec libs in this image) — but the
      // schema, partition parallelism, and batch shape are the real
      // plumbing a codec would ride.
      val dec = Multimodal.decode(s, Multimodal.synthesize(docs(s, dir))).toDF()
      val featCols = (0 until 8).map(k =>
        round(element_at(col("features"), k + 1), 4).as(s"f$k"))
      dec.select(
        Seq(col("doc_id"), col("media_type"), col("byte_len"),
          col("width"), col("height"), col("n_frames")) ++ featCols: _*)
        .orderBy(col("doc_id"))
    }),
    "q_multimodal_meta" -> ((s, dir) =>
      Multimodal.synthesize(docs(s, dir))
        .select(
          col("doc_id"), col("media_type"),
          length(col("payload")).as("byte_len"),
          md5(col("payload")).as("checksum"))
        .orderBy(col("doc_id")))
  )

  /** DuckDB oracle SQL per query (same tables, same column names). */
  def oracleSql: Map[String, String] = {
    val ev    = CdcGenerator.eventsSql
    // shared by q_cdc_changes (MOR delta replay) and q_cdc_changes_cow
    // (COW snapshot-diff fallback): both paths must emit the identical
    // change set — the per-doc LWW winner among every valid event at or
    // above the stride boundary (exactly what the second commit's delta
    // files persist). max_by SKIPS null payloads, so when the winner is
    // a D it surfaces the previous event's tokens — null them back out
    // (a tombstone carries no payload).
    val changesOracle =
      s"""WITH evs AS (${CdcGenerator.eventsSql}),
          valid AS (
            SELECT * FROM evs
            WHERE lsn >= ${CdcGenerator.LsnStride}
              AND doc_id IS NOT NULL
              AND (op = 'D' OR (tokens IS NOT NULL AND n_tok = len(tokens)))),
          last AS (
            SELECT doc_id,
                   max(lsn) AS lsn,
                   max_by(op, lsn) AS op,
                   max_by(tokens, lsn) AS tokens,
                   max_by(n_tok, lsn) AS n_tok,
                   max_by(source, lsn) AS source
            FROM valid GROUP BY doc_id)
          -- changesSince normalizes op to the upsert contract: U | D
          SELECT lsn, CASE WHEN op = 'D' THEN 'D' ELSE 'U' END AS op, doc_id,
                 CASE WHEN op = 'D' THEN ''
                      ELSE coalesce(array_to_string(tokens, ','), '') END AS tokens_csv,
                 CASE WHEN op = 'D' THEN NULL
                      ELSE cast(n_tok AS bigint) END AS n_tok,
                 CASE WHEN op = 'D' THEN NULL ELSE source END AS source
          FROM last ORDER BY lsn"""
    val toks  = Tokenize.tokensSql("text")
    val docId = Tokenize.docIdSql("doc_id")
    // the LWW-folded final state over all valid events — shared by the
    // library-path merge-state queries, the V2 SQL-surface read, the
    // streaming sink, and the maintenance round trips (library-call and
    // SQL CALL spellings), all of which must be state-transparent
    val mergedStateOracle =
      s"""WITH evs AS ($ev),
          valid AS (
            SELECT * FROM evs
            WHERE doc_id IS NOT NULL
              AND (op = 'D' OR (tokens IS NOT NULL AND n_tok = len(tokens)))),
          last AS (
            SELECT doc_id,
                   max_by(op, lsn) AS op,
                   max_by(tokens, lsn) AS tokens,
                   max_by(n_tok, lsn) AS n_tok,
                   max_by(source, lsn) AS source
            FROM valid GROUP BY doc_id)
          SELECT doc_id, array_to_string(tokens, ',') AS tokens_csv,
                 cast(n_tok AS bigint) AS n_tok, source
          FROM last WHERE op <> 'D' ORDER BY doc_id"""
    Map(
      "q_sql_read" -> mergedStateOracle,
      "q_sql_merge_into" ->
        // merged state ⊕ the MERGE mutations, with ANSI action-order
        // semantics: matched+del → gone, matched → src payload,
        // unmatched src (even del-action) → inserted, untouched → kept
        s"""WITH evs AS ($ev),
            valid AS (
              SELECT * FROM evs
              WHERE doc_id IS NOT NULL
                AND (op = 'D' OR (tokens IS NOT NULL AND n_tok = len(tokens)))),
            last AS (
              SELECT doc_id,
                     max_by(op, lsn) AS op,
                     max_by(tokens, lsn) AS tokens,
                     max_by(n_tok, lsn) AS n_tok,
                     max_by(source, lsn) AS source
              FROM valid GROUP BY doc_id),
            live AS (SELECT * FROM last WHERE op <> 'D'),
            src AS (
              SELECT 'doc' || cast(doc_id AS varchar) AS doc_id,
                     [cast(doc_id % 7 AS int), cast(doc_id % 11 AS int)] AS tokens,
                     cast(2 AS bigint) AS n_tok, 'sqlmerge' AS source,
                     CASE WHEN doc_id % 8 = 0 THEN 'del' ELSE 'upd' END AS action
              FROM documents WHERE doc_id % 4 = 0)
            SELECT coalesce(s.doc_id, l.doc_id) AS doc_id,
                   array_to_string(
                     CASE WHEN s.doc_id IS NOT NULL THEN s.tokens ELSE l.tokens END,
                     ',') AS tokens_csv,
                   CASE WHEN s.doc_id IS NOT NULL THEN s.n_tok
                        ELSE cast(l.n_tok AS bigint) END AS n_tok,
                   CASE WHEN s.doc_id IS NOT NULL THEN s.source ELSE l.source END AS source
            FROM live l FULL JOIN src s ON l.doc_id = s.doc_id
            WHERE NOT (l.doc_id IS NOT NULL AND s.doc_id IS NOT NULL AND s.action = 'del')
            ORDER BY doc_id""",
      "q_sql_merge_expr" ->
        // merged live state, with the %5 keys' n_tok/source rewritten by
        // the expression assignments and tokens carried from the target
        s"""WITH evs AS ($ev),
            valid AS (
              SELECT * FROM evs
              WHERE doc_id IS NOT NULL
                AND (op = 'D' OR (tokens IS NOT NULL AND n_tok = len(tokens)))),
            last AS (
              SELECT doc_id,
                     max_by(op, lsn) AS op,
                     max_by(tokens, lsn) AS tokens,
                     max_by(n_tok, lsn) AS n_tok,
                     max_by(source, lsn) AS source
              FROM valid GROUP BY doc_id),
            live AS (SELECT * FROM last WHERE op <> 'D'),
            src AS (
              SELECT 'doc' || cast(doc_id AS varchar) AS doc_id,
                     cast(doc_id % 13 AS bigint) AS bump
              FROM documents WHERE doc_id % 5 = 0)
            SELECT l.doc_id,
                   array_to_string(l.tokens, ',') AS tokens_csv,
                   CASE WHEN s.doc_id IS NOT NULL THEN s.bump + 100
                        ELSE cast(l.n_tok AS bigint) END AS n_tok,
                   CASE WHEN s.doc_id IS NOT NULL THEN 'expr-' || l.doc_id
                        ELSE l.source END AS source
            FROM live l LEFT JOIN src s ON l.doc_id = s.doc_id
            ORDER BY l.doc_id""",
      "q_sql_merge_sync" ->
        // full sync: the final state IS the source (matched updated,
        // unmatched inserted, absent-from-source retracted)
        s"""SELECT $docId AS doc_id,
                   cast(doc_id % 5 AS varchar) AS tokens_csv,
                   cast(1 AS bigint) AS n_tok, 'sync' AS source
            FROM documents WHERE doc_id % 3 = 0 ORDER BY $docId""",
      "q_sql_merge_tgt" ->
        // LWW-if-newer: matched rows update only when l.n_tok < s.ver
        // (n_tok += delta, source = 'm'||ver); unmatched source rows
        // insert; live rows absent from the source retract iff n_tok > 4,
        // else take the second NMS action (source ||= '!')
        s"""WITH evs AS ($ev),
            valid AS (
              SELECT * FROM evs
              WHERE doc_id IS NOT NULL
                AND (op = 'D' OR (tokens IS NOT NULL AND n_tok = len(tokens)))),
            last AS (
              SELECT doc_id,
                     max_by(op, lsn) AS op,
                     max_by(tokens, lsn) AS tokens,
                     max_by(n_tok, lsn) AS n_tok,
                     max_by(source, lsn) AS source
              FROM valid GROUP BY doc_id),
            live AS (SELECT * FROM last WHERE op <> 'D'),
            src AS (
              SELECT 'doc' || cast(doc_id AS varchar) AS doc_id,
                     [cast(doc_id % 5 AS int)] AS tokens,
                     cast(1 AS bigint) AS n_tok, 'tgt' AS source,
                     cast(doc_id % 7 AS bigint) AS ver,
                     cast(doc_id % 11 AS bigint) AS delta
              FROM documents WHERE doc_id % 6 = 0)
            SELECT coalesce(l.doc_id, s.doc_id) AS doc_id,
                   CASE WHEN l.doc_id IS NULL
                        THEN array_to_string(s.tokens, ',')
                        ELSE array_to_string(l.tokens, ',') END AS tokens_csv,
                   CASE WHEN l.doc_id IS NULL THEN s.n_tok
                        WHEN s.doc_id IS NOT NULL AND l.n_tok < s.ver
                        THEN cast(l.n_tok AS bigint) + s.delta
                        ELSE cast(l.n_tok AS bigint) END AS n_tok,
                   CASE WHEN l.doc_id IS NULL THEN s.source
                        WHEN s.doc_id IS NOT NULL AND l.n_tok < s.ver
                        THEN 'm' || cast(s.ver AS varchar)
                        WHEN s.doc_id IS NULL THEN l.source || '!'
                        ELSE l.source END AS source
            FROM live l FULL JOIN src s ON l.doc_id = s.doc_id
            WHERE NOT (s.doc_id IS NULL AND l.n_tok > 4)
            ORDER BY doc_id""",
      "q_sql_insert" ->
        // CREATE + 2× INSERT INTO: every doc carries the tokenized text
        // from the first insert except the %10 keys the second insert
        // LWW-upserted to ([raw_id % 97], 'sql2')
        s"""SELECT $docId AS doc_id,
                   CASE WHEN doc_id % 10 = 0 THEN cast(doc_id % 97 AS varchar)
                        ELSE array_to_string($toks, ',') END AS tokens_csv,
                   CASE WHEN doc_id % 10 = 0 THEN cast(1 AS bigint)
                        ELSE cast(len($toks) AS bigint) END AS n_tok,
                   CASE WHEN doc_id % 10 = 0 THEN 'sql2' ELSE 'sql' END AS source
            FROM documents ORDER BY $docId""",
      "q_sql_update" ->
        // merged live state with the n_tok>=2 rows rewritten by the
        // UPDATE's expression assignments (tokens untouched)
        s"""WITH evs AS ($ev),
            valid AS (
              SELECT * FROM evs
              WHERE doc_id IS NOT NULL
                AND (op = 'D' OR (tokens IS NOT NULL AND n_tok = len(tokens)))),
            last AS (
              SELECT doc_id,
                     max_by(op, lsn) AS op,
                     max_by(tokens, lsn) AS tokens,
                     max_by(n_tok, lsn) AS n_tok,
                     max_by(source, lsn) AS source
              FROM valid GROUP BY doc_id),
            live AS (SELECT * FROM last WHERE op <> 'D')
            SELECT doc_id, array_to_string(tokens, ',') AS tokens_csv,
                   CASE WHEN n_tok >= 2 THEN cast(n_tok AS bigint) + 100
                        ELSE cast(n_tok AS bigint) END AS n_tok,
                   CASE WHEN n_tok >= 2 THEN 'upd-' || source ELSE source END AS source
            FROM live ORDER BY doc_id""",
      "q_sql_delete" ->
        // merged live state minus the '%0' keys the DELETE tombstoned
        s"""WITH evs AS ($ev),
            valid AS (
              SELECT * FROM evs
              WHERE doc_id IS NOT NULL
                AND (op = 'D' OR (tokens IS NOT NULL AND n_tok = len(tokens)))),
            last AS (
              SELECT doc_id,
                     max_by(op, lsn) AS op,
                     max_by(tokens, lsn) AS tokens,
                     max_by(n_tok, lsn) AS n_tok,
                     max_by(source, lsn) AS source
              FROM valid GROUP BY doc_id),
            live AS (SELECT * FROM last WHERE op <> 'D')
            SELECT doc_id, array_to_string(tokens, ',') AS tokens_csv,
                   cast(n_tok AS bigint) AS n_tok, source
            FROM live WHERE doc_id NOT LIKE '%0' ORDER BY doc_id""",
      "q_sql_read_tt" ->
        // state at the version after batch 0 (all events below the LSN
        // stride boundary) — the q_cdc_time_travel contract via SQL
        s"""WITH evs AS ($ev),
            valid AS (
              SELECT * FROM evs
              WHERE lsn < ${CdcGenerator.LsnStride}
                AND doc_id IS NOT NULL
                AND (op = 'D' OR (tokens IS NOT NULL AND n_tok = len(tokens)))),
            last AS (
              SELECT doc_id,
                     max_by(op, lsn) AS op,
                     max_by(tokens, lsn) AS tokens,
                     max_by(n_tok, lsn) AS n_tok,
                     max_by(source, lsn) AS source
              FROM valid GROUP BY doc_id)
            SELECT doc_id, array_to_string(tokens, ',') AS tokens_csv,
                   cast(n_tok AS bigint) AS n_tok, source
            FROM last WHERE op <> 'D' ORDER BY doc_id""",
      "q_cdc_merge_state" -> mergedStateOracle,
      "q_cdc_merge_state_mor" -> mergedStateOracle,
      "q_cdc_merge_state_fold" -> mergedStateOracle,
      "q_cdc_merge_auto" -> mergedStateOracle,
      // bootstrap-at-boundary + tail-above-boundary must be
      // state-equivalent to replaying the entire log
      "q_cdc_bootstrap" -> mergedStateOracle,
      // replay with corrections applied: every event made valid (the two
      // injected error classes fixed — doc_id restored from the rep-0
      // lsn, n_tok recomputed; for already-valid rows both fixes are
      // identities), then the ordinary LWW fold
      "q_cdc_replay" ->
        s"""WITH evs AS ($ev),
            fixed AS (
              SELECT lsn, op,
                     coalesce(doc_id, 'doc' || cast(lsn AS varchar)) AS doc_id,
                     tokens,
                     CASE WHEN op = 'D' THEN NULL
                          ELSE cast(len(tokens) AS bigint) END AS n_tok,
                     source
              FROM evs),
            last AS (
              SELECT doc_id,
                     max_by(op, lsn) AS op,
                     max_by(tokens, lsn) AS tokens,
                     max_by(n_tok, lsn) AS n_tok,
                     max_by(source, lsn) AS source
              FROM fixed GROUP BY doc_id)
            SELECT doc_id, array_to_string(tokens, ',') AS tokens_csv,
                   cast(n_tok AS bigint) AS n_tok, source
            FROM last WHERE op <> 'D' ORDER BY doc_id""",
      // the streaming sink applies the same change stream through
      // writeStream.format("graft") — the final state contract is
      // identical to the batch pipeline's
      "q_stream_sink" -> mergedStateOracle,
      // initialSnapshot stream (snapshot at v1 ⊕ tail) into the upsert
      // sink must converge on the same final state as the full replay
      "q_stream_snapshot" -> mergedStateOracle,
      // rollback + replay + rebucket must be state-transparent: the
      // oracle is the straight-through merged state
      "q_maintenance_roundtrip" -> mergedStateOracle,
      // the CALL-procedure round trip (UPDATE → history → rollback →
      // compact → rebucket → vacuum) must restore exactly that state
      "q_sql_call" -> mergedStateOracle,
      "q_cdc_time_travel" ->
        // state at the version committed after batch 0 = the LWW fold of
        // every valid event below the stride boundary (all rep-0 events)
        s"""WITH evs AS ($ev),
            valid AS (
              SELECT * FROM evs
              WHERE lsn < ${CdcGenerator.LsnStride}
                AND doc_id IS NOT NULL
                AND (op = 'D' OR (tokens IS NOT NULL AND n_tok = len(tokens)))),
            last AS (
              SELECT doc_id,
                     max_by(op, lsn) AS op,
                     max_by(tokens, lsn) AS tokens,
                     max_by(n_tok, lsn) AS n_tok,
                     max_by(source, lsn) AS source
              FROM valid GROUP BY doc_id)
            SELECT doc_id, array_to_string(tokens, ',') AS tokens_csv,
                   cast(n_tok AS bigint) AS n_tok, source
            FROM last WHERE op <> 'D' ORDER BY doc_id""",
      "q_cdc_changes" -> changesOracle,
      "q_cdc_changes_cow" -> changesOracle,
      "q_sql_stream_changes" -> changesOracle,
      "q_sql_changes" -> changesOracle,
      "q_delete_where" ->
        s"""WITH evs AS ($ev),
            valid AS (
              SELECT * FROM evs
              WHERE doc_id IS NOT NULL
                AND (op = 'D' OR (tokens IS NOT NULL AND n_tok = len(tokens)))),
            last AS (
              SELECT doc_id,
                     max_by(op, lsn) AS op,
                     max_by(tokens, lsn) AS tokens,
                     max_by(n_tok, lsn) AS n_tok,
                     max_by(source, lsn) AS source
              FROM valid GROUP BY doc_id)
            SELECT doc_id, array_to_string(tokens, ',') AS tokens_csv,
                   cast(n_tok AS bigint) AS n_tok, source
            FROM last
            WHERE op <> 'D' AND source NOT IN ('src3', 'src7')
            ORDER BY doc_id""",
      "q_enrich_rewrite" ->
        s"""WITH evs AS ($ev),
            valid AS (
              SELECT * FROM evs
              WHERE doc_id IS NOT NULL
                AND (op = 'D' OR (tokens IS NOT NULL AND n_tok = len(tokens)))),
            last AS (
              SELECT doc_id,
                     max_by(op, lsn) AS op,
                     max_by(tokens, lsn) AS tokens,
                     max_by(n_tok, lsn) AS n_tok,
                     max_by(source, lsn) AS source
              FROM valid GROUP BY doc_id)
            SELECT doc_id, array_to_string(tokens, ',') AS tokens_csv,
                   cast(n_tok AS bigint) AS n_tok, source,
                   CASE WHEN TRY_CAST(substr(source, 4) AS int) IS NULL THEN 'unclassified'
                        WHEN TRY_CAST(substr(source, 4) AS int) % 3 = 0 THEN 'gold'
                        WHEN TRY_CAST(substr(source, 4) AS int) % 3 = 1 THEN 'silver'
                        ELSE 'bronze' END AS source_tier
            FROM last WHERE op <> 'D' ORDER BY doc_id""",
      "q_cdc_events" ->
        // coalesce('') twins Spark's concat_ws, which is never null (a D
        // event carries tokens = NULL)
        s"""WITH evs AS ($ev)
            SELECT lsn, op, doc_id,
                   coalesce(array_to_string(tokens, ','), '') AS tokens_csv,
                   n_tok, source
            FROM evs ORDER BY lsn""",
      "q_cdc_errors" ->
        s"""WITH evs AS ($ev)
            SELECT lsn, doc_id,
              array_to_string(list_filter([
                CASE WHEN doc_id IS NULL THEN 'null_doc_id' END,
                CASE WHEN op NOT IN ('I','U','D') THEN 'bad_op' END,
                CASE WHEN op IN ('I','U') AND tokens IS NULL THEN 'null_tokens' END,
                CASE WHEN op IN ('I','U') AND tokens IS NOT NULL AND n_tok <> len(tokens)
                     THEN 'n_tok_mismatch' END], x -> x IS NOT NULL), ';') AS reason
            FROM evs
            WHERE doc_id IS NULL
               OR op NOT IN ('I','U','D')
               OR (op IN ('I','U') AND (tokens IS NULL OR n_tok <> len(tokens)))
            ORDER BY lsn""",
      "q_cdc_tokenize" ->
        s"""SELECT $docId AS doc_id, array_to_string($toks, ',') AS tokens_csv,
                   cast(len($toks) AS int) AS n_tok, source
            FROM documents ORDER BY doc_id""",
      "q_filter_pushdown" ->
        """SELECT l_orderkey, l_linenumber, cast(l_quantity AS bigint) AS qty
           FROM lineitem WHERE l_quantity > 45 AND l_returnflag = 'R'
           ORDER BY l_orderkey, l_linenumber""",
      "q_agg_sum" ->
        """SELECT l_returnflag, l_linestatus,
                  cast(sum(l_quantity) AS bigint) AS sum_qty, count(*) AS n_rows
           FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""",
      "q_group_stats" ->
        """SELECT event_type, count(*) AS n,
                  round(avg(value), 4) AS avg_value,
                  round(min(value), 4) AS min_value,
                  round(max(value), 4) AS max_value
           FROM events GROUP BY 1 ORDER BY 1""",
      "q_null_profile" ->
        """SELECT count(*) AS n_rows,
                  cast(sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS bigint) AS null_event_id,
                  cast(sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS bigint) AS null_ts,
                  cast(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS bigint) AS null_user_id,
                  cast(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS bigint) AS null_event_type,
                  cast(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS bigint) AS null_value,
                  cast(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS bigint) AS null_props
           FROM events""",
      "q_reconcile_counts" ->
        """SELECT source, count(*) AS n_docs, cast(sum(n_chars) AS bigint) AS sum_chars
           FROM documents GROUP BY 1 ORDER BY 1""",
      "q_centroid_groups" ->
        """SELECT lang, count(*) AS n, round(avg(n_chars), 4) AS avg_chars,
                  min(doc_id) AS first_doc
           FROM documents GROUP BY 1 ORDER BY 1""",
      "q_distinct" ->
        "SELECT DISTINCT lang, source FROM documents ORDER BY lang, source",
      "q_join_broadcast" ->
        """SELECT c_mktsegment, count(*) AS n_orders,
                  round(sum(o_totalprice), 2) AS revenue
           FROM orders JOIN customer ON o_custkey = c_custkey
           GROUP BY 1 ORDER BY 1""",
      "q_join_anti" ->
        """SELECT c_custkey, c_mktsegment FROM customer
           WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
           ORDER BY c_custkey""",
      "q_join_semi" ->
        """SELECT c_mktsegment, count(*) AS n_customers FROM customer
           WHERE c_custkey IN (SELECT o_custkey FROM orders)
           GROUP BY 1 ORDER BY 1""",
      "q_orphan_events" ->
        s"""WITH evs AS ($ev),
            registry AS (SELECT $docId AS doc_id FROM documents WHERE doc_id % 5 <> 2)
            SELECT lsn, doc_id, op FROM evs
            WHERE doc_id IS NOT NULL
              AND doc_id NOT IN (SELECT doc_id FROM registry)
            ORDER BY lsn""",
      "q_enrich_dims" ->
        s"""WITH evs AS ($ev),
            doc_dim AS (SELECT $docId AS doc_id, lang FROM documents),
            lang_dim AS (
              SELECT DISTINCT lang,
                CASE lang WHEN 'en' THEN 'english' WHEN 'de' THEN 'german'
                          WHEN 'es' THEN 'spanish' WHEN 'fr' THEN 'french'
                          ELSE 'other' END AS lang_name
              FROM documents)
            SELECT e.lsn, e.doc_id, d.lang, l.lang_name
            FROM evs e
            LEFT JOIN doc_dim d ON e.doc_id = d.doc_id
            LEFT JOIN lang_dim l ON d.lang = l.lang
            WHERE e.doc_id IS NOT NULL AND e.op <> 'D'
            ORDER BY e.lsn""",
      "q_synthetic_base" ->
        """WITH groups AS (
             SELECT source, lang, count(*) AS n_members,
                    round(avg(n_chars), 4) AS avg_chars,
                    min(doc_id) AS first_doc
             FROM documents GROUP BY 1, 2 HAVING count(*) >= 2),
           standalone AS (
             SELECT DISTINCT source, lang FROM documents WHERE n_chars < 200)
           SELECT g.* FROM groups g
           WHERE NOT EXISTS (
             SELECT 1 FROM standalone s
             WHERE s.source = g.source AND s.lang = g.lang)
           ORDER BY source, lang""",
      "q_synthetic_rows" ->
        s"""WITH groups AS (
             SELECT source, lang, count(*) AS n_members,
                    round(avg(n_chars), 4) AS avg_chars
             FROM documents GROUP BY 1, 2 HAVING count(*) >= 2),
           standalone AS (
             SELECT DISTINCT source, lang FROM documents WHERE n_chars < 200)
           SELECT $docId AS doc_id, source, lang,
                  round(cast(n_chars AS double), 4) AS n_chars,
                  0 AS is_synthetic
           FROM documents
           UNION ALL
           SELECT 'synth' || '|' || g.source || '|' || g.lang AS doc_id,
                  g.source, g.lang, g.avg_chars AS n_chars, 1 AS is_synthetic
           FROM groups g
           WHERE NOT EXISTS (
             SELECT 1 FROM standalone s
             WHERE s.source = g.source AND s.lang = g.lang)
           ORDER BY doc_id""",
      "q_dedup_exact_firstwin" ->
        """SELECT user_id, event_type, min(event_id) AS first_event
           FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
      "q_lww" ->
        """SELECT user_id,
                  max_by(event_type, event_id) AS last_type,
                  round(max_by(value, event_id), 4) AS last_value,
                  max(event_id) AS last_event
           FROM events GROUP BY 1 ORDER BY 1""",
      "q_window_rank" ->
        """SELECT user_id, event_id AS first_event_id, event_type
           FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) rn
                 FROM events) WHERE rn = 1 ORDER BY user_id""",
      "q_dup_flag" ->
        """SELECT DISTINCT user_id, event_type,
                  count(*) OVER (PARTITION BY user_id, event_type) AS cnt
           FROM events QUALIFY cnt > 20 ORDER BY user_id, event_type""",
      "q_event_windows" ->
        """SELECT cast(epoch(date_trunc('hour', ts)) AS bigint) AS window_start,
                  count(*) AS n_events, round(avg(value), 4) AS avg_value
           FROM events GROUP BY 1 ORDER BY 1""",
      "q_topk" ->
        "SELECT doc_id, n_chars FROM documents ORDER BY n_chars DESC, doc_id LIMIT 20",
      "q_union_evolve" ->
        """SELECT doc_id, lang, source FROM documents WHERE lang = 'en'
           UNION ALL
           SELECT doc_id, lang, NULL AS source FROM documents WHERE lang = 'de'
           ORDER BY doc_id""",
      "q_conform_text" ->
        """SELECT doc_id,
                  upper(regexp_replace(trim(text), '\s+', ' ', 'g')) AS norm_text,
                  list_filter(string_split(text, ' '), w -> length(w) > 0)[1] AS first_word,
                  list_filter(string_split(text, ' '), w -> length(w) > 0)[-1] AS last_word,
                  CASE lang WHEN 'en' THEN 'english' WHEN 'de' THEN 'german'
                            WHEN 'es' THEN 'spanish' WHEN 'fr' THEN 'french'
                            ELSE 'other' END AS lang_name,
                  source || ' | ' || lang || ' | ' || cast(doc_id AS varchar) AS natural_key
           FROM documents ORDER BY doc_id""",
      "q_validate_route" ->
        """SELECT event_id,
                  array_to_string(list_filter([
                    CASE WHEN value > 400 THEN 'value_out_of_range' END,
                    CASE WHEN event_type = 'error' THEN 'error_event' END,
                    CASE WHEN user_id % 37 = 0 THEN 'quarantined_user' END],
                    x -> x IS NOT NULL), ';') AS reason
           FROM events
           WHERE value > 400 OR event_type = 'error' OR user_id % 37 = 0
           ORDER BY event_id""",
      "q_dedup_exact" ->
        s"""WITH corpus AS ($exactDupCorpusSql)
            SELECT md5(text) AS content_hash, min(doc_id) AS canonical,
                   count(*) AS n_copies
            FROM corpus GROUP BY 1 HAVING count(*) > 1 ORDER BY canonical""",
      "q_dedup_minhash" ->
        s"""WITH corpus AS (${DedupOps.variantDocsSql}),
            sigged AS (
              SELECT doc_id, ${DedupOps.shinglesSql("text")} AS sh FROM corpus),
            sigs AS (
              SELECT doc_id, sh, ${DedupOps.minhashSql("sh")} AS sig FROM sigged),
            exploded AS (
              SELECT doc_id, sh, unnest(${DedupOps.bandKeysSql("sig")}) AS bk FROM sigs),
            banded AS (
              SELECT doc_id, sh, bk.band AS band, bk.key AS key FROM exploded),
            pairs AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     ${DedupOps.jaccardSql("a.sh", "b.sh")} AS jaccard
              FROM banded a JOIN banded b
                ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
            SELECT doc_a, doc_b, jaccard FROM pairs
            WHERE jaccard >= 0.5 ORDER BY doc_a, doc_b""",
      "q_dedup_simhash" ->
        s"""WITH corpus AS (${DedupOps.variantDocsSql}),
            sims AS (SELECT doc_id, ${DedupOps.simhashSql("text")} AS sim FROM corpus)
            SELECT min(doc_id) AS canonical, count(*) AS n_copies
            FROM sims GROUP BY sim HAVING count(*) > 1
            ORDER BY canonical""",
      "q_dedup_simhash_pairs" ->
        s"""WITH corpus AS (${DedupOps.variantDocsSql}),
            sims AS (
              SELECT doc_id, cast(${DedupOps.simhashSql("text")} AS bigint) AS sig
              FROM corpus),
            banded AS (
              SELECT doc_id, sig, bk.band AS band, bk.key AS key
              FROM (SELECT doc_id, sig,
                      unnest(${DedupOps.simBandKeysSql("sig")}) AS bk
                    FROM sims)),
            pairs AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     cast(${DedupOps.hammingSql("a.sig", "b.sig")} AS int) AS dist
              FROM banded a JOIN banded b
                ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
            SELECT doc_a, doc_b, dist FROM pairs
            WHERE dist <= ${DedupOps.SimHammingK} ORDER BY doc_a, doc_b""",
      "q_dedup_jaccard" ->
        s"""WITH corpus AS (${DedupOps.variantDocsSql})
            SELECT a.doc_id AS doc_id,
                   ${DedupOps.jaccardSql(
                     DedupOps.shinglesSql("a.text"), DedupOps.shinglesSql("b.text"))} AS jaccard
            FROM corpus a JOIN corpus b ON a.doc_id || '_v' = b.doc_id
            ORDER BY doc_id""",
      "q_dedup_incremental" ->
        // the pipeline's cross-batch flag set replayed from the event
        // log: valid inserts → minhash over token-trigram shingles →
        // band keys → flag docs with an earlier band-sharing match at
        // >=AgreeMin/16 lanes; dup_of = the earliest such match
        s"""WITH evs AS ($ev),
            ins AS (
              SELECT doc_id, lsn, tokens FROM evs
              WHERE op = 'I' AND doc_id IS NOT NULL
                AND tokens IS NOT NULL AND n_tok = len(tokens)),
            sigged AS (
              SELECT doc_id, lsn,
                     ${DedupOps.minhashSql(DedupOps.shinglesOfTokensSql("tokens"))} AS sig
              FROM ins),
            banded AS (
              SELECT doc_id, lsn, sig, u.band AS band, u.key AS key
              FROM (SELECT doc_id, lsn, sig,
                      unnest(${DedupOps.bandKeysSql("sig")}) AS u
                    FROM sigged)),
            pairs AS (
              SELECT DISTINCT b.doc_id AS doc_id,
                     a.doc_id AS dup_of, a.lsn AS dup_lsn,
                     cast(list_sum(list_transform(range(1, ${DedupOps.NumHashes + 1}),
                       i -> CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END)) AS int) AS agree
              FROM banded a JOIN banded b
                ON a.band = b.band AND a.key = b.key
               AND (a.lsn < b.lsn OR (a.lsn = b.lsn AND a.doc_id < b.doc_id))),
            flagged AS (
              SELECT doc_id, dup_of, agree,
                     row_number() OVER (PARTITION BY doc_id
                       ORDER BY dup_lsn, dup_of) AS rn
              FROM pairs WHERE agree >= ${graft.operators.DedupIndex.AgreeMin})
            SELECT doc_id, dup_of, agree FROM flagged WHERE rn = 1
            ORDER BY doc_id""",
      "q_dedup_substring" ->
        s"""WITH corpus AS (${DedupOps.substringCorpusSql}),
            wh AS (
              SELECT doc_id,
                     unnest(${DedupOps.windowHashesSql(
                       Tokenize.tokensSql("text"), DedupOps.SubWindow)}) AS w
              FROM corpus)
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   count(*) AS shared_windows
            FROM wh a JOIN wh b ON a.w = b.w AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
            HAVING count(*) >= ${DedupOps.SubShareMin}
            ORDER BY doc_a, doc_b""",
      "q_contamination" ->
        s"""WITH corpus AS (${DedupOps.contaminationCorpusSql}),
            wh AS (
              SELECT doc_id, is_eval,
                     unnest(${DedupOps.windowHashesSql(
                       Tokenize.tokensSql("text"), DedupOps.ContamGram)}) AS w
              FROM corpus),
            ev AS (SELECT DISTINCT w FROM wh WHERE is_eval),
            scr AS (
              SELECT doc_id, count(*) AS n_grams,
                     cast(sum(CASE WHEN w IN (SELECT w FROM ev)
                       THEN 1 ELSE 0 END) AS bigint) AS n_shared
              FROM wh WHERE NOT is_eval GROUP BY doc_id)
            SELECT doc_id, n_shared, n_grams,
                   round(cast(n_shared AS double) / n_grams, 4) AS overlap,
                   'contaminated' AS reason
            FROM scr WHERE n_shared >= ${DedupOps.ContamShareMin}
            ORDER BY doc_id""",
      "q_lang_id" ->
        s"""SELECT doc_id, ${TextAnalysis.langGuessSql("text")} AS lang_guess
            FROM documents ORDER BY doc_id""",
      "q_quality" ->
        s"""SELECT doc_id, ${TextAnalysis.qualityColsSql("text")}
            FROM documents ORDER BY doc_id""",
      "q_token_count" ->
        s"""SELECT doc_id, ${TextAnalysis.tokenCountColsSql("text")}
            FROM documents ORDER BY doc_id""",
      "q_fingerprint" ->
        s"""SELECT doc_id, ${TextAnalysis.fingerprintSql(toks)} AS fp
            FROM documents ORDER BY doc_id""",
      "q_ann_topk" ->
        """WITH qs AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 5),
           scored AS (
             SELECT q.q_id, e.vec_id,
                    list_cosine_similarity(q.q_emb, e.embedding) AS raw
             FROM embeddings e, qs q WHERE e.vec_id <> q.q_id),
           ranked AS (
             SELECT q_id, vec_id, raw,
                    row_number() OVER (PARTITION BY q_id ORDER BY raw DESC, vec_id) AS rank
             FROM scored)
           SELECT q_id, rank, vec_id, round(raw, 4) AS score
           FROM ranked WHERE rank <= 10 ORDER BY q_id, rank""",
      "q_ann_threshold" ->
        """SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                  round(list_cosine_similarity(a.embedding, b.embedding), 4) AS score
           FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
           WHERE list_cosine_similarity(a.embedding, b.embedding) > 0.4
           ORDER BY vec_a, vec_b""",
      "q_ann_lsh" -> {
        val sigs = Similarity.hyperplaneSigsSql(
          "embedding", 64, Similarity.LshBits, Similarity.LshTables)
        s"""WITH sigged AS (SELECT vec_id, $sigs AS sigs FROM embeddings),
            banded AS (
              SELECT vec_id, t.tbl AS tbl, sigs[t.tbl + 1] AS sig
              FROM sigged CROSS JOIN
                (SELECT unnest(range(0, ${Similarity.LshTables})) AS tbl) t),
            pairs AS (
              SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
              FROM banded a JOIN banded b
                ON a.tbl = b.tbl AND a.sig = b.sig AND a.vec_id < b.vec_id)
            SELECT p.vec_a, p.vec_b,
                   round(list_cosine_similarity(ea.embedding, eb.embedding), 4) AS score
            FROM pairs p
            JOIN embeddings ea ON p.vec_a = ea.vec_id
            JOIN embeddings eb ON p.vec_b = eb.vec_id
            WHERE list_cosine_similarity(ea.embedding, eb.embedding) > 0.2
            ORDER BY vec_a, vec_b"""
      },
      "q_ann_threshold_near" ->
        s"""WITH corpus AS (${Similarity.variantVectorsSql})
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   round(list_cosine_similarity(a.embedding, b.embedding), 4) AS score
            FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.embedding, b.embedding) > 0.9
            ORDER BY vec_a, vec_b""",
      "q_ann_ivf" ->
        s"""WITH ${Similarity.kmeansCentroidsSql(
               Similarity.IvfK, Similarity.IvfIters, 64)},
           assigned AS (
             SELECT vec_id, embedding, cent_id FROM (
               SELECT e.vec_id, e.embedding, c.cent_id,
                      row_number() OVER (PARTITION BY e.vec_id
                        ORDER BY list_cosine_similarity(e.embedding, c.cent) DESC, c.cent_id) AS rn
               FROM embeddings e CROSS JOIN cents c) WHERE rn = 1),
           qs AS (
             SELECT vec_id AS q_id, embedding AS q_emb
             FROM embeddings WHERE vec_id < 5),
           qcells AS (
             SELECT q_id, cent_id FROM (
               SELECT q.q_id, c.cent_id,
                      row_number() OVER (PARTITION BY q.q_id
                        ORDER BY list_cosine_similarity(q.q_emb, c.cent) DESC, c.cent_id) AS rn
               FROM qs q CROSS JOIN cents c) WHERE rn <= ${Similarity.IvfProbe}),
           scored AS (
             SELECT q.q_id, a.vec_id,
                    list_cosine_similarity(q.q_emb, a.embedding) AS raw
             FROM assigned a
             JOIN qcells qc ON a.cent_id = qc.cent_id
             JOIN qs q ON qc.q_id = q.q_id
             WHERE a.vec_id <> q.q_id),
           ranked AS (
             SELECT q_id, vec_id, raw,
                    row_number() OVER (PARTITION BY q_id ORDER BY raw DESC, vec_id) AS rank
             FROM scored)
           SELECT q_id, rank, vec_id, round(raw, 4) AS score
           FROM ranked WHERE rank <= 10 ORDER BY q_id, rank""",
      "q_pack_sequences" ->
        // concat-and-chunk over the merged live state in doc_id order:
        // window cumsum of (n_tok + 1 boundary) lays every token on a
        // global tape; position g belongs to sequence g // 128; only full
        // sequences survive (tail-drop ≡ HAVING count = seqLen). The
        // cast pins DuckDB's window sum (HUGEINT) back to bigint so
        // seq_id types match Spark's long.
        s"""WITH evs AS ($ev),
            valid AS (
              SELECT * FROM evs
              WHERE doc_id IS NOT NULL
                AND (op = 'D' OR (tokens IS NOT NULL AND n_tok = len(tokens)))),
            last AS (
              SELECT doc_id,
                     max_by(op, lsn) AS op,
                     max_by(tokens, lsn) AS tokens
              FROM valid GROUP BY doc_id),
            taped AS (
              SELECT doc_id, list_append(tokens, -1) AS toks
              FROM last WHERE op <> 'D'),
            offs AS (
              SELECT doc_id, toks,
                     cast(coalesce(sum(len(toks)) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       AS bigint) AS off
              FROM taped),
            tokpos AS (
              SELECT o.off + i.i AS g, o.toks[cast(i.i AS int) + 1] AS tok
              FROM offs o
              JOIN (SELECT unnest(range(0, 256)) AS i) i ON i.i < len(o.toks))
            SELECT g // 128 AS seq_id,
                   array_to_string(list(tok ORDER BY g % 128), ',') AS tokens_csv
            FROM tokpos GROUP BY g // 128 HAVING count(*) = 128
            ORDER BY seq_id""",
      "q_multimodal_decode" -> {
        // byte k of the payload = ascii(char k+1): payload is the utf8
        // encoding of pure-ASCII text (asserted against the corpus)
        val slices = (0 until 8).map(k =>
          s"[sampled[j] for j in range(${k + 1}, len(sampled)+1) if (j-1-$k)%8 = 0] AS sl$k")
          .mkString(",\n                   ")
        val feats = (0 until 8).map(k =>
          s"CASE WHEN len(sl$k) = 0 THEN 0.0 ELSE round(list_sum(sl$k)/(255.0*len(sl$k)), 4) END AS f$k")
          .mkString(",\n                   ")
        s"""WITH m AS (
              SELECT $docId AS doc_id,
                     (['image','audio','video'])[cast(doc_id % 3 AS int) + 1] AS media_type,
                     text, len(text) AS n
              FROM documents),
            b AS (
              SELECT *,
                [ascii(substr(text, i, 1)) for i in range(1, n+1) if (i-1)%16 = 0] AS sampled
              FROM m),
            c AS (
              SELECT *,
                   $slices
              FROM b)
            SELECT doc_id, media_type,
                   cast(n AS int) AS byte_len,
                   cast(CASE WHEN n >= 1 THEN ascii(substr(text, 1, 1)) ELSE 0 END AS int) AS width,
                   cast(CASE WHEN n >= 2 THEN ascii(substr(text, 2, 1)) ELSE 0 END AS int) AS height,
                   cast(len(sampled) AS int) AS n_frames,
                   $feats
            FROM c ORDER BY doc_id"""
      },
      "q_multimodal_meta" ->
        s"""SELECT $docId AS doc_id,
                   (['image','audio','video'])[cast(doc_id % 3 AS int) + 1] AS media_type,
                   cast(octet_length(encode(text)) AS int) AS byte_len,
                   md5(text) AS checksum
            FROM documents ORDER BY doc_id"""
    )
  }
}
