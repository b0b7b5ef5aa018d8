package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.ingest.CdcGenerator
import graft.streaming.{CdcPipeline, PipelineConfig}

/** End-to-end slice (SURVEY.md §7.2) + replay equivalence + exactly-once. */
class PipelineSpec extends SparkSpec {

  private def collectEvents(sfDir: String): Seq[OracleFold.Ev] =
    CdcGenerator.events(spark, sfDir).collect().toSeq.map { r =>
      OracleFold.Ev(
        lsn = r.getAs[Long]("lsn"),
        op = r.getAs[String]("op"),
        docId = r.getAs[String]("doc_id"),
        tokens = Option(r.getAs[scala.collection.Seq[Int]]("tokens")).orNull,
        nTok = Option(r.getAs[Any]("n_tok")).map(_.asInstanceOf[Long]),
        source = r.getAs[String]("source"))
    }

  private def mkPipeline(base: String, mode: String = "cow"): CdcPipeline =
    new CdcPipeline(spark, PipelineConfig(
      tableRoot = s"$base/table",
      changeLogDir = s"$base/changelog",
      checkpointDir = s"$base/checkpoint",
      errorDir = s"$base/errors",
      lineageDir = s"$base/lineage",
      numBuckets = 8,
      mode = mode))

  private def tableState(p: CdcPipeline): Map[String, OracleFold.Doc] =
    p.readTable().collect().map { r =>
      r.getAs[String]("doc_id") -> OracleFold.Doc(
        r.getAs[scala.collection.Seq[Int]]("tokens"),
        r.getAs[Long]("n_tok"),
        r.getAs[String]("source"),
        0L)
    }.toMap

  private def assertStateMatches(
      got: Map[String, OracleFold.Doc],
      want: Map[String, OracleFold.Doc]): Unit = {
    val missing = want.keySet -- got.keySet
    val extra   = got.keySet -- want.keySet
    assert(missing.isEmpty, s"docs missing from engine state: ${missing.take(5)}")
    assert(extra.isEmpty, s"unexpected docs in engine state: ${extra.take(5)}")
    want.foreach { case (k, w) =>
      val g = got(k)
      assert(g.tokens == w.tokens, s"$k tokens differ: got ${g.tokens.take(5)} want ${w.tokens.take(5)}")
      assert(g.nTok == w.nTok, s"$k n_tok differ")
      assert(g.source == w.source, s"$k source differ")
    }
  }

  test("driver contract: SparkEntry.entry returns non-empty final state") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0, "entry() must smoke-check rows > 0")
    // tokens ride as a csv scalar so the driver's comparator can sort+hash
    assert(df.columns.toSeq == Seq("doc_id", "tokens_csv", "n_tok", "source"))
  }

  test("streaming replay matches the in-memory oracle (north rule)") {
    val base = tmpDir("e2e")
    val p    = mkPipeline(base)
    CdcGenerator.writeBatches(spark, sf0001, s"$base/changelog", batches = 4)
    val stats = p.runAvailableNow(maxFilesPerTrigger = Some(1))
    assert(stats.size > 1, "expected multiple micro-batches")

    val events = collectEvents(sf0001)
    val oracle = OracleFold.fold(events)
    assertStateMatches(tableState(p), oracle)

    // error routing: every invalid generated event is quarantined
    val errs = p.readErrors()
    val invalidLsns = OracleFold.invalid(events).map(_.lsn).toSet
    val errLsns = errs.select("lsn").collect().map(_.getLong(0)).toSet
    assert(errLsns == invalidLsns, s"error_records mismatch: got ${errLsns.size} want ${invalidLsns.size}")

    // lineage: one summary row per batch + per-bucket rows for its files
    val lineage = p.readLineage()
    assert(lineage.filter(col("partition_id") === -1).count() == stats.size)
    assert(lineage.filter(col("partition_id") >= 0).count() > 0)
  }

  test("streaming replay through the fold merge variant matches the oracle") {
    // Regression gate for a STREAMING-only deadlock: inside foreachBatch
    // the micro-batch df lives in a cloned SparkSession, so an
    // Observation attached to a batch-derived leg registers its listener
    // on the clone — if the union that builds the fold's plan leads with
    // the original-session base side, the write executes on the original
    // session and the batch observation's get() parks forever. Batch-mode
    // callers (MergeVariantSpec, the bench) share one session and can
    // never catch this; only a real runAvailableNow drive does. The fold
    // is the only COW plan, so this drives the default pipeline.
    val base = tmpDir("e2e-fold")
    val p    = mkPipeline(base)
    CdcGenerator.writeBatches(spark, sf0001, s"$base/changelog", batches = 4)
    val stats = p.runAvailableNow(maxFilesPerTrigger = Some(1))
    assert(stats.size > 1, "expected multiple micro-batches")
    // the batch-leg observation must have delivered real numbers
    assert(stats.forall(s => s.skipped || s.batchEvents > 0),
      s"batch observation lost: ${stats.map(_.batchEvents)}")
    assertStateMatches(tableState(p), OracleFold.fold(collectEvents(sf0001)))
  }

  test("merge-on-read replay matches the oracle; compaction preserves state") {
    import graft.operators.MergeOnRead
    val base = tmpDir("mor")
    val p    = mkPipeline(base, mode = "mor")
    CdcGenerator.writeBatches(spark, sf0001, s"$base/changelog", batches = 4)
    p.runAvailableNow(maxFilesPerTrigger = Some(1))
    val events = collectEvents(sf0001)
    val oracle = OracleFold.fold(events)
    assertStateMatches(tableState(p), oracle)

    // deltas fold into base without changing the resolved state
    MergeOnRead.compact(p.table, "test-compact")
    assert(p.table.current.get.deltaFiles.isEmpty)
    assertStateMatches(tableState(p), oracle)

    // exactly-once holds in MOR mode too
    val raw = spark.read.parquet(s"$base/changelog/batch-00000")
    assert(p.applyBatch(raw, 0L).skipped)
    assertStateMatches(tableState(p), oracle)
  }

  test("duplicate batch re-delivery is a ledger no-op (exactly-once)") {
    val base = tmpDir("eo")
    val p    = mkPipeline(base)
    CdcGenerator.writeBatches(spark, sf0001, s"$base/changelog", batches = 2)
    p.runAvailableNow()
    val vBefore    = p.table.currentVersion.get
    val rowsBefore = p.table.current.get.rowCount

    // redeliver batch 0 out of band (same batchId → same commit id)
    val raw = spark.read.parquet(s"$base/changelog/batch-00000")
    val s   = p.applyBatch(raw, 0L)
    assert(s.skipped)
    assert(p.table.currentVersion.get == vBefore)
    assert(p.table.current.get.rowCount == rowsBefore)
  }

  test("restart from checkpoint applies nothing new (exactly-once)") {
    val base = tmpDir("restart")
    val p    = mkPipeline(base)
    CdcGenerator.writeBatches(spark, sf0001, s"$base/changelog", batches = 3)
    p.runAvailableNow()
    val state1 = tableState(p)
    val v1     = p.table.currentVersion.get

    // second run over the same checkpoint: no new input → no new commits
    val p2 = mkPipeline(base)
    p2.runAvailableNow()
    assert(p2.table.currentVersion.get == v1)
    assertStateMatches(tableState(p2), state1)
  }

  test("deleteWhere tombstones the predicate slice in both modes; replay is a no-op") {
    import graft.operators.TableMaintenance
    for (mode <- Seq("cow", "mor")) {
      val base = tmpDir(s"delwhere-$mode")
      val p    = mkPipeline(base, mode)
      CdcGenerator.writeBatches(spark, sf0001, s"$base/changelog", batches = 2)
      p.runAvailableNow()
      val before = tableState(p)
      val victims = before.filter(_._2.source == "src3").keySet
      assert(victims.nonEmpty, "fixture must contain src3 docs")

      val st = TableMaintenance.deleteWhere(
        p.table, col("source") === "src3", "purge-src3", mode)
      assert(st.batchEvents == victims.size.toLong, s"[$mode] delete batch size")
      val after = tableState(p)
      assert(after.keySet == before.keySet -- victims, s"[$mode] wrong surviving keys")
      (before.keySet -- victims).foreach(k => assert(after(k) == before(k)))

      // replay: ledgered commit id → skipped, state unchanged
      val st2 = TableMaintenance.deleteWhere(
        p.table, col("source") === "src3", "purge-src3", mode)
      assert(st2.skipped, s"[$mode] replayed deleteWhere must skip")
      assert(tableState(p) == after)
      // the tombstones sit ABOVE the watermark: a late replayed insert of
      // a victim doc (its original lsn) must not resurrect it
      assert(p.lookup(victims.head).isEmpty, s"[$mode] victim still visible")
    }
  }

  test("enrichRewrite re-derives a column for every live row (UPDATE-only merge)") {
    import graft.operators.TableMaintenance
    val base = tmpDir("enrich")
    val p    = mkPipeline(base)
    CdcGenerator.writeBatches(spark, sf0001, s"$base/changelog", batches = 2)
    p.runAvailableNow()
    val before = tableState(p)

    val st = TableMaintenance.enrichRewrite(p.table, "enrich-1") { live =>
      val dim = live.select(col("source")).distinct()
        .withColumn("source_tier", upper(col("source")))
      live.join(broadcast(dim), Seq("source"), "left")
    }
    assert(st.updated == before.size.toLong, "every live row must be an update")
    assert(st.inserted == 0 && st.deleted == 0, "rewrite must not insert/delete")
    assert(st.schemaChanges.exists(_.contains("source_tier")), "additive evolution")

    val after = p.readTable()
    assert(after.columns.contains("source_tier"))
    assert(after.filter(col("source_tier") =!= upper(col("source"))).count() == 0)
    // payload columns other than the derived one are untouched
    assertStateMatches(tableState(p), before)
    // replay no-op
    assert(TableMaintenance.enrichRewrite(p.table, "enrich-1")(identity).skipped)
  }

  test("zone maps: manifests carry footer min/max doc_id; lookups skip foreign files") {
    import spark.implicits._
    import graft.operators.MergeOnRead
    val base = tmpDir("zonemap")
    val p    = mkPipeline(base, mode = "mor")
    // two MOR commits with DISJOINT key ranges: a-keys then z-keys
    def batch(prefix: String, lsn0: Long) =
      (0 until 10).map(i => (lsn0 + i, "I", s"$prefix$i", Seq(1, 2, 3), 3L, "srcZ"))
        .toDF("lsn", "op", "doc_id", "tokens", "n_tok", "source")
    p.applyBatch(batch("a", 100L), 0L)
    p.applyBatch(batch("z", 200L), 1L)

    val m = p.table.current.get
    val withStats = m.deltaFiles.filter(f => f.minKey.isDefined && f.maxKey.isDefined)
    assert(withStats == m.deltaFiles, "every committed file must carry a zone map")
    withStats.foreach(f => assert(f.minKey.get <= f.maxKey.get))

    // the zone map must separate the two commits: a-files never claim z5
    val bucket = MergeOnRead.bucketOfValue("z5", m.numBuckets)
    val bucketFiles = m.deltaFiles.filter(_.bucket == bucket)
    val pruned      = bucketFiles.filter(_.mayContain("z5"))
    assert(pruned.forall(_.minKey.get.startsWith("z")),
      s"zone map kept a-range files for z5: $pruned")
    assert(pruned.size < bucketFiles.size || bucketFiles.forall(_.minKey.get.startsWith("z")),
      "zone map pruned nothing despite disjoint ranges")

    // and the pruned lookup still answers correctly
    val row = p.lookup("z5").collect()
    assert(row.length == 1 && row(0).getAs[String]("doc_id") == "z5")
    assert(p.lookup("a3").count() == 1)
    assert(p.lookup("missing").isEmpty)
  }

  test("changesSince replays exact events from deltas (MOR) and diffs snapshots (COW)") {
    import graft.operators.{Dedup, MergeOnRead, Validate}
    import graft.operators.Conform
    // --- MOR: O(changes) replay from the commit-introduced delta files ---
    val base = tmpDir("cdcout")
    val p    = mkPipeline(base, mode = "mor")
    CdcGenerator.writeBatches(spark, sf0001, s"$base/changelog", batches = 3)
    val stats = p.runAvailableNow(maxFilesPerTrigger = Some(4))
    assert(stats.size == 3)
    val vAfterB0 = stats.head.version

    val changes = MergeOnRead.changesSince(p.table, vAfterB0)
    val gotLsns = changes.select("lsn").collect().map(_.getLong(0)).toSet
    val wantLsns = (1 until 3).flatMap { b =>
      val raw = spark.read.parquet(f"$base/changelog/batch-$b%05d")
      Dedup.lww(Validate(Conform(raw), s"x$b").valid)
        .select("lsn").collect().map(_.getLong(0))
    }.toSet
    assert(gotLsns == wantLsns, s"MOR changes: got ${gotLsns.size} want ${wantLsns.size}")
    assert(changes.filter(col("op") === "D").count() > 0, "deletes must surface")

    // fold-only commits carry no new events
    MergeOnRead.compact(p.table, "cdcout-compact")
    val vFolded = p.table.currentVersion.get
    assert(MergeOnRead.changesSince(p.table, stats.last.version).isEmpty)

    // --- COW commit in range → snapshot-diff fallback, same contract ---
    import spark.implicits._
    val cowBatch = Seq(
      (900000000L, "U", "doc1", Some(Seq(7, 7, 7)), Some(3L), "srcX"),
      (900000001L, "D", "doc3", None: Option[Seq[Int]], None: Option[Long], "srcX"))
      .toDF("lsn", "op", "doc_id", "tokens", "n_tok", "source")
    graft.operators.Merge(p.table, cowBatch, "cow-1", 99L)
    val diff = MergeOnRead.changesSince(p.table, vFolded)
    val byDoc = diff.collect().map(r => r.getAs[String]("doc_id") -> r.getAs[String]("op")).toMap
    assert(byDoc == Map("doc1" -> "U", "doc3" -> "D"), s"COW diff wrong: $byDoc")
  }

  test("changesSince emits exactly the state-changing events under out-of-order delivery") {
    import graft.operators.MergeOnRead
    import spark.implicits._
    def batch(rows: (Long, String, String, Option[Seq[Int]], Option[Long], String)*) =
      rows.toSeq.toDF("lsn", "op", "doc_id", "tokens", "n_tok", "source")
    for (mode <- Seq("mor", "cow")) {
      val base = tmpDir(s"stale-$mode")
      val p    = mkPipeline(base, mode)
      // from-state: X@100 (watermark 100), Z@10 (BELOW the watermark),
      // and W tombstoned at 20
      p.applyBatch(batch(
        (100L, "I", "X", Some(Seq(1)), Some(1L), "s"),
        (10L, "I", "Z", Some(Seq(5)), Some(1L), "s"),
        (20L, "D", "W", None, None, "s")), 0L)
      val v1 = p.table.currentVersion.get
      // batch 1, all out-of-order w.r.t. the watermark except Y:
      //  - X@50: stale no-op (X already at 100) → provably unapplied,
      //    must NOT replay on any path
      //  - Z@50: BELOW the watermark but BEATS Z's own lsn 10 — a real
      //    applied update the round-2/3 global-watermark filter dropped
      //    (review finding) → MUST replay
      //  - W@50 D: advances an existing tombstone — applied; the REPLAY
      //    path emits it (fold-harmless: W stays not-live), the DIFF
      //    path never can (no live-view change) — per the path contract
      //  - V@60 D: delete of an absent doc — same: applied delete,
      //    replay emits, diff doesn't
      //  - Y@200: plain new doc
      p.applyBatch(batch(
        (50L, "U", "X", Some(Seq(9)), Some(1L), "s"),
        (50L, "U", "Z", Some(Seq(7)), Some(1L), "s"),
        (50L, "D", "W", None, None, "s"),
        (60L, "D", "V", None, None, "s"),
        (200L, "I", "Y", Some(Seq(2)), Some(1L), "s")), 1L)
      val x = p.readTable().filter(col("doc_id") === "X")
        .select("tokens").as[Seq[Int]].head()
      assert(x == Seq(1), s"[$mode] stale event must not regress X: $x")
      val z = p.readTable().filter(col("doc_id") === "Z")
        .select("tokens").as[Seq[Int]].head()
      assert(z == Seq(7), s"[$mode] below-watermark update must apply to Z: $z")
      val got = MergeOnRead.changesSince(p.table, v1)
        .select("doc_id").as[String].collect().toSet
      val want =
        if (mode == "mor") Set("Y", "Z", "W", "V") // delta replay: applied events
        else Set("Y", "Z")                         // snapshot diff: net live changes
      assert(got == want,
        s"[$mode] changelog must emit Z's applied update and drop X's no-op: $got")
      // the LIVE-VIEW fold of both paths is identical regardless: W and V
      // fold to not-live, which they already were
      val folded = MergeOnRead.changesSince(p.table, v1)
        .groupBy(col("doc_id"))
        .agg(max_by(col("op"), col("lsn")).as("op"))
        .filter(col("op") =!= "D")
        .select("doc_id").as[String].collect().toSet
      assert(folded == Set("Y", "Z"), s"[$mode] folded live changes wrong: $folded")
    }
  }

  test("changesSince replays a below-watermark insert-then-delete as dead, not live") {
    import graft.operators.MergeOnRead
    import spark.implicits._
    def batch(rows: (Long, String, String, Option[Seq[Int]], Option[Long], String)*) =
      rows.toSeq.toDF("lsn", "op", "doc_id", "tokens", "n_tok", "source")
    val base = tmpDir("belowid")
    val p    = mkPipeline(base, "mor")
    // watermark 100 at v1; then Q is inserted at 50 and deleted at 60 by
    // two later commits — both below w. A from-state liveness filter
    // would call the D@60 a "delete of an absent doc" and drop it, and
    // the folded changelog would claim Q is live (the pre-round-4 bug).
    p.applyBatch(batch((100L, "I", "X", Some(Seq(1)), Some(1L), "s")), 0L)
    val v1 = p.table.currentVersion.get
    p.applyBatch(batch((50L, "I", "Q", Some(Seq(5)), Some(1L), "s")), 1L)
    p.applyBatch(batch((60L, "D", "Q", None, None, "s")), 2L)
    assert(p.readTable().filter(col("doc_id") === "Q").isEmpty, "Q must be dead")
    val changes = MergeOnRead.changesSince(p.table, v1)
    val qOps = changes.filter(col("doc_id") === "Q")
      .orderBy(col("lsn")).select("op").as[String].collect().toSeq
    assert(qOps == Seq("U", "D"), s"both applied Q events must replay: $qOps")
    val foldedLive = changes
      .groupBy(col("doc_id"))
      .agg(max_by(col("op"), col("lsn")).as("op"))
      .filter(col("op") =!= "D")
      .select("doc_id").as[String].collect().toSet
    assert(!foldedLive.contains("Q"), "folded changelog must agree Q is dead")
  }

  test("bucket-pruned read of a partially vacuumed old version succeeds when its files survive") {
    import graft.operators.{Merge, MergeOnRead}
    import graft.table.VacuumedVersionException
    import spark.implicits._
    val base = tmpDir("partial-vac")
    val p    = mkPipeline(base, mode = "cow")
    def batch(rows: (Long, String, String, Option[Seq[Int]], Option[Long], String)*) =
      rows.toSeq.toDF("lsn", "op", "doc_id", "tokens", "n_tok", "source")
    // two docs in DIFFERENT buckets at v1 (numBuckets=8; probe doc ids)
    val ids = (0 until 64).map(i => s"pv-$i")
    val inA = ids.find(MergeOnRead.bucketOfValue(_, 8) == 0).get
    val inB = ids.find(MergeOnRead.bucketOfValue(_, 8) == 1).get
    p.applyBatch(batch(
      (1L, "I", inA, Some(Seq(1)), Some(1L), "s"),
      (2L, "I", inB, Some(Seq(2)), Some(1L), "s")), 0L)
    val v1 = p.table.currentVersion.get
    // v2 rewrites only inA's bucket (COW carries inB's file forward) —
    // vacuum then reclaims v1's superseded bucket-0 file but inB's
    // shared file survives
    Merge(p.table, batch((3L, "U", inA, Some(Seq(9)), Some(1L), "s")), "pv-up", 1L)
    p.table.vacuum(retainVersions = 1)

    // pruned read of v1 touching only the surviving bucket: must succeed
    // (pre-fix: verifyReadable statted the whole manifest and threw)
    val got = MergeOnRead.resolveBuckets(
        p.table, Some(Set(MergeOnRead.bucketOfValue(inB, 8))), Some(v1))
      .filter(col("doc_id") === inB).select("tokens").as[Seq[Int]].collect().toSeq
    assert(got == Seq(Seq(2)), s"pruned old-version read wrong: $got")
    // the unpruned read of v1 still fails typed — it needs the dead file
    intercept[VacuumedVersionException] { p.readTableAt(v1).collect() }
    ()
  }

  test("changesSince snapshot-diff fallback survives vacuumed delta files it never reads") {
    import graft.operators.{Merge, MergeOnRead}
    import spark.implicits._
    val base = tmpDir("vac-fallback")
    val p    = mkPipeline(base, mode = "mor")
    def batch(lsn: Long, id: String) =
      Seq((lsn, "I", id, Some(Seq(1)), Some(1L), "s"))
        .toDF("lsn", "op", "doc_id", "tokens", "n_tok", "source")
    p.applyBatch(batch(1, "v-a"), 0L)
    val v1 = p.table.currentVersion.get
    p.applyBatch(batch(2, "v-b"), 1L)
    // a COW commit in the range forces the snapshot-diff fallback...
    Merge(p.table, batch(3, "v-c"), "vacfb-cow", 2L)
    // ...and vacuum reclaims the MOR delta files of the earlier commits
    p.table.vacuum(1)
    // the fallback never reads those files — it must succeed, not throw
    val got = MergeOnRead.changesSince(p.table, v1)
      .select("doc_id").as[String].collect().toSet
    assert(got == Set("v-b", "v-c"), s"fallback diff wrong: $got")
  }

  test("changesSince across a rollback emits the retraction diff") {
    import graft.operators.{MergeOnRead, TableMaintenance}
    import spark.implicits._
    val base = tmpDir("rbdiff")
    val p    = mkPipeline(base, mode = "mor")
    def batch(rows: (Long, String, String, Option[Seq[Int]], Option[Long], String)*) =
      rows.toSeq.toDF("lsn", "op", "doc_id", "tokens", "n_tok", "source")
    p.applyBatch(batch(
      (1L, "I", "A", Some(Seq(1)), Some(1L), "s"),
      (2L, "I", "B", Some(Seq(2)), Some(1L), "s")), 0L)
    val v1 = p.table.currentVersion.get
    p.applyBatch(batch(
      (3L, "U", "B", Some(Seq(9)), Some(1L), "s"),
      (4L, "I", "C", Some(Seq(3)), Some(1L), "s"),
      (5L, "D", "A", None, None, "s")), 1L)
    val v2 = p.table.currentVersion.get
    TableMaintenance.rollbackTo(p.table, v1)
    val v3 = p.table.currentVersion.get

    // state(v3) == state(v1): the rollback-containing range diffs empty
    assert(MergeOnRead.changesSince(p.table, v1, Some(v3)).isEmpty,
      "identical from/to state must emit no changes")

    // from the bad version: A resurrected (U at its retained lsn 1),
    // B reverted (U @2 — BELOW from's watermark: retraction semantics),
    // C retracted (absent in `to` → D at the retracted row's own lsn 4)
    val got = MergeOnRead.changesSince(p.table, v2, Some(v3))
      .select("doc_id", "op", "lsn").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got == Set(("A", "U", 1L), ("B", "U", 2L), ("C", "D", 4L)), s"got $got")
    // U rows carry the to-state payload (B back to its v1 tokens)
    val b = MergeOnRead.changesSince(p.table, v2, Some(v3))
      .filter(col("doc_id") === "B").select("tokens").as[Seq[Int]].head()
    assert(b == Seq(2), s"B must revert to v1 payload: $b")
  }

  test("changesSince detects a watermark-NEUTRAL rollback via the commit marker") {
    import graft.operators.{Merge, MergeOnRead, TableMaintenance}
    import spark.implicits._
    val base = tmpDir("rbneutral")
    val p    = mkPipeline(base, mode = "mor")
    def batch(rows: (Long, String, String, Option[Seq[Int]], Option[Long], String)*) =
      rows.toSeq.toDF("lsn", "op", "doc_id", "tokens", "n_tok", "source")
    // watermark lands at 10; compaction then records minEventLsn=MaxValue
    p.applyBatch(batch(
      (1L, "I", "A", Some(Seq(1)), Some(1L), "s"),
      (10L, "I", "B", Some(Seq(2)), Some(1L), "s")), 0L)
    MergeOnRead.compact(p.table, "rbn-compact")
    val v1 = p.table.currentVersion.get
    // a COW commit applying ONLY a below-watermark (out-of-order) event:
    // the watermark stays 10, so the rollback below decreases nothing
    Merge(p.table, batch((5L, "U", "A", Some(Seq(9)), Some(1L), "s")), "rbn-oo", 1L)
    val v2 = p.table.currentVersion.get
    assert(p.table.manifest(v2).watermarkLsn == p.table.manifest(v1).watermarkLsn,
      "fixture must be watermark-neutral")
    TableMaintenance.rollbackTo(p.table, v1)
    val v3 = p.table.currentVersion.get
    // the rollback commit copies the compact TARGET's manifest — so it
    // inherits minEventLsn == MaxValue; before the batchId marker check
    // the range classified as event-free delta replay and the genuine
    // retraction silently surfaced as EMPTY
    val got = MergeOnRead.changesSince(p.table, v2, Some(v3))
      .select("doc_id", "op", "lsn").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got == Set(("A", "U", 1L)), s"retraction lost: $got")
  }

  test("time travel: readTableAt reconstructs an earlier version exactly") {
    import graft.operators.{Conform, Dedup, Validate}
    val base = tmpDir("tt")
    val p    = mkPipeline(base, mode = "mor")
    val ev   = CdcGenerator.events(spark, sf0001)
    p.applyBatch(ev.filter(col("lsn") < CdcGenerator.LsnStride), 0L)
    val v1       = p.table.currentVersion.get
    val expected = p.readTable().collect().map(_.toSeq).toSet

    p.applyBatch(ev.filter(col("lsn") >= CdcGenerator.LsnStride), 1L)
    assert(p.table.currentVersion.get > v1)
    // the later commit changed the current view...
    assert(p.readTable().collect().map(_.toSeq).toSet != expected)
    // ...but the old version reads back byte-identical
    assert(p.readTableAt(v1).collect().map(_.toSeq).toSet == expected)
    // and the old version's fold equals an oracle fold of only batch-0 events
    val oracle = Dedup.lww(
      Validate(Conform(ev.filter(col("lsn") < CdcGenerator.LsnStride)), "tt-oracle").valid)
      .filter(col("op") =!= "D")
      .select(col("doc_id"), col("tokens"), col("n_tok"), col("source"))
      .collect().map(_.toSeq).toSet
    assert(p.readTableAt(v1)
      .select(col("doc_id"), col("tokens"), col("n_tok"), col("source"))
      .collect().map(_.toSeq).toSet == oracle)
  }

  test("rollbackTo retracts state without rewriting history or the ledger") {
    import graft.operators.TableMaintenance
    val base = tmpDir("rollback")
    val p    = mkPipeline(base, mode = "mor")
    val ev   = CdcGenerator.events(spark, sf0001)
    p.applyBatch(ev.filter(col("lsn") < CdcGenerator.LsnStride), 0L)
    val v1   = p.table.currentVersion.get
    val want = p.readTable().collect().map(_.toSeq).toSet

    p.applyBatch(ev.filter(col("lsn") >= CdcGenerator.LsnStride), 1L) // "bad" commit
    val s = TableMaintenance.rollbackTo(p.table, v1)
    assert(!s.skipped)
    // state is back, history is not rewritten: chain grew, ledger intact
    assert(p.readTable().collect().map(_.toSeq).toSet == want)
    assert(p.table.currentVersion.get > v1 + 1)
    assert(p.table.appliedCommitIds.contains(p.commitIdFor(1L)),
      "rolled-back batch must STAY in the idempotence ledger")
    // watermark reset with the state: post-rollback maintenance commits
    // (fresh LSN = watermark+1) land above the retained events
    val del = TableMaintenance.deleteWhere(
      p.table, col("doc_id").isNotNull, "post-rollback-purge", mode = "mor")
    assert(!del.skipped)
    assert(p.readTable().count() == 0L)
  }

  test("concurrent MOR appends: losing the version CAS rebases, no batch lost") {
    import graft.operators.MergeOnRead
    import spark.implicits._
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val base = tmpDir("race")
    val p    = mkPipeline(base, mode = "mor")
    val k    = 8
    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutor(java.util.concurrent.Executors.newFixedThreadPool(k))
    val done = Future.traverse((0 until k).toList) { i =>
      Future {
        val batch = Seq(
          (1000L + i, "I", s"race-doc-$i", Some(Seq(i, i + 1)), Some(2L), s"src$i"))
          .toDF("lsn", "op", "doc_id", "tokens", "n_tok", "source")
        MergeOnRead(p.table, batch, s"race-$i", 100L + i)
      }
    }
    val stats = Await.result(done, 5.minutes)
    assert(stats.forall(!_.skipped))
    // every commit landed on its own version; nothing clobbered
    assert(p.table.versions.size == k + 1, s"versions: ${p.table.versions}")
    assert((0 until k).forall(i => p.table.appliedCommitIds.contains(s"race-$i")))
    val docs = p.readTable().select("doc_id").as[String].collect().toSet
    assert(docs == (0 until k).map(i => s"race-doc-$i").toSet)
  }

  test("DataSource V2: format(\"graft\") reads the live view; version option time-travels") {
    val base = tmpDir("dsv2")
    val p    = mkPipeline(base, mode = "mor")
    val ev   = CdcGenerator.events(spark, sf0001)
    p.applyBatch(ev.filter(col("lsn") < CdcGenerator.LsnStride), 0L)
    val v1 = p.table.currentVersion.get
    p.applyBatch(ev.filter(col("lsn") >= CdcGenerator.LsnStride), 1L)

    // live view through SQL surface ≡ library read (MOR: the delta fold
    // runs under the V2 relation too)
    val sql = spark.read.format("graft").load(p.table.root)
    assert(sql.schema.fieldNames.toSeq == Seq("doc_id", "tokens", "n_tok", "source"),
      s"internal columns must not leak: ${sql.schema.fieldNames.toSeq}")
    assert(sql.collect().map(_.toSeq).toSet ==
      p.readTable().collect().map(_.toSeq).toSet)

    // time travel via option pins the earlier version
    val tt = spark.read.format("graft").option("version", v1).load(p.table.root)
    assert(tt.collect().map(_.toSeq).toSet ==
      p.readTableAt(v1).collect().map(_.toSeq).toSet)
    assert(tt.count() != sql.count() ||
      tt.collect().map(_.toSeq).toSet != sql.collect().map(_.toSeq).toSet,
      "fixture must actually change between versions")

    // CDC-out through SQL: identical frame to the library changesSince
    val ch  = spark.read.format("graft").option("changesFrom", v1).load(p.table.root)
    val lib = graft.operators.MergeOnRead.changesSince(p.table, v1)
    assert(ch.schema.fieldNames.toSeq == lib.schema.fieldNames.toSeq)
    assert(ch.collect().map(_.toSeq).toSet == lib.collect().map(_.toSeq).toSet)
  }

  test("trickle batch with an inflated plan estimate still takes the touched-bucket path") {
    // the round-2 heuristic trusted optimizedPlan.stats: a filter keeps
    // its child's sizeInBytes, so 3 rows filtered out of range(50M)
    // "estimate" as millions — and at high bucket counts that wrongly
    // skipped the probe and rewrote the whole table for a trickle
    val base = tmpDir("trickle")
    val p = new CdcPipeline(spark, PipelineConfig(
      tableRoot = s"$base/table", changeLogDir = s"$base/cl",
      checkpointDir = s"$base/ck", errorDir = s"$base/err",
      lineageDir = s"$base/lin", numBuckets = 256, mode = "cow"))
    import spark.implicits._
    p.applyBatch(Seq((1L, "I", "seed", Some(Seq(1)), Some(1L), "s"))
      .toDF("lsn", "op", "doc_id", "tokens", "n_tok", "source"), 0L)
    val inflated = spark.range(0, 50000000L).filter(col("id") < 3)
      .select(
        (col("id") + 10).as("lsn"), lit("I").as("op"),
        concat(lit("trickle-"), col("id")).as("doc_id"),
        array(lit(1)).as("tokens"), lit(1L).as("n_tok"), lit("s").as("source"))
    val s = p.applyBatch(inflated, 1L)
    assert(s.batchEvents == 3L)
    assert(s.touchedBuckets <= 3,
      s"trickle must prune to its own buckets, not rewrite all 256: ${s.touchedBuckets}")
  }

  test("COW conflict detection: disjoint buckets rebase, overlapping buckets conflict") {
    import graft.operators.Merge
    import graft.table.{DataFile, Manifest}
    def m(v: Long, files: (Int, String)*) = Manifest(
      version = v, parent = v - 1, commitId = s"c$v", batchId = v,
      schemaJson = "{\"type\":\"struct\",\"fields\":[]}", numBuckets = 4,
      watermarkLsn = 0L, rowCount = 0L,
      files = files.map { case (b, p) => DataFile(p, b, 1L) })
    val base = m(1, 0 -> "f0", 1 -> "f1", 2 -> "f2")
    // interloper rewrote bucket 2 only → touched {0,1} rebases clean
    val head = m(2, 0 -> "f0", 1 -> "f1", 2 -> "f2x")
    assert(Merge.conflictingBuckets(base, head, Set(0, 1)).isEmpty)
    // touched {1,2} → bucket 2 is stale
    assert(Merge.conflictingBuckets(base, head, Set(1, 2)) == Set(2))
    // a bucket DELETED from the head (e.g. all rows tombstoned+folded)
    // conflicts too — absence is a change
    val headDrop = m(2, 0 -> "f0", 2 -> "f2")
    assert(Merge.conflictingBuckets(base, headDrop, Set(1)) == Set(1))
    // and a bucket that appeared where the merge saw none
    assert(Merge.conflictingBuckets(m(1, 0 -> "f0"), m(2, 0 -> "f0", 3 -> "f3"),
      Set(3)) == Set(3))
  }

  test("concurrent COW commits: losers rebase or conflict-and-retry, never corrupt") {
    import graft.operators.Merge
    import spark.implicits._
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val base = tmpDir("cowrace")
    val p    = mkPipeline(base, mode = "cow")
    p.applyBatch(Seq((1L, "I", "seed", Some(Seq(0)), Some(1L), "s"))
      .toDF("lsn", "op", "doc_id", "tokens", "n_tok", "source"), 0L)
    val v0 = p.table.currentVersion.get

    // racing writers on ARBITRARY buckets: overlaps are allowed — the
    // documented recovery is catch CommitConflict and re-run the merge
    // against the new head (each retry re-reads, so it is never stale)
    val k = 6
    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutor(java.util.concurrent.Executors.newFixedThreadPool(k))
    val conflicts = new java.util.concurrent.atomic.AtomicInteger(0)
    val done = Future.traverse((0 until k).toList) { i =>
      Future {
        val batch = Seq((100L + i, "I", s"cow-doc-$i", Some(Seq(i)), Some(1L), s"src$i"))
          .toDF("lsn", "op", "doc_id", "tokens", "n_tok", "source")
        var s: graft.operators.MergeStats = null
        var tries = 0
        while (s == null) {
          try s = Merge(p.table, batch, s"cow-race-$i", 10L + i)
          catch {
            case c: Merge.CommitConflict if tries < 10 =>
              conflicts.incrementAndGet(); tries += 1
          }
        }
        s
      }
    }
    val stats = Await.result(done, 5.minutes)
    assert(stats.forall(!_.skipped))
    // every commit landed exactly once; no version gaps, ledger complete
    assert(p.table.versions.size == v0.toInt + 1 + k, s"versions: ${p.table.versions}")
    assert((0 until k).forall(i => p.table.appliedCommitIds.contains(s"cow-race-$i")))
    // final state holds every doc with its exact payload — no lost update
    val docs = p.readTable().select("doc_id").as[String].collect().toSet
    assert(docs == (0 until k).map(i => s"cow-doc-$i").toSet + "seed", s"docs: $docs")
    // rowCount stayed consistent through every rebase
    assert(p.table.current.get.rowCount == k + 1L)
    info(s"conflict-retries observed: ${conflicts.get()}")
  }

  test("a driver-local batch evaluates its rules in tasks: concurrent splits never misroute a row") {
    // The apply path plans a batch's valid and error sides concurrently
    // (error staging, the near-dup stage, the merge). Over a driver-local
    // batch the optimizer would evaluate the rule array on the driver in
    // each plan, and lambda functions (array_compact's filter, the extra
    // rule's `exists`) keep their loop variable in the shared expression
    // instance — so a row could land on the wrong side. The apply path
    // rebinds such a batch (CdcPipeline.inTasks); four concurrent plans
    // over each rebound split must route every row to its side.
    import graft.operators.{Conform, Validate}
    import spark.implicits._
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val negativeToken = when(exists(col("tokens"), t => t < 0), lit("negative_token"))
    val good = (1 to 120).map(i =>
      (i.toLong, "I", s"d$i", Option((0 until 20).map(j => i * 31 + j)), Option(20L), "s"))
    val rows = good ++ Seq(
      (121L, "I", "bad-ntok", Option(Seq(1, 2, 3)), Option(99L), "s"),
      (122L, "I", "bad-neg", Option(Seq(1, -2, 3)), Option(3L), "s"))
    val validIds = good.map(_._3).toSet
    val errorIds = Set("bad-ntok", "bad-neg")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try (1 to 40).foreach { t =>
      val raw = CdcPipeline.inTasks(
        rows.toDF("lsn", "op", "doc_id", "tokens", "n_tok", "source"))
      val split = Validate(Conform(raw), s"b$t", Seq(negativeToken))
      def ids(df: org.apache.spark.sql.DataFrame) =
        Future(df.select("doc_id").as[String].collect().toSet)
      val got = Seq(ids(split.valid), ids(split.errors), ids(split.valid), ids(split.errors))
        .map(Await.result(_, 2.minutes))
      assert(got == Seq(validIds, errorIds, validIds, errorIds),
        s"try $t misrouted: valid-only ${got(0) -- validIds}, errors ${got(1)}")
    } finally pool.shutdown()
  }

  test("contamination rule composes with the Validate array and routes to errors") {
    import graft.functions.DedupOps
    import graft.operators.Contamination
    import spark.implicits._
    // eval-set 13-grams from a literal token run (the benchmark suite)
    val evalToks = (0 until 40).map(i => (i * 3) % 65536)
    val evalGrams = spark.range(1)
      .select(DedupOps.windowHashes(
        lit(evalToks.toArray), DedupOps.ContamGram).as("g"))
      .collect().head.getSeq[Long](0).toSeq
    assert(evalGrams.size == 40 - DedupOps.ContamGram + 1)
    val base = tmpDir("contam")
    val p = new CdcPipeline(spark, PipelineConfig(
      tableRoot = s"$base/table", changeLogDir = s"$base/cl",
      checkpointDir = s"$base/ck", errorDir = s"$base/err",
      lineageDir = s"$base/lin", numBuckets = 8,
      extraRules = Seq(Contamination.rule(evalGrams))))
    // bad embeds a 20-token eval run (8 shared grams ≥ threshold 4);
    // clean shares nothing; an n_tok-mismatch row proves the built-in
    // rules still fire alongside the extra one
    val bad   = (9999 +: evalToks.slice(0, 20)) ++ Seq(7777, 8888)
    val clean = (0 until 30).map(i => (50000 + i * 11) % 65536)
    val batch = Seq(
      (1L, "I", "doc-bad", Some(bad), Some(bad.size.toLong), "s"),
      (2L, "I", "doc-clean", Some(clean), Some(clean.size.toLong), "s"),
      (3L, "I", "doc-short", Some(Seq(1, 2, 3)), Some(99L), "s"))
      .toDF("lsn", "op", "doc_id", "tokens", "n_tok", "source")
    p.applyBatch(batch, 0L)
    val errs = p.readErrors().select("doc_id", "reason").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(errs == Map(
      "doc-bad" -> "contaminated", "doc-short" -> "n_tok_mismatch"),
      s"errors: $errs")
    assert(p.readTable().select("doc_id").as[String].collect().toSet ==
      Set("doc-clean"),
      "contaminated and invalid rows must not merge")
  }

  test("twin COW writers of the same commitId: unique data dirs, state and ledger exact") {
    // Round-4 verdict "what's wrong" #3: twin processes replaying the
    // SAME logical commit used to share one c-<id> data dir, so the CAS
    // loser's mode=overwrite could interleave with (or delete) the
    // winner's files. writeDataFiles now nonces every writer's dir —
    // this test drives the exact race: two concurrent Merges, same
    // commitId, same payload (a replayed delivery, per the delivery
    // contract), and asserts single application + physical isolation.
    import graft.operators.Merge
    import spark.implicits._
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val base = tmpDir("twincow")
    val p    = mkPipeline(base, mode = "cow")
    p.applyBatch(Seq((1L, "I", "seed", Some(Seq(0)), Some(1L), "s"))
      .toDF("lsn", "op", "doc_id", "tokens", "n_tok", "source"), 0L)
    val v0 = p.table.currentVersion.get
    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutor(java.util.concurrent.Executors.newFixedThreadPool(2))
    val gate = new java.util.concurrent.CountDownLatch(2)
    val done = Future.traverse((0 until 2).toList) { _ =>
      Future {
        val batch = Seq(
          (100L, "I", "twin-doc", Some(Seq(7, 8)), Some(2L), "twin-src"),
          (101L, "U", "seed", Some(Seq(9)), Some(1L), "s"))
          .toDF("lsn", "op", "doc_id", "tokens", "n_tok", "source")
        gate.countDown(); gate.await() // maximize the overlap window
        Merge(p.table, graft.operators.Dedup.lww(batch), "twin", 1L)
      }
    }
    val stats = Await.result(done, 5.minutes)
    // exactly one writer applied; the other reported a ledger skip
    // (either at entry or inside the CAS loop)
    assert(stats.count(!_.skipped) == 1, s"applied count: $stats")
    assert(p.table.versions.count(v => p.table.manifest(v).commitId == "twin") == 1,
      "the logical commit must appear in the ledger exactly once")
    // physical isolation: every manifest-referenced file of the twin
    // commit lives under ONE writer's nonce dir (no interleaving)
    val twinV = p.table.versions.find(v => p.table.manifest(v).commitId == "twin").get
    val prevFiles = p.table.manifest(v0).files.map(_.path).toSet
    val twinDirs = p.table.manifest(twinV).files.map(_.path)
      .filterNot(prevFiles.contains)
      .map(f => f.substring(0, f.indexOf("/_bucket="))).distinct
    assert(twinDirs.size == 1, s"twin commit's new files span dirs: $twinDirs")
    // state exact: both docs present with the winning payload
    val state = p.readTable().collect()
      .map(r => r.getAs[String]("doc_id") ->
        r.getAs[scala.collection.Seq[Int]]("tokens").toSeq).toMap
    assert(state == Map("twin-doc" -> Seq(7, 8), "seed" -> Seq(9)), s"state: $state")
    // the loser's dir is an unreferenced orphan: a zero-grace vacuum
    // reclaims it and the table still reads exactly
    p.table.vacuum(retainVersions = 1, orphanGraceMillis = 0L)
    assert(p.readTable().count() == 2L)
  }

  test("DataSource V2 write: append upserts through MERGE; overwrite replaces with history") {
    import spark.implicits._
    val base = tmpDir("dsv2w")
    val p    = mkPipeline(base, mode = "mor")
    p.applyBatch(Seq(
      (1L, "I", "w-a", Some(Seq(1)), Some(1L), "s"),
      (2L, "I", "w-b", Some(Seq(2)), Some(1L), "s"))
      .toDF("lsn", "op", "doc_id", "tokens", "n_tok", "source"), 0L)
    val root = p.table.root

    // append = LWW upsert at a fresh LSN: updates w-a, inserts w-c.
    // (Spark's V2 output resolution enforces the payload schema by name;
    // change batches carrying lsn/op use the library API instead.)
    Seq(("w-a", Seq(9), 1L, "s2"), ("w-c", Seq(3), 1L, "s2"))
      .toDF("doc_id", "tokens", "n_tok", "source")
      .write.format("graft").mode("append").save(root)
    val st = p.readTable().collect()
      .map(r => r.getAs[String]("doc_id") ->
        r.getAs[scala.collection.Seq[Int]]("tokens").toSeq).toMap
    assert(st.keySet == Set("w-a", "w-b", "w-c"), s"got ${st.keySet}")
    assert(st("w-a") == Seq(9), "append must upsert, not duplicate")
    val vBefore = p.table.currentVersion.get

    // overwrite = replace contents, history retained (time travel works)
    Seq(("w-z", Seq(7), 1L, "z")).toDF("doc_id", "tokens", "n_tok", "source")
      .write.format("graft").mode("overwrite").save(root)
    assert(p.readTable().select("doc_id").as[String].collect().toSet == Set("w-z"))
    assert(p.readTableAt(vBefore).select("doc_id").as[String].collect().toSet ==
      Set("w-a", "w-b", "w-c"), "pre-overwrite state must time-travel")

    // explicit commitId → ledgered: the second save is a no-op
    Seq(("w-d", Seq(4), 1L, "z")).toDF("doc_id", "tokens", "n_tok", "source")
      .write.format("graft").mode("append").option("commitId", "write-once").save(root)
    val v1 = p.table.currentVersion.get
    Seq(("w-d", Seq(5), 1L, "z")).toDF("doc_id", "tokens", "n_tok", "source")
      .write.format("graft").mode("append").option("commitId", "write-once").save(root)
    assert(p.table.currentVersion.get == v1, "replayed commitId must ledger-skip")

    // change-batch overwrite (library call — the writer path strips
    // lsn/op): a frame whose LWW winner is a DELETE must NOT resurrect
    // the doc as a live null-payload row (round-3 review finding)
    graft.sources.GraftDataSource.insertInto(root,
      Seq(
        (1L, "U", "w-keep", Some(Seq(1)), Some(1L), "z"),
        (2L, "D", "w-gone", None: Option[Seq[Int]], None: Option[Long], "z"))
        .toDF("lsn", "op", "doc_id", "tokens", "n_tok", "source"),
      overwrite = true, commitId = None)
    val after = p.readTable().select("doc_id").as[String].collect().toSet
    assert(after == Set("w-keep"), s"D winner must not re-land as live: $after")
  }

  test("SQL catalog + MERGE INTO: graft.`root` is nameable and mergeable from SQL") {
    import spark.implicits._
    val base = tmpDir("sqlmerge")
    val p    = mkPipeline(base, mode = "mor")
    p.applyBatch(Seq(
      (1L, "I", "m-a", Some(Seq(1)), Some(1L), "s"),
      (2L, "I", "m-b", Some(Seq(2)), Some(1L), "s"))
      .toDF("lsn", "op", "doc_id", "tokens", "n_tok", "source"), 0L)
    val root = p.table.root

    // the catalog names the table for ANY SQL client (Delta-style
    // path-as-identifier); reads expand to the same resolve plan
    val viaSql = spark.sql(s"SELECT * FROM graft.`$root`")
    assert(viaSql.collect().map(_.toSeq).toSet ==
      p.readTable().collect().map(_.toSeq).toSet)

    // MERGE INTO: delete m-a, update m-b, insert m-c — through the
    // standard MOR merge (ledger, LWW, lineage)
    Seq(
      ("m-a", Seq(0), 1L, "x", "del"),
      ("m-b", Seq(9, 9), 2L, "x", "upd"),
      ("m-c", Seq(3), 1L, "x", "upd"))
      .toDF("doc_id", "tokens", "n_tok", "source", "action")
      .createOrReplaceTempView("merge_src")
    val res = spark.sql(
      s"""MERGE INTO graft.`$root` t USING merge_src s ON t.doc_id = s.doc_id
          WHEN MATCHED AND s.action = 'del' THEN DELETE
          WHEN MATCHED THEN UPDATE SET *
          WHEN NOT MATCHED THEN INSERT *""").collect()
    assert(res.length == 1 && res(0).getLong(0) == p.table.currentVersion.get)

    val st = p.readTable().collect()
      .map(r => r.getAs[String]("doc_id") ->
        (r.getAs[scala.collection.Seq[Int]]("tokens").toSeq,
          r.getAs[String]("source"))).toMap
    assert(st.keySet == Set("m-b", "m-c"), s"got ${st.keySet}")
    assert(st("m-b") == (Seq(9, 9), "x"), "matched row must update")
    assert(st("m-c") == (Seq(3), "x"), "unmatched row must insert")
    // the delete persisted as a tombstone above the watermark
    assert(p.lookup("m-a").isEmpty)

    // ANSI cardinality: duplicate source keys are a typed error
    Seq(("m-z", Seq(1), 1L, "x", "upd"), ("m-z", Seq(2), 1L, "x", "upd"))
      .toDF("doc_id", "tokens", "n_tok", "source", "action")
      .createOrReplaceTempView("merge_dup")
    val eDup = intercept[Exception] {
      spark.sql(
        s"""MERGE INTO graft.`$root` t USING merge_dup s ON t.doc_id = s.doc_id
            WHEN MATCHED THEN UPDATE SET *""").collect()
    }
    assert(eDup.getMessage.contains("cardinality"), eDup.getMessage)

    // target-referencing MATCHED conditions are in dialect (round-4
    // second widening): delete exactly the live rows whose TARGET
    // n_tok exceeds 1 — m-b (updated to n_tok=2 above), not m-c
    spark.sql(
      s"""MERGE INTO graft.`$root` t USING merge_src s ON t.doc_id = s.doc_id
          WHEN MATCHED AND t.n_tok > 1 THEN DELETE""").collect()
    assert(p.readTable().select("doc_id").as[String].collect().toSet == Set("m-c"),
      "only m-b had target n_tok > 1")

    // a null source key would smuggle a null doc_id past validation
    // (ANSI routes it to INSERT) — typed rejection instead
    Seq((null.asInstanceOf[String], Seq(1), 1L, "x", "upd"))
      .toDF("doc_id", "tokens", "n_tok", "source", "action")
      .createOrReplaceTempView("merge_nullkey")
    val eNull = intercept[Exception] {
      spark.sql(
        s"""MERGE INTO graft.`$root` t USING merge_nullkey s ON t.doc_id = s.doc_id
            WHEN NOT MATCHED THEN INSERT *""").collect()
    }
    assert(eNull.getMessage.contains("null join key"), eNull.getMessage)
  }

  test("SQL DELETE FROM and UPDATE route through the MOR commit with typed dialect edges") {
    import spark.implicits._
    val base = tmpDir("sqldml")
    val p    = mkPipeline(base, mode = "mor")
    p.applyBatch(Seq(
      (1L, "I", "d-a", Some(Seq(1)), Some(1L), "keep"),
      (2L, "I", "d-b", Some(Seq(2, 2)), Some(2L), "purge"),
      (3L, "I", "d-c", Some(Seq(3)), Some(1L), "keep"))
      .toDF("lsn", "op", "doc_id", "tokens", "n_tok", "source"), 0L)
    val root = p.table.root

    // UPDATE with a self-referencing assignment and a predicate: only
    // matching live rows rewrite; unassigned columns keep their values
    val up = spark.sql(
      s"""UPDATE graft.`$root` SET n_tok = n_tok + 10, source = concat(source, '!')
          WHERE source = 'keep'""").collect()
    assert(up.length == 1 && up(0).getLong(1) == 2, s"2 rows updated: ${up.toSeq}")
    val afterUp = p.readTable().collect()
      .map(r => r.getAs[String]("doc_id") ->
        (r.getAs[Long]("n_tok"), r.getAs[String]("source"),
          r.getAs[scala.collection.Seq[Int]]("tokens").toSeq)).toMap
    assert(afterUp("d-a") == (11L, "keep!", Seq(1)), s"got ${afterUp("d-a")}")
    assert(afterUp("d-c") == (11L, "keep!", Seq(3)))
    assert(afterUp("d-b") == (2L, "purge", Seq(2, 2)), "non-matching row untouched")

    // DELETE FROM with a payload predicate: tombstones above the
    // watermark, O(matches) — the other rows stay live
    val del = spark.sql(s"DELETE FROM graft.`$root` WHERE source = 'purge'").collect()
    assert(del.length == 1 && del(0).getLong(1) == 1, s"1 row deleted: ${del.toSeq}")
    assert(p.lookup("d-b").isEmpty, "purged row must be tombstoned")
    assert(p.readTable().count() == 2)

    // the commits are ordinary ledgered versions: time travel still
    // reconstructs the pre-DML state
    assert(spark.sql(
      s"SELECT * FROM graft.`$root` VERSION AS OF 1").count() == 3)

    // unconditioned DELETE retracts everything (full purge)
    spark.sql(s"DELETE FROM graft.`$root`").collect()
    assert(p.readTable().count() == 0, "DELETE without WHERE must empty the live view")

    // a zero-match statement reports affected = 0 (the observed
    // counters are null-sums over an empty batch — must not leak -1)
    val del0 = spark.sql(s"DELETE FROM graft.`$root` WHERE doc_id = 'absent'").collect()
    assert(del0(0).getLong(1) == 0, s"zero-match DELETE: ${del0.toSeq}")

    // dialect edges fail typed, never silently wrong
    val eKey = intercept[Exception] {
      spark.sql(s"UPDATE graft.`$root` SET doc_id = 'x'").collect()
    }
    assert(eKey.getMessage.contains("doc_id"), eKey.getMessage)
    val eSub = intercept[Exception] {
      spark.sql(
        s"""DELETE FROM graft.`$root`
            WHERE doc_id IN (SELECT doc_id FROM graft.`$root`)""").collect()
    }
    assert(eSub.getMessage.contains("subquer"), eSub.getMessage)
    // duplicate assignments to one column: ANSI rejects; last-wins
    // would be silently wrong
    val eDup = intercept[Exception] {
      spark.sql(s"UPDATE graft.`$root` SET n_tok = 1, N_TOK = 2").collect()
    }
    assert(eDup.getMessage.contains("duplicate"), eDup.getMessage)
  }

  test("MOR fold ≡ oracle on reads and compaction: ties, replays, tombstones") {
    import graft.operators.MergeOnRead
    import graft.streaming.{CdcPipeline, PipelineConfig}
    import spark.implicits._
    val base = tmpDir("foldoracle")
    val p = new CdcPipeline(spark, PipelineConfig(
      tableRoot = s"$base/table", changeLogDir = "-", checkpointDir = "-",
      errorDir = s"$base/errors", lineageDir = s"$base/lineage",
      numBuckets = 8, mode = "mor", compactThreshold = Double.PositiveInfinity))
    def batch(rows: PipelineSpec.Event*) = rows.toSeq.toDF("lsn", "op", "doc_id", "tokens", "n_tok", "source")
    val b0 = Seq[PipelineSpec.Event](
      (1L, "I", "f-a", Some(Seq(1)), Some(1L), "s"),
      (2L, "I", "f-b", Some(Seq(2)), Some(1L), "s"),
      (3L, "I", "f-c", Some(Seq(3)), Some(1L), "s"))
    val b1 = Seq[PipelineSpec.Event](
      (5L, "U", "f-a", Some(Seq(9)), Some(1L), "s"),
      (6L, "D", "f-b", None, None, "s"))
    // the two documented same-LSN cases: an exact replay (same lsn, same
    // payload — collapses), and a delta tying a BASE row's lsn (base
    // wins: f-c keeps Seq(3))
    val b2 = Seq[PipelineSpec.Event](
      (5L, "U", "f-a", Some(Seq(9)), Some(1L), "s"),
      (3L, "U", "f-c", Some(Seq(4)), Some(1L), "tie"))
    p.applyBatch(batch(b0: _*), 0L)
    MergeOnRead.compact(p.table, "fo-c0") // b0 becomes the base
    p.applyBatch(batch(b1: _*), 1L)
    p.applyBatch(batch(b2: _*), 2L)
    assert(p.table.current.get.deltaFiles.nonEmpty, "reads must fold deltas")
    // OracleFold keeps the LAST of equal-LSN events; fed newest batch
    // first, that is the first-applied one — the strict `lsn > _lsn` rule
    val oracle = OracleFold.fold((b2 ++ b1 ++ b0).map { case (l, o, d, t, n, src) =>
      OracleFold.Ev(l, o, d, t.orNull, n, src) })
    assert(oracle.keySet == Set("f-a", "f-c") && oracle("f-c").tokens == Seq(3))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
      r.getAs[String]("doc_id") -> (OracleFold.Doc(
        r.getAs[scala.collection.Seq[Int]]("tokens"), r.getAs[Long]("n_tok"),
        r.getAs[String]("source"), r.getAs[Long](graft.operators.Merge.LsnCol)),
        Option(r.getAs[Any](graft.operators.Merge.TombCol)).contains(true))
    }.toMap
    def check(what: String): Unit = {
      val got = rows(MergeOnRead.resolve(p.table))
      assert(got.collect { case (d, (doc, false)) => d -> doc } == oracle, what)
      // the winning delete persists as a tombstone at its own LSN
      assert(got.get("f-b").map { case (d, t) => (d.lsn, t) } == Some((6L, true)),
        s"$what: f-b ${got.get("f-b")}")
    }
    check("resolve over base + deltas")
    MergeOnRead.compact(p.table, "fo-c1")
    assert(p.table.current.get.deltaFiles.isEmpty)
    check("after compaction")
  }

  test("foldTouched over >64 dirty buckets matches the oracle: state AND stats") {
    import graft.operators.MergeOnRead
    import graft.streaming.{CdcPipeline, PipelineConfig}
    import spark.implicits._
    def mk(buckets: Int) = new CdcPipeline(spark, PipelineConfig(
      tableRoot = s"${tmpDir(s"ftoracle$buckets")}/table",
      changeLogDir = "-", checkpointDir = "-",
      errorDir = s"${tmpDir(s"ftoracle$buckets-e")}", lineageDir = s"${tmpDir(s"ftoracle$buckets-l")}",
      numBuckets = buckets, mode = "mor",
      compactThreshold = Double.PositiveInfinity))
    // 128 buckets → ~100+ dirty buckets → the fold routes the dirty slice
    // through one bucket-keyed exchange; 8 buckets → bucket-local fold
    // (zero-exchange, plan-gated elsewhere)
    val e0: Seq[PipelineSpec.Event] = (0 until 200).map(i => (i + 1L, "I", s"ft-$i", Some(Seq(i)), Some(1L), "s"))
    // batch B covers every action class: update, delete, delete-noop
    // (absent doc), stale (lsn below the doc's base), and fresh insert
    val e1: Seq[PipelineSpec.Event] = (0 until 50).map(i => (1000L + i, "U", s"ft-$i", Some(Seq(9, i)), Some(2L), "x")) ++
      (50 until 70).map(i => (1100L + i, "D", s"ft-$i", None, None, "s")) ++
      Seq((1300L, "D", "ft-absent", None, None, "s")) ++
      (70 until 80).map(i => (0L - i, "U", s"ft-$i", Some(Seq(1)), Some(1L), "stale")) ++
      (200 until 230).map(i => (1400L + i, "I", s"ft-$i", Some(Seq(i)), Some(1L), "s"))
    def df(es: Seq[PipelineSpec.Event]) = es.toDF("lsn", "op", "doc_id", "tokens", "n_tok", "source")
    val oracle = OracleFold.fold((e0 ++ e1).map { case (l, o, d, t, n, src) =>
      OracleFold.Ev(l, o, d, t.orNull, n, src) })
    def run(p: CdcPipeline): graft.operators.MergeStats = {
      p.applyBatch(df(e0), 0L)
      MergeOnRead.foldTouched(p.table, "ft-f0", -10L)
      p.applyBatch(df(e1), 1L)
      val st = MergeOnRead.foldTouched(p.table, "ft-f1", -11L)
      assert(p.table.current.get.deltaFiles.isEmpty)
      assert(tableState(p) == oracle.map { case (d, doc) => d -> doc.copy(lsn = 0L) },
        s"${p.table.current.get.numBuckets} buckets: state")
      st
    }
    def counts(s: graft.operators.MergeStats) =
      (s.inserted, s.updated, s.deleted, s.deleteNoops, s.staleEvents)
    Seq(128, 8).foreach { b =>
      val st = run(mk(b))
      assert(counts(st) == ((30L, 50L, 20L, 1L, 10L)), s"$b buckets: action mix ${counts(st)}")
    }
  }

  test("MERGE INTO expression assignments update assigned columns, keep the rest") {
    import spark.implicits._
    val base = tmpDir("sqlmergeexpr")
    val p    = mkPipeline(base, mode = "mor")
    p.applyBatch(Seq(
      (1L, "I", "x-a", Some(Seq(1, 2)), Some(2L), "s"),
      (2L, "I", "x-b", Some(Seq(3)), Some(1L), "s"))
      .toDF("lsn", "op", "doc_id", "tokens", "n_tok", "source"), 0L)
    val root = p.table.root
    Seq(("x-a", 40L, "up"), ("x-c", 7L, "up"))
      .toDF("doc_id", "bump", "tag")
      .createOrReplaceTempView("merge_expr_src")
    // expression assignments over SOURCE columns; unassigned columns
    // (tokens) must keep their target values
    spark.sql(
      s"""MERGE INTO graft.`$root` t USING merge_expr_src s ON t.doc_id = s.doc_id
          WHEN MATCHED THEN UPDATE SET n_tok = s.bump + 2, source = upper(s.tag)""").collect()
    val st = p.readTable().collect()
      .map(r => r.getAs[String]("doc_id") ->
        (r.getAs[scala.collection.Seq[Int]]("tokens").toSeq,
          r.getAs[Long]("n_tok"), r.getAs[String]("source"))).toMap
    assert(st("x-a") == (Seq(1, 2), 42L, "UP"),
      s"assigned cols updated, tokens kept: ${st("x-a")}")
    assert(st("x-b") == (Seq(3), 1L, "s"), "unmatched target row untouched")
    assert(!st.contains("x-c"), "no NOT MATCHED action → source-only row dropped")

    // still typed: assignment to the merge key / duplicate assignment
    val eKey = intercept[Exception] { spark.sql(
      s"""MERGE INTO graft.`$root` t USING merge_expr_src s ON t.doc_id = s.doc_id
          WHEN MATCHED THEN UPDATE SET doc_id = s.tag""").collect() }
    assert(eKey.getMessage.contains("merge key"), eKey.getMessage)
    val eDup = intercept[Exception] { spark.sql(
      s"""MERGE INTO graft.`$root` t USING merge_expr_src s ON t.doc_id = s.doc_id
          WHEN MATCHED THEN UPDATE SET n_tok = 1, n_tok = 2""").collect() }
    assert(eDup.getMessage.contains("duplicate"), eDup.getMessage)
  }

  test("MERGE conditions and assignments may reference target columns") {
    import spark.implicits._
    val base = tmpDir("sqlmergetgt")
    val p    = mkPipeline(base, mode = "mor")
    p.applyBatch(Seq(
      (1L, "I", "t-a", Some(Seq(1)), Some(1L), "old"),      // stale: src newer
      (2L, "I", "t-b", Some(Seq(1, 2, 3)), Some(3L), "old"), // fresh: src older
      (3L, "I", "t-c", Some(Seq(9)), Some(1L), "keep"),      // no src match, kept
      (4L, "I", "t-d", Some(Seq(8)), Some(1L), "old"))       // no src match, swept
      .toDF("lsn", "op", "doc_id", "tokens", "n_tok", "source"), 0L)
    val root = p.table.root
    Seq(
      ("t-a", Seq(7), 5L, "ins", 10L),
      ("t-b", Seq(7), 1L, "ins", 20L),
      ("t-e", Seq(7), 4L, "ins", 30L))
      .toDF("doc_id", "tokens", "ver", "source", "delta")
      .withColumn("n_tok", col("ver"))
      .createOrReplaceTempView("merge_tgt_src")
    // the LWW-if-newer upsert: update only when the source version beats
    // the target's n_tok, with the new value computed from BOTH sides;
    // target rows with no source match retract only when stale ('old')
    spark.sql(
      s"""MERGE INTO graft.`$root` t USING merge_tgt_src s ON t.doc_id = s.doc_id
          WHEN MATCHED AND t.n_tok < s.ver THEN UPDATE
            SET n_tok = t.n_tok + s.delta, source = concat('v', s.ver)
          WHEN NOT MATCHED THEN INSERT *
          WHEN NOT MATCHED BY SOURCE AND t.source = 'old' THEN DELETE""")
      .collect()
    val st = p.readTable().collect()
      .map(r => r.getAs[String]("doc_id") ->
        (r.getAs[Long]("n_tok"), r.getAs[String]("source"))).toMap
    assert(st.get("t-a").contains((11L, "v5")),
      s"matched+armed: n_tok = t.n_tok + s.delta = 1+10: ${st.get("t-a")}")
    assert(st.get("t-b").contains((3L, "old")),
      s"matched but condition false (3 < 1): untouched: ${st.get("t-b")}")
    assert(st.get("t-c").contains((1L, "keep")), "NMS condition false: kept")
    assert(!st.contains("t-d"), "NMS condition true: retracted")
    assert(st.get("t-e").contains((4L, "ins")), "unmatched source row inserted")

    // typed edges: NOT MATCHED conditions can't see the (all-null)
    // target; NMS conditions can't see the (absent) source. Spark's
    // analyzer enforces both scopes itself (UNRESOLVED_COLUMN) before
    // graft's rule runs — graft's own message covers any path that
    // slips through resolution; either way the statement fails typed.
    def scopeError(e: Exception, graftMsg: String): Unit = assert(
      e.getMessage.contains(graftMsg) ||
        e.getMessage.contains("cannot be resolved"), e.getMessage)
    val eNm = intercept[Exception] { spark.sql(
      s"""MERGE INTO graft.`$root` t USING merge_tgt_src s ON t.doc_id = s.doc_id
          WHEN NOT MATCHED AND t.n_tok > 0 THEN INSERT *""").collect() }
    scopeError(eNm, "source columns")
    val eNms = intercept[Exception] { spark.sql(
      s"""MERGE INTO graft.`$root` t USING merge_tgt_src s ON t.doc_id = s.doc_id
          WHEN NOT MATCHED BY SOURCE AND s.ver > 0 THEN DELETE""").collect() }
    scopeError(eNms, "target columns")
  }

  test("MERGE NOT MATCHED BY SOURCE: ordered conditional DELETE/UPDATE actions") {
    import spark.implicits._
    val base = tmpDir("sqlmergenms")
    val p    = mkPipeline(base, mode = "mor")
    p.applyBatch(Seq(
      (1L, "I", "n-a", Some(Seq(1)), Some(1L), "old"),              // 1st NMS action: deleted
      (2L, "I", "n-b", Some(Seq(2, 4)), Some(2L), "s"),             // 2nd NMS action: updated
      (3L, "I", "n-c", Some(Seq(3, 3, 3, 3, 3, 3, 3)), Some(7L), "s")) // no NMS action: untouched
      .toDF("lsn", "op", "doc_id", "tokens", "n_tok", "source"), 0L)
    val root = p.table.root
    Seq(("n-z", Seq(9), 1L, "ins"))
      .toDF("doc_id", "tokens", "n_tok", "source")
      .createOrReplaceTempView("merge_nms_src")
    // first armed NMS action wins in declaration order: 'old' rows
    // retract even though they also satisfy the UPDATE's condition;
    // the UPDATE computes from target columns with unassigned columns
    // keeping their values
    spark.sql(
      s"""MERGE INTO graft.`$root` t USING merge_nms_src s ON t.doc_id = s.doc_id
          WHEN NOT MATCHED THEN INSERT *
          WHEN NOT MATCHED BY SOURCE AND t.source = 'old' THEN DELETE
          WHEN NOT MATCHED BY SOURCE AND t.n_tok < 5 THEN UPDATE
            SET source = 'touched', n_tok = t.n_tok * 10""").collect()
    val st = p.readTable().collect()
      .map(r => r.getAs[String]("doc_id") ->
        (r.getAs[scala.collection.Seq[Int]]("tokens").toSeq, r.getAs[Long]("n_tok"),
          r.getAs[String]("source"))).toMap
    assert(!st.contains("n-a"), "first NMS action (DELETE) wins for 'old' rows")
    assert(st.get("n-b").contains((Seq(2, 4), 20L, "touched")),
      s"second NMS action rewrites from target columns: ${st.get("n-b")}")
    assert(st.get("n-c").contains((Seq(3, 3, 3, 3, 3, 3, 3), 7L, "s")),
      "unclaimed row untouched")
    assert(st.get("n-z").contains((Seq(9), 1L, "ins")), "source row inserted")

    // typed: NMS assignment values can't reference the (absent) source
    val eSrc = intercept[Exception] { spark.sql(
      s"""MERGE INTO graft.`$root` t USING merge_nms_src s ON t.doc_id = s.doc_id
          WHEN NOT MATCHED BY SOURCE THEN UPDATE SET n_tok = s.n_tok""").collect() }
    assert(eSrc.getMessage.contains("target columns") ||
      eSrc.getMessage.contains("cannot be resolved"), eSrc.getMessage)
  }

  test("MERGE partial by-name assignment takes expression semantics, not star") {
    import spark.implicits._
    val base = tmpDir("sqlmergepartial")
    val p    = mkPipeline(base, mode = "mor")
    p.applyBatch(Seq((1L, "I", "pb-a", Some(Seq(1, 2)), Some(2L), "keepme"))
      .toDF("lsn", "op", "doc_id", "tokens", "n_tok", "source"), 0L)
    // the source HAS columns shadowing every payload name — a shape-only
    // star classification would copy tokens/source from it (or null
    // them), silently clobbering the unassigned columns
    Seq(("pb-a", Seq(9), 7L, "CLOBBER"))
      .toDF("doc_id", "tokens", "n_tok", "source")
      .createOrReplaceTempView("merge_partial_src")
    spark.sql(
      s"""MERGE INTO graft.`${p.table.root}` t USING merge_partial_src s
          ON t.doc_id = s.doc_id
          WHEN MATCHED THEN UPDATE SET n_tok = s.n_tok""").collect()
    val r = p.readTable().filter(col("doc_id") === "pb-a")
      .select("tokens", "n_tok", "source")
      .as[(Seq[Int], Long, String)].head()
    assert(r == ((Seq(1, 2), 7L, "keepme")),
      s"only n_tok may change; unassigned columns keep target values: $r")
  }

  test("MERGE with ONLY a NOT MATCHED BY SOURCE DELETE is a pure retraction sync") {
    import spark.implicits._
    val base = tmpDir("sqlmergepure")
    val p    = mkPipeline(base, mode = "mor")
    p.applyBatch(Seq(
      (1L, "I", "pr-a", Some(Seq(1)), Some(1L), "s"),
      (2L, "I", "pr-b", Some(Seq(2)), Some(1L), "s"))
      .toDF("lsn", "op", "doc_id", "tokens", "n_tok", "source"), 0L)
    Seq(Tuple1("pr-b")).toDF("doc_id").createOrReplaceTempView("merge_pure_src")
    spark.sql(
      s"""MERGE INTO graft.`${p.table.root}` t USING merge_pure_src s
          ON t.doc_id = s.doc_id
          WHEN NOT MATCHED BY SOURCE THEN DELETE""").collect()
    val live = p.readTable().select("doc_id").as[String].collect().toSet
    assert(live == Set("pr-b"), s"rows absent from source must retract: $live")
  }

  test("MERGE INTO ... NOT MATCHED BY SOURCE DELETE syncs the table to the source") {
    import spark.implicits._
    val base = tmpDir("sqlmergesync")
    val p    = mkPipeline(base, mode = "mor")
    p.applyBatch(Seq(
      (1L, "I", "y-a", Some(Seq(1)), Some(1L), "s"),
      (2L, "I", "y-b", Some(Seq(2)), Some(1L), "s"),
      (3L, "I", "y-c", Some(Seq(3)), Some(1L), "s"))
      .toDF("lsn", "op", "doc_id", "tokens", "n_tok", "source"), 0L)
    val root = p.table.root
    // source = the full desired state: update y-b, insert y-d; y-a/y-c
    // are absent from it and must retract
    Seq(("y-b", Seq(9), 1L, "x"), ("y-d", Seq(4), 1L, "x"))
      .toDF("doc_id", "tokens", "n_tok", "source")
      .createOrReplaceTempView("merge_sync_src")
    spark.sql(
      s"""MERGE INTO graft.`$root` t USING merge_sync_src s ON t.doc_id = s.doc_id
          WHEN MATCHED THEN UPDATE SET *
          WHEN NOT MATCHED THEN INSERT *
          WHEN NOT MATCHED BY SOURCE THEN DELETE""").collect()
    val st = p.readTable().collect()
      .map(r => r.getAs[String]("doc_id") ->
        r.getAs[scala.collection.Seq[Int]]("tokens").toSeq).toMap
    assert(st == Map("y-b" -> Seq(9), "y-d" -> Seq(4)),
      s"table must sync to the source exactly: $st")
    // the retractions are real tombstones (time travel still sees y-a)
    assert(p.lookup("y-a").isEmpty)

    // NMS UPDATE is in dialect (see the ordered-actions test); after the
    // sync every live row IS in the source, so it must claim zero rows
    spark.sql(
      s"""MERGE INTO graft.`$root` t USING merge_sync_src s ON t.doc_id = s.doc_id
          WHEN NOT MATCHED BY SOURCE THEN UPDATE SET source = 'gone'""").collect()
    assert(p.readTable().filter(col("source") === "gone").count() == 0)
    assert(p.readTable().count() == 2, "zero-claim NMS UPDATE must not change state")
  }

  test("stamped-LSN writes fail typed when a concurrent commit reaches the stamp") {
    import graft.operators.{Merge, MergeOnRead}
    import spark.implicits._
    val base = tmpDir("lsnguard")
    val p    = mkPipeline(base, mode = "mor")
    p.applyBatch(Seq((5L, "I", "g-a", Some(Seq(1)), Some(1L), "s"))
      .toDF("lsn", "op", "doc_id", "tokens", "n_tok", "source"), 0L)
    // a writer stamped lsn = w+1 = 6, but "concurrently" another commit
    // advanced the watermark to 6 before it could commit
    p.applyBatch(Seq((6L, "I", "g-b", Some(Seq(2)), Some(1L), "s"))
      .toDF("lsn", "op", "doc_id", "tokens", "n_tok", "source"), 1L)
    val stale = Seq(("g-c", Seq(3), 1L, "s", 6L, "U"))
      .toDF("doc_id", "tokens", "n_tok", "source", "lsn", "op")
    val e = intercept[Merge.CommitConflict] {
      MergeOnRead(p.table, stale, "lsn-stale", batchId = 9L,
        requireWatermarkBelow = Some(6L))
    }
    assert(e.getMessage.contains("watermark"), e.getMessage)
    // with a fresh stamp the same write lands
    val w = p.table.current.get.watermarkLsn
    MergeOnRead(p.table,
      Seq(("g-c", Seq(3), 1L, "s", w + 1, "U"))
        .toDF("doc_id", "tokens", "n_tok", "source", "lsn", "op"),
      "lsn-fresh", batchId = 10L, requireWatermarkBelow = Some(w + 1))
    assert(p.readTable().filter(col("doc_id") === "g-c").count() == 1)
  }

  test("SQL DDL + INSERT: CREATE TABLE and INSERT INTO run end-to-end through the catalog") {
    import spark.implicits._
    val root = s"${tmpDir("sqlddl")}/table"
    spark.sql(
      s"""CREATE TABLE graft.`$root`
          (doc_id STRING, tokens ARRAY<INT>, n_tok BIGINT, source STRING)
          TBLPROPERTIES ('numBuckets' = '8')""")
    val t = graft.table.SnapshotTable.load(spark, root)
    assert(t.currentVersion.contains(0L))
    assert(t.current.get.numBuckets == 8)

    // plain INSERT INTO routes through the LWW upsert commit
    spark.sql(
      s"""INSERT INTO graft.`$root`
          VALUES ('d-a', array(1, 2), 2L, 's'), ('d-b', array(3), 1L, 's')""")
    assert(spark.sql(s"SELECT * FROM graft.`$root`").count() == 2)

    // a second INSERT upserts (LWW) rather than duplicating
    spark.sql(s"INSERT INTO graft.`$root` VALUES ('d-a', array(9), 1L, 'x')")
    val a = spark.sql(s"SELECT tokens, source FROM graft.`$root` WHERE doc_id = 'd-a'")
      .as[(Seq[Int], String)].head()
    assert(a == (Seq(9), "x"), s"insert must LWW-upsert: $a")
    assert(spark.sql(s"SELECT * FROM graft.`$root`").count() == 2)

    // INSERT OVERWRITE = replace-with-history
    spark.sql(s"INSERT OVERWRITE graft.`$root` VALUES ('d-z', array(7), 1L, 'o')")
    assert(spark.sql(s"SELECT doc_id FROM graft.`$root`").as[String].collect().toSeq
      == Seq("d-z"))

    // exactly-once via the session conf commit id: the replayed INSERT
    // is a ledgered no-op
    spark.conf.set("graft.sql.commitId", "sql-once")
    try {
      spark.sql(s"INSERT INTO graft.`$root` VALUES ('d-e', array(1), 1L, 'e')")
      val v = t.currentVersion.get
      spark.sql(s"INSERT INTO graft.`$root` VALUES ('d-e', array(1), 1L, 'e')")
      assert(t.currentVersion.contains(v), "replayed commit id must be a ledger no-op")
    } finally spark.conf.unset("graft.sql.commitId")

    // typed rejections: duplicate create, missing doc_id, reserved name
    intercept[Exception] { spark.sql(
      s"CREATE TABLE graft.`$root` (doc_id STRING) ") }
    val eKey = intercept[Exception] { spark.sql(
      s"CREATE TABLE graft.`${root}2` (id STRING, n INT)") }
    assert(eKey.getMessage.contains("doc_id"), eKey.getMessage)
    val eRes = intercept[Exception] { spark.sql(
      s"CREATE TABLE graft.`${root}3` (doc_id STRING, _lsn BIGINT)") }
    assert(eRes.getMessage.contains("reserved"), eRes.getMessage)
    // lsn/op payload names would make every INSERT look like an explicit
    // change batch to the write path — reserved too
    val eMeta = intercept[Exception] { spark.sql(
      s"CREATE TABLE graft.`${root}5` (doc_id STRING, op STRING, lsn BIGINT)") }
    assert(eMeta.getMessage.contains("reserved"), eMeta.getMessage)
    val ePart = intercept[Exception] { spark.sql(
      s"CREATE TABLE graft.`${root}4` (doc_id STRING, source STRING) PARTITIONED BY (source)") }
    assert(ePart.getMessage.contains("hash-bucketed"), ePart.getMessage)
  }

  test("SQL CTAS, TRUNCATE, and clone-safe DROP TABLE") {
    import spark.implicits._
    val base = tmpDir("sqldrop")
    val src  = s"$base/src"
    // CTAS: the query's schema becomes the payload schema
    Seq(("c-a", Seq(1), 1L, "s"), ("c-b", Seq(2, 3), 2L, "s"))
      .toDF("doc_id", "tokens", "n_tok", "source")
      .createOrReplaceTempView("ctas_src")
    spark.sql(
      s"""CREATE TABLE graft.`$src` TBLPROPERTIES ('numBuckets' = '4')
          AS SELECT * FROM ctas_src""")
    assert(spark.sql(s"SELECT * FROM graft.`$src`").count() == 2)
    val t = graft.table.SnapshotTable.load(spark, src)
    assert(t.current.get.numBuckets == 4)

    // TRUNCATE is an empty-state COMMIT, not a purge: history survives
    val vPre = t.currentVersion.get
    spark.sql(s"TRUNCATE TABLE graft.`$src`")
    assert(spark.sql(s"SELECT * FROM graft.`$src`").count() == 0)
    assert(spark.sql(s"SELECT * FROM graft.`$src` VERSION AS OF $vPre").count() == 2)
    spark.sql(s"INSERT INTO graft.`$src` VALUES ('c-c', array(4), 1L, 's')")

    // a registered clone blocks DROP of its source (shared data files)...
    val clone = s"$base/clone"
    t.shallowClone(clone)
    val eClone = intercept[Exception] { spark.sql(s"DROP TABLE graft.`$src`") }
    assert(eClone.getMessage.contains("clone"), eClone.getMessage)
    assert(t.currentVersion.isDefined, "refused drop must not delete anything")
    assert(spark.sql(s"SELECT * FROM graft.`$clone`").count() == 1)

    // ...dropping the CLONE releases its claim, then the source drops
    spark.sql(s"DROP TABLE graft.`$clone`")
    assert(!new java.io.File(clone).exists, "dropped clone tree must be gone")
    assert(t.registeredClones.isEmpty, "dropping a clone must release its claim")
    spark.sql(s"DROP TABLE graft.`$src`")
    assert(!new java.io.File(src).exists, "dropped table tree must be gone")

    // IF EXISTS on a missing table is a no-op; plain DROP fails typed
    spark.sql(s"DROP TABLE IF EXISTS graft.`$src`")
    intercept[Exception] { spark.sql(s"DROP TABLE graft.`$src`") }
  }

  test("SQL DESCRIBE, SHOW CREATE, partial-column INSERT, CREATE OR REPLACE") {
    import spark.implicits._
    val root = s"${tmpDir("sqlmisc")}/t"
    spark.sql(
      s"""CREATE TABLE graft.`$root`
          (doc_id STRING, tokens ARRAY<INT>, n_tok BIGINT, source STRING)
          TBLPROPERTIES ('numBuckets' = '4')""")
    spark.sql(s"INSERT INTO graft.`$root` VALUES ('p-a', array(1), 1L, 's')")

    // introspection reads the catalog's payload schema
    val desc = spark.sql(s"DESCRIBE TABLE graft.`$root`")
      .select("col_name").as[String].collect().toSet
    assert(Set("doc_id", "tokens", "n_tok", "source").subsetOf(desc), desc)
    assert(spark.sql(s"SHOW CREATE TABLE graft.`$root`")
      .head().getString(0).contains("doc_id"))

    // an INSERT column list null-fills the unnamed payload columns
    spark.sql(s"INSERT INTO graft.`$root` (doc_id, n_tok) VALUES ('p-b', 0L)")
    val b = spark.sql(s"SELECT tokens, n_tok, source FROM graft.`$root` WHERE doc_id = 'p-b'")
      .collect().head
    assert(b.isNullAt(0) && b.getLong(1) == 0L && b.isNullAt(2), b.toString)

    // CREATE OR REPLACE ... AS SELECT = drop + create + insert (the
    // plain-TableCatalog fallback, NON-atomic by contract — a crash
    // between drop and the write loses the table, same as Spark's
    // documented non-staging behavior); new TBLPROPERTIES take effect,
    // and clone-safety still guards the drop half
    Seq(("p-z", Seq(9), 1L, "r")).toDF("doc_id", "tokens", "n_tok", "source")
      .createOrReplaceTempView("replace_src")
    spark.sql(
      s"""CREATE OR REPLACE TABLE graft.`$root`
          TBLPROPERTIES ('numBuckets' = '2') AS SELECT * FROM replace_src""")
    assert(spark.sql(s"SELECT doc_id FROM graft.`$root`").as[String].collect().toSeq
      == Seq("p-z"))
    assert(graft.table.SnapshotTable.load(spark, root).current.get.numBuckets == 2)
  }

  test("SQL ALTER TABLE ADD COLUMN: schema-only commit, null-filled reads, typed edges") {
    import spark.implicits._
    val root = s"${tmpDir("sqlalter")}/table"
    spark.sql(
      s"""CREATE TABLE graft.`$root`
          (doc_id STRING, tokens ARRAY<INT>, n_tok BIGINT, source STRING)
          TBLPROPERTIES ('numBuckets' = '4')""")
    spark.sql(s"INSERT INTO graft.`$root` VALUES ('d-a', array(1), 1L, 's')")
    val t = graft.table.SnapshotTable.load(spark, root)
    val vBefore = t.currentVersion.get

    spark.sql(s"ALTER TABLE graft.`$root` ADD COLUMN tier STRING")
    // a schema-only commit: one version, same files, same row count
    assert(t.currentVersion.contains(vBefore + 1), "ALTER must commit exactly one version")
    assert(t.manifest(vBefore + 1).files == t.manifest(vBefore).files,
      "ALTER must not rewrite data files")
    // …and provably event-free: inheriting the parent's real minEventLsn
    // would demote every changesSince window spanning the ALTER from
    // delta replay to the O(table) snapshotDiff forever
    assert(t.manifest(vBefore + 1).minEventLsn == Long.MaxValue,
      "ALTER commit must record minEventLsn = MaxValue (applied no events)")
    // pre-alter rows read back with the new column null-filled
    val row = spark.sql(s"SELECT doc_id, tier FROM graft.`$root`")
      .as[(String, Option[String])].head()
    assert(row == (("d-a", None)), s"old row must null-fill the added column: $row")
    // the old version still reads under the OLD schema
    assert(!spark.sql(s"SELECT * FROM graft.`$root` VERSION AS OF $vBefore")
      .columns.contains("tier"))

    // a write can now populate it (implicit evolution and explicit DDL
    // land in the same lattice)
    spark.sql(s"INSERT INTO graft.`$root` VALUES ('d-b', array(2), 1L, 's', 'gold')")
    val got = spark.sql(s"SELECT doc_id, tier FROM graft.`$root` ORDER BY doc_id")
      .as[(String, Option[String])].collect().toSeq
    assert(got == Seq(("d-a", None), ("d-b", Some("gold"))), s"got $got")

    // typed edges: existing column, reserved name, non-ADD DDL
    val eDup = intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.`$root` ADD COLUMN tier STRING") }
    assert(eDup.getMessage.contains("already exists"), eDup.getMessage)
    val eRes = intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.`$root` ADD COLUMN _lsn BIGINT") }
    assert(eRes.getMessage.contains("reserved"), eRes.getMessage)
    val eDrop = intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.`$root` DROP COLUMN tier") }
    assert(eDrop.getMessage.contains("ADD COLUMN"), eDrop.getMessage)
    val ePos = intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.`$root` ADD COLUMN lead STRING FIRST") }
    assert(ePos.getMessage.contains("ADD COLUMN"), ePos.getMessage)
  }

  test("SQL ALTER COLUMN TYPE: lossless widening commit, upcast reads, typed edges") {
    import spark.implicits._
    val root = s"${tmpDir("sqlwiden")}/table"
    spark.sql(
      s"""CREATE TABLE graft.`$root`
          (doc_id STRING, tokens ARRAY<INT>, n_tok INT, source STRING)
          TBLPROPERTIES ('numBuckets' = '4')""")
    spark.sql(s"INSERT INTO graft.`$root` VALUES ('d-a', array(1, 2), 2, 's')")
    val t = graft.table.SnapshotTable.load(spark, root)
    val vBefore = t.currentVersion.get

    // the north-star's "widened n_tok" evolution, spelled as DDL
    spark.sql(s"ALTER TABLE graft.`$root` ALTER COLUMN n_tok TYPE BIGINT")
    assert(t.currentVersion.contains(vBefore + 1), "widen must commit exactly one version")
    assert(t.manifest(vBefore + 1).files == t.manifest(vBefore).files,
      "widen must not rewrite data files")
    // pre-widen int32 files read back upcast under the bigint schema
    val head = spark.sql(s"SELECT doc_id, n_tok FROM graft.`$root`")
    assert(head.schema("n_tok").dataType == org.apache.spark.sql.types.LongType)
    assert(head.as[(String, Long)].head() == (("d-a", 2L)))
    // the old version still reads under the original int schema
    assert(spark.sql(s"SELECT * FROM graft.`$root` VERSION AS OF $vBefore")
      .schema("n_tok").dataType == org.apache.spark.sql.types.IntegerType)
    // a write can now exceed int range
    spark.sql(
      s"INSERT INTO graft.`$root` VALUES ('d-b', array(3), ${1L + Int.MaxValue}L, 's')")
    val got = spark.sql(s"SELECT doc_id, n_tok FROM graft.`$root` ORDER BY doc_id")
      .as[(String, Long)].collect().toSeq
    assert(got == Seq(("d-a", 2L), ("d-b", 1L + Int.MaxValue)), s"got $got")

    // typed edges: narrowing, non-widen change, merge key, unknown
    // column. Spark's analyzer pre-rejects non-upcast changes
    // (NOT_SUPPORTED_CHANGE_COLUMN) and unknown fields before the
    // catalog runs; graft's own gate covers whatever reaches it —
    // either way the statement fails typed, never a silent commit.
    def alterError(e: Exception, graftMsg: String): Unit = assert(
      e.getMessage.contains(graftMsg) ||
        e.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN") ||
        e.getMessage.contains("FIELD_NOT_FOUND") ||
        e.getMessage.contains("cannot be resolved"), e.getMessage)
    val eNarrow = intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.`$root` ALTER COLUMN n_tok TYPE INT") }
    alterError(eNarrow, "lossless widening")
    val eKind = intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.`$root` ALTER COLUMN source TYPE INT") }
    alterError(eKind, "lossless widening")
    val eKey = intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.`$root` ALTER COLUMN doc_id TYPE BINARY") }
    alterError(eKey, "merge key")
    val eGone = intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.`$root` ALTER COLUMN ghost TYPE BIGINT") }
    alterError(eGone, "no column")
    // array element widening rides the same lattice (Spark spells it
    // col.element; whole-array is rejected by its own CheckAnalysis)
    spark.sql(s"ALTER TABLE graft.`$root` ALTER COLUMN tokens.element TYPE BIGINT")
    assert(spark.sql(s"SELECT tokens FROM graft.`$root` WHERE doc_id = 'd-a'")
      .as[Seq[Long]].head() == Seq(1L, 2L))
  }

  test("catalog rejects relative / multi-part identifiers instead of resolving CWD-dependently") {
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM graft.data.docs").collect()
    }
    assert(e.getMessage.contains("absolute path"), e.getMessage)
    val e2 = intercept[Exception] {
      spark.sql("SELECT * FROM graft.`relative/path`").collect()
    }
    assert(e2.getMessage.contains("absolute path"), e2.getMessage)
    // and the filesystem root: a table AT '/' would make DROP TABLE a
    // recursive delete of the machine
    val e3 = intercept[Exception] {
      spark.sql("SELECT * FROM graft.`/`").collect()
    }
    assert(e3.getMessage.contains("cannot be a graft table root"), e3.getMessage)
  }

  test("rebucket migrates the hash-bucket count; state, lookups, commits survive") {
    import graft.operators.TableMaintenance
    val base = tmpDir("rebucket")
    val p    = mkPipeline(base, mode = "mor") // created with 8 buckets
    val ev   = CdcGenerator.events(spark, sf0001)
    p.applyBatch(ev.filter(col("lsn") < CdcGenerator.LsnStride), 0L)
    val want = p.readTable().collect().map(_.toSeq).toSet
    val aDoc = p.readTable().select("doc_id").head().getString(0)

    val s = TableMaintenance.rebucket(p.table, 32, "grow-32")
    assert(!s.skipped)
    assert(p.table.current.get.numBuckets == 32)
    assert(p.table.current.get.files.forall(_.bucket < 32))
    assert(p.readTable().collect().map(_.toSeq).toSet == want)
    // point lookup prunes against the NEW count and still finds the doc
    assert(p.lookup(aDoc).count() == 1L)
    // later commits bucket for 32 and fold cleanly
    p.applyBatch(ev.filter(col("lsn") >= CdcGenerator.LsnStride), 1L)
    graft.operators.MergeOnRead.compact(p.table, "fold-after-grow")
    assert(p.table.current.get.numBuckets == 32)
    // rebucket to the same count is a ledgered no-op
    assert(TableMaintenance.rebucket(p.table, 32, "grow-noop").skipped)
  }

  test("shallowClone forks a table; commits on the clone never touch the source") {
    import graft.operators.TableMaintenance
    import graft.table.SnapshotTable
    val base = tmpDir("clone")
    val p    = mkPipeline(base, mode = "mor")
    val ev   = CdcGenerator.events(spark, sf0001)
    p.applyBatch(ev.filter(col("lsn") < CdcGenerator.LsnStride), 0L)
    val srcState = p.readTable().collect().map(_.toSeq).toSet
    val srcFiles = (p.table.current.get.files ++ p.table.current.get.deltaFiles)
      .map(_.path).toSet

    val clone = p.table.shallowClone(tmpDir("clone-dst"))
    // clone starts identical, sharing data files by reference
    assert(SnapshotTable.load(spark, clone.root).currentVersion == p.table.currentVersion)

    // mutate the clone: delete everything, then verify divergence
    TableMaintenance.deleteWhere(clone, col("doc_id").isNotNull, "clone-purge", mode = "mor")
    import graft.operators.{Merge, MergeOnRead}
    val cloneLive = MergeOnRead.resolve(clone)
      .filter(!coalesce(col(Merge.TombCol), lit(false)))
    assert(cloneLive.count() == 0L, "clone should be empty after purge")
    assert(p.readTable().collect().map(_.toSeq).toSet == srcState,
      "source must be untouched by clone commits")
    // the clone's new files live under ITS root; source files untouched
    val cloneNew = (clone.current.get.files ++ clone.current.get.deltaFiles)
      .map(_.path).filterNot(srcFiles.contains)
    assert(cloneNew.nonEmpty && cloneNew.forall(_.startsWith(clone.root)),
      s"clone-written files must be under ${clone.root}")
    // clone vacuum keeps shared source files (they are outside its data dir)
    clone.vacuum(retainVersions = 1)
    assert(p.readTable().collect().map(_.toSeq).toSet == srcState,
      "source must survive clone vacuum")
  }

  test("capped write tasks preserve the one-file-per-bucket layout (W < numBuckets)") {
    // the test session has 4 shuffle partitions → route width W = 4,
    // so a 64-bucket table routes sixteen-bucket residue classes
    // through each slot (and AQE may coalesce slots further) — the
    // layout contract (one file per non-empty bucket, correct bucket
    // ids, pruned lookups) must be indistinguishable from the
    // one-task-per-bucket regime
    import graft.operators.MergeOnRead
    val base = tmpDir("cap")
    val p = new CdcPipeline(spark, PipelineConfig(
      tableRoot = s"$base/table", changeLogDir = s"$base/changelog",
      checkpointDir = s"$base/checkpoint", errorDir = s"$base/errors",
      lineageDir = s"$base/lineage", numBuckets = 64, mode = "cow"))
    val ev = CdcGenerator.events(spark, sf0001)
    p.applyBatch(ev, 0L)
    val m = p.table.current.get
    assert(m.numBuckets == 64)
    // one file per non-empty bucket; every row in a file hashes to it
    val byBucket = m.files.groupBy(_.bucket)
    assert(byBucket.forall(_._2.size == 1), "multiple files for one bucket")
    assert(m.files.map(_.bucket).forall(b => b >= 0 && b < 64))
    byBucket.keySet.take(3).foreach { b =>
      val rows = p.table.readFiles(byBucket(b), m.schema)
        .select(MergeOnRead.bucketOf(col("doc_id"), 64).as("h")).distinct()
        .collect().map(_.getInt(0)).toSet
      assert(rows == Set(b), s"file for bucket $b holds rows of $rows")
    }
    // pruned point lookup and full state both correct
    val aDoc = p.readTable().select("doc_id").head().getString(0)
    assert(p.lookup(aDoc).count() == 1L)
    assert(p.readTable().count() == p.readTable().select("doc_id").distinct().count())
  }

  test("orphan delete is a counted no-op, not an error (G3)") {
    import spark.implicits._
    val base = tmpDir("orphan")
    val p    = mkPipeline(base)
    val raw = Seq(
      (1L, "I", "a", Some(Seq(1, 2)), Some(2L), "s"),
      (2L, "D", "ghost", None: Option[Seq[Int]], None: Option[Long], "s"))
      .toDF("lsn", "op", "doc_id", "tokens", "n_tok", "source")
    val s = p.applyBatch(raw, 0L)
    assert(s.deleteNoops == 1L)
    assert(s.inserted == 1L)
    assert(p.readTable().count() == 1L)
  }

  test("batch missing a required column is rejected whole (E3)") {
    import spark.implicits._
    val base = tmpDir("reject")
    val p    = mkPipeline(base)
    // no `tokens` column at all
    val raw = Seq((1L, "I", "a", 2L, "s")).toDF("lsn", "op", "doc_id", "n_tok", "source")
    val s   = p.applyBatch(raw, 0L)
    assert(s.schemaChanges.exists(_.startsWith("batch_rejected")))
    assert(p.readTable().count() == 0L)
    val errs = p.readErrors()
    assert(errs.filter(col("reason").contains("tokens")).count() == 1L)
    // and the reject is ledgered: re-delivery is a no-op
    assert(p.applyBatch(raw, 0L).skipped)
  }

  test("typed view + bucket-pruned point lookup agree with the oracle") {
    import graft.operators.MergeOnRead
    val base = tmpDir("lookup")
    val p    = mkPipeline(base, mode = "mor")
    CdcGenerator.writeBatches(spark, sf0001, s"$base/changelog", batches = 3)
    p.runAvailableNow(maxFilesPerTrigger = Some(4))
    val oracle = OracleFold.fold(collectEvents(sf0001))

    // driver-side bucket twin must match Spark's xxhash64 bucketing
    import spark.implicits._
    val n = p.table.current.get.numBuckets
    val sparkBuckets = Seq("doc1", "doc42", "doc137").toDF("doc_id")
      .select(col("doc_id"), MergeOnRead.bucketOf(col("doc_id"), n).as("b"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    sparkBuckets.foreach { case (id, b) =>
      assert(MergeOnRead.bucketOfValue(id, n) == b, s"bucket twin drift for $id")
    }

    // point lookups: a live doc, and a deleted doc (tombstoned)
    val live = oracle.keys.head
    val row  = p.lookup(live).collect()
    assert(row.length == 1 && row(0).getAs[String]("doc_id") == live)
    assert(row(0).getAs[scala.collection.Seq[Int]]("tokens") == oracle(live).tokens)
    val deleted = collectEvents(sf0001).filter(e => e.op == "D" && e.docId != null)
      .map(_.docId).headOption
    deleted.foreach(d => assert(p.lookup(d).isEmpty, s"deleted $d visible via lookup"))

    // typed Dataset view round-trips the contract shape
    val typed = p.readTyped().collect().map(t => t.doc_id -> t).toMap
    assert(typed.size == oracle.size)
    assert(typed(live).tokens.toSeq == oracle(live).tokens)
    assert(typed(live).n_tok == oracle(live).nTok.toInt)
  }

  test("vacuum reclaims superseded files; state, ledger, exactly-once survive") {
    val base = tmpDir("vacuum")
    val p    = mkPipeline(base)
    CdcGenerator.writeBatches(spark, sf0001, s"$base/changelog", batches = 3)
    // cap files/trigger so AvailableNow yields MULTIPLE commits — one big
    // micro-batch would leave only genesis as the "old" version
    val stats = p.runAvailableNow(maxFilesPerTrigger = Some(4))
    assert(stats.size > 1)
    val before = tableState(p)
    val (deleted, kept) = p.table.vacuum(retainVersions = 1)
    assert(deleted > 0, "3 COW commits must leave superseded files to reclaim")
    assert(kept > 0)
    // current state fully readable after vacuum
    assertStateMatches(tableState(p), before)
    // ledger (manifest chain) intact → redelivery still a no-op
    val raw = spark.read.parquet(s"$base/changelog/batch-00000")
    assert(p.applyBatch(raw, 0L).skipped)
    // vacuumed old version's data is gone (time travel 404s by design);
    // probe the earliest version that referenced base data files (under
    // the fold architecture, odd versions are file-less delta commits)
    val oldV = p.table.versions
      .find(v => p.table.manifest(v).files.nonEmpty && v < p.table.currentVersion.get)
      .get
    intercept[Exception] {
      p.table.read(Some(oldV)).collect()
    }
    ()
  }

  test("rollback to a vacuum-expired version fails typed before committing an unreadable head") {
    import graft.operators.TableMaintenance
    import graft.table.VacuumedVersionException
    val base = tmpDir("vac-rollback")
    val p    = mkPipeline(base)
    CdcGenerator.writeBatches(spark, sf0001, s"$base/changelog", batches = 3)
    p.runAvailableNow(maxFilesPerTrigger = Some(4))
    val before = tableState(p)
    p.table.vacuum(retainVersions = 1)
    val headV = p.table.currentVersion.get
    // earliest version whose file set vacuum actually broke
    val expired = p.table.versions.find { v =>
      v < headV && p.table.manifest(v).files.exists(f =>
        !java.nio.file.Files.exists(java.nio.file.Paths.get(f.path)))
    }.getOrElse(fail("vacuum left every old version readable — fixture broke"))
    // the O(1) manifest copy would "succeed" and wedge every later read;
    // the readability guard must fail it typed with nothing committed
    val e = intercept[VacuumedVersionException] {
      TableMaintenance.rollbackTo(p.table, expired)
    }
    assert(e.version == expired)
    assert(p.table.currentVersion.get == headV, "failed rollback must commit nothing")
    assertStateMatches(tableState(p), before)
    // the retained head is still a valid (skip) target — the guard
    // rejects only genuinely unreadable states
    assert(TableMaintenance.rollbackTo(p.table, headV).skipped)
  }

  test("vacuum honors clone claims; vacuumed windows fail with a typed error") {
    import graft.operators.MergeOnRead
    import graft.table.VacuumedVersionException
    import spark.implicits._
    val base = tmpDir("vac-claims")
    val p    = mkPipeline(base, mode = "mor")
    def batch(lsn: Long, id: String) =
      Seq((lsn, "I", id, Some(Seq(1)), Some(1L), "s"))
        .toDF("lsn", "op", "doc_id", "tokens", "n_tok", "source")
    p.applyBatch(batch(1, "a"), 0L)
    val v1 = p.table.currentVersion.get
    p.applyBatch(batch(2, "b"), 1L)
    val v2 = p.table.currentVersion.get
    // fork at v2 (registers a claim), then advance + compact so the
    // pre-compact files become reclaimable
    val clone = p.table.shallowClone(s"$base/clone")
    p.applyBatch(batch(3, "c"), 2L)
    MergeOnRead.compact(p.table, "vac-compact")

    // the claim keeps the fork version's files: the clone reads on
    assert(p.table.registeredClones.map(_._2) == Seq(v2))
    p.table.vacuum(1)
    assert(MergeOnRead.liveView(clone).count() == 2, "clone must survive source vacuum")

    // release the claim → the next vacuum reclaims
    assert(p.table.releaseClone(s"$base/clone"))
    val (deleted, _) = p.table.vacuum(1)
    assert(deleted > 0, "released files must be reclaimed")

    // time travel to the vacuumed version: typed, names the version
    val e = intercept[VacuumedVersionException] { p.readTableAt(v2).collect() }
    assert(e.version == v2)
    // changelog window whose delta files were vacuumed: typed too
    val e2 = intercept[VacuumedVersionException] {
      MergeOnRead.changesSince(p.table, v1, Some(v2)).collect()
    }
    assert(e2.version == v2)
    // the current view is untouched
    assert(p.readTable().count() == 3)
  }

  test("followChanges tails the table changelog incrementally") {
    import graft.operators.MergeOnRead
    import spark.implicits._
    val base = tmpDir("follow")
    val p    = mkPipeline(base, mode = "mor")
    def batch(rows: (Long, String, String, Option[Seq[Int]], Option[Long], String)*) =
      rows.toSeq.toDF("lsn", "op", "doc_id", "tokens", "n_tok", "source")
    p.applyBatch(batch((1L, "I", "f-a", Some(Seq(1)), Some(1L), "s")), 0L)
    val v1 = p.table.currentVersion.get
    p.applyBatch(batch((2L, "I", "f-b", Some(Seq(2)), Some(1L), "s")), 1L)

    var polls = List.empty[(Long, Long, Set[String])]
    var injected = false
    val last = MergeOnRead.followChanges(p.table, v1, pollMs = 10L) { (df, from, to) =>
      polls ::= ((from, to, df.select("doc_id").as[String].collect().toSet))
      if (!injected) {
        injected = true
        // a commit landing WHILE following must surface on the next poll
        p.applyBatch(batch((3L, "I", "f-c", Some(Seq(3)), Some(1L), "s")), 2L)
        true
      } else false
    }
    val seen = polls.reverse
    assert(seen.size == 2, s"expected two incremental polls: $seen")
    assert(seen.head._3 == Set("f-b"), s"first range must carry only f-b: $seen")
    assert(seen(1)._3 == Set("f-c"), s"second range must carry only f-c: $seen")
    assert(seen(1)._1 == seen.head._2, "ranges must chain without gap")
    assert(last == p.table.currentVersion.get)

    // drain-then-exit shape: no new commits → returns after idle polls
    val drained = MergeOnRead.followChanges(
      p.table, last, pollMs = 5L, maxIdlePolls = 2)((_, _, _) => true)
    assert(drained == last)
  }

  test("vacuum time floor retains every version inside the window") {
    import spark.implicits._
    val base = tmpDir("vacts")
    val p    = mkPipeline(base, mode = "mor")
    def batch(lsn: Long, id: String) =
      Seq((lsn, "I", id, Some(Seq(1)), Some(1L), "s"))
        .toDF("lsn", "op", "doc_id", "tokens", "n_tok", "source")
    p.applyBatch(batch(1, "t-a"), 0L)
    val v1 = p.table.currentVersion.get
    p.applyBatch(batch(2, "t-b"), 1L)
    graft.operators.MergeOnRead.compact(p.table, "vacts-compact")
    assert(p.table.manifest(v1).commitTs > 0, "commits must carry a timestamp")

    // a one-hour floor keeps every just-committed version readable
    // (deleted counts only _SUCCESS markers and other non-referenced
    // artifacts — the orphan sweep is unchanged)
    p.table.vacuum(1, retainMillis = 3600L * 1000)
    p.table.versions.foreach(v => p.table.verifyReadable(p.table.manifest(v)))
    assert(p.readTableAt(v1).count() == 1)

    // dropping the floor reclaims as before
    val (d1, _) = p.table.vacuum(1)
    assert(d1 > 0)
    intercept[graft.table.VacuumedVersionException] { p.readTableAt(v1).collect() }
    ()
  }

  test("salt decision is an exact threshold probe, immune to inflated plan estimates") {
    val p = new CdcPipeline(spark, PipelineConfig(
      tableRoot = s"${tmpDir("saltprobe")}/table",
      changeLogDir = "-", checkpointDir = "-", errorDir = "-", lineageDir = "-",
      saltThreshold = 100L))
    // a filter keeps its child's sizeInBytes: the old sizeInBytes/256
    // estimator sees ~5M rows here, the probe sees the actual 10
    val trickle = spark.range(5000000L).filter(col("id") < 10).toDF()
    assert(trickle.queryExecution.optimizedPlan.stats.sizeInBytes.longValue / 256L > 100L,
      "fixture must actually have an inflated plan estimate")
    assert(!p.shouldSalt(trickle), "inflated-estimate trickle batch must not salt")
    assert(p.shouldSalt(spark.range(500L).toDF()), "above-threshold batch must salt")
    // the DEFAULT config keeps salting off entirely (skewStudy: max_by
    // partial-combines map-side, so the salted path's second shuffle is
    // pure overhead in every measured key distribution) — salt = 1 means
    // applyBatch short-circuits before even running the probe
    assert(PipelineConfig("-", "-", "-", "-", "-").salt == 1,
      "default config must not salt (measured: skewStudy)")
  }

  test("mode=auto picks COW for bulk and MOR for trickle; final state ≡ both fixed modes") {
    import spark.implicits._
    def batch(rows: Seq[(Long, String, String, Option[Seq[Int]], Option[Long], String)]) =
      rows.toDF("lsn", "op", "doc_id", "tokens", "n_tok", "source")
    // seed (bulk by definition on the empty table) → trickle (2 events
    // against 200 live rows, far under the 0.5 crossover) → bulk update
    // (150 events ≥ ceil(0.5 × 202) = 101)
    val batches = Seq(
      (1 to 200).map(i => (i.toLong, "I", s"am-$i", Some(Seq(i)), Some(1L), "s")),
      Seq((201L, "U", "am-1", Some(Seq(9)), Some(1L), "s"),
          (202L, "D", "am-2", Option.empty[Seq[Int]], Option.empty[Long], "s")),
      (1 to 150).map(i => (202L + i, "U", s"am-$i", Some(Seq(i, i)), Some(2L), "s")))
    def run(mode: String): (CdcPipeline, Seq[Long]) = {
      val p = mkPipeline(tmpDir(s"automode-$mode"), mode = mode)
      (p, batches.zipWithIndex.map { case (b, i) => p.applyBatch(batch(b), i.toLong).version })
    }
    val (auto, versions) = run("auto")
    // which write shape each commit took is visible in its manifest:
    // a MOR commit ADDS delta files; a COW commit never does (and a COW
    // apply over pending deltas folds them away in the same commit)
    def morShaped(v: Long): Boolean = {
      val m = auto.table.manifest(v)
      m.deltaFiles.map(_.path).toSet
        .diff(auto.table.manifest(m.parent).deltaFiles.map(_.path).toSet).nonEmpty
    }
    assert(!morShaped(versions(0)), "empty-table seed batch must pick COW (bulk load)")
    assert(morShaped(versions(1)), "trickle batch against a 200-row table must pick MOR")
    assert(!morShaped(versions(2)), "bulk update above the crossover must pick COW")
    // the pick changes only the write shape, never the state
    val (cow, _) = run("cow")
    val (mor, _) = run("mor")
    val want = tableState(cow)
    assertStateMatches(tableState(auto), want)
    assertStateMatches(tableState(mor), want)
  }

  test("vacuum between writeDataFiles and commit leaves the in-flight commit intact") {
    import spark.implicits._
    val base = tmpDir("vacrace")
    val p    = mkPipeline(base, mode = "mor")
    def batch(lsn: Long, id: String) =
      Seq((lsn, "I", id, Some(Seq(1)), Some(1L), "s"))
        .toDF("lsn", "op", "doc_id", "tokens", "n_tok", "source")
    p.applyBatch(batch(1, "vr-a"), 0L)
    val cur = p.table.current.get

    // the race window: a second writer has staged its data files but not
    // yet committed its manifest; scheduled maintenance runs vacuum NOW
    val staged = p.table.writeDataFiles(
      Seq(("vr-b", Seq(2), 1L, "s", 2L))
        .toDF("doc_id", "tokens", "n_tok", "source", "_lsn")
        .withColumn("_bucket", pmod(xxhash64(col("doc_id")), lit(8)).cast("int")),
      commitId = "vacrace-inflight")
    assert(staged.nonEmpty)
    p.table.vacuum(retainVersions = 1)
    staged.foreach(f => assert(
      java.nio.file.Files.exists(java.nio.file.Paths.get(f.path)),
      s"vacuum must not sweep in-flight staged file ${f.path}"))

    // the writer's commit lands and is fully readable
    p.table.commit(cur.copy(
      version = cur.version + 1, parent = cur.version,
      commitId = "vacrace-inflight", batchId = 99L,
      watermarkLsn = 2L, rowCount = cur.rowCount + 1,
      files = cur.files ++ staged, minEventLsn = 2L))
    p.table.verifyReadable(p.table.current.get)
    assert(p.readTable().filter(col("doc_id") === "vr-b").count() == 1)

    // a TRUE crashed-write orphan (referenced by nothing, aged past the
    // grace window) is still reclaimed
    val orphan = java.nio.file.Paths.get(base, "table", "data", "c-crashed", "junk.parquet")
    java.nio.file.Files.createDirectories(orphan.getParent)
    java.nio.file.Files.write(orphan, Array[Byte](1, 2, 3))
    java.nio.file.Files.setLastModifiedTime(orphan,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 2L * 3600 * 1000))
    val (deleted, _) = p.table.vacuum(retainVersions = 1)
    assert(deleted >= 1)
    assert(!java.nio.file.Files.exists(orphan), "aged orphan must be swept")
    // and a YOUNG unreferenced file (possible in-flight write) survives
    val young = orphan.getParent.resolve("young.parquet")
    java.nio.file.Files.createDirectories(young.getParent)
    java.nio.file.Files.write(young, Array[Byte](1))
    p.table.vacuum(retainVersions = 1)
    assert(java.nio.file.Files.exists(young), "young unreferenced file must survive the grace window")
  }

  test("snapshot isolation: a pinned version reads identically across later commits") {
    import spark.implicits._
    val p = mkPipeline(tmpDir("iso"))
    p.applyBatch(
      Seq((1L, "I", "a", Seq(1, 2), 2L, "s"), (2L, "I", "b", Seq(3), 1L, "s"))
        .toDF("lsn", "op", "doc_id", "tokens", "n_tok", "source"), 0L)
    val v1 = p.table.currentVersion.get
    val before = p.table.read(Some(v1)).orderBy("doc_id").collect().toSeq
    // later commits mutate the live table…
    p.applyBatch(
      Seq(
        (10L, "U", "a", Some(Seq(9, 9)), Some(2L), "s"),
        (11L, "D", "b", None: Option[Seq[Int]], None: Option[Long], "s"))
        .toDF("lsn", "op", "doc_id", "tokens", "n_tok", "source"), 1L)
    // …but the pinned version is byte-stable (immutable files + manifest)
    assert(p.table.read(Some(v1)).orderBy("doc_id").collect().toSeq == before)
    assert(p.readTable().count() == 1L)
  }

  test("MOR auto-compaction folds deltas once they outgrow the threshold") {
    import graft.operators.MergeOnRead
    val base = tmpDir("autocompact")
    val p    = mkPipeline(base, mode = "mor")
    CdcGenerator.writeBatches(spark, sf0001, s"$base/changelog", batches = 4)
    p.runAvailableNow(maxFilesPerTrigger = Some(4))
    val m = p.table.current.get
    // default threshold 0.5 on (base+deltas): the pipeline must have
    // compacted at least once, and deltas cannot exceed the ratio
    assert(p.table.versions.map(p.table.manifest(_).commitId)
      .exists(_.startsWith("compact-")), "no auto-compaction commit found")
    assert(m.deltaRows <= ((m.rowCount + m.deltaRows) * 0.5).toLong + 1,
      s"deltas above threshold: ${m.deltaRows} vs base ${m.rowCount}")
    // resolved state unaffected by when compaction ran
    val events = collectEvents(sf0001)
    assertStateMatches(tableState(p), OracleFold.fold(events))
    // a manual compact afterwards is a cheap no-op or a fold — never corruption
    MergeOnRead.compact(p.table, "manual-final")
    assertStateMatches(tableState(p), OracleFold.fold(events))
  }

  test("non-widenable schema conflict quarantines the batch, never kills the stream") {
    import spark.implicits._
    val p = mkPipeline(tmpDir("conflict"))
    // batch 0 introduces extra column upstream:int
    p.applyBatch(
      Seq((1L, "I", "a", Seq(1), 1L, "s", 7))
        .toDF("lsn", "op", "doc_id", "tokens", "n_tok", "source", "upstream"), 0L)
    // batch 1 re-sends upstream as STRING — non-widenable conflict
    val s1 = p.applyBatch(
      Seq((2L, "I", "b", Seq(2), 1L, "s", "oops"))
        .toDF("lsn", "op", "doc_id", "tokens", "n_tok", "source", "upstream"), 1L)
    assert(s1.schemaChanges.exists(_.contains("schema_incompatible")), s1.schemaChanges)
    // quarantined + ledgered, table state intact, next good batch applies
    assert(p.applyBatch(
      Seq((2L, "I", "b", Seq(2), 1L, "s", "oops"))
        .toDF("lsn", "op", "doc_id", "tokens", "n_tok", "source", "upstream"), 1L).skipped)
    val s2 = p.applyBatch(
      Seq((3L, "I", "c", Seq(3), 1L, "s", 8))
        .toDF("lsn", "op", "doc_id", "tokens", "n_tok", "source", "upstream"), 2L)
    assert(s2.inserted == 1)
    assert(p.readTable().select("doc_id").collect().map(_.getString(0)).toSet == Set("a", "c"))

    // a rejected batch that ALSO carried per-row validation failures
    // keeps BOTH quarantine records: the row-level errors (c-<id>) and
    // the whole-batch sample (c-<id>.reject) — round-2 parity, pinned
    // after the round-3 review caught the staged rows being swept
    val s3 = p.applyBatch(
      Seq(
        (10L, "I", null.asInstanceOf[String], Seq(1), 1L, "s", "bad"),
        (11L, "I", "d", Seq(1), 1L, "s", "bad"))
        .toDF("lsn", "op", "doc_id", "tokens", "n_tok", "source", "upstream"), 3L)
    assert(s3.schemaChanges.exists(_.contains("schema_incompatible")))
    val errs = p.readErrors()
    assert(errs.filter(col("commit_id") === "b3" && col("reason") === "null_doc_id")
      .count() == 1, "row-level validation errors of a rejected batch must survive")
    assert(errs.filter(col("reason").startsWith("batch_rejected")).count() >= 1)
  }

  test("schema evolution: added column then widened n_tok (E2)") {
    import spark.implicits._
    val base = tmpDir("evolve")
    val p    = mkPipeline(base)
    // v1 batch lacks `source` entirely → defaults to "unknown"
    val v1 = Seq((1L, "I", "a", Seq(1, 2, 3), 3))
      .toDF("lsn", "op", "doc_id", "tokens", "n_tok")
    p.applyBatch(v1, 0L)
    // v2 batch has source and an extra lineage column → additive evolution
    val v2 = Seq((10L, "U", "a", Seq(9), 1L, "s2", "up1"))
      .toDF("lsn", "op", "doc_id", "tokens", "n_tok", "source", "upstream")
    val s2 = p.applyBatch(v2, 1L)
    assert(s2.schemaChanges.exists(_.contains("upstream")))
    val row = p.readTable().collect().head
    assert(row.getAs[String]("source") == "s2")
    assert(row.getAs[String]("upstream") == "up1")
    assert(row.getAs[scala.collection.Seq[Int]]("tokens") == Seq(9))
  }

  test("bootstrap + tail ≡ full replay (snapshot + binlog pattern)") {
    import spark.implicits._
    val w  = CdcGenerator.LsnStride // boundary: r=0 events sit below it
    val ev = CdcGenerator.events(spark, sf0001)

    // reference side: full replay of the entire log
    val oracle = OracleFold.fold(collectEvents(sf0001))

    // bootstrap side: the upstream state at the boundary (LWW fold of the
    // below-boundary events — here all r=0 inserts) as a payload-shaped
    // snapshot, then ONLY the above-boundary events through the stream path
    val base = tmpDir("boot")
    val p    = mkPipeline(base, mode = "mor")
    val snap = ev.filter(col("lsn") < w)
      .select(col("doc_id"), col("tokens"), col("n_tok"), col("source"))
    val s = p.bootstrap(snap, asOfLsn = w - 1)
    assert(!s.skipped && s.inserted > 0 && s.rowsAfter == s.inserted)
    assert(p.table.current.get.watermarkLsn == w - 1)
    // invalid snapshot rows (null doc_id, n_tok off-by-one) quarantined
    assert(p.readErrors().filter(col("commit_id") === "bootstrap").count() > 0)

    p.applyBatch(ev.filter(col("lsn") >= w), batchId = 1L)
    assertStateMatches(tableState(p), oracle)

    // exactly-once: a replayed bootstrap is a ledger no-op
    assert(p.bootstrap(snap, asOfLsn = w - 1).skipped)

    // typed edges: non-empty table, event-shaped snapshot
    intercept[graft.operators.Bootstrap.NonEmptyTable] {
      p.bootstrap(snap, asOfLsn = w - 1, commitId = "again")
    }
    val base2 = tmpDir("boot2")
    val p2    = mkPipeline(base2)
    intercept[IllegalArgumentException] {
      p2.bootstrap(ev.limit(1), asOfLsn = 0L) // carries lsn/op
    }

    // duplicate handling: identical copies collapse; conflicting copies
    // all quarantine as ambiguous_doc_id and neither lands in the table
    val dup = Seq(
      ("a", Seq(1, 2), 2L, "s"),
      ("a", Seq(1, 2), 2L, "s"),  // identical → collapses
      ("b", Seq(3), 1L, "s"),
      ("b", Seq(4), 1L, "s"))     // conflicting → quarantined
      .toDF("doc_id", "tokens", "n_tok", "source")
    val s2 = p2.bootstrap(dup, asOfLsn = 0L)
    assert(s2.inserted == 1)
    assert(p2.readTable().select("doc_id").as[String].collect().toSeq == Seq("a"))
    assert(p2.readErrors().filter(col("reason") === "ambiguous_doc_id").count() == 2)
  }

  test("replayErrors re-ingests corrected quarantine rows and resolves them exactly-once") {
    import graft.operators.Conform
    val base = tmpDir("replay")
    val p    = mkPipeline(base, mode = "mor")
    CdcGenerator.writeBatches(spark, sf0001, s"$base/changelog", batches = 2)
    p.runAvailableNow()

    val events = collectEvents(sf0001)
    val bad    = OracleFold.invalid(events)
    assert(bad.nonEmpty, "fixture must generate quarantined events")
    assert(p.readResolutions().count() == 0)
    assert(p.outstandingErrors().count() == bad.size)

    // corrections: parse the quarantined raw back to event shape, restore
    // the doc_id from the lsn (r=0 events have lsn == id) and recompute
    // n_tok — EXCEPT one lsn left broken to prove partial resolution
    val leftBroken = bad.head.lsn
    val corrected = p.readErrors().filter(col("lsn") >= 0)
      .select(from_json(col("raw"), Conform.EventSchema).as("e")).select("e.*")
      .withColumn("doc_id",
        coalesce(col("doc_id"), concat(lit("doc"), col("lsn"))))
      .withColumn("n_tok",
        when(col("lsn") === leftBroken, col("n_tok"))
          .otherwise(size(col("tokens")).cast("long")))
    val s = p.replayErrors(corrected, "fix1")
    assert(!s.skipped)

    // state: equivalent to replaying the log with those events corrected
    val fixedEvents = events.map { e =>
      if (e.lsn == leftBroken || OracleFold.valid(e)) e
      else e.copy(
        docId = if (e.docId == null) s"doc${e.lsn}" else e.docId,
        nTok = Some(e.tokens.length.toLong))
    }
    assertStateMatches(tableState(p), OracleFold.fold(fixedEvents))

    // resolution bookkeeping: everything but the still-broken lsn resolved
    val resolved = p.readResolutions().select("lsn").as[Long](org.apache.spark.sql.Encoders.scalaLong)
      .collect().toSet
    assert(resolved == bad.map(_.lsn).toSet - leftBroken)
    // the still-broken row re-quarantined under the replay commit AND outstanding
    assert(p.readErrors()
      .filter(col("commit_id") === "replay-fix1" && col("lsn") === leftBroken).count() == 1)
    val outstanding = p.outstandingErrors().select("lsn")
      .as[Long](org.apache.spark.sql.Encoders.scalaLong).collect().toSet
    assert(outstanding == Set(leftBroken))

    // exactly-once: the same replayId is a ledger no-op, resolutions stable
    assert(p.replayErrors(corrected, "fix1").skipped)
    assert(p.readResolutions().count() == resolved.size)
  }

  test("bootstrap evolves the schema additively; a later narrower stream batch null-fills") {
    import spark.implicits._
    val base = tmpDir("bootevo")
    val p    = mkPipeline(base, mode = "mor")
    // snapshot carries an EXTRA column the created table lacks: the
    // bootstrap commit must evolve the target additively, exactly like a
    // merge batch would
    val snap = Seq(
      ("e-a", Seq(1, 2), 2L, "s", "feedX"),
      ("e-b", Seq(3), 1L, "s", "feedY"))
      .toDF("doc_id", "tokens", "n_tok", "source", "feed")
    val s = p.bootstrap(snap, asOfLsn = 5L)
    assert(s.schemaChanges.exists(_.contains("feed")), s.schemaChanges.toString)
    // a later stream batch WITHOUT the column: existing rows keep their
    // values, the updated row's missing column null-fills
    p.applyBatch(Seq((6L, "U", "e-b", Some(Seq(9)), Some(1L), "s"))
      .toDF("lsn", "op", "doc_id", "tokens", "n_tok", "source"), 0L)
    val rows = p.readTable().select("doc_id", "feed").collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(rows == Map("e-a" -> Some("feedX"), "e-b" -> None), rows.toString)
  }

  test("resolution identity is (lsn, doc_id): shared-lsn bootstrap errors resolve independently") {
    import spark.implicits._
    val base = tmpDir("bootres")
    val p    = mkPipeline(base, mode = "mor")
    // bootstrap quarantine rows ALL share the floor lsn (10): conflicting
    // 'b' (2 variants), invalid 'c' (n_tok off), and a null-doc row —
    // an lsn-keyed resolution would resolve all four together
    val snap = Seq(
      ("a", Seq(1, 2), 2L, "s"),
      ("b", Seq(3), 1L, "s"),
      ("b", Seq(4), 1L, "s"),
      ("c", Seq(5, 6), 99L, "s"),
      (null.asInstanceOf[String], Seq(7), 1L, "s"))
      .toDF("doc_id", "tokens", "n_tok", "source")
    p.bootstrap(snap, asOfLsn = 10L)
    assert(p.outstandingErrors().count() == 4)

    // fix ONLY 'b' (authoritative variant [3]): both 'b' quarantine rows
    // resolve (the ambiguity got its answer); 'c' and the null-doc row
    // must STAY outstanding
    val fix = Seq((10L, "U", "b", Seq(3), 1L, "s"))
      .toDF("lsn", "op", "doc_id", "tokens", "n_tok", "source")
    assert(!p.replayErrors(fix, "fix-b").skipped)
    val out = p.outstandingErrors().select("doc_id").collect().map(_.getString(0)).toSeq
    assert(out.size == 2 && out.contains("c") && out.contains(null))
    assert(p.readResolutions().select("doc_id").as[String].collect().toSet == Set("b"))
    assert(p.readTable().select("doc_id").as[String].collect().toSet == Set("a", "b"))
  }

  test("a whole-batch-rejected replay resolves nothing and repeat calls are pure no-ops") {
    import spark.implicits._
    val base = tmpDir("rejreplay")
    val p    = mkPipeline(base, mode = "mor")
    CdcGenerator.writeBatches(spark, sf0001, s"$base/changelog", batches = 2)
    p.runAvailableNow()
    val before = p.outstandingErrors().count()
    assert(before > 0)

    // corrected frame missing the required tokens column → whole-batch
    // reject: ledgered like a stream batch, NOTHING marked resolved (the
    // first cut published resolutions for every lsn that would have
    // validated, hiding quarantine rows no correction ever ingested)
    val badFix = Seq((1L, "U", "d")).toDF("lsn", "op", "doc_id")
    val s1 = p.replayErrors(badFix, "oops")
    assert(s1.schemaChanges.exists(_.startsWith("batch_rejected:")))
    assert(p.readResolutions().count() == 0)
    // the reject sample row (lsn = -1) quarantines under the replay commit
    assert(p.outstandingErrors().count() == before + 1)

    // the repeat is a ledger no-op that must NOT re-throw the conform
    // error post-commit (the first cut re-ran Validate(Conform(...))
    // unguarded, wedging the replayId in a throwing state) and must not
    // resolve anything retroactively
    val s2 = p.replayErrors(badFix, "oops")
    assert(s2.skipped)
    assert(p.readResolutions().count() == 0)
    assert(p.outstandingErrors().count() == before + 1)

    // a later GOOD replay still works with the empty reject marker dir
    // sitting alongside its parquet dir in resolved/
    val goodFix = p.readErrors().filter(col("lsn") >= 0)
      .select(from_json(col("raw"), graft.operators.Conform.EventSchema).as("e")).select("e.*")
      .withColumn("doc_id",
        coalesce(col("doc_id"), concat(lit("doc"), col("lsn"))))
      .withColumn("n_tok",
        when(col("op") === "D", col("n_tok"))
          .otherwise(size(col("tokens")).cast("long")))
    assert(!p.replayErrors(goodFix, "fix2").skipped)
    assert(p.readResolutions().count() == before)
    assert(p.outstandingErrors().count() == 1) // only the lsn=-1 reject sample
  }
}

object PipelineSpec {
  /** (lsn, op, doc_id, tokens, n_tok, source) — one raw change event. */
  type Event = (Long, String, String, Option[Seq[Int]], Option[Long], String)
}
