package graft

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ingest.CdcGenerator
import graft.operators.Dedup
import graft.streaming.{CdcPipeline, PipelineConfig}

/** Randomized (seeded, deterministic) properties — SURVEY.md §5.2-3:
  * exactly-once and state equivalence must hold under ANY partition of the
  * stream into batches, duplicate deliveries, and cross-batch LSN
  * disorder. */
class PropertySpec extends SparkSpec {

  private val eventSchema = StructType(Seq(
    StructField("lsn", LongType, nullable = false),
    StructField("op", StringType, nullable = false),
    StructField("doc_id", StringType, nullable = true),
    StructField("tokens", ArrayType(IntegerType), nullable = true),
    StructField("n_tok", LongType, nullable = true),
    StructField("source", StringType, nullable = true)))

  private def loadEvents(): Seq[Row] =
    CdcGenerator.events(spark, sf0001)
      .select("lsn", "op", "doc_id", "tokens", "n_tok", "source")
      .collect().toSeq

  private def toOracleEvs(rows: Seq[Row]): Seq[OracleFold.Ev] = rows.map { r =>
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

  private def tableState(p: CdcPipeline): Map[String, (Seq[Int], Long, String)] =
    p.readTable().collect().map { r =>
      r.getAs[String]("doc_id") -> ((
        Option(r.getAs[scala.collection.Seq[Int]]("tokens")).map(_.toSeq).orNull,
        r.getAs[Long]("n_tok"),
        r.getAs[String]("source")))
    }.toMap

  private def oracleState(rows: Seq[Row]): Map[String, (Seq[Int], Long, String)] =
    OracleFold.fold(toOracleEvs(rows)).map { case (k, d) =>
      k -> ((Option(d.tokens).map(_.toSeq).orNull, d.nTok, d.source))
    }

  test("final state is invariant under ARBITRARY batching + duplicate redelivery") {
    // Strongest delivery claim: tombstoned deletes make LWW-by-LSN
    // correct under ANY partition of the stream into batches — even a
    // delete delivered before the batch holding its insert cannot be
    // undone by the late lower-LSN insert. Plus: duplicate delivery of
    // any already-applied batch is a ledger no-op.
    val all = loadEvents()
    val want = oracleState(all)
    val rnd = new Random(42)
    (0 until 3).foreach { trial =>
      val nBatches = 2 + rnd.nextInt(4)
      // fully random assignment → batches interleave LSN ranges arbitrarily
      val grouped = all.groupBy(_ => rnd.nextInt(nBatches))
      val p = mkPipeline(tmpDir(s"prop-$trial"))
      (0 until nBatches).foreach { b =>
        val rows = grouped.getOrElse(b, Seq.empty)
        val df = spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 2), eventSchema)
        p.applyBatch(df, b.toLong)
        // randomly redeliver an already-applied batch (exactly-once)
        if (rnd.nextBoolean() && b > 0) {
          val dup = rnd.nextInt(b)
          val s = p.applyBatch(spark.createDataFrame(
            spark.sparkContext.parallelize(grouped.getOrElse(dup, Seq.empty), 2),
            eventSchema), dup.toLong)
          assert(s.skipped, s"redelivered batch $dup must be a ledger no-op")
        }
      }
      assert(tableState(p) == want, s"trial $trial (nBatches=$nBatches) state drift")
    }
  }

  test("row-level LSN condition survives even a bypassed ledger (idempotent MERGE)") {
    val all = loadEvents()
    val want = oracleState(all)
    val p = mkPipeline(tmpDir("bypass"))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(all, 4), eventSchema)
    p.applyBatch(df, 0L)
    // re-apply the SAME events under a DIFFERENT batch id: the ledger does
    // not catch it, but `batch.lsn > target._lsn` makes every row stale
    val s = p.applyBatch(df, 1L)
    assert(!s.skipped)
    assert(s.inserted == 0 && s.updated == 0,
      s"replay under new commit id must apply nothing: $s")
    assert(tableState(p) == want)
  }

  test("delete delivered BEFORE its insert still deletes (tombstone LWW)") {
    import spark.implicits._
    val p = mkPipeline(tmpDir("ooo"))
    // batch 0 carries the delete (higher LSN), batch 1 the insert
    val b0 = Seq(
      (9L, "D", "x", None: Option[Seq[Int]], None: Option[Long], null: String),
      (1L, "I", "y", Some(Seq(1)), Some(1L), "s"))
      .toDF("lsn", "op", "doc_id", "tokens", "n_tok", "source")
    val b1 = Seq((2L, "I", "x", Some(Seq(7, 8)), Some(2L), "s"))
      .toDF("lsn", "op", "doc_id", "tokens", "n_tok", "source")
    val s0 = p.applyBatch(b0, 0L)
    assert(s0.deleteNoops == 1L, "early delete lands as a tombstone")
    p.applyBatch(b1, 1L)
    val live = p.readTable().select("doc_id").collect().map(_.getString(0)).toSet
    assert(live == Set("y"), s"late insert resurrected a deleted doc: $live")
    // and both modes agree: same stream through MOR
    val pm = mkPipeline(tmpDir("ooo-mor"), mode = "mor")
    pm.applyBatch(b0, 0L); pm.applyBatch(b1, 1L)
    assert(pm.readTable().select("doc_id").collect().map(_.getString(0)).toSet == Set("y"))
    graft.operators.MergeOnRead.compact(pm.table, "c1")
    assert(pm.readTable().select("doc_id").collect().map(_.getString(0)).toSet == Set("y"))
  }

  test("salted LWW dedup ≡ single-phase LWW (associativity of max_by)") {
    val ev = CdcGenerator.events(spark, sf0001)
      .filter(col("doc_id").isNotNull)
    val a = Dedup.lww(ev).orderBy("doc_id")
      .select("lsn", "op", "doc_id", "n_tok", "source", "tokens").collect().toSeq
    val b = Dedup.lwwSalted(ev, 7).orderBy("doc_id")
      .select("lsn", "op", "doc_id", "n_tok", "source", "tokens").collect().toSeq
    assert(a == b)
  }

  test("time travel: every snapshot version reproduces its prefix of the stream") {
    val all = loadEvents().sortBy(_.getAs[Long]("lsn"))
    val chunks = all.grouped(math.max(1, all.size / 3)).toSeq
    val p = mkPipeline(tmpDir("tt"))
    val versionAfter = chunks.zipWithIndex.map { case (rows, b) =>
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), eventSchema)
      p.applyBatch(df, b.toLong)
      (p.table.currentVersion.get, chunks.take(b + 1).flatten)
    }
    versionAfter.foreach { case (v, prefix) =>
      val got = p.table.read(Some(v))
        .filter(!coalesce(col("_tombstone"), lit(false)))
        .drop("_lsn", "_tombstone")
        .collect().map { r =>
        r.getAs[String]("doc_id") -> ((
          Option(r.getAs[scala.collection.Seq[Int]]("tokens")).map(_.toSeq).orNull,
          r.getAs[Long]("n_tok"),
          r.getAs[String]("source")))
      }.toMap
      assert(got == oracleState(prefix), s"version $v mismatch")
    }
  }

  test("maintenance state machine: random op interleaves match the oracle") {
    // Random (seeded) interleaves of applyBatch / compact / rebucket /
    // deleteWhere / rollbackTo against an oracle that models the table
    // as (event multiset, derived watermark) per version. deleteWhere is
    // modeled as synthetic D events at watermark+1 — exactly the
    // engine's own mechanism — so post-delete rollbacks and later
    // low-LSN arrivals exercise the same LWW algebra on both sides.
    import graft.operators.{MergeOnRead, TableMaintenance}
    val all = loadEvents().sortBy(_.getAs[Long]("lsn"))
    val chunks = all.grouped(math.max(1, all.size / 5)).toSeq

    def stateOf(evs: Seq[OracleFold.Ev]): Map[String, (Seq[Int], Long, String)] =
      OracleFold.fold(evs).map { case (k, d) =>
        k -> ((Option(d.tokens).map(_.toSeq).orNull, d.nTok, d.source))
      }
    def wmOf(evs: Seq[OracleFold.Ev]): Long =
      evs.filter(OracleFold.valid).map(_.lsn).foldLeft(-1L)(math.max)

    (0 until 2).foreach { trial =>
      val rnd = new Random(1234 + trial)
      val p = mkPipeline(tmpDir(s"sm-$trial"), mode = "mor")
      var curEvs  = Seq.empty[OracleFold.Ev]
      var pending = chunks
      val history = scala.collection.mutable.ArrayBuffer(
        (p.table.currentVersion.get, curEvs))
      var batchId = 0L

      (0 until 14).foreach { i =>
        rnd.nextInt(5) match {
          case 0 | 1 if pending.nonEmpty => // apply the next chunk
            val rows = pending.head; pending = pending.tail
            p.applyBatch(spark.createDataFrame(
              spark.sparkContext.parallelize(rows, 2), eventSchema), batchId)
            batchId += 1
            curEvs = curEvs ++ toOracleEvs(rows)
          case 2 => // fold deltas (state-neutral)
            MergeOnRead.compact(p.table, s"sm$trial-c$i")
          case 3 => // bucket migration (state-neutral)
            TableMaintenance.rebucket(
              p.table, Seq(4, 8, 16)(rnd.nextInt(3)), s"sm$trial-rb$i")
          case 4 if history.size > 1 => // rollback to a recorded version
            val (v, evs) = history(rnd.nextInt(history.size))
            TableMaintenance.rollbackTo(p.table, v)
            curEvs = evs
          case _ => // deleteWhere on a live source (synthetic D at wm+1)
            val live = OracleFold.fold(curEvs)
            if (live.nonEmpty) {
              val victim = live.values.map(_.source).toSeq.sorted.apply(0)
              TableMaintenance.deleteWhere(
                p.table, col("source") === victim, s"sm$trial-dw$i", mode = "mor")
              val dlsn = wmOf(curEvs) + 1
              curEvs = curEvs ++ live.collect {
                case (doc, d) if d.source == victim =>
                  OracleFold.Ev(dlsn, "D", doc, null, None, null)
              }
            }
        }
        history += ((p.table.currentVersion.get, curEvs))
        assert(tableState(p) == stateOf(curEvs),
          s"trial $trial op $i: engine/oracle state drift")
      }
      // time travel must still reproduce every RECORDED state (the
      // interleave left no unreadable version behind)
      history.distinctBy(_._1).foreach { case (v, evs) =>
        val got = MergeOnRead.resolve(p.table, Some(v))
          .filter(!coalesce(col("_tombstone"), lit(false)))
          .collect().map { r =>
            r.getAs[String]("doc_id") -> ((
              Option(r.getAs[scala.collection.Seq[Int]]("tokens")).map(_.toSeq).orNull,
              r.getAs[Long]("n_tok"),
              r.getAs[String]("source")))
          }.toMap
        assert(got == stateOf(evs), s"trial $trial version $v time-travel drift")
      }
    }
  }

  test("state machine with vacuum: every recorded version restores exactly or refuses typed") {
    // The composition the rollback-readability guard exists for: random
    // interleaves of applyBatch / compact / VACUUM / rollback /
    // deleteWhere. After vacuum, a recorded version is either still
    // fully readable (rollback and time travel reproduce its exact
    // state) or provably reclaimed (both refuse with the typed
    // VacuumedVersionException, the head stays untouched) — never a
    // committed-but-unreadable head, never silent drift.
    import graft.operators.{MergeOnRead, TableMaintenance}
    import graft.table.VacuumedVersionException
    val all = loadEvents().sortBy(_.getAs[Long]("lsn"))
    val chunks = all.grouped(math.max(1, all.size / 6)).toSeq

    def stateOf(evs: Seq[OracleFold.Ev]): Map[String, (Seq[Int], Long, String)] =
      OracleFold.fold(evs).map { case (k, d) =>
        k -> ((Option(d.tokens).map(_.toSeq).orNull, d.nTok, d.source))
      }
    def wmOf(evs: Seq[OracleFold.Ev]): Long =
      evs.filter(OracleFold.valid).map(_.lsn).foldLeft(-1L)(math.max)

    var typedRefusals = 0
    (0 until 2).foreach { trial =>
      val rnd = new Random(987 + trial)
      // trial 1 under mode=auto: vacuum interleaves with per-batch
      // COW/MOR picks (COW folds pending deltas, changing which files
      // each version references — exactly the carry-forward pattern
      // vacuum's liveness accounting must get right)
      val p = mkPipeline(tmpDir(s"smv-$trial"), mode = if (trial == 0) "mor" else "auto")
      var curEvs  = Seq.empty[OracleFold.Ev]
      var pending = chunks
      val history = scala.collection.mutable.ArrayBuffer(
        (p.table.currentVersion.get, curEvs))
      var batchId = 0L

      (0 until 16).foreach { i =>
        rnd.nextInt(6) match {
          case 0 | 1 if pending.nonEmpty =>
            val rows = pending.head; pending = pending.tail
            p.applyBatch(spark.createDataFrame(
              spark.sparkContext.parallelize(rows, 2), eventSchema), batchId)
            batchId += 1
            curEvs = curEvs ++ toOracleEvs(rows)
          case 2 =>
            MergeOnRead.compact(p.table, s"smv$trial-c$i")
          case 3 => // reclaim history; the head must stay exact
            p.table.vacuum(retainVersions = 1 + rnd.nextInt(2))
          case 4 if history.size > 1 =>
            val (v, evs) = history(rnd.nextInt(history.size))
            try { TableMaintenance.rollbackTo(p.table, v); curEvs = evs }
            catch { case e: VacuumedVersionException =>
              typedRefusals += 1
              assert(e.version == v, "refusal must name the unreadable target")
            } // refused typed → state must be untouched (asserted below)
          case _ =>
            val live = OracleFold.fold(curEvs)
            if (live.nonEmpty) {
              val victim = live.values.map(_.source).toSeq.sorted.apply(0)
              TableMaintenance.deleteWhere(
                p.table, col("source") === victim, s"smv$trial-dw$i", mode = "mor")
              val dlsn = wmOf(curEvs) + 1
              curEvs = curEvs ++ live.collect {
                case (doc, d) if d.source == victim =>
                  OracleFold.Ev(dlsn, "D", doc, null, None, null)
              }
            }
        }
        history += ((p.table.currentVersion.get, curEvs))
        assert(tableState(p) == stateOf(curEvs),
          s"trial $trial op $i: engine/oracle state drift")
      }
      // deterministic final reclaim: fold everything, then retain only
      // the head — the random walk alone can leave every recorded
      // version readable (under pure MOR, un-superseded files stay
      // head-referenced), which would silently degrade this test to the
      // vacuum-free state machine above. The head must survive exact.
      MergeOnRead.compact(p.table, s"smv$trial-final-fold")
      p.table.vacuum(retainVersions = 1)
      assert(tableState(p) == stateOf(curEvs),
        s"trial $trial: head state drifted across the final compact+vacuum")
      // every recorded version: exact restore or typed refusal
      history.distinctBy(_._1).foreach { case (v, evs) =>
        try {
          val got = MergeOnRead.resolve(p.table, Some(v))
            .filter(!coalesce(col("_tombstone"), lit(false)))
            .collect().map { r =>
              r.getAs[String]("doc_id") -> ((
                Option(r.getAs[scala.collection.Seq[Int]]("tokens")).map(_.toSeq).orNull,
                r.getAs[Long]("n_tok"),
                r.getAs[String]("source")))
            }.toMap
          assert(got == stateOf(evs), s"trial $trial version $v time-travel drift")
        } catch { case _: VacuumedVersionException => typedRefusals += 1 }
      }
      // ... and a rollback to a reclaimed version refuses typed with the
      // head untouched (the guard this test exists to compose against)
      val headV = p.table.currentVersion.get
      history.distinctBy(_._1).foreach { case (v, evs) =>
        try { TableMaintenance.rollbackTo(p.table, v); curEvs = evs }
        catch { case _: VacuumedVersionException => typedRefusals += 1 }
        assert(tableState(p) == stateOf(curEvs),
          s"trial $trial: state drift after rollback attempt to $v")
      }
      assert(p.table.currentVersion.get >= headV)
    }
    // the run must actually have exercised the reclaimed-history path,
    // or this test silently degrades to the vacuum-free state machine
    // above (the deterministic final compact+vacuum makes this robust
    // to the random walk's choices)
    assert(typedRefusals > 0,
      "vacuum never made any recorded version unreadable — fixture too tame")
  }

  test("error/lineage side tables are exactly-once across crash-replay windows") {
    import spark.implicits._
    import java.nio.file.{Files, Paths, StandardCopyOption}
    def deleteRec(p: java.nio.file.Path): Unit = {
      val s = Files.walk(p)
      try {
        import scala.collection.JavaConverters._
        s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      } finally s.close()
    }
    val base = tmpDir("eo-side")
    val p    = mkPipeline(base, mode = "mor")
    // two invalid events (null doc_id @2; n_tok mismatch @3) among valid
    def raw = Seq(
      (1L, "I", "good1", Some(Seq(1, 2)), Some(2L), "s"),
      (2L, "I", null.asInstanceOf[String], Some(Seq(1)), Some(1L), "s"),
      (3L, "I", "bad2", Some(Seq(1, 2, 3)), Some(99L), "s"),
      (4L, "I", "good2", Some(Seq(5)), Some(1L), "s"))
      .toDF("lsn", "op", "doc_id", "tokens", "n_tok", "source")

    // ── window A: crash AFTER an error stage, BEFORE the manifest commit.
    // The dead attempt left a complete staged dir (with _SUCCESS) under
    // its own nonce; the replay re-runs the batch from scratch — the
    // orphan must be swept, never published (it would duplicate rows).
    val ghost = Paths.get(s"$base/errors/.staged-c-b0-deadbeef")
    Seq(("b0", 2L, null.asInstanceOf[String], "null_doc_id", "{}"))
      .toDF("commit_id", "lsn", "doc_id", "reason", "raw")
      .coalesce(1).write.parquet(ghost.toString)
    val s0 = p.applyBatch(raw, 0L)
    assert(!s0.skipped)
    val errs0 = p.readErrors().select("lsn").as[Long].collect().toSeq.sorted
    assert(errs0 == Seq(2L, 3L), s"exact error-LSN set exactly once: $errs0")
    assert(!Files.exists(ghost), "orphan staged dir must be swept")
    assert(p.readLineage().filter(col("partition_id") === -1).count() == 1)

    // ── window B: crash AFTER the commit, BEFORE publication — simulate
    // by un-publishing: errors back to a staged dir, lineage row deleted.
    val errPub = Paths.get(s"$base/errors/c-b0")
    val linPub = Paths.get(s"$base/lineage/c-b0")
    Files.move(errPub, Paths.get(s"$base/errors/.staged-c-b0-cafe"),
      StandardCopyOption.ATOMIC_MOVE)
    deleteRec(linPub)
    assert(p.readErrors().count() == 0, "un-published errors must be invisible")
    // replay hits the ledger skip → recovery completes publication
    val s1 = p.applyBatch(raw, 0L)
    assert(s1.skipped)
    val errs1 = p.readErrors().select("lsn").as[Long].collect().toSeq.sorted
    assert(errs1 == Seq(2L, 3L), s"recovered error set exactly once: $errs1")
    val lin = p.readLineage().filter(col("commit_id") === "b0")
    assert(lin.filter(col("partition_id") === -1).count() == 1,
      "exactly one summary lineage row per applied commit")
    assert(lin.filter(col("partition_id") >= 0).count() > 0,
      "per-bucket lineage rows reconstruct from the manifest")

    // ── steady state: further replays change nothing
    assert(p.applyBatch(raw, 0L).skipped)
    assert(p.readErrors().count() == 2)
    assert(p.readLineage()
      .filter(col("commit_id") === "b0" && col("partition_id") === -1).count() == 1)
  }

  test("changesSince fold-equivalence: every version range folds from-state to to-state (both modes)") {
    import graft.operators.MergeOnRead
    import spark.implicits._
    // Randomized (seeded) out-of-order streams; for EVERY committed
    // version pair (from ≤ to), LWW-folding changesSince(from, to) onto
    // resolve(from) must yield resolve(to)'s live view — the round-4
    // path contract, exercised across the delta-replay fast path, the
    // per-doc below-watermark leg, and the COW snapshot-diff fallback.
    val rnd = new Random(4242)
    for (mode <- Seq("mor", "cow"); trial <- 0 until 3) {
      val base = tmpDir(s"foldeq-$mode-$trial")
      val p    = mkPipeline(base, mode)
      val docs = (0 until 8).map(i => s"fe-$i")
      // unique LSNs (single-writer contract), shuffled → heavy disorder
      val lsns = rnd.shuffle((1 to 40).toList)
      val events = lsns.map { lsn =>
        val doc = docs(rnd.nextInt(docs.size))
        val op  = rnd.nextInt(10) match {
          case d if d < 5 => "I"
          case d if d < 8 => "U"
          case _          => "D"
        }
        if (op == "D") (lsn.toLong, op, doc, None: Option[Seq[Int]], None: Option[Long], "s")
        else (lsn.toLong, op, doc, Some(Seq(lsn)), Some(1L), "s")
      }
      // random partition into 4 batches, events arbitrarily assigned;
      // random compactions interleave (their event-free commits land in
      // ranges and must classify as replay-coverable, not as diffs)
      val batches = events.groupBy(_ => rnd.nextInt(4)).toSeq.sortBy(_._1)
      batches.zipWithIndex.foreach { case ((_, evs), i) =>
        p.applyBatch(
          evs.toDF("lsn", "op", "doc_id", "tokens", "n_tok", "source"), i.toLong)
        if (rnd.nextInt(3) == 0) { MergeOnRead.compact(p.table, s"feq-c$i"); () }
      }
      val versions = p.table.versions
      def stateAt(v: Long): Map[String, (Long, Boolean, Seq[Int])] =
        MergeOnRead.resolve(p.table, Some(v)).collect().map { r =>
          r.getAs[String]("doc_id") -> ((
            r.getAs[Long]("_lsn"),
            Option(r.getAs[java.lang.Boolean]("_tombstone")).exists(_.booleanValue),
            Option(r.getAs[scala.collection.Seq[Int]]("tokens")).map(_.toSeq).getOrElse(Seq.empty)))
        }.toMap
      for (from <- versions; to <- versions; if from <= to) {
        val changes = MergeOnRead.changesSince(p.table, from, Some(to)).collect().map { r =>
          (r.getAs[String]("doc_id"), r.getAs[Long]("lsn"), r.getAs[String]("op"),
            Option(r.getAs[scala.collection.Seq[Int]]("tokens")).map(_.toSeq).getOrElse(Seq.empty))
        }
        // LWW fold onto the from-state; ties keep the from row (base wins)
        val folded = changes.foldLeft(stateAt(from)) { case (st, (doc, lsn, op, toks)) =>
          st.get(doc) match {
            case Some((cur, _, _)) if lsn <= cur => st
            case _ => st + (doc -> ((lsn, op == "D", toks)))
          }
        }
        def live(m: Map[String, (Long, Boolean, Seq[Int])]) =
          m.collect { case (d, (_, false, t)) => d -> t }
        assert(live(folded) == live(stateAt(to)),
          s"[$mode trial $trial] fold($from→$to) diverges:\n folded=${live(folded)}\n actual=${live(stateAt(to))}")
      }
    }
  }

  test("IVF sample-training is deterministic; multi-probe widens candidates monotonically") {
    import graft.functions.Similarity
    val v = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    // hash-sampled training: no RNG anywhere → two runs are bit-identical
    def train() = Similarity
      .kmeansCentroids(spark, v, k = 8, iters = 2, sampleFraction = 0.5)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1).toSeq
    val c1 = train()
    assert(c1 == train(), "sample-trained centroids must be replayable bit-for-bit")
    assert(c1.size == 8)

    // nprobe=1 matches the single-cell assignment; growing nprobe only
    // ADDS probed cells (prefix property); nprobe=K covers every cell
    val cents = Similarity.kmeansCentroids(spark, v, k = 8, iters = 1)
    val qs = v.filter(col("vec_id") < 3)
    def probes(p: Int) = Similarity.ivfProbe(qs, cents, p)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val p1 = probes(1)
    val a1 = Similarity.ivfAssignWith(qs, cents)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(p1 == a1, "nprobe=1 must equal the single-cell assignment")
    val p2 = probes(2)
    assert(p1.subsetOf(p2) && p2.size == 6, s"probe sets must nest: $p1 vs $p2")
    assert(probes(8).size == 24, "nprobe=K must cover every cell per query")
  }

  test("full-surface state machine: random SQL+library interleaves match the oracle; final state replicates") {
    // The maintenance state machine above drives the LIBRARY surface.
    // This one drives the same oracle through the round-4 SQL front end —
    // UPDATE / DELETE FROM / INSERT INTO / MERGE INTO / CALL compact /
    // CALL rollback — interleaved with raw CDC chunks, so every SQL verb
    // is exercised against arbitrary prior histories (post-rollback
    // re-application, late low-LSN chunks arriving after SQL stamps,
    // compaction between any two verbs). Each SQL verb is modeled exactly
    // as the engine documents it: synthetic events at watermark+1.
    // Afterwards the final state must survive the round's replication
    // statement (initialSnapshot changelog stream → graft upsert sink).
    import graft.operators.MergeOnRead
    import graft.table.SnapshotTable
    val all = loadEvents().sortBy(_.getAs[Long]("lsn"))
    val chunks = all.grouped(math.max(1, all.size / 5)).toSeq

    def stateOf(evs: Seq[OracleFold.Ev]): Map[String, (Seq[Int], Long, String)] =
      OracleFold.fold(evs).map { case (k, d) =>
        k -> ((Option(d.tokens).map(_.toSeq).orNull, d.nTok, d.source))
      }
    def wmOf(evs: Seq[OracleFold.Ev]): Long =
      evs.filter(OracleFold.valid).map(_.lsn).foldLeft(-1L)(math.max)

    (0 until 2).foreach { trial =>
      val rnd = new Random(4242 + trial)
      val base = tmpDir(s"fullsm-$trial")
      // trial 1 runs the whole interleave under the adaptive commit mode:
      // every SQL verb and rollback/compact lands on whichever write
      // shape the per-batch probe picked, against arbitrary histories
      val p = mkPipeline(base, mode = if (trial == 0) "mor" else "auto")
      val root = s"$base/table"
      var curEvs  = Seq.empty[OracleFold.Ev]
      var pending = chunks
      val history = scala.collection.mutable.ArrayBuffer(
        (p.table.currentVersion.get, curEvs))
      var batchId = 0L
      var seq = 0
      def liveNow() = OracleFold.fold(curEvs)
      // victims chosen from oracle-live values, deterministically
      def victimSource(): Option[String] =
        liveNow().values.map(_.source).toSeq.sorted.headOption

      (0 until 16).foreach { i =>
        rnd.nextInt(8) match {
          case 0 | 1 if pending.nonEmpty => // raw CDC chunk (library path)
            val rows = pending.head; pending = pending.tail
            p.applyBatch(spark.createDataFrame(
              spark.sparkContext.parallelize(rows, 2), eventSchema), batchId)
            batchId += 1
            curEvs = curEvs ++ toOracleEvs(rows)
          case 2 => // SQL UPDATE: expression assignment over the current row
            victimSource().foreach { v =>
              spark.sql(s"UPDATE graft.`$root` SET source = concat(source, '+') " +
                s"WHERE source = '$v'").collect()
              val ulsn = wmOf(curEvs) + 1
              curEvs = curEvs ++ liveNow().collect {
                case (doc, d) if d.source == v =>
                  OracleFold.Ev(ulsn, "U", doc, d.tokens, Some(d.nTok), d.source + "+")
              }
            }
          case 3 => // SQL DELETE FROM: tombstones at wm+1
            victimSource().foreach { v =>
              spark.sql(s"DELETE FROM graft.`$root` WHERE source = '$v'").collect()
              val dlsn = wmOf(curEvs) + 1
              curEvs = curEvs ++ liveNow().collect {
                case (doc, d) if d.source == v =>
                  OracleFold.Ev(dlsn, "D", doc, null, None, null)
              }
            }
          case 4 => // SQL INSERT INTO: payload upsert stamped at wm+1
            seq += 1
            val (a, b) = (s"sqlins-$trial-$seq-a", s"sqlins-$trial-$seq-b")
            spark.sql(s"INSERT INTO graft.`$root` VALUES " +
              s"('$a', array(1, $i), CAST(2 AS BIGINT), 'sqlins'), " +
              s"('$b', array($i), CAST(1 AS BIGINT), 'sqlins')").collect()
            val ilsn = wmOf(curEvs) + 1
            curEvs = curEvs ++ Seq(
              OracleFold.Ev(ilsn, "U", a, Seq(1, i), Some(2L), "sqlins"),
              OracleFold.Ev(ilsn, "U", b, Seq(i), Some(1L), "sqlins"))
          case 5 => // SQL MERGE INTO: matched update + unmatched insert at wm+1
            seq += 1
            import spark.implicits._
            val existing = liveNow().toSeq.sortBy(_._1).take(2).map {
              case (doc, d) => (doc, d.tokens.toSeq :+ 7, d.nTok + 1, "merged")
            }
            val fresh = Seq((s"mrg-$trial-$seq", Seq(5, i), 2L, "merged"))
            (existing ++ fresh).toDF("doc_id", "tokens", "n_tok", "source")
              .createOrReplaceTempView("fullsm_src")
            spark.sql(
              s"""MERGE INTO graft.`$root` t USING fullsm_src s ON t.doc_id = s.doc_id
                  WHEN MATCHED THEN UPDATE SET *
                  WHEN NOT MATCHED THEN INSERT *""").collect()
            val mlsn = wmOf(curEvs) + 1
            curEvs = curEvs ++ (existing ++ fresh).map { case (doc, t, n, s) =>
              OracleFold.Ev(mlsn, "U", doc, t, Some(n), s)
            }
          case 6 => // CALL compact (state-neutral)
            spark.sql(s"CALL graft.compact('$root')").collect()
          case 7 if history.size > 1 => // CALL rollback to a recorded version
            val (v, evs) = history(rnd.nextInt(history.size))
            spark.sql(s"CALL graft.rollback('$root', $v)").collect()
            curEvs = evs
          case _ => // fallback when rollback has no history yet
            spark.sql(s"CALL graft.compact('$root')").collect()
        }
        history += ((p.table.currentVersion.get, curEvs))
        assert(tableState(p) == stateOf(curEvs),
          s"trial $trial op $i: engine/oracle state drift")
      }

      // the interleaved history must still replicate with the round's
      // one-statement snapshot⊕tail composition (anchor = final version)
      val rootB = s"$base/replica"
      SnapshotTable.create(spark, rootB, StructType(Seq(
        StructField("doc_id", StringType), StructField("tokens", ArrayType(IntegerType)),
        StructField("n_tok", LongType), StructField("source", StringType))), numBuckets = 4)
      val q = spark.readStream.format("graft")
        .option("startingVersion", p.table.currentVersion.get)
        .option("initialSnapshot", "true")
        .load(root)
        .writeStream.format("graft")
        .option("path", rootB)
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val replica = MergeOnRead.liveView(SnapshotTable.load(spark, rootB))
        .collect().map { r =>
          r.getAs[String]("doc_id") -> ((
            Option(r.getAs[scala.collection.Seq[Int]]("tokens")).map(_.toSeq).orNull,
            r.getAs[Long]("n_tok"),
            r.getAs[String]("source")))
        }.toMap
      assert(replica == stateOf(curEvs),
        s"trial $trial: replica drifted from the interleaved final state")
    }
  }

  test("widened n_tok stays byte-equal through evolution (§7.4-6)") {
    import spark.implicits._
    val p = mkPipeline(tmpDir("widen"))
    // first batch: n_tok as INT (narrow writer schema)
    val narrow = Seq((1L, "I", "a", Seq(1, 2, 3), 3))
      .toDF("lsn", "op", "doc_id", "tokens", "n_tok")
    p.applyBatch(narrow, 0L)
    // second batch: n_tok as LONG with a value above Int range on doc b
    val wide = Seq(
      (10L, "U", "a", Seq(4, 5), 2L),
      (11L, "I", "b", Seq(7), 1L))
      .toDF("lsn", "op", "doc_id", "tokens", "n_tok")
    p.applyBatch(wide, 1L)
    val rows = p.readTable().orderBy("doc_id").collect()
    assert(rows.map(_.getAs[String]("doc_id")).toSeq == Seq("a", "b"))
    assert(rows(0).getAs[scala.collection.Seq[Int]]("tokens") == Seq(4, 5))
    assert(rows(0).getAs[Long]("n_tok") == 2L)
    // read of the evolved table upcasts old files on the fly
    assert(p.readTable().schema("n_tok").dataType == LongType)
  }
}
