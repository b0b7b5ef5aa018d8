package graft

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ingest.CdcGenerator
import graft.operators.{Conform, Dedup, Merge, MergeOnRead, MergeStats, Validate}
import graft.streaming.{CdcPipeline, PipelineConfig}

/** The copy-on-write merge ([[Merge.apply]]: union + one bucket-keyed
  * exchange + the shared LWW run-fold) checked against an oracle that
  * shares no code with it: [[OracleFold]] for the live state, and a
  * tombstone-aware per-doc map below for every persisted row and every
  * MergeStats count. */
class MergeVariantSpec extends SparkSpec {

  private def mkPipeline(base: String, buckets: Int = 8): CdcPipeline =
    new CdcPipeline(spark, PipelineConfig(
      tableRoot = s"$base/table",
      changeLogDir = s"$base/changelog",
      checkpointDir = s"$base/checkpoint",
      errorDir = s"$base/errors",
      lineageDir = s"$base/lineage",
      numBuckets = buckets,
      mode = "cow"))

  private def evs(df: DataFrame): Seq[OracleFold.Ev] =
    df.collect().toSeq.map { r =>
      OracleFold.Ev(
        lsn = r.getAs[Long]("lsn"),
        op = r.getAs[String]("op"),
        docId = r.getAs[String]("doc_id"),
        tokens = Option(r.getAs[scala.collection.Seq[Int]]("tokens")).orNull,
        nTok = Option(r.getAs[Any]("n_tok")).map(_.asInstanceOf[Long]),
        source = r.getAs[String]("source"))
    }

  /** Persisted rows per doc as the oracle sees them: (stored lsn, live).
    * A winning delete persists as a tombstone, so every doc with a valid
    * event keeps a row. */
  private type Stored = mutable.Map[String, (Long, Boolean)]

  /** Apply one batch to `stored` and return the stats the merge must
    * report: (rowsBefore, rowsAfter, inserted, updated, deleted,
    * deleteNoops, stale, batchEvents, minLsn, maxLsn). Per doc the
    * batch's LWW winner is classified against the stored row; base wins
    * LSN ties (strict `batch.lsn > target._lsn`). */
  private def expectStats(stored: Stored, batch: Seq[OracleFold.Ev]): Product = {
    val winners = batch.filter(OracleFold.valid).groupBy(_.docId).values.map(_.maxBy(_.lsn)).toSeq
    val before = stored.size.toLong
    var ins, upd, del, noop, stale = 0L
    winners.foreach { w =>
      val prev = stored.get(w.docId)
      if (prev.exists(_._1 >= w.lsn)) stale += 1
      else {
        val wasLive = prev.exists(_._2)
        if (w.op == "D") { if (wasLive) del += 1 else noop += 1 }
        else if (wasLive) upd += 1 else ins += 1
        stored(w.docId) = (w.lsn, w.op != "D")
      }
    }
    val lsns = winners.map(_.lsn)
    (before, stored.size.toLong, ins, upd, del, noop, stale, winners.size.toLong,
      if (lsns.isEmpty) -1L else lsns.min, if (lsns.isEmpty) -1L else lsns.max)
  }

  private def statsOf(s: MergeStats): Product =
    (s.rowsBefore, s.rowsAfter, s.inserted, s.updated, s.deleted, s.deleteNoops,
      s.staleEvents, s.batchEvents, s.minLsn, s.maxLsn)

  /** Live rows as oracle docs (source, tokens, n_tok and the winning lsn). */
  private def liveState(df: DataFrame): Map[String, OracleFold.Doc] =
    df.collect().map { r =>
      r.getAs[String]("doc_id") -> OracleFold.Doc(
        r.getAs[scala.collection.Seq[Int]]("tokens"), r.getAs[Long]("n_tok"),
        r.getAs[String]("source"), r.getAs[Long](Merge.LsnCol))
    }.toMap

  private def tableLive(p: CdcPipeline): Map[String, OracleFold.Doc] =
    liveState(p.table.read(None, None).filter(!coalesce(col(Merge.TombCol), lit(false))))

  /** Live rows of a MOR table: base and deltas folded at read time. */
  private def morLive(p: CdcPipeline): Map[String, OracleFold.Doc] =
    liveState(MergeOnRead.resolve(p.table).filter(!coalesce(col(Merge.TombCol), lit(false))))

  /** Every persisted row's (lsn, live), tombstones included. */
  private def tableStored(p: CdcPipeline): Map[String, (Long, Boolean)] =
    p.table.read(None, None).collect().map { r =>
      r.getAs[String]("doc_id") ->
        ((r.getAs[Long](Merge.LsnCol), !Option(r.getAs[Any](Merge.TombCol)).contains(true)))
    }.toMap

  test("COW merge vs oracle: state, stats and changelog on the generator stream") {
    val raw = CdcGenerator.events(spark, sf0001)
    // 3 LSN-interleaved slices: inserts, updates, G3 deletes, replays —
    // every action class, out of order
    def part(b: Int): DataFrame = raw.filter(pmod(col("lsn"), lit(3)) === b)
    def slice(b: Int): DataFrame =
      Dedup.lww(Validate(Conform(part(b)), s"b$b").valid)

    val p = mkPipeline(tmpDir("mv"))
    val stored: Stored = mutable.Map.empty
    p.applyBatch(part(0), 0L)
    expectStats(stored, evs(part(0)))
    val v0 = p.table.currentVersion.get
    val live0 = liveState(p.table.read(Some(v0), None)
      .filter(!coalesce(col(Merge.TombCol), lit(false))))
    val s1 = Merge(p.table, slice(1), "mv-1", 1L)
    val want1 = expectStats(stored, evs(part(1)))
    val s2 = Merge(p.table, slice(2), "mv-2", 2L)
    val want2 = expectStats(stored, evs(part(2)))
    // replaying an applied slice must be all-stale
    val s3 = Merge(p.table, slice(1), "mv-replay", 3L)
    val want3 = expectStats(stored, evs(part(1)))

    assert(statsOf(s1) == want1, s"slice 1 stats")
    assert(statsOf(s2) == want2, s"slice 2 stats")
    assert(statsOf(s3) == want3, s"replay stats")
    // the fixture must actually merge work in every class it claims
    val Seq(i1, u1, d1) = Seq(2, 3, 4).map(want1.productElement(_).asInstanceOf[Long])
    assert(i1 > 0 && u1 > 0 && d1 > 0, s"degenerate fixture: $want1")
    assert(want3.productElement(6) == want3.productElement(7) &&
      want3.productElement(7).asInstanceOf[Long] > 0L, s"replay not all-stale: $want3")

    val all = evs(raw)
    assert(tableLive(p) == OracleFold.fold(all))
    assert(tableStored(p) == stored.toMap, "persisted rows (tombstones included) diverge")

    // the changelog since v0, folded onto v0's live view, lands the
    // final state
    val changes = MergeOnRead.changesSince(p.table, v0).collect()
      .sortBy(_.getAs[Long]("lsn"))
    val replayed = mutable.Map(live0.toSeq: _*)
    changes.foreach { r =>
      val doc = r.getAs[String]("doc_id")
      if (r.getAs[String]("op") == "D") replayed.remove(doc)
      else replayed(doc) = OracleFold.Doc(
        r.getAs[scala.collection.Seq[Int]]("tokens"), r.getAs[Long]("n_tok"),
        r.getAs[String]("source"), r.getAs[Long]("lsn"))
    }
    assert(changes.nonEmpty && replayed.toMap == OracleFold.fold(all), "changelog diverges")
  }

  test("COW merge edge cases: delete payload, absent-doc delete, empty batch, tie") {
    import spark.implicits._
    def batch(rows: (Long, String, String, Option[Seq[Int]], Option[Long], String)*) =
      rows.toSeq.toDF("lsn", "op", "doc_id", "tokens", "n_tok", "source")

    val p = mkPipeline(tmpDir("mve"))
    p.applyBatch(batch(
      (10L, "I", "A", Some(Seq(1)), Some(1L), "s"),
      (11L, "I", "B", Some(Seq(2)), Some(1L), "s")), 0L)
    // a delete CARRYING payload must persist payload-null; deleting an
    // absent doc is a counted no-op tombstone; an event at the exact
    // stored LSN is stale (strict >, base wins ties)
    val s1 = Merge(p.table, batch(
      (20L, "D", "A", Some(Seq(9, 9)), Some(2L), "junk"),
      (21L, "D", "ghost", None, None, "s"),
      (11L, "U", "B", Some(Seq(7)), Some(1L), "tie")), "e-1", 1L)
    val s2 = Merge(p.table, batch(), "e-empty", 2L)
    def key(s: MergeStats): Product =
      (s.skipped, s.touchedBuckets, s.rowsBefore, s.rowsAfter, s.inserted,
        s.updated, s.deleted, s.deleteNoops, s.staleEvents, s.batchEvents,
        s.minLsn, s.maxLsn)
    assert(key(s1) == ((false, 3, 2L, 3L, 0L, 0L, 1L, 1L, 1L, 3L, 11L, 21L)), s"edge stats: $s1")
    // an empty batch touches nothing, and every observed count reads
    // "no rows seen" (-1)
    assert(key(s2) == ((false, 0, 3L, 3L, -1L, -1L, -1L, -1L, -1L, -1L, -1L, -1L)),
      s"empty-batch stats: $s2")
    val rows = p.table.read(None, None).collect().map { r =>
      (r.getAs[String]("doc_id"),
        Option(r.getAs[scala.collection.Seq[Int]]("tokens")).map(_.toSeq),
        Option(r.getAs[Any]("n_tok")), Option(r.getAs[String]("source")),
        r.getAs[Long](Merge.LsnCol), r.getAs[Boolean](Merge.TombCol))
    }.toSet
    assert(rows == Set(
      ("A", None, None, None, 20L, true),
      ("ghost", None, None, None, 21L, true),
      ("B", Some(Seq(2)), Some(1L), Some("s"), 11L, false)), s"edge rows: $rows")
  }

  test("capped-width regime (numBuckets > 4x parallelism): matches the oracle") {
    // routeByBucket is as wide as the session's shuffle partitions, and
    // AQE coalesces its slots by bytes: well above that width every
    // fold/write task carries residue CLASSES of buckets — a shape the
    // 8-bucket tests never reach.
    val para    = spark.sparkContext.defaultParallelism
    val buckets = 4 * para + 17
    assert(buckets > spark.conf.get("spark.sql.shuffle.partitions").toInt)
    val raw = CdcGenerator.events(spark, sf0001)
    def part(b: Int): DataFrame = raw.filter(pmod(col("lsn"), lit(2)) === b)

    val p = mkPipeline(tmpDir("mvw"), buckets)
    val stored: Stored = mutable.Map.empty
    p.applyBatch(part(0), 0L)
    expectStats(stored, evs(part(0)))
    val s = Merge(p.table, Dedup.lww(Validate(Conform(part(1)), "c1").valid), "mvw-1", 1L)
    val want = expectStats(stored, evs(part(1)))
    // the residue-class write must still produce one file per bucket
    val m = p.table.current.get
    assert(m.files.groupBy(f => (f.bucket, f.path.contains("c-mvw-1"))).forall(_._2.size == 1),
      "multiple files for one bucket in one commit")
    assert(want.productElement(7).asInstanceOf[Long] > 0L, "degenerate fixture")
    assert(statsOf(s) == want)
    assert(tableLive(p) == OracleFold.fold(evs(raw)))
    assert(tableStored(p) == stored.toMap)
  }

  test("bucket route keeps every bucket whole: B below and above the shuffle width, AQE on and off") {
    // routeByBucket's contract — every row of a bucket in one partition —
    // is what the partition-local LWW fold and the one-file-per-bucket
    // layout stand on. Drive every route user (COW merge, MOR delta
    // write, the >64-dirty-bucket routed fold, compaction) at a bucket
    // count below the 4 shuffle partitions and one above the per-bucket
    // fold limit, with AQE coalescing the route and with AQE off.
    val raw = CdcGenerator.events(spark, sf0001)
    def part(b: Int): DataFrame = raw.filter(pmod(col("lsn"), lit(2)) === b)
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.getOption(key)
    def onePerBucket(files: Seq[graft.table.DataFile], what: String): Unit =
      files.groupBy(f => (f.bucket, java.nio.file.Paths.get(f.path).getParent.toString))
        .foreach { case (k, fs) => assert(fs.size == 1, s"$what: ${fs.size} files for $k") }
    try {
      for (aqe <- Seq(true, false); buckets <- Seq(3, 130)) {
        spark.conf.set(key, aqe.toString)
        val tag = s"aqe=$aqe B=$buckets"
        val cow = mkPipeline(tmpDir("mvr"), buckets)
        cow.applyBatch(part(0), 0L)
        cow.applyBatch(part(1), 1L)
        onePerBucket(cow.table.current.get.files, s"$tag COW")
        assert(tableLive(cow) == OracleFold.fold(evs(raw)), s"$tag COW state")

        val morBase = tmpDir("mvr-mor")
        val mor = new CdcPipeline(spark, PipelineConfig(
          tableRoot = s"$morBase/table", changeLogDir = s"$morBase/changelog",
          checkpointDir = s"$morBase/checkpoint", errorDir = s"$morBase/errors",
          lineageDir = s"$morBase/lineage", numBuckets = buckets, mode = "mor",
          compactThreshold = Double.PositiveInfinity))
        mor.applyBatch(part(0), 0L)
        mor.applyBatch(part(1), 1L)
        val m = mor.table.current.get
        onePerBucket(m.deltaFiles, s"$tag MOR deltas")
        if (buckets > 64)
          assert(m.deltaFiles.map(_.bucket).distinct.size > 64, s"$tag: routed fold not reached")
        assert(morLive(mor) == OracleFold.fold(evs(raw)), s"$tag MOR read")
        MergeOnRead.compact(mor.table, "mvr-compact")
        onePerBucket(mor.table.current.get.files, s"$tag compaction")
        assert(mor.table.current.get.deltaFiles.isEmpty, s"$tag: compaction left deltas")
        assert(tableLive(mor) == OracleFold.fold(evs(raw)), s"$tag compacted state")
      }
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("merge variants: schema evolution through the fold path") {
    import spark.implicits._
    val p = mkPipeline(tmpDir("mvs"))
    p.applyBatch(
      Seq((1L, "I", "A", Some(Seq(1)), Some(1L), "s"))
        .toDF("lsn", "op", "doc_id", "tokens", "n_tok", "source"), 0L)
    // batch adds a column: target rows null-fill, batch rows carry it
    val wide = Seq((2L, "U", "B", Some(Seq(2)), Some(1L), "s", "en"))
      .toDF("lsn", "op", "doc_id", "tokens", "n_tok", "source", "lang")
    val s = Merge(p.table, wide, "mvs-1", 1L)
    assert(s.schemaChanges.nonEmpty, "no evolution recorded")
    assert(s.inserted == 1L && s.batchEvents == 1L)
    val rows = p.table.read(None, None).select("doc_id", "lang", Merge.LsnCol).collect()
      .map(r => (r.getString(0), Option(r.getString(1)), r.getLong(2))).toSet
    assert(rows == Set(("A", None, 1L), ("B", Some("en"), 2L)), s"evolved rows: $rows")
  }
}
