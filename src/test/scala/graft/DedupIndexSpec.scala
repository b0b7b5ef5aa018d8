package graft

import org.apache.spark.sql.functions._

import graft.operators.DedupIndex
import graft.streaming.{CdcPipeline, PipelineConfig}

/** Incremental (cross-batch) near-dup detection: the persisted MinHash
  * band index probed per arriving batch (round-4 verdict #1). */
class DedupIndexSpec extends SparkSpec {

  import spark.implicits._

  private def mkPipeline(base: String, policy: String): CdcPipeline =
    new CdcPipeline(spark, PipelineConfig(
      tableRoot = s"$base/table",
      changeLogDir = s"$base/changelog",
      checkpointDir = s"$base/checkpoint",
      errorDir = s"$base/errors",
      lineageDir = s"$base/lineage",
      numBuckets = 8,
      nearDupPolicy = policy))

  // ≥3 tokens → non-empty shingles; distinct bases never collide
  private def toks(seed: Int): Seq[Int] =
    (0 until 30).map(i => (seed * 1000 + i * 7) % 65536)

  private def batch(rows: (Long, String, String, Seq[Int])*) =
    rows.toSeq.map { case (lsn, op, doc, t) =>
      (lsn, op, doc, Some(t), Some(t.size.toLong), "s")
    }.toDF("lsn", "op", "doc_id", "tokens", "n_tok", "source")

  test("near-dup pair split across two micro-batches is flagged (flag policy)") {
    val p = mkPipeline(tmpDir("nd-split"), "flag")
    // batch 0: A (the original) + an unrelated doc
    p.applyBatch(batch(
      (1L, "I", "docA", toks(1)),
      (2L, "I", "docC", toks(2))), 0L)
    // batch 1: B = verbatim copy of A's content, arriving LATER —
    // exactly the case a per-batch one-shot dedup structurally misses
    p.applyBatch(batch(
      (10L, "I", "docB", toks(1)),
      (11L, "I", "docD", toks(3))), 1L)
    val flags = p.readNearDups().collect()
    assert(flags.map(_.getAs[String]("doc_id")).toSet == Set("docB"),
      s"flags: ${flags.mkString(",")}")
    val f = flags.head
    assert(f.getAs[String]("dup_of") == "docA")
    assert(f.getAs[Int]("agree") == graft.functions.DedupOps.NumHashes)
    // flag policy annotates, never rejects: all four docs merged
    assert(p.readTable().select("doc_id").as[String].collect().toSet ==
      Set("docA", "docB", "docC", "docD"))
    // and the flag commit is attributed to batch 1
    assert(f.getAs[String]("commit_id") == "b1")
  }

  test("within-batch near-dups: earlier (lsn, doc_id) wins, later flags") {
    val p = mkPipeline(tmpDir("nd-within"), "flag")
    p.applyBatch(batch(
      (5L, "I", "docY", toks(9)),
      (3L, "I", "docX", toks(9)), // lower lsn → the original
      (7L, "I", "docZ", toks(4))), 0L)
    val flags = p.readNearDups().collect()
    assert(flags.map(r => (r.getAs[String]("doc_id"), r.getAs[String]("dup_of"))).toSet ==
      Set(("docY", "docX")), s"flags: ${flags.mkString(",")}")
  }

  test("quarantine policy: flagged doc's events reject, roster blocks later batches") {
    val p = mkPipeline(tmpDir("nd-quar"), "quarantine")
    p.applyBatch(batch((1L, "I", "docA", toks(1))), 0L)
    // B's insert is a near-dup of A → quarantined, not merged
    p.applyBatch(batch(
      (10L, "I", "docB", toks(1)),
      (11L, "I", "docC", toks(5))), 1L)
    assert(p.readTable().select("doc_id").as[String].collect().toSet ==
      Set("docA", "docC"))
    val errs1 = p.readErrors().filter(col("reason").startsWith("near_dup_of")).collect()
    assert(errs1.map(r => (r.getAs[String]("doc_id"), r.getAs[String]("reason"))).toSet ==
      Set(("docB", "near_dup_of:docA")))
    // a LATER update to the quarantined doc hits the persisted roster —
    // rejected too, even though its content no longer matches anything
    p.applyBatch(batch((20L, "U", "docB", toks(8))), 2L)
    assert(p.readTable().select("doc_id").as[String].collect().toSet ==
      Set("docA", "docC"), "a rostered doc's update must not resurrect it")
    val errs2 = p.readErrors()
      .filter(col("reason").startsWith("near_dup_of") && col("lsn") === 20L).collect()
    assert(errs2.map(_.getAs[String]("doc_id")).toSeq == Seq("docB"))
    // the flag itself is recorded once, in the near-dup side table
    assert(p.readNearDups().select("doc_id").as[String].collect().toSeq == Seq("docB"))
  }

  test("exactly-once: a replayed batch neither re-flags nor double-indexes") {
    val p = mkPipeline(tmpDir("nd-replay"), "flag")
    p.applyBatch(batch((1L, "I", "docA", toks(1))), 0L)
    val s1 = p.applyBatch(batch((10L, "I", "docB", toks(1))), 1L)
    assert(!s1.skipped)
    val flagsBefore = p.readNearDups().collect().toSeq
    // ledger-skip replay of the applied batch
    val s2 = p.applyBatch(batch((10L, "I", "docB", toks(1))), 1L)
    assert(s2.skipped)
    assert(p.readNearDups().collect().toSeq == flagsBefore)
    // a FRESH batch probing the index sees docA and docB once each —
    // no duplicate index rows inflate the candidate set
    p.applyBatch(batch((30L, "I", "docE", toks(1))), 2L)
    val e = p.readNearDups().filter(col("doc_id") === "docE").collect()
    assert(e.length == 1 && e.head.getAs[String]("dup_of") == "docA")
  }

  test("crash-replay duplicate index dir leaves later probe flags unchanged") {
    // A crash after the index append but before the merge commit leaves
    // that commit's index dir behind; the replay writes the same rows
    // again under a fresh nonce. Both dirs become ledger-visible once the
    // replay commits, so every candidate pair repeats — the probe's
    // per-doc min_by representative must pick the same match anyway.
    val base = tmpDir("nd-crash")
    val p = mkPipeline(base, "flag")
    p.applyBatch(batch((1L, "I", "docA", toks(1)), (2L, "I", "docC", toks(2))), 0L)
    p.applyBatch(batch((10L, "I", "docB", toks(2))), 1L)
    val dir = java.nio.file.Paths.get(base, "neardups").toString
    val later = DedupIndex.bandRows(batch(
      (20L, "I", "docE", toks(1)),
      (21L, "I", "docF", toks(2)),
      (22L, "I", "docG", toks(7))).filter(col("op") === "I")).cache()
    // a list, not a set: a repeated flag row must show
    def flags() = DedupIndex.probe(spark, dir, p.table.appliedCommitIds, later)
      .collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))
    val before = flags()
    assert(before.map(r => (r(0), r(2))) == Seq(("docE", "docA"), ("docF", "docC")),
      s"fixture flags: $before")
    val root = java.nio.file.Paths.get(dir, "index")
    val orig = graft.table.Fs.listDir(root)
      .find(d => DedupIndex.commitOf(d.getFileName.toString).contains("b0")).get
    val twin = root.resolve(s"c-b0.${graft.table.Fs.nonce}")
    java.nio.file.Files.walk(orig).forEach { src =>
      java.nio.file.Files.copy(src, twin.resolve(orig.relativize(src).toString)); ()
    }
    assert(DedupIndex.commitDirCount(dir, p.table.appliedCommitIds) == 3)
    assert(flags() == before)
    later.unpersist()
  }

  test("probe IO gate: only touched index buckets of applied commits are read") {
    val base = tmpDir("nd-io")
    val p = mkPipeline(base, "flag")
    p.applyBatch(batch(
      (1L, "I", "docA", toks(1)),
      (2L, "I", "docB", toks(2)),
      (3L, "I", "docC", toks(3)),
      (4L, "I", "docD", toks(4))), 0L)
    p.applyBatch(batch((5L, "I", "docE", toks(5))), 1L)
    val dir = java.nio.file.Paths.get(base, "neardups").toString
    val applied = p.table.appliedCommitIds
    // a ghost commit's index dir (never ledgered) sits beside the applied ones
    val root = java.nio.file.Paths.get(dir, "index")
    val orig = graft.table.Fs.listDir(root).head
    val ghostDir = root.resolve(s"c-ghost.${graft.table.Fs.nonce}")
    java.nio.file.Files.walk(orig).forEach { src =>
      java.nio.file.Files.copy(src, ghostDir.resolve(orig.relativize(src).toString)); ()
    }
    val paths = DedupIndex.indexPaths(dir, applied)
    assert(paths.flatMap(d => DedupIndex.commitOf(d.getFileName.toString)).sorted ==
      Seq("b0", "b1"), s"probe dirs: $paths")
    assert(DedupIndex.indexPaths(dir, Set("no-such-commit")).isEmpty)
    // the probe for a single-doc batch touches ≤ numBands buckets, and
    // the scan carries exactly that bucket predicate to the parquet reader
    val bands = DedupIndex.bandRows(
      batch((9L, "I", "docQ", toks(1))).filter(col("op") === "I"))
    val touched = bands.select("_ibkt").distinct().as[Int].collect().toSet
    assert(touched.size <= graft.functions.DedupOps.NumHashes / graft.functions.DedupOps.BandSize)
    // the probe's executed scan reads exactly the data files of the
    // applied commits' dirs: nothing from the ghost, none missed
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    object Walk extends AdaptiveSparkPlanHelper
    val probed = DedupIndex.probe(spark, dir, applied, bands)
    probed.collect()
    val scans = Walk.collect(probed.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s
    }
    assert(scans.size == 1, s"probe scans: $scans")
    val read = scans.head.relation.location.inputFiles
      .map(f => new org.apache.hadoop.fs.Path(f).toUri.getPath).toSet
    val leaves = paths.flatMap(graft.table.Fs.listDir)
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map(_.toAbsolutePath.toString).toSet
    assert(leaves.nonEmpty && read == leaves, s"scan read $read, index leaves $leaves")
    assert(!read.exists(_.contains("c-ghost.")), s"ghost commit read: $read")
    val bucketFilter = scans.head.dataFilters.filter(_.references.exists(_.name == "_ibkt"))
    assert(bucketFilter.nonEmpty, s"data filters: ${scans.head.dataFilters}")
    assert(touched.forall(b => bucketFilter.exists(_.sql.contains(b.toString))),
      s"bucket filter $bucketFilter misses touched buckets $touched")
    assert(scans.head.metadata("PushedFilters").contains("_ibkt"),
      s"pushed: ${scans.head.metadata("PushedFilters")}")
  }

  test("compacted index files span bucket ranges: a single-doc probe skips rows, flags unchanged") {
    val base = tmpDir("nd-prune")
    val p = mkPipeline(base, "flag")
    (0 until 3).foreach { b =>
      p.applyBatch(batch((0 until 40).map(i =>
        (b * 100L + i, "I", s"doc${b * 40 + i}", toks(b * 40 + i))): _*), b.toLong)
    }
    val dir = java.nio.file.Paths.get(base, "neardups").toString
    val applied = p.table.appliedCommitIds
    // 16 range partitions kept apart (no AQE coalescing) so the fixture's
    // small index still compacts into several files
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.coalescePartitions.enabled")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set(keys(0), "16")
    spark.conf.set(keys(1), "false")
    try assert(DedupIndex.compact(spark, dir, applied, p.table.current.get.commitId) == 3)
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
    val files = DedupIndex.indexPaths(dir, applied).flatMap(graft.table.Fs.listDir)
      .filter(_.getFileName.toString.endsWith(".parquet"))
    assert(files.size >= 2, s"compacted files: $files")
    val indexRows = graft.table.KnownFiles.read(spark,
      graft.table.KnownFiles.ofDirs(DedupIndex.indexPaths(dir, applied)), DedupIndex.IndexSchema)
      .count()
    assert(indexRows == 3 * 40 * 4)
    // docQ copies doc57's content → flagged against the compacted base
    val bands = DedupIndex.bandRows(
      batch((9000L, "I", "docQ", toks(57))).filter(col("op") === "I")).cache()
    def flags(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    object Walk extends AdaptiveSparkPlanHelper
    val probed = DedupIndex.probe(spark, dir, applied, bands)
    val got = flags(probed)
    assert(got.map(r => (r(0), r(2))) == Seq(("docQ", "doc57")), s"flags: $got")
    val scans = Walk.collect(probed.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s
    }
    assert(scans.size == 1, s"probe scans: $scans")
    val scanned = scans.head.metrics("numOutputRows").value
    assert(scanned < indexRows, s"probe scanned $scanned of $indexRows index rows")
    // every bucket touched: the probe reads the index unfiltered — no
    // `_ibkt` predicate anywhere in its plan — and flags the same docs
    val unfiltered = DedupIndex.probe(spark, dir, applied, bands,
      touchedHint = Some((0 until DedupIndex.IndexBuckets).toSet))
    assert(flags(unfiltered) == got)
    val uPlan = unfiltered.queryExecution.executedPlan
    val bucketPreds = Walk.collect(uPlan) {
      case f: org.apache.spark.sql.execution.FilterExec => f.condition
      case s: FileSourceScanExec => (s.dataFilters ++ s.partitionFilters)
        .reduceOption(org.apache.spark.sql.catalyst.expressions.And(_, _))
        .getOrElse(org.apache.spark.sql.catalyst.expressions.Literal(true))
    }.filter(_.references.exists(_.name == "_ibkt"))
    assert(bucketPreds.isEmpty, s"all-bucket probe still filters on _ibkt:\n$uPlan")
    bands.unpersist()
  }

  test("layout gate: a one-partition flag batch writes exactly one bucket-sorted index file") {
    val base = tmpDir("nd-layout")
    val p = mkPipeline(base, "flag")
    p.applyBatch(batch((0 until 30).map(i => (i.toLong, "I", s"doc$i", toks(i))): _*)
      .coalesce(1), 0L)
    val dir = java.nio.file.Paths.get(base, "neardups").toString
    val dirs = DedupIndex.indexPaths(dir, p.table.appliedCommitIds)
    val files = dirs.flatMap(graft.table.Fs.listDir)
      .filter(_.getFileName.toString.endsWith(".parquet"))
    assert(dirs.size == 1 && files.size == 1, s"index files: $files")
    val buckets = spark.read.parquet(files.head.toString).select("_ibkt").as[Int].collect().toSeq
    assert(buckets.size == 30 * 4 && buckets == buckets.sorted, "rows not sorted by _ibkt")
  }

  /** Overwrite every applied index file with garbage; returns a restore. */
  private def corruptIndex(base: String): () => Unit = {
    val files = graft.table.Fs.walkDir(java.nio.file.Paths.get(base, "neardups", "index"))
      .filter(_.getFileName.toString.endsWith(".parquet"))
    val saved = files.map(f => f -> java.nio.file.Files.readAllBytes(f))
    files.foreach(f => java.nio.file.Files.write(f, "not parquet".getBytes("UTF-8")))
    () => saved.foreach { case (f, b) => java.nio.file.Files.write(f, b) }
  }

  test("whole-batch reject after a failed near-dup stage leaves none of its commit's index") {
    // The flag-policy stage runs beside the merge. Here its probe fails on
    // an unreadable applied index file after its index append wrote the
    // commit's dir, and the merge rejects the batch (non-widenable schema
    // change): the reject ledgers the commit, so its index dir must go,
    // or docB's band rows would become probe-visible for a doc that never
    // merged.
    val base = tmpDir("nd-reject")
    val p = mkPipeline(base, "flag")
    def withUpstream(doc: String, lsn: Long, up: org.apache.spark.sql.Column) =
      batch((lsn, "I", doc, toks(1))).withColumn("upstream", up)
    p.applyBatch(withUpstream("docA", 1L, lit(7)), 0L)
    corruptIndex(base)
    val s1 = p.applyBatch(withUpstream("docB", 10L, lit("oops")), 1L)
    assert(s1.schemaChanges.exists(_.contains("schema_incompatible")), s1.schemaChanges)
    assert(p.table.appliedCommitIds.contains("b1"))
    val root = java.nio.file.Paths.get(base, "neardups")
    val left = graft.table.Fs.walkDir(root).map(_.getFileName.toString)
      .filter(n => n.startsWith("c-b1") || n.startsWith(".staged-c-b1-"))
    assert(left.isEmpty, s"near-dup state of the rejected commit: $left")
  }

  test("a probe failure with the index append in flight: the stage joins it, a replay converges") {
    val b0 = batch((1L, "I", "docA", toks(1)), (2L, "I", "docC", toks(2)))
    val b1 = batch((10L, "I", "docB", toks(1)), (11L, "I", "docD", toks(3)))
    val b2 = batch((20L, "I", "docE", toks(3)), (21L, "I", "docF", toks(2)),
      (22L, "I", "docG", toks(4)))
    def flags(q: CdcPipeline): Set[Seq[Any]] =
      q.readNearDups().select("commit_id", "doc_id", "lsn", "dup_of", "dup_lsn", "agree")
        .collect().map(_.toSeq).toSet
    val clean = mkPipeline(tmpDir("nd-inflight-oracle"), "flag")
    Seq(b0, b1, b2).zipWithIndex.foreach { case (b, i) => clean.applyBatch(b, i.toLong) }
    assert(flags(clean).map(_.take(2)) ==
      Set(Seq("b1", "docB"), Seq("b2", "docE"), Seq("b2", "docF")), flags(clean))

    val base = tmpDir("nd-inflight")
    val p = mkPipeline(base, "flag")
    p.applyBatch(b0, 0L)
    val restore = corruptIndex(base)
    val failed = scala.util.Try(p.applyBatch(b1, 1L))
    assert(failed.isFailure, s"the batch applied over an unreadable index: $failed")
    assert(!p.table.appliedCommitIds.contains("b1"))
    // replay once the index reads again: the failed attempt's complete
    // index dir (written before its probe ran) becomes visible beside the
    // replay's under the same commitId; its duplicate rows must change no
    // flag
    restore()
    p.applyBatch(b1, 1L)
    p.applyBatch(b2, 2L)
    val dir = java.nio.file.Paths.get(base, "neardups").toString
    assert(DedupIndex.indexPaths(dir, p.table.appliedCommitIds)
      .count(d => DedupIndex.commitOf(d.getFileName.toString).contains("b1")) == 2)
    assert(flags(p) == flags(clean))
  }

  test("engine-owned reads run no Spark listing job: probe, scans, changes, compaction, side tables") {
    // Spark's file listing runs as a "Listing leaf files" job once a read
    // names more than parallelPartitionDiscovery.threshold (32) paths.
    // The table fixture crosses that line where production does (~100
    // files); the threshold is dropped to 0 for the recorded window so
    // that a spark.read on ANY engine read path — the probe over 2 index
    // commits, side tables and the roster included, which hold a few
    // dirs here — would surface as such a job.
    import graft.operators.MergeOnRead
    val base = tmpDir("nd-nolist")
    val p = new CdcPipeline(spark, PipelineConfig(
      tableRoot = s"$base/table", changeLogDir = s"$base/changelog",
      checkpointDir = s"$base/checkpoint", errorDir = s"$base/errors",
      lineageDir = s"$base/lineage", numBuckets = 64, mode = "mor",
      compactThreshold = Double.PositiveInfinity, nearDupPolicy = "flag"))
    def docs(from: Int, n: Int, lsn0: Long) =
      (from until from + n).map(i => (lsn0 + i, "I", s"doc$i", toks(i)))
    // an invalid row per batch (n_tok off by one) keeps errors published
    def withInvalid(b: org.apache.spark.sql.DataFrame, lsn: Long) =
      b.unionByName(Seq((lsn, "I", s"bad$lsn", Option(toks(1)), Option(0L), "s"))
        .toDF("lsn", "op", "doc_id", "tokens", "n_tok", "source"))
    p.applyBatch(withInvalid(batch(docs(0, 120, 0L): _*), 999L), 0L)
    // doc1000 copies doc0's tokens → flagged against the index
    p.applyBatch(withInvalid(batch(
      docs(120, 120, 1000L) :+ ((2000L, "I", "doc1000", toks(0))): _*), 2999L), 1L)
    val v1 = p.table.currentVersion.get
    val dir = java.nio.file.Paths.get(base, "neardups").toString
    val probeBatch = batch(docs(240, 20, 3000L): _*)
    assert(DedupIndex.commitDirCount(dir, p.table.appliedCommitIds) >= 2)
    val m1 = p.table.current.get
    assert(m1.files.size + m1.deltaFiles.size > 32,
      s"table holds ${m1.files.size + m1.deltaFiles.size} files")

    val descriptions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        descriptions.add(Option(e.properties)
          .flatMap(pr => Option(pr.getProperty("spark.job.description"))).getOrElse(""))
    }
    val thresholdKey = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    def recorded(body: => Unit): Seq[String] = {
      descriptions.clear()
      body
      org.apache.spark.TestBus.drain(spark.sparkContext)
      import scala.collection.JavaConverters._
      descriptions.iterator().asScala.toSeq
    }
    spark.sparkContext.addSparkListener(listener)
    spark.conf.set(thresholdKey, "0")
    try {
      val jobs = recorded {
        p.applyBatch(probeBatch, 2L)
        spark.read.format("graft").load(s"$base/table").collect()
        MergeOnRead.changesSince(p.table, v1).collect()
        MergeOnRead.compact(p.table, "nolist-compact")
        p.readErrors().collect()
        val flags = p.readNearDups()
        DedupIndex.appendRoster(flags, dir, "b1")
        assert(DedupIndex.readRoster(spark, dir, p.table.appliedCommitIds).count() ==
          flags.select("doc_id").distinct().count())
        val applied = p.table.appliedCommitIds
        assert(DedupIndex.compact(spark, dir, applied, p.table.current.get.commitId) == 3)
      }
      assert(jobs.size > 10, s"listener saw ${jobs.size} jobs")
      val listing = jobs.filter(_.startsWith("Listing leaf files"))
      assert(listing.isEmpty, s"Spark listing jobs: ${listing.mkString("\n")}")
      // control: the same window catches a spark.read of an engine file
      val control = recorded(spark.read.parquet(m1.deltaFiles.head.path).collect())
      assert(control.exists(_.startsWith("Listing leaf files")), s"control jobs: $control")
    } finally {
      spark.conf.unset(thresholdKey)
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("index compaction folds applied dirs into one; probe results unchanged") {
    val base = tmpDir("nd-compact")
    val p = mkPipeline(base, "flag")
    (0 until 5).foreach { b =>
      p.applyBatch(batch((b * 10L + 1, "I", s"doc$b", toks(b))), b.toLong)
    }
    val dir = java.nio.file.Paths.get(base, "neardups").toString
    val applied = p.table.appliedCommitIds
    assert(DedupIndex.commitDirCount(dir, applied) == 5)
    val head = p.table.current.get.commitId
    val folded = DedupIndex.compact(spark, dir, applied, head)
    assert(folded == 5)
    assert(DedupIndex.commitDirCount(dir, applied) == 1)
    // a fresh near-dup batch still matches against the folded index
    p.applyBatch(batch((100L, "I", "docDup", toks(2))), 9L)
    val f = p.readNearDups().filter(col("doc_id") === "docDup").collect()
    assert(f.length == 1 && f.head.getAs[String]("dup_of") == "doc2")
  }

  test("update/delete-only batches skip the near-dup stage entirely") {
    val base = tmpDir("nd-skip")
    val p = mkPipeline(base, "flag")
    p.applyBatch(batch((1L, "I", "docA", toks(1))), 0L)
    p.applyBatch(batch((10L, "U", "docA", toks(6))), 1L)
    // only batch 0's index commit is on disk: batch 1's empty append was
    // dropped before its stage returned
    val idxRoot = java.nio.file.Paths.get(base, "neardups", "index")
    val commits = graft.table.Fs.listDir(idxRoot)
      .flatMap(d => DedupIndex.commitOf(d.getFileName.toString))
    assert(commits == Seq("b0"), s"index commits: $commits")
  }
}
