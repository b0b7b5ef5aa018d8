package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}

import graft.operators.{MergeOnRead, MergeStats}
import graft.streaming.{CdcPipeline, PipelineConfig}

/** A benchmark workload: engine mode, input shape and the reads that
  * follow each cycle of batches (`reads` scans and as many change reads).
  * A run measures a fixed `measuredCycles` cycles, so every run (and
  * both sides of a comparison) does the same work. `warmupCycles` run
  * first, checked but not timed: without them every timing fell 2-4x
  * over the first cycles as the JIT caught up, and medians taken on that
  * slope spread widely. Set-up repeats the engine's table set-up
  * `setupReps` times; the first repetitions run on a cold JIT (bootstraps
  * took 3.4 s, 1.0 s, 0.9 s, 0.8 s, 0.7 s, ...), and the median of the
  * repetitions sits past that slope. */
final case class Workload(
    name: String, mode: String, nearDup: String, shape: Shape,
    batchesPerCycle: Int, reads: Int, lookups: Int, setupReps: Int,
    measuredCycles: Int, warmupCycles: Int)

object Workload {
  val all: Map[String, Workload] = Seq(
    // first batch inserts, then update-heavy batches with ~20% of events
    // on ~1% of keys, stale re-deliveries and planted invalid rows
    Workload("bulk_cow", "cow", "off",
      Shape(baseDocs = 40000, batchEvents = 40000, width = (40, 50),
        pInsert = 0.05, pDelete = 0.05, pLate = 0.02, pInvalid = 0.005,
        hotKeys = 0.01, hotEvents = 0.2, pNearDup = 0.0),
      batchesPerCycle = 3, reads = 5, lookups = 20, setupReps = 6,
      measuredCycles = 4, warmupCycles = 2),
    // many small uniform-key batches over a bootstrapped base; a tenth of
    // the inserts are near-duplicates of earlier inserts
    Workload("trickle_mor", "mor", "flag",
      Shape(baseDocs = 12000, batchEvents = 1000, width = (40, 50),
        pInsert = 0.2, pDelete = 0.2, pLate = 0.0, pInvalid = 0.005,
        hotKeys = 0.0, hotEvents = 0.0, pNearDup = 0.1),
      batchesPerCycle = 3, reads = 4, lookups = 14, setupReps = 8,
      measuredCycles = 3, warmupCycles = 1)
  ).map(w => w.name -> w).toMap
}

final case class Args(
    workload: String = "", seed: Long = 1L, trace: Boolean = false,
    tmp: String = "", cores: Int = 4, traces: String = "", selfTest: Boolean = false)

object Main {
  val Buckets   = 16

  def parse(args: List[String], a: Args = Args()): Args = args match {
    case "--workload" :: v :: t => parse(t, a.copy(workload = v))
    case "--seed" :: v :: t     => parse(t, a.copy(seed = v.toLong))
    case "--trace" :: v :: t    => parse(t, a.copy(trace = v == "1"))
    case "--tmp" :: v :: t      => parse(t, a.copy(tmp = v))
    case "--cores" :: v :: t    => parse(t, a.copy(cores = v.toInt))
    case "--traces" :: v :: t   => parse(t, a.copy(traces = v))
    case "--self-test" :: t     => parse(t, a.copy(selfTest = true))
    case Nil                    => a
    case x :: _                 => throw new IllegalArgumentException(s"unknown argument $x")
  }

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      .master(s"local[${a.cores}]")
      .appName("graft-perfbench")
      // four shuffle tasks per core, so a stage can rebalance around a
      // core that a co-tenant slows
      .config("spark.sql.shuffle.partitions", 4L * a.cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", Paths.get(a.tmp, "spark").toString)
      .config("spark.hadoop.fs.file.impl", classOf[graft.table.NoForkLocalFileSystem].getName)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    require(a.tmp.nonEmpty, "--tmp is required")
    if (!a.selfTest) require(Workload.all.contains(a.workload), s"unknown workload ${a.workload}")
    val spark = session(a)
    val ok =
      try {
        if (a.selfTest) SelfTest.run(spark, a)
        else new Bench(spark, Workload.all(a.workload), a).run()
      } finally spark.stop()
    System.err.println(s"perfbench: stopped at ${(System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0}s after JVM start")
    sys.exit(if (ok) 0 else 1)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Nearest-rank quantile. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else xs.sorted.apply(math.min(xs.size - 1, math.max(0, math.ceil(q * xs.size).toInt - 1)))

  def json(m: Seq[(String, Double, String)]): String =
    m.map { case (k, v, u) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }.mkString("{", ",", "}")

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else graft.table.Fs.walkDir(p).filter(Files.isRegularFile(_)).map(Files.size).sum

  /** The checks shared by the measured run and the self-test. */
  object Check {
    def digest(actual: (Long, BigInt), expected: (Long, BigInt)): Boolean = actual == expected

    def lookup(rows: Array[Row], expected: Option[Oracle#Entry]): Boolean = expected match {
      case None => rows.isEmpty
      case Some(e) =>
        rows.length == 1 && {
          val r = rows(0)
          r.getAs[scala.collection.Seq[Int]]("tokens").toSeq == e.tokens.toSeq &&
          r.getAs[Any]("n_tok").asInstanceOf[Number].longValue == e.nTok &&
          r.getAs[String]("source") == e.source
        }
    }

    def errors(p: CdcPipeline, planted: Seq[Long]): Boolean =
      p.readErrors().select("lsn").collect().map(_.getLong(0)).sorted.toSeq == planted.sorted
  }
}

/** One benchmark run of one workload: set up, measure a fixed number of
  * cycles of batches and reads, check every output
  * against the [[Oracle]], print the metrics. */
final class Bench(spark: SparkSession, w: Workload, a: Args) {
  import Main._

  private val sc     = spark.sparkContext
  private val tmp    = Paths.get(a.tmp)
  private val trace  = if (a.trace) Some(new JobTrace) else None
  private val spans  = new Spans
  private val heap   = new HeapPeak
  trace.foreach(sc.addSparkListener)

  // samples of the measured operations, seconds
  private val commits, scans, lookups, changes, compacts = mutable.ArrayBuffer.empty[Double]
  private var events    = 0L
  private var attempted = 0L
  private var failed    = 0L
  private val stats     = mutable.ArrayBuffer.empty[MergeStats]
  // traced-only per-layer observations
  private val writeAmp    = mutable.ArrayBuffer.empty[(Long, Long)]
  private val indexFiles  = mutable.ArrayBuffer.empty[Double]
  private val deltaFiles  = mutable.ArrayBuffer.empty[Double]
  private val bytesPerRow = mutable.ArrayBuffer.empty[Double]
  private var skewMax     = 0.0
  private var recall      = 0.0

  // false during warm-up cycles: their operations are checked, not timed
  private var recording = false

  private def span[A](name: String)(body: => A): A =
    if (a.trace) spans(name)(body) else body

  private def progress(msg: String): Unit =
    System.err.println(s"perfbench: $msg at ${(System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0}s after JVM start")

  private def problem(msg: String): Unit = System.err.println(s"perfbench: FAILED $msg")

  /** Time one engine operation under job description `label` (None: the
    * engine labels its own jobs). A throw or a failed check is a failure. */
  private def op[A](name: String, label: Option[String], into: mutable.ArrayBuffer[Double])(
      body: => A)(check: A => Boolean): Option[A] = {
    attempted += 1
    label.foreach(l => sc.setJobDescription(s"bench $l"))
    val t0 = System.nanoTime()
    val r =
      try Right(span(name)(body))
      catch { case scala.util.control.NonFatal(e) => Left(e) }
      finally sc.setJobDescription(null)
    val dt = (System.nanoTime() - t0) / 1e9
    r match {
      case Left(e) =>
        failed += 1; problem(s"$name threw ${e.toString.take(500)}"); None
      case Right(v) =>
        if (recording) into += dt
        if (!check(v)) { failed += 1; problem(s"$name returned a wrong result: ${String.valueOf(v).take(200)}") }
        Some(v)
    }
  }

  private def untimed[A](label: String)(body: => A): A = {
    sc.setJobDescription(s"bench $label")
    try body finally sc.setJobDescription(null)
  }

  private def pipeline(root: Path): CdcPipeline = new CdcPipeline(spark, PipelineConfig(
    tableRoot = root.resolve("table").toString,
    changeLogDir = root.resolve("changelog").toString,
    checkpointDir = root.resolve("checkpoint").toString,
    errorDir = root.resolve("errors").toString,
    lineageDir = root.resolve("lineage").toString,
    numBuckets = Buckets,
    mode = w.mode,
    nearDupPolicy = w.nearDup,
    nearDupDir = root.resolve("neardups").toString))

  private def tableBytes(p: CdcPipeline, v: Long): Map[String, Long] = {
    val m = p.table.manifest(v)
    (m.files ++ m.deltaFiles).map(f => f.path -> Files.size(Paths.get(f.path))).toMap
  }

  // ---- the measured operations ----

  private def commit(p: CdcPipeline, dir: Path, batchId: Long, n: Int): Unit = {
    val before = if (a.trace) tableBytes(p, p.table.currentVersion.get) else Map.empty[String, Long]
    val idx    = Paths.get(p.table.root).resolveSibling("neardups").resolve("index")
    val idx0   = if (a.trace) fileCount(idx) else 0
    val raw    = spark.read.schema(Gen.EventSchema).parquet(dir.toString)
    op("applyBatch", None, commits)(p.applyBatch(raw, batchId))(s => !s.skipped).foreach { s =>
      if (recording) { stats += s; events += n }
      if (recording && a.trace) {
        val added = tableBytes(p, s.version).filter { case (f, _) => !before.contains(f) }
        writeAmp += ((added.values.sum, dirBytes(dir)))
        if (w.nearDup != "off") indexFiles += (fileCount(idx) - idx0).toDouble
      }
    }
  }

  private def fileCount(p: Path): Int =
    if (!Files.exists(p)) 0
    else graft.table.Fs.walkDir(p).count(f => Files.isRegularFile(f) && f.toString.endsWith(".parquet"))

  private def reads(p: CdcPipeline, gen: Gen, oracle: Oracle): Unit = {
    val expected = oracle.digest
    val root = p.table.root
    if (recording && a.trace) {
      val m = p.table.current.get
      deltaFiles += m.deltaFiles.size.toDouble
      bytesPerRow += tableBytes(p, m.version).values.sum.toDouble / math.max(1L, expected._1)
    }
    (0 until w.reads).foreach { _ =>
      op("scan", Some("scan"), scans)(
        Oracle.digestOf(spark.read.format("graft").load(root)))(Check.digest(_, expected))
    }
    // a fixed mix of live, deleted and never-written keys
    (0 until w.lookups).foreach { i =>
      val id = i % 5 match {
        case 3 if gen.deleted.nonEmpty => gen.docId(gen.deleted(gen.pick(gen.deleted.size)))
        case 4 => gen.absentDoc(gen.pick(1 << 20))
        case _ => gen.liveDoc(gen.pick(gen.liveKeys))
      }
      val exp = oracle.get(id)
      op("lookup", Some("lookup"), lookups)(p.lookup(id).collect())(Check.lookup(_, exp))
    }
  }

  private def changesRead(p: CdcPipeline, from: Long, expected: Long): Unit =
    (0 until w.reads).foreach { _ =>
      op("changesSince", Some("changes"), changes)(
        Oracle.digestOf(MergeOnRead.changesSince(p.table, from))._1)(_ == expected)
    }

  private def checkSideTables(p: CdcPipeline, gen: Gen): Unit = untimed("verify") {
    if (!Check.errors(p, gen.plantedInvalid.toSeq)) {
      failed += 1; problem("error table does not hold exactly the planted invalid rows")
    }
    if (a.trace) {
      val sk = p.readLineage().filter("partition_id = -1 AND batch_id >= 0")
        .agg(org.apache.spark.sql.functions.max("skew_ratio")).head()
      if (!sk.isNullAt(0)) skewMax = math.max(skewMax, sk.getDouble(0))
      if (gen.plantedNearDups.nonEmpty) {
        val flagged = p.readNearDups().select("doc_id").collect().map(_.getString(0)).toSet
        recall = gen.plantedNearDups.count(flagged.contains).toDouble / gen.plantedNearDups.size
      }
    }
  }

  // ---- set-up: build the inputs from the seed, then the engine's table ----

  private final class State(
      val gen: Gen, val oracle: Oracle,
      val table: Option[CdcPipeline],           // MOR: the bootstrapped table
      val inputs: Seq[(Path, Int)],             // COW: the batch dirs, events
      val expChanges: Long)                     // COW: rows of the change read

  /** Generates the inputs from the seed, folds them into the oracle and
    * writes them as parquet. Returns the COW batch dirs with their event
    * counts and the rows the COW change read must return; the events
    * themselves are dropped. */
  private def writeInputs(gen: Gen, oracle: Oracle): (Seq[(Path, Int)], Long) =
    if (w.mode == "cow") {
      val batches = gen.insertBatch() +: Seq.fill(w.batchesPerCycle - 1)(gen.batch())
      var fromLive = Set.empty[String]
      val inputs = batches.zipWithIndex.map { case (evs, b) =>
        val d = tmp.resolve(s"in/batch-$b")
        Gen.writeEvents(spark, evs, d.toString)
        oracle.fold(evs)
        if (b == 0) fromLive = oracle.liveIds
        (d, evs.size)
      }
      // the change read covers the update batches; their stale
      // re-deliveries sit below the insert batch's watermark, so the
      // engine answers it by state diff: net changes only
      (inputs, oracle.netChangesSince(fromLive, batches.head.map(_.lsn).max))
    } else {
      val base = gen.base()
      oracle.fold(base)
      Gen.writeSnapshot(spark, base, tmp.resolve("in/base").toString)
      (Nil, 0L)
    }

  /** One engine set-up, an initial load into a fresh directory: COW
    * applies the insert batch to an empty table, MOR bootstraps the base. */
  private def setUpTable(rep: Int, gen: Gen, inputs: Seq[(Path, Int)]): CdcPipeline = {
    val p = pipeline(tmp.resolve(s"setup-$rep"))
    if (w.mode == "cow")
      span("load")(p.applyBatch(spark.read.schema(Gen.EventSchema).parquet(inputs.head._1.toString), 0L))
    else
      span("bootstrap")(p.bootstrap(
        spark.read.schema(Gen.SnapshotSchema).parquet(tmp.resolve("in/base").toString), gen.floorLsn))
    p
  }

  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def dropTable(p: CdcPipeline): Unit =
    graft.table.Fs.deleteRecursively(Paths.get(p.table.root).getParent)

  /** Builds the inputs (untimed), then repeats the engine's set-up
    * `setupReps` times, timing each alone. MOR keeps the last bootstrapped
    * table; COW cycles each load their own empty table, so its set-up
    * tables are dropped. Returns the state, the set-up durations in
    * seconds, and the old generation after the inputs are built and before any engine
    * call, MB: Spark's own baseline plus the benchmark's inputs and
    * oracle, the part of `heap_peak_mb` that is not the engine's. */
  private def setup(): (State, Seq[Double], Double) = span("setup") {
    untimed("setup") {
      val gen = new Gen(a.seed, w.shape)
      val oracle = new Oracle
      val (inputs, expChanges) = writeInputs(gen, oracle)
      val inputsMb = heap.sampleMb()
      val reps = (1 to w.setupReps).map(rep => span("table")(timed(setUpTable(rep, gen, inputs))))
      val kept = if (w.mode == "mor") Some(reps.last._1) else None
      reps.map(_._1).filterNot(kept.contains).foreach(dropTable)
      (new State(gen, oracle, kept, inputs, expChanges), reps.map(_._2), inputsMb)
    }
  }

  // ---- the measured cycles ----

  /** COW: a fresh empty table per cycle takes the same insert batch and
    * update batches, so every cycle measures the same work. */
  private def cowCycle(s: State, k: Int): Unit = span("cycle") {
    val p = pipeline(tmp.resolve(s"cow-$k"))
    var v0 = -1L
    s.inputs.zipWithIndex.foreach { case ((d, n), b) =>
      commit(p, d, b.toLong, n)
      if (b == 0) v0 = p.table.currentVersion.get
    }
    reads(p, s.gen, s.oracle)
    changesRead(p, v0, s.expChanges)
    checkSideTables(p, s.gen)
    dropTable(p)
  }

  /** MOR: batches append deltas to the same table, reads fold them, and
    * compaction folds them into the base; inserts and deletes balance,
    * so every cycle starts from a table of about the same size. */
  private var batchNo = 0L
  private def morCycle(s: State, k: Int): Unit = span("cycle") {
    val p = s.table.get
    val v0 = p.table.currentVersion.get
    var expChanges = 0L
    val dirs = (0 until w.batchesPerCycle).map { _ =>
      val evs = s.gen.batch()
      val d = tmp.resolve(s"in/batch-$batchNo")
      untimed("gen")(Gen.writeEvents(spark, evs, d.toString))
      s.oracle.fold(evs)
      expChanges += evs.filter(_.valid).map(_.docId).distinct.size
      commit(p, d, batchNo, evs.size)
      batchNo += 1
      d
    }
    reads(p, s.gen, s.oracle)
    changesRead(p, v0, expChanges)
    op("compact", Some("compact"), compacts)(
      MergeOnRead.compact(p.table, s"bench-compact-$k"))(!_.skipped)
    untimed("verify") {
      if (!Check.digest(Oracle.digestOf(spark.read.format("graft").load(p.table.root)), s.oracle.digest)) {
        failed += 1; problem("live view after compaction differs from the oracle")
      }
    }
    checkSideTables(p, s.gen)
    dirs.foreach(graft.table.Fs.deleteRecursively)
  }

  def run(): Boolean = {
    val calib = mutable.ArrayBuffer(Noise.calibMs())
    val load0 = Noise.load1()
    val ((state, setupRuns, inputsMb), setupSteal) = Noise.stealOver(setup())
    progress("set-up done")
    calib += Noise.calibMs()

    def cycle(k: Int): Unit =
      if (failed == 0) { if (w.mode == "cow") cowCycle(state, k) else morCycle(state, k) }
    (1 to w.warmupCycles).foreach(cycle)
    progress("warm-up done")

    recording = true
    val measureStart = System.currentTimeMillis()
    trace.foreach(_.start())
    heap.start()
    val t0 = System.nanoTime()
    val cycles = w.measuredCycles
    val (_, measureSteal) = Noise.stealOver {
      (1 to cycles).foreach { k => cycle(w.warmupCycles + k); heap.sampleMb() }
    }
    val measured = (System.nanoTime() - t0) / 1e9
    progress("measured")
    calib += Noise.calibMs()
    val load1 = Noise.load1()

    val commitSum = commits.sum
    val e2e = Seq(
      ("setup_s", median(setupRuns), "s"),
      ("events_per_s", if (commitSum > 0) events / commitSum else 0.0, "events/s"),
      ("commit_p50_s", median(commits.toSeq), "s"),
      ("scan_s", median(scans.toSeq), "s"),
      ("lookup_p50_ms", median(lookups.toSeq) * 1000, "ms"),
      ("changes_s", median(changes.toSeq), "s"),
      ("heap_peak_mb", heap.peakMb, "MB"))
    val detail = Seq(
      s""""workload":"${w.name}","seed":${a.seed},"cycles":$cycles,"measured_s":${num(measured)}""",
      s""""samples":{"commit":${commits.size},"scan":${scans.size},"lookup":${lookups.size},"changes":${changes.size},"compact":${compacts.size}}""",
      s""""noise":{"calib_ms":${calib.map(num).mkString("[", ",", "]")},"steal_pct":{"setup":${num(setupSteal)},"measure":${num(measureSteal)}},"load1":[${num(load0)},${num(load1)}]}""",
      s""""setup_runs_s":${setupRuns.map(num).mkString("[", ",", "]")},"inputs_heap_mb":${num(inputsMb)}""",
      Seq("commit" -> commits, "scan" -> scans, "lookup" -> lookups, "changes" -> changes, "compact" -> compacts)
        .map { case (k, xs) => s""""$k":${xs.map(x => f"$x%.4f").mkString("[", ",", "]")}""" }
        .mkString(""""samples_s":{""", ",", "}"))
    println(detail.mkString("""{"detail":{""", ",", "}}"))

    val metrics =
      if (!a.trace) e2e
      else {
        org.apache.spark.BenchBus.drain(sc)
        val layers = perLayer(calib.toSeq, math.max(setupSteal, measureSteal), measureStart, inputsMb)
        writeTrace()
        layers ++ e2e.collect {
          case (n, v, u) if Set("events_per_s", "commit_p50_s", "scan_s", "lookup_p50_ms", "changes_s")(n) =>
            (s"traced.$n", v, u)
        }
      }
    // the launcher deletes the whole temp root, this table included
    val correct = failed == 0
    println(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":${json(metrics)}}""")
    correct
  }

  // ---- per-layer metrics from the traced run ----

  private def perLayer(
      calib: Seq[Double], steal: Double, from: Long, inputsMb: Double): Seq[(String, Double, String)] = {
    val t = trace.get
    val jobs = t.jobs
    def inSpan(s: Spans.Span) = jobs.filter(j => j.start >= s.start && j.start <= s.end)
    val layerCounters = JobTrace.Layers.flatMap { case (label, layer) =>
      val c = t.get(label)
      val wall = JobTrace.unionMs(jobs.filter(_.label == label).map(j => (j.start, j.end)),
        Long.MinValue, Long.MaxValue)
      Seq(
        (s"$layer.jobs", c.jobs.toDouble, "count"),
        (s"$layer.wall_ms", wall.toDouble, "ms"),
        (s"$layer.task_ms", c.taskMs.toDouble, "ms"),
        (s"$layer.cpu_ms", c.cpuMs.toDouble, "ms"),
        (s"$layer.gc_ms", c.gcMs.toDouble, "ms"),
        (s"$layer.shuffle_write_bytes", c.shuffleWrite.toDouble, "bytes"),
        (s"$layer.shuffle_read_bytes", c.shuffleRead.toDouble, "bytes"),
        (s"$layer.spill_bytes", c.spill.toDouble, "bytes"),
        (s"$layer.input_rows", c.inRows.toDouble, "rows"),
        (s"$layer.output_rows", c.outRows.toDouble, "rows"))
    }
    val batches = spans.named("applyBatch").filter(_.start >= from)
    val selfMs = batches.map { s =>
      (s.end - s.start - JobTrace.unionMs(inSpan(s).map(j => (j.start, j.end)), s.start, s.end)).toDouble
    }
    val tails = batches.map { s =>
      val js = inSpan(s)
      val nd = js.filter(_.label == "cdc neardup").map(_.end)
      val mg = js.filter(_.label.startsWith("cdc merge")).map(_.end)
      if (nd.isEmpty || mg.isEmpty) 0.0 else math.max(0L, nd.max - mg.max).toDouble
    }
    val scanSpans = spans.named("scan").filter(s => s.start >= from && inSpan(s).nonEmpty)
    val plan = scanSpans.map(s => (inSpan(s).map(_.start).min - s.start).toDouble)
    val exec = scanSpans.map(s => (s.end - inSpan(s).map(_.start).min).toDouble)
    val cow  = stats.filter(_ => w.mode == "cow")
    val ev   = stats.map(_.batchEvents).sum.toDouble
    val derived = Seq(
      ("streaming.batch_self_ms", median(selfMs), "ms"),
      ("streaming.jobs_per_batch", batches.map(inSpan(_).size.toDouble).sum / math.max(1, batches.size), "count"),
      ("neardup.tail_ms", median(tails), "ms"),
      ("dedupindex.files_per_batch", if (indexFiles.isEmpty) 0.0 else indexFiles.sum / indexFiles.size, "count"),
      ("dedupindex.recall", recall, "ratio"),
      ("merge.touched_bucket_frac",
        if (cow.isEmpty) 0.0 else cow.map(_.touchedBuckets.toDouble / Buckets).sum / cow.size, "ratio"),
      ("operators.dedup_ratio",
        if (ev == 0) 0.0 else stats.map(s => s.inserted + s.updated + s.deleted).sum / ev, "ratio"),
      ("operators.stale_frac", if (ev == 0) 0.0 else stats.map(_.staleEvents).sum / ev, "ratio"),
      ("lineage.skew_ratio_max", skewMax, "ratio"),
      ("table.write_amp",
        writeAmp.map(_._1).sum.toDouble / math.max(1L, writeAmp.map(_._2).sum), "ratio"),
      ("table.delta_files_pending", median(deltaFiles.toSeq), "count"),
      ("table.bytes_per_live_row", median(bytesPerRow.toSeq), "bytes"),
      ("read.plan_ms", median(plan), "ms"),
      ("read.exec_ms", median(exec), "ms"),
      ("lookup.rows_read_per_result", t.get("bench lookup").inRows.toDouble / math.max(1, lookups.size), "rows"))
    val ops = Seq(
      ("trace.labelled_task_frac", t.labelledTaskFrac, "ratio"),
      ("ops.commit_n", commits.size.toDouble, "count"),
      ("ops.lookup_n", lookups.size.toDouble, "count"),
      // the highest percentile with at least ten samples beyond it
      ("ops.lookup_tail_ms", if (lookups.size < 20) 0.0
        else quantile(lookups.toSeq, 1.0 - 10.0 / lookups.size) * 1000, "ms"),
      ("ops.compact_s", median(compacts.toSeq), "s"),
      ("heap.inputs_mb", inputsMb, "MB"),
      ("noise.calib_ms", median(calib), "ms"),
      ("noise.steal_pct", steal, "%"))
    System.err.println(s"perfbench: labels seen ${t.labels.mkString(", ")}")
    layerCounters ++ derived ++ ops
  }

  private def writeTrace(): Unit = if (a.traces.nonEmpty) {
    val name = s"${w.name}-seed${a.seed}"
    spans.write(Paths.get(a.traces, s"$name.json"), name)
  }
}
