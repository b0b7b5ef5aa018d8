package graft

import org.apache.spark.sql.SparkSession

import graft.ingest.CdcGenerator
import graft.operators.MergeOnRead
import graft.streaming.{CdcPipeline, PipelineConfig}

/** Single isolated CDC measurement in a fresh JVM (diagnostic harness for
  * the scaling study; Bench aggregates the official numbers).
  *
  * args: <mode> <cores> <changeLogDir> <batches> <buckets>
  * Modes:
  *  - `cow` | `mor` | `auto`: stream the change log through a pipeline in
  *    that mode. If changeLogDir is "-", stages a fresh one from
  *    SPARK_GRAFT_SF_DIR × SPARK_GRAFT_REPLICATE first. Prints one line:
  *    BENCHONE mode=<m> cores=<c> events=<n> sec=<s> eps=<n/s>
  *  - `stage`: only write the change log to changeLogDir.
  *  - `skew`: run [[Bench.skewStudy]] alone.
  *  - `bootstrap` | `bootmerge`: the initial load through bootstrap's
  *    bucketed write vs through MERGE into the empty table.
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val mode    = args(0)
    val cores   = args(1).toInt
    val batches = if (args.length > 3) args(3).toInt else 4
    val buckets = if (args.length > 4) args(4).toInt else 64

    val evDir = sys.env.get("GRAFT_EVENTLOG")
    evDir.foreach(d => java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d)))
    val b0 = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)

      .config("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      .master(s"local[$cores]")
      .appName(s"graft-benchone-$mode-$cores")
      .config("spark.sql.shuffle.partitions", cores)
    val b1 = evDir.fold(b0)(d =>
      b0.config("spark.eventLog.enabled", "true").config("spark.eventLog.dir", d))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[graft.table.NoForkLocalFileSystem].getName)
    // GRAFT_CONF="k=v,k=v" — ad-hoc conf probes for diagnostics; applied
    // LAST so a probe can override any of the defaults above (that is
    // its whole purpose — e.g. measuring the stock fs.file.impl)
    val spark = sys.env.get("GRAFT_CONF").map(_.split(",").toSeq).getOrElse(Seq.empty)
      .filter(_.contains("="))
      .foldLeft(b1) { (b, kv) =>
        val Array(k, v) = kv.split("=", 2); b.config(k, v)
      }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    if (mode == "skew") {
      // run ONLY the hot-key skew study (diagnostic for Bench.skewStudy)
      println(s"BENCHONE skew cores=$cores ${Bench.skewStudy(spark)}")
      spark.stop()
      return
    }

    if (mode == "stage") {
      // just materialize the change log to args(2) and exit
      val sfDir     = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
      val replicate = sys.env.getOrElse("SPARK_GRAFT_REPLICATE", "90").toInt
      CdcGenerator.writeBatches(spark, sfDir, args(2), batches, replicate, filesPerBatch = 32)
      println(s"BENCHONE staged ${args(2)}")
      spark.stop()
      return
    }

    if (mode == "bootstrap" || mode == "bootmerge") {
      // A/B for the initial-load claim (Bootstrap scaladoc): the same
      // rep-0 insert slice applied through bootstrap's join-free bucketed
      // write vs through the ordinary MERGE path into the empty table
      // (a sort and LWW fold against nothing). Same rows, same validation
      // work, same bucketed output — only the write plan differs.
      // GRAFT_BOOT_SWEEP=1 adds bootstrap's duplicate sweep to the timed
      // path (off by default: the slice is unique-keyed by construction,
      // which is exactly the assumeUnique contract).
      import org.apache.spark.sql.functions.col
      val sfDir     = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
      val replicate = sys.env.getOrElse("SPARK_GRAFT_REPLICATE", "90").toInt
      val stride    = CdcGenerator.LsnStride * replicate
      val dir = java.nio.file.Files.createTempDirectory("graft-benchone-boot")
      try {
        // stage once: the timed run reads parquet, not the generator chain
        CdcGenerator.events(spark, sfDir, replicate)
          .filter(col("lsn") < stride)
          .write.parquet(s"$dir/snap")
        val rows = spark.read.parquet(s"$dir/snap")
        val n    = rows.count()
        def runBoot(base: String, input: org.apache.spark.sql.DataFrame, asOf: Long): Double = {
          val p = new CdcPipeline(spark, PipelineConfig(
            tableRoot = s"$base/table", changeLogDir = s"$base/unused",
            checkpointDir = s"$base/ckpt", errorDir = s"$base/errors",
            lineageDir = s"$base/lineage", numBuckets = buckets, mode = "cow",
            compactThreshold = Double.PositiveInfinity))
          val t0 = System.nanoTime()
          if (mode == "bootstrap")
            p.bootstrap(input.drop("lsn", "op", "ingest_ts"), asOfLsn = asOf,
              assumeUnique = !sys.env.contains("GRAFT_BOOT_SWEEP"))
          else p.applyBatch(input, 0L)
          (System.nanoTime() - t0) / 1e9
        }
        // warmup sliver (JIT + codegen), then the timed run
        runBoot(s"$dir/warm",
          CdcGenerator.events(spark, "/root/testdata/sf0.001")
            .filter(col("lsn") < CdcGenerator.LsnStride),
          CdcGenerator.LsnStride - 1)
        val sec = runBoot(s"$dir/run", rows, stride - 1)
        println(f"BENCHONE mode=$mode cores=$cores events=$n sec=$sec%.2f eps=${n / sec}%.1f")
      } finally graft.table.Fs.deleteRecursively(dir)
      spark.stop()
      return
    }
    val ownedLog = if (args(2) != "-") None else
      Some(java.nio.file.Files.createTempDirectory("graft-benchone-log"))
    try {
      val changeLog = ownedLog.fold(args(2)) { d =>
        val sfDir     = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
        val replicate = sys.env.getOrElse("SPARK_GRAFT_REPLICATE", "90").toInt
        CdcGenerator.writeBatches(spark, sfDir, d.toString, batches, replicate, filesPerBatch = 32)
        d.toString
      }
      val nEvents = spark.read.parquet(s"$changeLog/batch-*").count()

      // warmup on a sliver (JIT + codegen)
      val warm = java.nio.file.Files.createTempDirectory("graft-benchone-warm")
      try {
        CdcGenerator.writeBatches(spark, "/root/testdata/sf0.001", warm.toString, 2)
        runOnce(spark, warm.toString, 2, 8, mode)
      } finally graft.table.Fs.deleteRecursively(warm)

      val sec = runOnce(spark, changeLog, batches, buckets, mode)
      println(f"BENCHONE mode=$mode cores=$cores events=$nEvents sec=$sec%.2f eps=${nEvents / sec}%.1f")
      // GRAFT_TWICE: repeat the identical run in the SAME JVM/session on a
      // fresh table dir — separates session/JVM accumulation (run 2 starts
      // slow) from table-state effects (run 2 repeats run 1's profile)
      if (sys.env.contains("GRAFT_TWICE")) {
        val sec2 = runOnce(spark, changeLog, batches, buckets, mode)
        println(f"BENCHONE run2 mode=$mode sec=$sec2%.2f eps=${nEvents / sec2}%.1f")
      }
    } finally ownedLog.foreach(graft.table.Fs.deleteRecursively)
    spark.stop()
  }

  def runOnce(
      spark: SparkSession, changeLog: String, batches: Int, buckets: Int,
      mode: String): Double = {
    // self-cleaning (VERDICT r3 #1): leaked bench trees are the documented
    // cause of monotone /tmp-writeback run degradation on this box
    val baseDir = java.nio.file.Files.createTempDirectory("graft-benchone-run")
    try runOnceAt(spark, changeLog, batches, buckets, mode, baseDir.toString)
    finally graft.table.Fs.deleteRecursively(baseDir)
  }

  private def runOnceAt(
      spark: SparkSession, changeLog: String, batches: Int, buckets: Int,
      mode: String, base: String): Double = {
    val p = new CdcPipeline(spark, PipelineConfig(
      tableRoot = s"$base/table",
      changeLogDir = changeLog,
      checkpointDir = s"$base/checkpoint",
      errorDir = s"$base/errors",
      lineageDir = s"$base/lineage",
      numBuckets = buckets,
      mode = mode,
      // GRAFT_SALT=32 re-enables the salted LWW path for A/B against the
      // measured-off default (skewStudy)
      salt = sys.env.getOrElse("GRAFT_SALT", "1").toInt,
      compactThreshold = Double.PositiveInfinity))
    def gcMs(): Long = {
      import scala.collection.JavaConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).sum
    }
    val clock = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    if (sys.env.contains("GRAFT_TIMING"))
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          clock.addAndGet(e.taskInfo.duration); tasks.incrementAndGet(); ()
        }
      })
    val t0 = System.nanoTime()
    (0 until batches).foreach { b =>
      val g0 = gcMs(); val c0 = clock.get(); val k0 = tasks.get()
      val s = p.applyBatch(spark.read.parquet(f"$changeLog/batch-$b%05d"), b.toLong)
      if (sys.env.contains("GRAFT_GC")) System.gc() // diagnostic: force ContextCleaner
      if (sys.env.contains("GRAFT_TIMING"))
        System.err.println(s"[benchone] batch=$b wallMs=${s.wallMs} gcMs=${gcMs() - g0} " +
          s"taskMs=${clock.get() - c0} tasks=${tasks.get() - k0} ins=${s.inserted} upd=${s.updated}")
    }
    if (mode == "mor") {
      val tc = System.nanoTime()
      MergeOnRead.compact(p.table, "final")
      System.err.println(
        f"[benchone] compact wall=${(System.nanoTime() - tc) / 1e9}%.2fs")
    }
    (System.nanoTime() - t0) / 1e9
  }
}
