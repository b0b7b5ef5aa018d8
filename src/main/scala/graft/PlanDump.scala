package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Diagnostic (guide §7.2): dump optimized/physical plans of internal
  * engine frames the official queries exercise as side effects — the
  * before/after plan evidence under `plans/`. Not part of the frozen
  * driver contract. Usage: runMain graft.PlanDump <what> [sfDir] */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val what  = if (args.nonEmpty) args(0) else "merge_probe"
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val spark = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      // the job-timeline case needs the cores its concurrent jobs share
      .master(if (what == "neardup_jobs") "local[4]" else "local[1]")
      .appName("graft-plandump")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    what match {
      case "merge_probe" =>
        // the COW merge's touched-bucket probe, old vs new spelling,
        // over the same deduped batch lineage
        val ev      = graft.ingest.CdcGenerator.events(spark, sfDir)
        val deduped = graft.operators.Dedup.lww(ev)
        val batch   = deduped.withColumn(
          "_bucket", graft.operators.MergeOnRead.bucketOf(col("doc_id"), 16))
        println("==== OLD probe: select(_bucket).limit(T+1) then count ====")
        batch.select("_bucket").limit(1025).explain("formatted")
        println("==== NEW probe: select(_bucket).distinct ====")
        batch.select("_bucket").distinct().explain("formatted")
      case "dedup_probe" =>
        // the near-dup probe as the flag-policy pipeline runs it: a batch
        // of inserts against an index of two applied commits. The index
        // scan's Location shows the files it opens, its PushedFilters the
        // `_ibkt` predicate that prunes them.
        import graft.operators.DedupIndex
        import graft.streaming.{CdcPipeline, PipelineConfig}
        val base = java.nio.file.Files.createTempDirectory("graft-plandump-dp")
        try {
          val p = new CdcPipeline(spark, PipelineConfig(
            tableRoot = s"$base/table", changeLogDir = s"$base/unused",
            checkpointDir = s"$base/ckpt", errorDir = s"$base/errors",
            lineageDir = s"$base/lineage", numBuckets = 4, mode = "mor",
            nearDupPolicy = "flag"))
          val inserts = graft.ingest.CdcGenerator.events(spark, sfDir)
            .filter(col("op") === "I" && col("doc_id").isNotNull)
          p.applyBatch(inserts.filter(col("lsn") % 3 === 0), 0L)
          p.applyBatch(inserts.filter(col("lsn") % 3 === 1), 1L)
          val bands = DedupIndex.bandRows(inserts.filter(col("lsn") % 3 === 2))
          println("==== near-dup probe over 2 applied index commits ====")
          DedupIndex.probe(spark, s"$base/neardups", p.table.appliedCommitIds, bands)
            .explain("formatted")
        } finally graft.table.Fs.deleteRecursively(base)
      case "band_rows" =>
        // the near-dup index's band rows of a batch of inserts read from
        // parquet, as the pipeline reads a changelog batch
        val base = java.nio.file.Files.createTempDirectory("graft-plandump-br")
        try {
          graft.ingest.CdcGenerator.events(spark, sfDir)
            .filter(col("op") === "I" && col("doc_id").isNotNull)
            .write.parquet(s"$base/inserts")
          println("==== DedupIndex.bandRows ====")
          graft.operators.DedupIndex.bandRows(spark.read.parquet(s"$base/inserts"))
            .explain("formatted")
        } finally graft.table.Fs.deleteRecursively(base)
      case "neardup_jobs" =>
        // the Spark jobs of one flag-policy MOR batch after a first,
        // applied one, in start order: label, start/end (ms from the
        // batch's start), tasks, and the call site that launched them
        import graft.streaming.{CdcPipeline, PipelineConfig}
        import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
        case class Job(label: String, start: Long, tasks: Int, site: String)
        val started = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
        val ended = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
        val listener = new SparkListener {
          override def onJobStart(e: SparkListenerJobStart): Unit = {
            val label = Option(e.properties)
              .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
            started.put(e.jobId, Job(label, e.time, e.stageInfos.map(_.numTasks).sum,
              e.stageInfos.map(_.name).lastOption.getOrElse("")))
            ()
          }
          override def onJobEnd(e: SparkListenerJobEnd): Unit = { ended.put(e.jobId, e.time); () }
        }
        val base = java.nio.file.Files.createTempDirectory("graft-plandump-nj")
        try {
          val p = new CdcPipeline(spark, PipelineConfig(
            tableRoot = s"$base/table", changeLogDir = s"$base/unused",
            checkpointDir = s"$base/ckpt", errorDir = s"$base/errors",
            lineageDir = s"$base/lineage", numBuckets = 16, mode = "mor",
            nearDupPolicy = "flag"))
          val ev = graft.ingest.CdcGenerator.events(spark, sfDir)
          p.applyBatch(ev.filter(col("lsn") % 8 =!= 0), 0L)
          spark.sparkContext.addSparkListener(listener)
          val t0 = System.currentTimeMillis()
          p.applyBatch(ev.filter(col("lsn") % 8 === 0), 1L)
          val deadline = System.currentTimeMillis() + 10000L
          while (ended.size < started.size && System.currentTimeMillis() < deadline)
            Thread.sleep(50)
          import scala.collection.JavaConverters._
          println("==== jobs of one trickle batch (flag policy, MOR, 16 buckets) ====")
          println(f"${"job"}%4s  ${"label"}%-22s ${"start"}%6s ${"end"}%6s ${"tasks"}%5s  call site")
          started.asScala.toSeq.sortBy { case (id, j) => (j.start, id) }.foreach { case (id, j) =>
            val end = Option(ended.get(id)).map(e => (e - t0).toString).getOrElse("?")
            println(f"$id%4d  ${j.label}%-22s ${j.start - t0}%6d $end%6s ${j.tasks}%5d  ${j.site}")
          }
          val nd = started.asScala.values.count(_.label.endsWith(" neardup"))
          println(s"near-dup jobs: $nd")
        } finally {
          spark.sparkContext.removeSparkListener(listener)
          graft.table.Fs.deleteRecursively(base)
        }
      case "route_writes" =>
        // final AQE plans of the bucket-routed writes: two MOR delta
        // writes, then two COW merge writes (16 buckets; the second commit
        // of each lands on a non-empty table). The route exchange and the
        // shuffle read above it show how AQE sized the write's tasks.
        import org.apache.spark.sql.execution.SparkPlan
        import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, ShuffleQueryStageExec}
        import graft.streaming.{CdcPipeline, PipelineConfig}
        object Walk extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
        val base = java.nio.file.Files.createTempDirectory("graft-plandump-rw")
        val plans = new java.util.concurrent.LinkedBlockingQueue[SparkPlan]()
        val listener = new org.apache.spark.sql.util.QueryExecutionListener {
          override def onSuccess(
              f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit = {
            val s = qe.executedPlan.toString
            if (s.contains(s"$base/") && s.contains("/table/data/c-")) plans.add(qe.executedPlan)
          }
          override def onFailure(
              f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
        }
        spark.listenerManager.register(listener)
        try {
          val ev = graft.ingest.CdcGenerator.events(spark, sfDir)
          for (mode <- Seq("mor", "cow")) {
            val p = new CdcPipeline(spark, PipelineConfig(
              tableRoot = s"$base/$mode/table", changeLogDir = s"$base/$mode/unused",
              checkpointDir = s"$base/$mode/ckpt", errorDir = s"$base/$mode/errors",
              lineageDir = s"$base/$mode/lineage", numBuckets = 16, mode = mode,
              compactThreshold = Double.PositiveInfinity))
            for (b <- 0 to 1) {
              p.applyBatch(ev.filter(col("lsn") % 2 === b), b.toLong)
              val plan = plans.poll(30, java.util.concurrent.TimeUnit.SECONDS)
              println(s"==== $mode commit $b: final plan of the data write ====")
              println(plan)
              // each shuffle: its origin, its slots, and the partitions
              // (= tasks) the final plan reads them as
              val readAs = Walk.collect(plan) { case r: AQEShuffleReadExec =>
                r.child -> r.partitionSpecs.size }.toMap
              Walk.collect(plan) { case q: ShuffleQueryStageExec => q }.foreach { q =>
                println(s"  shuffle ${q.shuffle.shuffleOrigin}: ${q.shuffle.numPartitions} " +
                  s"slots, read as ${readAs.getOrElse(q, q.shuffle.numPartitions)} partitions")
              }
            }
          }
        } finally {
          spark.listenerManager.unregister(listener)
          graft.table.Fs.deleteRecursively(base)
        }
      case "query" =>
        val name = args(2)
        val df = SparkEntry.queries(name)(spark, sfDir)
        df.explain("formatted")
        SparkEntry.releaseCaches()
    }
    spark.stop()
  }
}
