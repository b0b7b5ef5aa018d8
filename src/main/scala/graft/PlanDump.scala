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
      .master("local[1]")
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
