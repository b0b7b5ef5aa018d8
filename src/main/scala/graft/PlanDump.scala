package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Diagnostic (guide §7.2): dump optimized/physical plans of internal
  * engine frames the official queries exercise as side effects — the
  * before/after plan evidence for `plans/r06/`. Not part of the frozen
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
        // DedupIndex.probe representative pick, old (window) vs new
        // (min_by agg) over the same candidate frame
        import org.apache.spark.sql.expressions.Window
        val inserts = graft.ingest.CdcGenerator.events(spark, sfDir)
          .filter(col("op") === "I" && col("doc_id").isNotNull)
        val bands = graft.operators.DedupIndex.bandRows(inserts)
        val self = bands.select(col("doc_id").as("_i_doc"), col("lsn").as("_i_lsn"),
          col("sig").as("_i_sig"), col("band"), col("key"))
        val earlier = col("_i_lsn") < col("lsn") ||
          (col("_i_lsn") === col("lsn") && col("_i_doc") < col("doc_id"))
        val candRaw = bands.join(self, Seq("band", "key"))
          .filter(col("_i_doc") =!= col("doc_id") && earlier)
          .select(col("doc_id"), col("lsn"),
            col("_i_doc").as("dup_of"), col("_i_lsn").as("dup_lsn"), lit(16).as("agree"))
        val cand = candRaw.distinct()
        println("==== OLD representative: row_number window ====")
        val w = Window.partitionBy(col("doc_id")).orderBy(col("dup_lsn"), col("dup_of"))
        cand.withColumn("_rn", row_number().over(w))
          .filter(col("_rn") === 1).drop("_rn").explain("formatted")
        def rep(c: org.apache.spark.sql.DataFrame) = c.groupBy(col("doc_id"))
          .agg(min_by(
            struct(col("lsn"), col("dup_of"), col("dup_lsn"), col("agree")),
            struct(col("dup_lsn"), col("dup_of"))).as("_m"))
          .select(col("doc_id"), col("_m.lsn").as("lsn"),
            col("_m.dup_of").as("dup_of"), col("_m.dup_lsn").as("dup_lsn"),
            col("_m.agree").as("agree"))
        println("==== NEW representative: min_by aggregate over distinct ====")
        rep(cand).explain("formatted")
        println("==== NEW2 representative: min_by, no pre-distinct (shipped) ====")
        // duplicate multi-band pair rows carry identical (dup_lsn,
        // dup_of, agree) — agree is a function of the pair's signatures
        // — so the aggregate needs no collapsing pass of its own
        rep(candRaw).explain("formatted")
      case "compact_fold" =>
        // the whole-table compaction fold, one-pass agg (compact's pick
        // when most buckets are dirty)
        import graft.streaming.{CdcPipeline, PipelineConfig}
        val base = java.nio.file.Files.createTempDirectory("graft-plandump-cf")
        try {
          val p = new CdcPipeline(spark, PipelineConfig(
            tableRoot = s"$base/table", changeLogDir = s"$base/unused",
            checkpointDir = s"$base/ckpt", errorDir = s"$base/errors",
            lineageDir = s"$base/lineage", numBuckets = 4, mode = "mor",
            compactThreshold = Double.PositiveInfinity))
          val ev = graft.ingest.CdcGenerator.events(spark, sfDir)
          p.applyBatch(ev.filter(col("lsn") < graft.ingest.CdcGenerator.LsnStride), 0L)
          p.applyBatch(ev.filter(col("lsn") >= graft.ingest.CdcGenerator.LsnStride), 1L)
          val m = p.table.current.get
          println("==== compact fold, one-pass agg (resolveViaAgg) ====")
          graft.operators.MergeOnRead.resolveViaAgg(p.table, m).explain("formatted")
        } finally graft.table.Fs.deleteRecursively(base)
      case "query" =>
        val name = args(2)
        val df = SparkEntry.queries(name)(spark, sfDir)
        df.explain("formatted")
        SparkEntry.releaseCaches()
    }
    spark.stop()
  }
}
