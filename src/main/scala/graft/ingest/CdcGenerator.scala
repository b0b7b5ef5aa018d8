package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic change-event generator.
  *
  * Derives a CDC stream (insert/update/delete on doc_id) from the
  * driver-provided `documents` table with pure arithmetic — no RNG, no
  * wall-clock — so the DuckDB oracle can regenerate the identical stream
  * and the final table state is exactly checkable (BASELINE.md "replay
  * table-state match = 100%").
  *
  * Scenarios encoded (FIXTURES.md §4):
  *  - G1 inserts: rep 0 of every doc is an 'I'.
  *  - G2 updates: docs get 1 + (id % 3) reps; rep r>0 is a 'U' whose token
  *    array shifts by r*7 (mod 65536) — LWW must keep the max-LSN payload.
  *  - G3 deletes: docs with id % 17 == 3 end with a 'D' (null payload).
  *  - G5 hot-key skew: docs with id % 50 == 0 get 12 extra updates
  *    (~2% of keys carry ~10x the events).
  *  - E1 invalid rows: id % 97 == 5 → rep-0 n_tok off by one (routed to
  *    error_records); id % 89 == 7 → rep-0 doc_id null.
  *
  * LSN = r * 10_000_000 + id: globally unique, later reps strictly larger.
  */
object CdcGenerator {
  val LsnStride = 10000000L
  val MaxReps   = 15 // 1 + max(id%3) + 12 hot-key extras

  /** Replicated documents per generator partition before the explode —
    * ~2.2 events each on average (up to [[MaxReps]]), so a partition
    * stays under `MergeOnRead`'s 262144-rows-per-task fold unit. */
  private val RowsPerPartition = 65536L

  /** documents rows × replicate, from the parquet footers (no job). */
  private def replicatedRows(sfDir: String, replicate: Int): Long =
    graft.table.Fs.parquetRowCount(
      java.nio.file.Paths.get(sfDir, "documents.parquet")) * replicate

  /** Number of change events per document id (Spark column expr). */
  private def repsCol = lit(1) + (col("doc_id") % 3) +
    when(col("doc_id") % 50 === 0, lit(12)).otherwise(lit(0))

  /** The generated change stream for one scale tier.
    *
    * @param sfDir directory holding documents.parquet
    * @param replicate >1 multiplies the stream for throughput benching:
    *   each document spawns `replicate` independent doc_ids (distinct key
    *   space, same update/delete/hot-key mix). The oracle-checked stream is
    *   always replicate=1; the SQL twin [[eventsSql]] covers only that. */
  def events(spark: SparkSession, sfDir: String, replicate: Int = 1): DataFrame = {
    require(replicate >= 1)
    val docs0 = spark.read
      .parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"), col("source"))
    val docs =
      if (replicate == 1) docs0
      else docs0
        .crossJoin(spark.range(replicate).toDF("_k"))
        // scenario mix (reps/op/invalids) keys off the ORIGINAL doc_id so
        // every replica carries the same skew profile; identity is unique
        .withColumn("_rid", col("doc_id") * replicate + col("_k"))
        // documents is one small file → the whole crossJoin+explode chain
        // would otherwise generate millions of events in ONE task. Sized
        // by rows, not cores: at 4 cores × 7.2M replicated docs a
        // per-core partition carried ~4M events and staging died of heap
        .repartition(math.max(spark.sparkContext.defaultParallelism,
          ((replicatedRows(sfDir, replicate) + RowsPerPartition - 1) /
            RowsPerPartition).toInt))
    val idCol = if (replicate == 1) col("doc_id") else col("_rid")
    val baseToks = Tokenize.tokens(col("text"))
    docs
      .withColumn("reps", repsCol)
      .withColumn("r", explode(sequence(lit(0), col("reps") - 1)))
      .withColumn("lsn", col("r") * LsnStride * replicate + idCol)
      .withColumn(
        "op",
        when(col("r") === 0, lit("I"))
          .when(col("r") === col("reps") - 1 && col("doc_id") % 17 === 3, lit("D"))
          .otherwise(lit("U")))
      .withColumn(
        "out_doc_id",
        when(col("doc_id") % 89 === 7 && col("r") === 0, lit(null: String))
          .otherwise(Tokenize.docId(idCol)))
      .withColumn(
        "tokens",
        when(col("op") === "D", lit(null))
          .otherwise(transform(baseToks, t => ((t + col("r") * 7) % 65536).cast("int"))))
      .withColumn(
        "n_tok",
        when(col("op") === "D", lit(null))
          .otherwise(
            size(col("tokens")) +
              when(col("doc_id") % 97 === 5 && col("r") === 0, lit(1)).otherwise(lit(0))))
      .withColumn("ingest_ts", timestamp_seconds(col("lsn") / lit(1000.0)))
      .select(
        col("lsn"),
        col("op"),
        col("out_doc_id").as("doc_id"),
        col("tokens"),
        col("n_tok").cast("long").as("n_tok"),
        col("source"),
        col("ingest_ts"))
  }

  /** DuckDB twin of [[events]] as a CTE body (columns: lsn, op, doc_id,
    * tokens, n_tok, source). MUST stay in lockstep with [[events]]. */
  def eventsSql: String = {
    val toks = Tokenize.tokensSql("d.text")
    s"""
    SELECT r.r * $LsnStride + d.doc_id AS lsn,
      CASE WHEN r.r = 0 THEN 'I'
           WHEN r.r = (1 + (d.doc_id % 3) + (CASE WHEN d.doc_id % 50 = 0 THEN 12 ELSE 0 END)) - 1
                AND d.doc_id % 17 = 3 THEN 'D'
           ELSE 'U' END AS op,
      CASE WHEN d.doc_id % 89 = 7 AND r.r = 0 THEN NULL
           ELSE ${Tokenize.docIdSql("d.doc_id")} END AS doc_id,
      CASE WHEN (CASE WHEN r.r = 0 THEN 'I'
                      WHEN r.r = (1 + (d.doc_id % 3) + (CASE WHEN d.doc_id % 50 = 0 THEN 12 ELSE 0 END)) - 1
                           AND d.doc_id % 17 = 3 THEN 'D'
                      ELSE 'U' END) = 'D' THEN NULL
           ELSE list_transform($toks, t -> cast((t + r.r * 7) % 65536 AS int)) END AS tokens,
      CASE WHEN (CASE WHEN r.r = 0 THEN 'I'
                      WHEN r.r = (1 + (d.doc_id % 3) + (CASE WHEN d.doc_id % 50 = 0 THEN 12 ELSE 0 END)) - 1
                           AND d.doc_id % 17 = 3 THEN 'D'
                      ELSE 'U' END) = 'D' THEN NULL
           ELSE cast(len($toks) + (CASE WHEN d.doc_id % 97 = 5 AND r.r = 0 THEN 1 ELSE 0 END) AS bigint)
           END AS n_tok,
      d.source AS source
    FROM documents d
    JOIN (SELECT unnest(range(0, $MaxReps)) AS r) r
      ON r.r < 1 + (d.doc_id % 3) + (CASE WHEN d.doc_id % 50 = 0 THEN 12 ELSE 0 END)
    """
  }

  /** Write the stream as offset-ranged parquet batch files
    * `<outDir>/batch-%05d/` (split by rep index → each batch's LSNs are
    * strictly above the previous batch's), for the Structured Streaming
    * file source. Returns batch count. */
  def writeBatches(
      spark: SparkSession,
      sfDir: String,
      outDir: String,
      batches: Int = 4,
      replicate: Int = 1,
      filesPerBatch: Int = 0): Int =
    writeBatchesFrom(spark, events(spark, sfDir, replicate), outDir,
      batches, filesPerBatch)

  /** [[writeBatches]] over an ALREADY-MATERIALIZED event frame (round-6:
    * a caller that has staged the deterministic stream to parquet feeds
    * it back here instead of re-running the generator's interpreted
    * tokenizer chain for the probe + per-batch filter passes). The ROWS
    * are identical either way; the approx-quantile batch bounds may
    * shift slightly with the input's partitioning, which no declared
    * result depends on — every batch split this produces is a
    * consecutive-LSN window, so arrival order stays LSN order (the
    * property the LWW fold, the error/replay set and the incremental
    * near-dup rule are functions of), pinned by the full oracle run. */
  def writeBatchesFrom(
      spark: SparkSession,
      source: DataFrame,
      outDir: String,
      batches: Int = 4,
      filesPerBatch: Int = 0): Int = {
    // The generator pipeline is narrow (single doc file → crossJoin with a
    // broadcast range → explode), so without an explicit repartition every
    // batch lands as ONE file — and the consumer's whole pre-shuffle phase
    // (read→conform→validate→partial agg) would run on one task. Real
    // change logs arrive as many files; emulate that.
    val nFiles =
      if (filesPerBatch > 0) filesPerBatch
      else math.max(4, spark.sparkContext.defaultParallelism)
    // cached: the quantile probe + one filter pass per batch would
    // otherwise regenerate the full stream batches+1 times
    val ev = source
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Equal-COUNT consecutive LSN windows. A naive rep-index split puts
    // ~95% of events (every doc's insert + first updates) in batch 0 and
    // leaves later batches with only hot-key dribble — measured: 430k/9k/
    // 9k/9k — which benchmarks nothing but full-table rewrite. Quantile
    // boundaries keep the stream time-ordered AND balanced.
    val qs = (1 until batches).map(_.toDouble / batches).toArray
    val bounds = ev.stat.approxQuantile("lsn", qs, 0.001).map(_.toLong)
    val ranges = (Long.MinValue +: bounds).zip(bounds :+ Long.MaxValue)
    ranges.zipWithIndex.foreach { case ((lo, hi), b) =>
      ev.filter(col("lsn") >= lo && col("lsn") < hi)
        .repartition(nFiles)
        .write
        .mode("overwrite")
        .parquet(f"$outDir/batch-$b%05d")
    }
    ev.unpersist()
    batches
  }
}
