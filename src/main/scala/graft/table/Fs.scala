package graft.table

import java.nio.file.{Files, Path}
import scala.collection.JavaConverters._
import scala.util.control.NonFatal

/** The repo's one copy of the fd-safe local-filesystem idioms (and the
  * writer-nonce), shared by the table, pipeline, and SQL-surface code.
  * `Files.list/walk` return an open directory stream that MUST be
  * closed — draining the iterator does not release the fd; unclosed, a
  * 10k-bucket commit exhausts the process fd limit within two commits
  * (measured round 2). Divergent hand-rolled copies of these few lines
  * are how that bug comes back. */
object Fs {

  def listDir(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try s.iterator().asScala.toSeq finally s.close()
  }

  def walkDir(p: Path): Seq[Path] = {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq finally s.close()
  }

  /** Depth-first delete; individual failures are swallowed (used for
    * best-effort sweeps of orphan/staged dirs). */
  def deleteRecursively(p: Path): Unit =
    walkDir(p).reverse.foreach(f =>
      try Files.deleteIfExists(f) catch { case NonFatal(_) => () })

  /** Writer-unique hex nonce (48 bits) for staged/delta dir names. */
  def nonce: String = java.lang.Long.toHexString(
    java.util.concurrent.ThreadLocalRandom.current().nextLong() & 0xffffffffffffL)

  /** Shared Hadoop-free read options for footer-only parquet reads
    * (same discipline as SnapshotTable's footer-stat path: the default
    * open() builds a full Hadoop Configuration per file). */
  private lazy val footerOptions =
    org.apache.parquet.ParquetReadOptions
      .builder(new org.apache.parquet.conf.PlainParquetConfiguration())
      .build()

  /** Total row count of every `*.parquet` file under `dir` (recursive;
    * `dir` may also be one such file), from footers, driver-side —
    * ~0.1 ms/file, no Spark job. Used to decide emptiness AFTER a single
    * write pass instead of paying a separate `isEmpty` scan job before
    * it (guide §1/§2: one pass, not two). */
  def parquetRowCount(dir: Path): Long = {
    if (!Files.exists(dir)) return 0L
    walkDir(dir)
      .filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet"))
      .map { p =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          new org.apache.parquet.io.LocalInputFile(p), footerOptions)
        try r.getRecordCount finally r.close()
      }
      .sum
  }
}
