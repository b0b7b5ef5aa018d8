package graft.table

import java.nio.file.{Files, Path}
import java.nio.file.attribute.BasicFileAttributes

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, PartitionDirectory}
import org.apache.spark.sql.types.StructType

/** A [[FileIndex]] over parquet files the engine wrote itself and the
  * driver already knows: manifest data files, index bucket dirs,
  * published side-table dirs. `spark.read.parquet(paths)` re-discovers
  * them through an `InMemoryFileIndex`, and above
  * `parallelPartitionDiscovery.threshold` (32 paths) that is a
  * "Listing leaf files" Spark job with one task per path — measured on
  * a 4-core VM at 0.85-1.3 s of a 1.75-2.05 s near-dup stage at ~700
  * probe paths, and 60-90 ms per table read over more than 32 files.
  * Here the driver stats the files itself (one `stat` each) when the
  * frame is built, so a missing file fails at the same point a listing
  * would.
  *
  * One unpartitioned directory: every caller reads leaf files or flat
  * leaf dirs, so Spark's own listing would infer no partition column
  * either (its base path is the file's or dir's own parent). Execution,
  * pushdown and the per-file schema null-fill/upcast are untouched —
  * the same `ParquetFileFormat` reads the same files. */
final case class KnownFiles(files: Seq[FileStatus]) extends FileIndex {
  override def rootPaths: Seq[HPath] = files.map(_.getPath)

  // zero-length files are skipped exactly as PartitioningAwareFileIndex
  // skips them; they are never data
  override def listFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    Seq(PartitionDirectory(InternalRow.empty,
      files.filter(_.getLen > 0).map(FileStatusWithMetadata(_))))

  override def inputFiles: Array[String] = files.map(_.getPath.toString).toArray

  /** The files are immutable once committed: nothing to refresh. */
  override def refresh(): Unit = ()

  override def sizeInBytes: Long = files.map(_.getLen).sum

  override def partitionSchema: StructType = new StructType()
}

object KnownFiles {

  private def attrs(p: Path): BasicFileAttributes =
    Files.readAttributes(p, classOf[BasicFileAttributes])

  // block size: the local filesystem's default (fs.local.block.size);
  // Spark sizes its splits from maxPartitionBytes, not from this
  private def status(p: Path, a: BasicFileAttributes): FileStatus =
    new FileStatus(a.size, false, 1, 32L << 20, a.lastModifiedTime.toMillis,
      new HPath(p.toAbsolutePath.toUri))

  /** Names Spark's listing never returns as data: `_`-prefixed (unless
    * a `k=v` partition dir), `.`-prefixed, and in-flight `._COPYING_`
    * uploads — `HadoopFSUtils.shouldFilterOutPathName` together with
    * `PartitioningAwareFileIndex`'s data-path rule (which also drops the
    * `_metadata` summaries the first one lets through). */
  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")

  /** Stat explicit leaf files (a manifest's file list). A missing file
    * throws `NoSuchFileException` naming it. */
  def ofFiles(paths: Seq[String]): KnownFiles =
    KnownFiles(paths.map { s =>
      val p = java.nio.file.Paths.get(s)
      status(p, attrs(p))
    })

  /** Every data file directly under each dir, `_`/`.` sidecars skipped
    * (`_SUCCESS`, `.crc`, staged dot-dirs). A nested data directory
    * fails loudly: the engine's read dirs are flat, and silently
    * descending (or not) would change what the read returns. */
  def ofDirs(dirs: Seq[Path]): KnownFiles =
    KnownFiles(dirs.flatMap { d =>
      Fs.listDir(d).filterNot(p => hidden(p.getFileName.toString)).sorted.map { p =>
        val a = attrs(p)
        if (a.isDirectory)
          throw new IllegalStateException(s"unexpected subdirectory $p in read dir $d")
        status(p, a)
      }
    })

  /** The files read as parquet under `schema` — the relation
    * `spark.read.schema(schema).parquet(..)` resolves to, minus its
    * listing. No files → an empty frame with the declared schema. */
  def read(spark: SparkSession, index: KnownFiles, schema: StructType): DataFrame =
    if (index.files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else org.apache.spark.sql.classic.GraftSqlBridge.parquetScan(spark, index, schema)
}
