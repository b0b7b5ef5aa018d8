package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.streaming.CdcPipeline
import graft.table.{DataFile, Fs, KnownFiles, SnapshotTable}

/** The engine reads its own files through [[KnownFiles]] instead of
  * `spark.read.parquet`: same rows, same schema handling, no listing. */
class KnownFilesSpec extends SparkSpec {

  import spark.implicits._

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def parquetFiles(dir: Path): Seq[Path] =
    Fs.listDir(dir).filter(_.getFileName.toString.endsWith(".parquet"))

  private def writeDir(df: DataFrame, dir: Path): Path = {
    df.coalesce(2).write.parquet(dir.toString)
    dir
  }

  test("manifest file list across a schema evolution: added column null-filled, widened type upcast") {
    val base = Paths.get(tmpDir("kf-evolve"))
    // before the evolution: n_tok int, no `extra`; after: n_tok long + extra
    val before = writeDir(Seq(("d1", 3), ("d2", 4)).toDF("doc_id", "n_tok"), base.resolve("v1"))
    val after = writeDir(Seq(("d3", 5000000000L, "x"), ("d4", 6L, null))
      .toDF("doc_id", "n_tok", "extra"), base.resolve("v2"))
    val schema = StructType(Seq(
      StructField("doc_id", StringType), StructField("n_tok", LongType),
      StructField("extra", StringType)))
    val files = (parquetFiles(before) ++ parquetFiles(after)).map(_.toString)
    val known = new SnapshotTable(spark, base.toString)
      .readFiles(files.map(DataFile(_, 0, 0L)), schema)
    val listed = spark.read.schema(schema).parquet(files: _*)
    assert(known.schema == listed.schema)
    assert(rows(known) == rows(listed))
    assert(rows(known) == Seq(
      Row("d1", 3L, null), Row("d2", 4L, null),
      Row("d3", 5000000000L, "x"), Row("d4", 6L, null)).map(_.toString))
  }

  test("side-table and index dirs: _SUCCESS, .crc sidecars and staged dot-dirs are skipped") {
    val base = Paths.get(tmpDir("kf-side"))
    val schema = StructType(Seq(StructField("doc_id", StringType), StructField("lsn", LongType)))
    // side table: two published commits, one staged (unpublished) commit,
    // and a stray staged dot-dir INSIDE a published dir
    val side = base.resolve("errors")
    val c1 = writeDir(Seq(("a", 1L), ("b", 2L)).toDF("doc_id", "lsn"), side.resolve("c-b1"))
    writeDir(Seq(("c", 3L)).toDF("doc_id", "lsn"), side.resolve("c-b2"))
    writeDir(Seq(("zz", 9L)).toDF("doc_id", "lsn"), side.resolve(".staged-c-b3-abc"))
    writeDir(Seq(("yy", 8L)).toDF("doc_id", "lsn"), c1.resolve(".staged-c-b4-def"))
    val names = Fs.listDir(c1).map(_.getFileName.toString)
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")),
      s"fixture lacks sidecars: $names")
    val published = Seq(side.resolve("c-b1"), side.resolve("c-b2")).map(_.toString)
    val known = CdcPipeline.readSideTable(spark, side.toString, schema)
    assert(rows(known) == rows(spark.read.schema(schema).parquet(published: _*)))
    assert(rows(known) == Seq("[a,1]", "[b,2]", "[c,3]"))

    // index: flat commit dirs of `_ibkt`-sorted files, read per commit dir
    val idxSchema = schema.add("_ibkt", IntegerType)
    val commits = Seq("c-b1.00ff", "c-b2.0a0b").map(base.resolve("index").resolve(_))
    commits.zipWithIndex.foreach { case (c, k) =>
      (1 to 40).map(i => (s"d$k-$i", i.toLong, i % 4)).toDF("doc_id", "lsn", "_ibkt")
        .repartition(2).sortWithinPartitions("_ibkt").write.parquet(c.toString)
    }
    assert(Fs.listDir(commits.head).exists(_.getFileName.toString.endsWith(".crc")))
    val knownIdx = KnownFiles.read(spark, KnownFiles.ofDirs(commits), idxSchema)
    val listedIdx = spark.read.schema(idxSchema).parquet(commits.map(_.toString): _*)
    assert(knownIdx.schema == listedIdx.schema)
    assert(rows(knownIdx) == rows(listedIdx))
    assert(knownIdx.count() == 80)
  }

  test("a deleted file fails the read instead of returning fewer rows") {
    val base = Paths.get(tmpDir("kf-missing"))
    val schema = StructType(Seq(StructField("doc_id", StringType), StructField("lsn", LongType)))
    val dir = writeDir((1 to 20).map(i => (s"d$i", i.toLong)).toDF("doc_id", "lsn"),
      base.resolve("data"))
    val files = parquetFiles(dir)
    assert(files.size == 2)
    val t = new SnapshotTable(spark, base.toString)
    val manifestFiles = files.map(f => DataFile(f.toString, 0, 0L))
    // deleted after the frame was built: the scan fails, it never skips
    val built = t.readFiles(manifestFiles, schema)
    Files.delete(files.head)
    val e = intercept[Exception](built.collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.toString.contains(files.head.getFileName.toString)), e)
    // deleted before: building the frame fails, naming the file
    val e2 = intercept[java.nio.file.NoSuchFileException](t.readFiles(manifestFiles, schema))
    assert(e2.getMessage.contains(files.head.getFileName.toString))
  }

  test("a read dir holding a subdirectory fails loudly") {
    val base = Paths.get(tmpDir("kf-nested"))
    val schema = StructType(Seq(StructField("doc_id", StringType), StructField("lsn", LongType)))
    val side = base.resolve("errors")
    val c1 = writeDir(Seq(("a", 1L)).toDF("doc_id", "lsn"), side.resolve("c-b1"))
    writeDir(Seq(("b", 2L)).toDF("doc_id", "lsn"), c1.resolve("nested"))
    val e = intercept[IllegalStateException](
      CdcPipeline.readSideTable(spark, side.toString, schema))
    assert(e.getMessage.contains("nested"))
    // a near-dup index dir in the older `_ibkt=<b>/` sub-dir layout: the
    // probe's read refuses it instead of returning no rows
    val legacy = base.resolve("neardups").resolve("index").resolve("c-b1.00ff")
    writeDir(Seq(("a", 1L)).toDF("doc_id", "lsn"), legacy.resolve("_ibkt=3"))
    val e2 = intercept[IllegalStateException](
      graft.operators.DedupIndex.probe(spark, base.resolve("neardups").toString, Set("b1"),
        graft.operators.DedupIndex.bandRows(Seq(("d", 2L, Seq(1, 2, 3, 4)))
          .toDF("doc_id", "lsn", "tokens"))))
    assert(e2.getMessage.contains("_ibkt=3"))
  }
}
