package graftbench

import java.nio.file.Paths

import org.apache.spark.sql.SparkSession

import graft.operators.MergeOnRead
import graft.streaming.{CdcPipeline, PipelineConfig}

/** Shows the output checks can fail: drives a small MOR table, confirms
  * every check passes against the honest oracle, then corrupts each
  * expectation in turn and confirms the check rejects it. */
object SelfTest {
  def run(spark: SparkSession, a: Args): Boolean = {
    import Main.Check
    val shape = Shape(baseDocs = 2000, batchEvents = 400, width = (20, 30),
      pInsert = 0.2, pDelete = 0.2, pLate = 0.0, pInvalid = 0.02,
      hotKeys = 0.0, hotEvents = 0.0, pNearDup = 0.0)
    val root = Paths.get(a.tmp, "selftest")
    val p = new CdcPipeline(spark, PipelineConfig(
      tableRoot = root.resolve("table").toString,
      changeLogDir = root.resolve("changelog").toString,
      checkpointDir = root.resolve("checkpoint").toString,
      errorDir = root.resolve("errors").toString,
      lineageDir = root.resolve("lineage").toString,
      numBuckets = 4, mode = "mor"))
    val gen = new Gen(a.seed, shape)
    val oracle = new Oracle
    val base = gen.base()
    oracle.fold(base)
    Gen.writeSnapshot(spark, base, root.resolve("in/base").toString)
    p.bootstrap(spark.read.schema(Gen.SnapshotSchema).parquet(root.resolve("in/base").toString),
      gen.floorLsn)
    val v0 = p.table.currentVersion.get
    var expChanges = 0L
    (0 until 2).foreach { b =>
      val evs = gen.batch()
      val d = root.resolve(s"in/batch-$b").toString
      Gen.writeEvents(spark, evs, d)
      oracle.fold(evs)
      expChanges += evs.filter(_.valid).map(_.docId).distinct.size
      p.applyBatch(spark.read.schema(Gen.EventSchema).parquet(d), b.toLong)
    }
    val live = Oracle.digestOf(spark.read.format("graft").load(p.table.root))
    val id = gen.liveDoc(0)
    val rows = p.lookup(id).collect()
    val exp = oracle.get(id)
    val changes = Oracle.digestOf(MergeOnRead.changesSince(p.table, v0))._1
    val planted = gen.plantedInvalid.toSeq

    val honest = Seq(
      "scan digest" -> Check.digest(live, oracle.digest),
      "lookup row" -> Check.lookup(rows, exp),
      "absent lookup" -> Check.lookup(p.lookup(gen.absentDoc(1)).collect(), None),
      "changes count" -> (changes == expChanges),
      "error rows" -> Check.errors(p, planted))
    val badRow = exp.map(e => new oracle.Entry(e.lsn, e.tokens.updated(0, e.tokens(0) + 1), e.nTok, e.source))
    val corrupted = {
      oracle.corruptDigest()
      Seq(
        "scan digest" -> Check.digest(live, oracle.digest),
        "lookup row" -> Check.lookup(rows, badRow),
        "lookup of a live key expected absent" -> Check.lookup(rows, None),
        "changes count" -> (changes == expChanges + 1),
        "error rows" -> Check.errors(p, planted :+ 1L),
        "error rows missing one" -> Check.errors(p, planted.drop(1)))
    }
    honest.foreach { case (n, ok) => println(s"honest    $n: ${if (ok) "pass" else "FAIL"}") }
    corrupted.foreach { case (n, ok) => println(s"corrupted $n: ${if (ok) "NOT CAUGHT" else "caught"}") }
    graft.table.Fs.deleteRecursively(root)
    val ok = honest.forall(_._2) && corrupted.forall(!_._2) && planted.nonEmpty
    println(s"self-test: ${if (ok) "ok" else "FAILED"}")
    ok
  }
}
