package graft

import org.apache.spark.sql.functions._

import graft.functions.Similarity
import graft.plans.CosineSim
import graft.table.{Manifest, SnapshotTable}

/** Physical-plan quality gates (the "explain and iterate" discipline):
  * pushdown, pruning, broadcast, codegen — asserted, not eyeballed. */
class PlanSpec extends SparkSpec {

  /** Final plan AFTER execution — under AQE the pre-execution plan has
    * neither final stages nor WholeStageCodegen annotations. */
  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf001)
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("filters and projection reach the parquet scan (P4/P1)") {
    val plan = planOf("q_filter_pushdown")
    assert(plan.contains("PushedFilters: ["), "no pushed filters in scan")
    assert(
      plan.contains("GreaterThan(l_quantity") || plan.contains("IsNotNull(l_quantity"),
      s"quantity predicate not pushed:\n$plan")
    // column pruning: untouched wide columns must not be read
    assert(!plan.contains("l_comment"), "scan reads pruned column l_comment")
  }

  test("dimension join broadcasts (J4) and aggregates split partial/final (A1)") {
    val plan = planOf("q_join_broadcast")
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
    assert(plan.contains("HashAggregate"), "expected hash aggregate")
    // in final-plan strings whole-stage codegen shows as the "*(n)" prefix
    assert(plan.contains("*("), "hot path fell out of codegen")
  }

  test("LWW dedup is a hash aggregate with map-side partial combine (W2)") {
    import graft.ingest.CdcGenerator
    import graft.operators.Dedup
    val plan = Dedup.lww(CdcGenerator.events(spark, sf0001))
      .queryExecution.executedPlan.toString
    // partial_max_by before the exchange, max_by after = map-side combine
    assert(plan.contains("partial_max_by"), s"no partial aggregation:\n$plan")
    assert(plan.contains("Exchange hashpartitioning(doc_id"), "not partitioned by doc_id")
  }

  test("CosineSim (fused codegen) ≡ built-in-composed cosine") {
    import spark.implicits._
    CosineSim.register(spark)
    val vecs = spark.read.parquet(s"$sf001/embeddings.parquet").limit(50)
    val both = vecs.as("a").join(vecs.as("b"), $"a.vec_id" < $"b.vec_id")
      .select(
        round(Similarity.cosine($"a.embedding", $"b.embedding"), 9).as("slow"),
        round(Similarity.cosineFast($"a.embedding", $"b.embedding"), 9).as("fast"))
      .withColumn("diff", abs($"slow" - $"fast"))
    val maxDiff = both.agg(max($"diff")).collect()(0).getDouble(0)
    assert(maxDiff < 1e-9, s"fused cosine diverges: $maxDiff")
    // and it runs inside whole-stage codegen
    val fastDf = vecs.as("a").join(vecs.as("b"), $"a.vec_id" < $"b.vec_id")
      .select(Similarity.cosineFast($"a.embedding", $"b.embedding").as("s"))
    fastDf.collect()
    val plan = fastDf.queryExecution.executedPlan.toString
    // "*(n) Project [cosinesim(...)" = the expression inside a codegen span
    assert(
      plan.split("\n").exists(l => l.contains("*(") && l.contains("cosinesim")),
      s"CosineSim fell back to interpreted:\n$plan")
  }

  test("CosineSim ≡ composed cosine on float×double and double×double (IVF training shape)") {
    // round-5 ADVICE (medium): kmeansCentroids scores float embeddings
    // against double centroids through graft_cosine, but the equivalence
    // gate above only exercised float×float. Cover the mixed and
    // all-double element-type branches of eval/codegen explicitly.
    import spark.implicits._
    CosineSim.register(spark)
    val fv = spark.read.parquet(s"$sf001/embeddings.parquet").limit(50)
    val dv = fv.select($"vec_id",
      transform($"embedding", x => x.cast("double")).as("embedding"))
    for (((l, r), label) <- Seq(
        (fv, dv) -> "float×double", (dv, fv) -> "double×float",
        (dv, dv) -> "double×double")) {
      val both = l.as("a").join(r.as("b"), $"a.vec_id" < $"b.vec_id")
        .select(
          round(Similarity.cosine($"a.embedding", $"b.embedding"), 9).as("slow"),
          round(Similarity.cosineFast($"a.embedding", $"b.embedding"), 9).as("fast"))
        .withColumn("diff", abs($"slow" - $"fast"))
      val maxDiff = both.agg(max($"diff")).collect()(0).getDouble(0)
      assert(maxDiff < 1e-9, s"fused cosine diverges on $label: $maxDiff")
    }
  }

  test("MinHashSig (fused codegen) ≡ built-in-composed minhash") {
    import graft.functions.DedupOps
    import graft.plans.MinHashSig
    MinHashSig.register(spark)
    val corpus = DedupOps.variantDocs(
        spark.read.parquet(s"$sf001/documents.parquet").limit(200))
      .withColumn("sh", DedupOps.shingles(col("text")))
    val diff = corpus
      .withColumn("slow", DedupOps.minhash(col("sh")))
      .withColumn("fast", call_function("graft_minhash", col("sh")))
      .filter(col("slow") =!= col("fast"))
      .count()
    assert(diff == 0, s"$diff rows diverge between fused and composed minhash")
    // parameterized width: the fused expression honors numHashes too
    val diff24 = corpus
      .withColumn("slow", DedupOps.minhash(col("sh"), 24))
      .withColumn("fast", call_function("graft_minhash", col("sh"), lit(24)))
      .filter(col("slow") =!= col("fast"))
      .count()
    assert(diff24 == 0, s"$diff24 rows diverge at numHashes=24")
  }

  // ---- the near-dup index kernels vs their composed reference chain ----

  /** Run `body` through whole-stage codegen (no silent fallback to
    * interpreted on a codegen compile error) and then through the
    * expressions' interpreted `eval` (no codegen at all). */
  private def codegenAndInterpreted(body: String => Unit): Unit = {
    val modes = Seq(
      "whole-stage codegen" -> Seq("spark.sql.codegen.fallback" -> "false"),
      "interpreted eval" -> Seq("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))
    for ((mode, confs) <- modes) {
      val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body(mode)
      finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
    }
  }

  /** Token arrays the composed chain has edge behaviour on: a null array,
    * fewer than 3 tokens, null tokens at the start, middle and end,
    * negatives and Int.MinValue/MaxValue, and 40-50-token rows (full int
    * range, some with nulls). Written to parquet so the plans under test
    * scan a file, not a constant-folded local relation. */
  private def adversarialTokens(): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val n: Integer = null
    val (lo, hi) = (Int.MinValue: Integer, Int.MaxValue: Integer)
    def t(xs: Integer*): Seq[Integer] = xs
    val fixed: Seq[Seq[Integer]] = Seq(null, t(), t(5), t(5, 9), t(1, 2, 3),
      t(n), t(n, n, n), t(1, n, 3), t(n, 2, 3, 4, 5, 6), t(1, 2, n, 4, 5, 6, 7),
      t(1, 2, 3, 4, 5, n), t(-1, -2, -3, -4), t(-7, 0, 7, -131, 131),
      t(lo, hi, -1, 0, lo, lo, hi), t(hi, hi, hi, hi, hi), t(lo, lo, lo, lo, lo),
      t(lo, n, hi, lo, hi, lo))
    val rnd = new scala.util.Random(9)
    val long: Seq[Seq[Integer]] = (0 until 40).map { r =>
      (0 until 40 + rnd.nextInt(11)).map { _ =>
        if (r % 3 == 0 && rnd.nextInt(12) == 0) n
        else if (r % 2 == 0) Integer.valueOf(rnd.nextInt())
        else Integer.valueOf(rnd.nextInt(2400))
      }
    }
    val rows = (fixed ++ long).zipWithIndex.map { case (toks, i) =>
      Row(s"d$i", i.toLong, toks)
    }
    val schema = StructType(Seq(StructField("doc_id", StringType), StructField("lsn", LongType),
      StructField("tokens", ArrayType(IntegerType, containsNull = true))))
    val dir = tmpDir("bandrows") + "/toks"
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .write.parquet(dir)
    spark.read.parquet(dir)
  }

  test("fused band rows ≡ composed shingle → minhash → bandKeys chain (codegen and interpreted)") {
    import graft.functions.DedupOps
    import graft.operators.DedupIndex
    import graft.plans.TokenMinHash
    val toks = adversarialTokens()
    // the reference spelling: the index's band rows as the composed
    // HigherOrderFunction chain writes them
    val composed = toks
      .select(col("doc_id"), col("lsn"), DedupOps.minhash(
        DedupOps.shinglesOfTokens(col("tokens").cast("array<int>"))).as("sig"))
      .select(col("doc_id"), col("lsn"), col("sig"),
        explode(DedupOps.bandKeys(col("sig"))).as("bk"))
      .select(col("doc_id"), col("lsn"), col("sig"),
        col("bk.band").as("band"), col("bk.key").as("key"))
      .withColumn("_ibkt", pmod(xxhash64(col("band"), col("key")),
        lit(DedupIndex.IndexBuckets.toLong)).cast("int"))
    type BandRow = (String, Long, Seq[Long], Int, Long, Int)
    def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[BandRow] =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getSeq[Long](2).toList,
        r.getInt(3), r.getLong(4), r.getInt(5))).toSeq.sortBy(r => (r._1, r._4))
    val reference = rowsOf(composed)
    val docs = toks.count()
    assert(reference.size == docs * DedupOps.NumHashes / DedupOps.BandSize,
      s"${reference.size} reference rows for $docs docs")
    // the edge rows the contract names: a null array and < 3 tokens give
    // P on every lane; a null token drops the shingles it touches
    val allP = List.fill(DedupOps.NumHashes)(DedupOps.P)
    Seq("d0", "d1", "d2", "d3", "d5", "d6").foreach { d =>
      assert(reference.filter(_._1 == d).forall(_._3 == allP), s"$d is not all-P")
    }
    assert(reference.exists(r => r._3.exists(_ < 0)), "no negative lane in the domain")
    codegenAndInterpreted { mode =>
      val fused = DedupIndex.bandRows(toks)
      val got = rowsOf(fused)
      val diff = got.zip(reference).filter { case (a, b) => a != b }
      assert(got.size == reference.size && diff.isEmpty,
        s"$mode: fused band rows diverge (${got.size} vs ${reference.size} rows): ${diff.take(3)}")
      val plan = fused.queryExecution.executedPlan
      object Walk extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
      val inCodegen = Walk.collect(plan) {
        case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
      }.exists(_.child.exists(_.expressions.exists(_.exists(_.isInstanceOf[TokenMinHash]))))
      assert(inCodegen == (mode == "whole-stage codegen"), s"$mode:\n$plan")
    }
  }

  test("fused lane agreement ≡ composed zip_with/aggregate count (codegen and interpreted)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import graft.functions.DedupOps
    import graft.operators.DedupIndex
    val n: java.lang.Long = null
    def l(xs: Any*): Seq[java.lang.Long] = xs.map {
      case null    => n
      case v: Int  => java.lang.Long.valueOf(v.toLong)
      case v: Long => java.lang.Long.valueOf(v)
    }
    // real signatures (from the adversarial token domain) against each
    // other, plus nulls, unequal lengths and null lanes
    val sigs = DedupIndex.bandRows(adversarialTokens()).select("sig").distinct()
      .collect().map(_.getSeq[Long](0).map(java.lang.Long.valueOf)).toSeq
    val real = for (a <- sigs.take(12); b <- sigs.take(12)) yield (a, b)
    val edge = Seq[(Seq[java.lang.Long], Seq[java.lang.Long])](
      (null, null), (null, l(1)), (l(1), null), (l(), l()), (l(1, 2, 3), l(1, 2)),
      (l(1, 2), l(1, 2, 3, 4)), (l(n, 2, n), l(n, 2, 3)), (l(n), l(n)),
      (l(-5, Long.MinValue, Long.MaxValue), l(-5, Long.MinValue, Long.MaxValue)),
      (sigs.head.updated(3, n), sigs.head),
      (sigs.head, sigs.head.updated(0, java.lang.Long.valueOf(7L))))
    val schema = StructType(Seq(StructField("i", IntegerType),
      StructField("a", ArrayType(LongType)), StructField("b", ArrayType(LongType))))
    val rows = (real ++ edge).zipWithIndex.map { case ((a, b), i) => Row(i, a, b) }
    val dir = tmpDir("laneagree") + "/pairs"
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema).write.parquet(dir)
    val pairs = spark.read.parquet(dir)
    val composed = aggregate(
      zip_with(col("a"), col("b"), (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v)
    def counts(c: org.apache.spark.sql.Column): Map[Int, Option[Int]] =
      pairs.select(col("i"), c).collect()
        .map(r => r.getInt(0) -> (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
    val reference = counts(composed)
    assert(reference.size == rows.size && reference.values.count(_.isEmpty) == 3)
    assert(reference.values.flatten.toSet.contains(DedupOps.NumHashes) &&
      reference.values.flatten.exists(_ < DedupOps.NumHashes))
    codegenAndInterpreted { mode =>
      val got = counts(DedupIndex.sigAgree(col("a"), col("b")))
      assert(got == reference, s"$mode: lane agreement diverges: " +
        got.filter { case (k, v) => reference(k) != v }.take(3))
    }
  }

  test("band config derives from the target Jaccard threshold (S-curve)") {
    import graft.functions.DedupOps
    // t* = (1/b)^(1/r) for b = 16/r: r=2 → .354, r=4 → .707, r=8 → .917
    assert(DedupOps.bandConfigFor(0.35, 16) == 2)
    assert(DedupOps.bandConfigFor(0.5, 16) == 2)  // .354 beats .707
    assert(DedupOps.bandConfigFor(0.7, 16) == 4)  // the q_dedup_minhash default
    assert(DedupOps.bandConfigFor(0.9, 16) == 8)
    assert(DedupOps.bandConfigFor(0.99, 16) == 16)
    assert(DedupOps.BandSize == DedupOps.bandConfigFor(0.7, DedupOps.NumHashes),
      "the default band config must be the 0.7-threshold derivation")
  }

  test("ShingleHash (fused codegen) ≡ built-in-composed shingles") {
    import graft.functions.DedupOps
    import graft.plans.ShingleHash
    ShingleHash.register(spark)
    val corpus = DedupOps.variantDocs(
        spark.read.parquet(s"$sf001/documents.parquet").limit(200))
    val diff = corpus
      .withColumn("slow", DedupOps.shingles(col("text")))
      .withColumn("fast", DedupOps.shinglesFast(col("text")))
      .filter(col("slow") =!= col("fast"))
      .count()
    assert(diff == 0, s"$diff rows diverge between fused and composed shingles")
  }

  test("WindowHashes (fused O(n) rolling codegen) ≡ built-in-composed windowHashes") {
    import graft.functions.DedupOps
    import graft.ingest.Tokenize
    import graft.plans.WindowHashes
    WindowHashes.register(spark)
    // exact array equality (values AND first-occurrence order) at both
    // shipped widths, over a corpus that includes planted repeated spans
    // (the hash-collision-relevant shape) and short docs (< w → empty)
    val corpus = DedupOps.substringCorpus(
        spark.read.parquet(s"$sf001/documents.parquet").limit(200))
      .withColumn("toks", Tokenize.tokens(col("text")))
    for (w <- Seq(DedupOps.ContamGram, DedupOps.SubWindow)) {
      val diff = corpus
        .withColumn("slow", DedupOps.windowHashes(col("toks"), w))
        .withColumn("fast", DedupOps.windowHashesFast(col("toks"), w))
        .filter(col("slow") =!= col("fast"))
        .count()
      assert(diff == 0, s"$diff rows diverge between fused and composed windowHashes(w=$w)")
    }
    // degenerate widths: w=1 (every token a window) and doc shorter than w
    import spark.implicits._
    val edge = Seq(
      (1L, Seq(5, 5, 7)),   // dup windows at w=1 → distinct keeps order
      (2L, Seq(1, 2)),      // shorter than SubWindow → empty
      (3L, Seq.empty[Int]), // empty doc
      // long periodic doc: window count crosses LinearScanMax, so the
      // open-addressing dedup branch (round-6 optimization) runs, with
      // heavy duplicate windows to exercise membership + order
      (4L, (0 until 500).map(_ % 50).toList))
      .toDF("id", "toks")
    val e1 = edge
      .withColumn("slow", DedupOps.windowHashes(col("toks"), 1))
      .withColumn("fast", DedupOps.windowHashesFast(col("toks"), 1))
      .filter(col("slow") =!= col("fast")).count()
    assert(e1 == 0, "w=1 diverges")
    val e20 = edge
      .withColumn("slow", DedupOps.windowHashes(col("toks"), DedupOps.SubWindow))
      .withColumn("fast", DedupOps.windowHashesFast(col("toks"), DedupOps.SubWindow))
      .filter(col("slow") =!= col("fast")).count()
    assert(e20 == 0, "short-doc empty case diverges")
    // and it runs inside whole-stage codegen when its input is a
    // materialized array column. (In the corpus queries the SAME Project
    // also carries the tokenizer's HigherOrderFunctions, which are
    // CodegenFallback and exclude that Project from whole-stage codegen
    // for ANY expression — unchanged by this one; the expression's win
    // there is its interpreted eval being a primitive rolling loop
    // instead of per-element lambda dispatch.)
    val toksDir = java.nio.file.Files
      .createTempDirectory("graft-whspec").resolve("toks").toString
    corpus.select(col("toks").cast("array<int>").as("toks")).limit(50)
      .write.mode("overwrite").parquet(toksDir)
    val fastDf = spark.read.parquet(toksDir)
      .select(DedupOps.windowHashesFast(col("toks"), DedupOps.ContamGram).as("wh"))
    fastDf.collect()
    val plan = fastDf.queryExecution.executedPlan.toString
    assert(
      plan.split("\n").exists(l => l.contains("*(") && l.contains("windowhashes")),
      s"WindowHashes fell back to interpreted:\n$plan")
  }

  test("SimHashSig (fused codegen) ≡ built-in-composed simhash") {
    import graft.functions.DedupOps
    import graft.plans.SimHashSig
    SimHashSig.register(spark)
    val corpus = DedupOps.variantDocs(
        spark.read.parquet(s"$sf001/documents.parquet").limit(150))
    val diff = corpus
      .withColumn("slow", DedupOps.simhash(col("text")))
      .withColumn("fast",
        call_function("graft_simhash", DedupOps.shingles(col("text"))))
      .filter(col("slow") =!= col("fast"))
      .count()
    assert(diff == 0, s"$diff rows diverge between fused and composed simhash")
  }

  test("HyperplaneSigs (fused codegen) ≡ built-in-composed signatures") {
    import graft.plans.HyperplaneSigs
    HyperplaneSigs.register(spark)
    val vecs = spark.read.parquet(s"$sf001/embeddings.parquet").limit(100)
    val diff = vecs
      .withColumn("slow", Similarity.hyperplaneSigs(col("embedding"), 64, 12, 6))
      .withColumn("fast",
        call_function("graft_hyperplane_sigs", col("embedding"), lit(12), lit(6)))
      .filter(col("slow") =!= col("fast"))
      .count()
    assert(diff == 0, s"$diff rows diverge between fused and composed hyperplane sigs")
  }

  test("hyperplane family is non-degenerate: tables produce distinct partitions") {
    import graft.plans.HyperplaneSigs
    HyperplaneSigs.register(spark)
    // round 1's affine family collapsed to 7 distinct hyperplanes, which
    // made every table's bucketing identical; the squared family must
    // give each table its own signature space
    val sigs = spark.read.parquet(s"$sf001/embeddings.parquet").limit(200)
      .select(call_function("graft_hyperplane_sigs",
        col("embedding"), lit(16), lit(4)).as("s"))
    val perTable = (0 until 4).map(t =>
      sigs.select(element_at(col("s"), t + 1)).distinct().count())
    assert(perTable.forall(_ > 50), s"degenerate table signatures: $perTable")
    val crossTableEqual = sigs
      .filter(element_at(col("s"), 1) === element_at(col("s"), 2)).count()
    assert(crossTableEqual < 10,
      s"tables 1 and 2 near-identical on $crossTableEqual/200 vectors")
  }

  test("q_ann_threshold is a tiled theta-join: no nested-loop, no whole-side broadcast") {
    val plan = planOf("q_ann_threshold")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"all-pairs fell back to nested-loop join:\n$plan")
    assert(!plan.contains("CartesianProduct"), "cartesian product in plan")
  }

  test("banded simhash pair join generates sub-quadratic candidates (J7 scale gate)") {
    import graft.functions.DedupOps
    import graft.plans.SimHashSig
    SimHashSig.register(spark)
    val sigged = DedupOps.variantDocs(
        spark.read.parquet(s"$sf001/documents.parquet"))
      .select(col("doc_id"),
        call_function("graft_simhash", DedupOps.shingles(col("text"))).as("sig"))
      .cache()
    val n = sigged.count()
    def bandCand(df: org.apache.spark.sql.DataFrame): Long = df
      .select(explode(DedupOps.simBandKeys(col("sig"))).as("bk"))
      .select(col("bk.band").as("band"), col("bk.key").as("key"))
      .groupBy(col("band"), col("key"))
      .agg(count(lit(1)).as("k"))
      .agg(sum(col("k") * col("k"))).collect()(0).getLong(0)
    // candidate volume = Σ over (band,key) groups of k² — the pigeonhole
    // join's cost. Round-2 history: with the degenerate (never-wrapping)
    // hash family, raw band candidates exploded (34.6M at sf0.1 — the
    // low bands were near-constant) and the rep collapse was the 9×
    // rescue. The round-3 family fix (DedupOps.M) removes the
    // degeneracy at the source: bands are well-mixed, so candidates are
    // sub-quadratic BEFORE the collapse, and the collapse's remaining
    // role is removing exact-duplicate redundancy (never inflating).
    val raw  = bandCand(sigged)
    val reps = bandCand(sigged.select(col("sig")).distinct())
    val allPairs = n * n / 2
    info(s"banded simhash: n=$n rawCand=$raw repCand=$reps all-pairs=$allPairs " +
      f"repRatio=${reps.toDouble / allPairs}%.4f")
    sigged.unpersist()
    assert(reps <= raw,
      s"rep collapse must never inflate candidates: $reps vs raw $raw")
    assert(reps < allPairs / 10,
      s"banded candidates ($reps) not sub-quadratic vs all-pairs ($allPairs)")
  }

  test("MOR resolve is bucket-local: no doc_id exchange, clean buckets stream through") {
    import graft.ingest.CdcGenerator
    import graft.operators.{Dedup, MergeOnRead}
    import graft.streaming.{CdcPipeline, PipelineConfig}
    val base = tmpDir("morplan")
    val p = new CdcPipeline(spark, PipelineConfig(
      tableRoot = s"$base/table", changeLogDir = s"$base/changelog",
      checkpointDir = s"$base/checkpoint", errorDir = s"$base/errors",
      lineageDir = s"$base/lineage", numBuckets = 8, mode = "mor",
      compactThreshold = Double.PositiveInfinity))
    CdcGenerator.writeBatches(spark, sf0001, s"$base/changelog", batches = 2)
    p.runAvailableNow()
    assert(p.table.current.get.deltaFiles.nonEmpty, "fixture must carry deltas")

    val resolved = MergeOnRead.resolve(p.table)
    resolved.collect()
    val plan = resolved.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning(doc_id"),
      s"MOR resolve shuffles on doc_id:\n$plan")
    assert(!plan.contains("Exchange"),
      s"per-bucket fold path must have NO exchange at all:\n$plan")

    // and the fold result equals the aggregate-based LWW of base∪deltas
    val viaAgg = {
      import org.apache.spark.sql.functions._
      val m = p.table.current.get
      val payload = m.schema.fieldNames.filterNot(graft.operators.Merge.InternalCols.contains).toSeq
      val b = p.table.readFiles(m.files, m.schema)
        .select(payload.map(col) :+ col("_lsn").as("lsn") :+
          when(coalesce(col("_tombstone"), lit(false)), lit("D")).otherwise(lit("I")).as("op"): _*)
      val deltaSchema = org.apache.spark.sql.types.StructType(
        m.schema.fields.filterNot(f => graft.operators.Merge.InternalCols.contains(f.name)) ++
          Seq(org.apache.spark.sql.types.StructField("lsn", org.apache.spark.sql.types.LongType, false),
            org.apache.spark.sql.types.StructField("op", org.apache.spark.sql.types.StringType, false)))
      val d = p.table.readFiles(m.deltaFiles, deltaSchema)
        .select(payload.map(col) :+ col("lsn") :+ col("op"): _*)
      Dedup.lww(b.unionByName(d))
    }
    val lhs = resolved
      .filter(!coalesce(col("_tombstone"), lit(false)))
      .select(col("doc_id"), col("n_tok"), col("_lsn"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val rhs = viaAgg
      .filter(col("op") =!= "D")
      .select(col("doc_id"), col("n_tok"), col("lsn"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(lhs == rhs, s"bucket-local fold diverges from aggregate LWW")

    // foldTouched (targeted compaction / COW pre-fold): the fold+write
    // job must also run with NO exchange — writeDataFiles' prePartitioned
    // contract — and preserve the resolved state exactly
    object Walk extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val foldPlans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(
          f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit = {
        val s = qe.executedPlan.toString
        val folds = Walk.collect(qe.executedPlan) { case x: graft.plans.LwwFoldExec => x }
        if (folds.nonEmpty && s.contains("WriteFiles")) { foldPlans.add(s); () }
      }
      override def onFailure(
          f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val st = MergeOnRead.foldTouched(p.table, "fold-gate", -1L)
      assert(!st.skipped && p.table.current.get.deltaFiles.isEmpty)
      import scala.collection.JavaConverters._
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (foldPlans.isEmpty && System.nanoTime() < deadline) Thread.sleep(100)
      val fp = foldPlans.iterator().asScala.toSeq
      assert(fp.nonEmpty, "no fold write captured")
      assert(fp.forall(!_.contains("Exchange")),
        s"targeted fold shuffled:\n${fp.filter(_.contains("Exchange")).mkString}")
      val after = MergeOnRead.resolve(p.table)
        .filter(!coalesce(col("_tombstone"), lit(false)))
        .select(col("doc_id"), col("n_tok"), col("_lsn"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(after == lhs, "foldTouched changed the resolved state")
    } finally spark.listenerManager.unregister(listener)
  }

  test("COW merge write inside foreachBatch: final AQE plan, one merge exchange, no join") {
    // Spark logs "adaptive.enabled is not supported in streaming
    // DataFrames" per micro-batch, but that warning covers only the OUTER
    // streaming plan — every job launched inside foreachBatch re-plans as
    // a batch query. This gate drives a real runAvailableNow and asserts,
    // for every merge write, the final AQE plan of the one-path design:
    // the merge adds exactly ONE exchange — the bucket route feeding the
    // LWW run-fold, which the write reuses — and no join. The same plan
    // also executes the batch's LWW dedup, whose doc_id shuffle is the
    // only other exchange (the replaced join plan had three).
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
    import org.apache.spark.sql.execution.exchange.{Exchange, REPARTITION_BY_COL, ShuffleExchangeLike}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import graft.ingest.CdcGenerator
    import graft.streaming.{CdcPipeline, PipelineConfig}
    object Walk extends AdaptiveSparkPlanHelper
    val base = tmpDir("aqeprobe")
    val dataDir = s"$base/table/data/c-"
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(
          f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit = {
        if (qe.executedPlan.toString.contains(dataDir)) plans.add(qe.executedPlan); ()
      }
      override def onFailure(
          f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val p = new CdcPipeline(spark, PipelineConfig(
        tableRoot = s"$base/table", changeLogDir = s"$base/changelog",
        checkpointDir = s"$base/checkpoint", errorDir = s"$base/errors",
        lineageDir = s"$base/lineage", numBuckets = 8, mode = "cow"))
      CdcGenerator.writeBatches(spark, sf0001, s"$base/changelog", batches = 2)
      val stats = p.runAvailableNow()
      val commits = stats.count(!_.skipped)
      // listener delivery is async — poll until every commit's write lands
      import scala.collection.JavaConverters._
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (plans.size < commits && System.nanoTime() < deadline) Thread.sleep(100)
      val writes = plans.iterator().asScala.toSeq
      assert(commits > 0 && writes.size == commits,
        s"captured ${writes.size} merge writes for $commits commits")
      writes.foreach { w =>
        assert(w.isInstanceOf[AdaptiveSparkPlanExec], s"merge write ran outside AQE:\n$w")
        assert(w.toString.contains("isFinalPlan=true"), s"AQE plan not final:\n$w")
        val exchanges = Walk.collect(w) { case e: Exchange => e }
        // the route is a clustering on the bucket's identity-probe slot
        // (REPARTITION_BY_COL: AQE may coalesce it, never split it)
        val (route, dedup) = exchanges.partition {
          case s: ShuffleExchangeLike =>
            val key = s.outputPartitioning.toString
            s.shuffleOrigin == REPARTITION_BY_COL &&
              key.contains("element_at(") && key.contains("pmod(_bucket")
          case _ => false
        }
        assert(route.size == 1, s"expected one bucket-route exchange:\n$w")
        assert(dedup.size == 1 &&
          dedup.head.outputPartitioning.toString.startsWith("hashpartitioning(doc_id"),
          s"expected only the dedup's doc_id exchange besides the route:\n$w")
        assert(Walk.collect(w) { case j: BaseJoinExec => j }.isEmpty, s"merge write joins:\n$w")
      }
    } finally spark.listenerManager.unregister(listener)
  }

  test("a 1k-row MOR commit writes its deltas in one task, one file per touched bucket") {
    // the bucket route is sized by bytes: AQE coalesces a trickle
    // commit's bucket slots into one partition, so one task writes every
    // touched bucket's file (a fixed-width route ran one task per slot)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanHelper}
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_COL, ShuffleExchangeLike}
    import graft.streaming.{CdcPipeline, PipelineConfig}
    object Walk extends AdaptiveSparkPlanHelper
    val base = tmpDir("morwrite")
    val dataDir = s"$base/table/data/c-"
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(
          f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit = {
        if (qe.executedPlan.toString.contains(dataDir)) plans.add(qe.executedPlan); ()
      }
      override def onFailure(
          f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    val p = new CdcPipeline(spark, PipelineConfig(
      tableRoot = s"$base/table", changeLogDir = s"$base/changelog",
      checkpointDir = s"$base/checkpoint", errorDir = s"$base/errors",
      lineageDir = s"$base/lineage", numBuckets = 16, mode = "mor",
      compactThreshold = Double.PositiveInfinity))
    val batch = spark.range(1000).select(
      (col("id") + 1).as("lsn"), lit("I").as("op"),
      concat(lit("doc-"), col("id").cast("string")).as("doc_id"),
      array(col("id").cast("int")).as("tokens"), lit(1L).as("n_tok"), lit("s").as("source"))
    spark.listenerManager.register(listener)
    try {
      val s = p.applyBatch(batch, 0L)
      assert(!s.skipped && s.batchEvents == 1000L)
      import scala.collection.JavaConverters._
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (plans.isEmpty && System.nanoTime() < deadline) Thread.sleep(100)
      val writes = plans.iterator().asScala.toSeq
      assert(writes.size == 1, s"expected one delta write, captured ${writes.size}")
      val w = writes.head
      val route = Walk.collect(w) {
        case e: ShuffleExchangeLike if e.shuffleOrigin == REPARTITION_BY_COL => e
      }
      assert(route.size == 1, s"expected one bucket-route exchange:\n$w")
      val reads = Walk.collect(w) { case r: AQEShuffleReadExec => r }
      assert(reads.nonEmpty && reads.forall(_.partitionSpecs.size == 1),
        s"the route was not coalesced into one partition:\n$w")
    } finally spark.listenerManager.unregister(listener)
    val deltas = p.table.current.get.deltaFiles
    assert(deltas.map(_.bucket).toSet == (0 until 16).toSet, "fixture must touch every bucket")
    assert(deltas.groupBy(_.bucket).forall(_._2.size == 1),
      s"more than one file for a bucket: ${deltas.map(_.path)}")
    // a file's `part-<n>` prefix is the partition its task wrote
    val tasks = deltas.map(f => java.nio.file.Paths.get(f.path).getFileName.toString.take(10)).toSet
    assert(tasks == Set("part-00000"), s"delta files came from several tasks: $tasks")
    assert(deltas.map(_.rows).sum == 1000L)
  }

  test("the LWW fold is LwwFoldExec in COW merge, MOR resolve, foldTouched, compaction") {
    // one native fold everywhere: no object (de)serialisation around it,
    // and each plan keeps its exchange count — COW merge: the bucket
    // route + the batch dedup's doc_id exchange; MOR resolve and
    // foldTouched at <= 64 dirty buckets: none; compaction: the write's
    // bucket route
    import org.apache.spark.sql.execution.{DeserializeToObjectExec, SerializeFromObjectExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.Exchange
    import graft.operators.MergeOnRead
    import graft.plans.LwwFoldExec
    import graft.streaming.{CdcPipeline, PipelineConfig}
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    object Walk extends AdaptiveSparkPlanHelper
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(
          f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit = {
        seen.add(qe.executedPlan); ()
      }
      override def onFailure(
          f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    def foldPlans(body: => Unit): Seq[SparkPlan] = {
      seen.clear()
      body
      org.apache.spark.TestBus.drain(spark.sparkContext)
      seen.asScala.toSeq.filter(p => Walk.collect(p) { case x: LwwFoldExec => x }.nonEmpty)
    }
    def gate(what: String, exchanges: Int)(body: => Unit): Unit = {
      val ps = foldPlans(body)
      assert(ps.nonEmpty, s"$what: no plan ran an LwwFoldExec")
      ps.foreach { p =>
        val objs = Walk.collect(p) {
          case o: DeserializeToObjectExec => o
          case o: SerializeFromObjectExec => o
        }
        assert(objs.isEmpty, s"$what: object codec around the fold:\n$p")
        assert(Walk.collect(p) { case e: Exchange => e }.size == exchanges,
          s"$what: expected $exchanges exchanges:\n$p")
      }
    }
    def mk(mode: String) = {
      val base = tmpDir(s"foldexec-$mode")
      new CdcPipeline(spark, PipelineConfig(
        tableRoot = s"$base/table", changeLogDir = "-", checkpointDir = "-",
        errorDir = s"$base/errors", lineageDir = s"$base/lineage",
        numBuckets = 8, mode = mode, compactThreshold = Double.PositiveInfinity))
    }
    def batch(ids: Seq[Int], lsn0: Long) = ids.map(i =>
      (lsn0 + i, "I", s"fx-$i", Seq(i), 1L, "s")).toDF("lsn", "op", "doc_id", "tokens", "n_tok", "source")
    // the update batch touches 2 of 8 buckets, so compaction folds a
    // mostly-clean table (dirty buckets fold, clean ones stream through)
    val all = 0 until 40
    val few = all.filter(i => MergeOnRead.bucketOfValue(s"fx-$i", 8) < 2)
    spark.listenerManager.register(listener)
    try {
      val cow = mk("cow")
      cow.applyBatch(batch(all, 0L), 0L)
      gate("COW merge", exchanges = 2)(cow.applyBatch(batch(few, 1000L), 1L))
      val mor = mk("mor")
      mor.applyBatch(batch(all, 0L), 0L)
      gate("foldTouched", exchanges = 0)(MergeOnRead.foldTouched(mor.table, "fx-f", -1L))
      mor.applyBatch(batch(few, 1000L), 1L)
      gate("MOR resolve", exchanges = 0)(MergeOnRead.resolve(mor.table).collect())
      gate("compaction", exchanges = 1)(MergeOnRead.compact(mor.table, "fx-c"))
    } finally spark.listenerManager.unregister(listener)
  }

  test("a session without GraftExtensions fails typed when it plans a fold") {
    import org.apache.spark.sql.SparkSession
    import graft.operators.MergeOnRead
    import graft.streaming.{CdcPipeline, PipelineConfig}
    import spark.implicits._
    val base = tmpDir("noext")
    val p = new CdcPipeline(spark, PipelineConfig(
      tableRoot = s"$base/table", changeLogDir = "-", checkpointDir = "-",
      errorDir = s"$base/errors", lineageDir = s"$base/lineage",
      numBuckets = 4, mode = "mor", compactThreshold = Double.PositiveInfinity))
    p.applyBatch(Seq((1L, "I", "nx-a", Seq(1), 1L, "s"))
      .toDF("lsn", "op", "doc_id", "tokens", "n_tok", "source"), 0L)
    assert(p.table.current.get.deltaFiles.nonEmpty, "the read must fold")
    // a second session over the shared context, built WITHOUT the
    // extensions (same session juggling as the extensions test below)
    val shared = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val bare = SparkSession.builder().master("local[4]").create()
      assert(bare ne shared)
      val e = intercept[IllegalStateException] {
        MergeOnRead.resolve(SnapshotTable.load(bare, p.table.root)).collect()
      }
      assert(e.getMessage.contains("spark.sql.extensions=graft.plans.GraftExtensions"),
        e.getMessage)
    } finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }

  test("GraftExtensions injects every codegen function at session build (library entry)") {
    // the spark.sql.extensions deployment path: a session BUILT WITH the
    // extensions answers plain SQL with no imperative register calls.
    // Extensions only apply at session creation, so build a second
    // session over the shared SparkContext (clear the default so
    // getOrCreate constructs instead of returning the shared one; never
    // stop it — that would kill the context under every other suite).
    import org.apache.spark.sql.SparkSession
    val shared = spark // force the shared lazy session BEFORE clearing
    val prev = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[4]")
        .withExtensions(new graft.plans.GraftExtensions)
        .create()
      assert(s2 ne shared, "extensions test must get a fresh session")
      val r = s2.sql(
        """SELECT graft_simhash(graft_shingles(array(1,2,3,4,5))) AS sim,
                  graft_cosine(array(cast(1.0 AS float)), array(cast(1.0 AS float))) AS cos,
                  size(graft_minhash(graft_shingles(array(1,2,3,4,5)))) AS mh,
                  graft_rolling_hash(array(1,2,3)) AS fp,
                  size(graft_hyperplane_sigs(array(cast(0.5 AS float)), 4, 2)) AS hp,
                  size(graft_window_hashes(array(1,2,3,4,1,2), 2)) AS wh
        """).collect()(0)
      assert(r.getDouble(1) == 1.0)
      assert(r.getInt(2) == graft.functions.DedupOps.NumHashes)
      assert(r.getInt(4) == 2)
      assert(r.getInt(5) == 4) // windows 12, 23, 34, 41, then 12 again
    } finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
      prev.foreach(_ => ()) // shared is the canonical session either way
    }
  }

  test("identity probes invert murmur3 exactly (one reduce slot per residue class)") {
    // the exchange-free write/fold paths rely on probe(s) landing in
    // partition s of a W-way HashPartitioning (W = the bucket route's
    // width, the session's shuffle partitions; each slot owns the bucket
    // residue class {s, s+W, ...}) —
    // verify the inversion for several widths including 10k
    import org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
    import org.apache.spark.sql.types.IntegerType
    for (n <- Seq(2, 16, 64, 1024, 10000)) {
      val probes = SnapshotTable.identityProbes(n)
      assert(probes.length == n)
      (0 until n).foreach { b =>
        val h = Murmur3HashFunction.hash(probes(b), IntegerType, 42L).toInt
        assert(((h % n) + n) % n == b, s"probe for bucket $b of $n does not invert")
      }
    }
  }

  test("V2 read: pushdown and pruning reach the parquet scan through format(\"graft\")") {
    import graft.ingest.CdcGenerator
    import graft.streaming.{CdcPipeline, PipelineConfig}
    val base = tmpDir("v2plan")
    val p = new CdcPipeline(spark, PipelineConfig(
      tableRoot = s"$base/table", changeLogDir = s"$base/cl",
      checkpointDir = s"$base/ck", errorDir = s"$base/err",
      lineageDir = s"$base/lin", numBuckets = 4, mode = "cow"))
    p.applyBatch(CdcGenerator.events(spark, sf0001), 0L)
    val anyId = p.readTable().select("doc_id").orderBy("doc_id").first().getString(0)

    val df = spark.read.format("graft").load(s"$base/table")
      .filter(col("doc_id") === anyId)
      .select(col("doc_id"), col("n_tok"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the key predicate must reach the parquet scan (a COW table's live
    // view is scan + tombstone filter — nothing blocks pushdown)
    assert(plan.contains("PushedFilters: ["), s"no pushed filters through V2 read:\n$plan")
    assert(plan.contains("EqualTo(doc_id") || plan.contains("IsNotNull(doc_id"),
      s"doc_id predicate not pushed:\n$plan")
    // column pruning: the wide tokens array must not be read
    val readSchemas = plan.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(readSchemas.nonEmpty && readSchemas.forall(!_.contains("tokens")),
      s"tokens not pruned from V2 scan:\n${readSchemas.mkString("\n")}")
    // and the read stays inside whole-stage codegen
    assert(plan.contains("*("), "V2 read fell out of codegen")
  }

  test("near-dup index: the append writes with no exchange, its compaction with one range exchange") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.{Exchange, REPARTITION_BY_COL, ShuffleExchangeLike}
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import graft.operators.DedupIndex
    import spark.implicits._
    object Walk extends AdaptiveSparkPlanHelper
    val dir = tmpDir("ndplan")
    val indexDir = java.nio.file.Paths.get(dir, "index").toString
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(
          f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit = {
        val s = qe.executedPlan.toString
        if (s.contains("WriteFiles") && s.contains(indexDir)) plans.add(qe.executedPlan); ()
      }
      override def onFailure(
          f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    def captured(n: Int): Seq[SparkPlan] = {
      import scala.collection.JavaConverters._
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (plans.size < n && System.nanoTime() < deadline) Thread.sleep(100)
      val got = plans.iterator().asScala.toSeq
      plans.clear()
      got
    }
    def bands(from: Int) = DedupIndex.bandRows((from until from + 50).map(i =>
      (s"d$i", i.toLong, (0 until 30).map(j => (i * 1000 + j * 7) % 65536)))
      .toDF("doc_id", "lsn", "tokens"))
    spark.listenerManager.register(listener)
    try {
      DedupIndex.append(bands(0), dir, "pa")
      DedupIndex.append(bands(50), dir, "pb")
      val appends = captured(2)
      assert(appends.size == 2, s"captured ${appends.size} append writes")
      appends.foreach(w =>
        assert(Walk.collect(w) { case e: Exchange => e }.isEmpty, s"index append shuffles:\n$w"))
      assert(DedupIndex.compact(spark, dir, Set("pa", "pb"), "pb") == 2)
      val compactions = captured(1)
      assert(compactions.size == 1, s"captured ${compactions.size} compaction writes")
      val exchanges = Walk.collect(compactions.head) { case e: Exchange => e }
      assert(exchanges.size == 1, s"index compaction exchanges:\n${compactions.head}")
      assert(exchanges.head.outputPartitioning.isInstanceOf[RangePartitioning] &&
        exchanges.head.asInstanceOf[ShuffleExchangeLike].shuffleOrigin == REPARTITION_BY_COL,
        s"expected the _ibkt range exchange:\n${compactions.head}")
    } finally spark.listenerManager.unregister(listener)
  }

  test("near-dup stage plans hold no ArrayTransform, ArrayAggregate or ZipWith") {
    // the stage's executed plans — the index append, which is also the
    // one job that fills the band-row cache and observes the touched
    // buckets (no separate `noop` materialize job), and the flag write
    // that runs the probe — compute band rows and lane agreement with the
    // compiled kernels, never with the interpreted (CodegenFallback)
    // HigherOrderFunctions of the reference chain; the persisted band
    // rows' cached plan is walked too
    import org.apache.spark.sql.catalyst.expressions.{ArrayAggregate, ArrayTransform, Expression, ZipWith}
    import org.apache.spark.sql.execution.{CollectMetricsExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import graft.operators.DedupIndex
    import graft.plans.TokenMinHash
    import graft.streaming.{CdcPipeline, PipelineConfig}
    import spark.implicits._
    object Walk extends AdaptiveSparkPlanHelper
    def expressions(plan: SparkPlan): Seq[Expression] =
      Walk.collectWithSubqueries(plan) { case node => node }.flatMap { node =>
        node.expressions.flatMap(_.collect { case e => e }) ++ (node match {
          case m: InMemoryTableScanExec => expressions(m.relation.cachedPlan)
          case _                        => Nil
        })
      }
    def interpretedHofs(plan: SparkPlan): Seq[String] = expressions(plan).collect {
      case e @ (_: ArrayTransform | _: ArrayAggregate | _: ZipWith) => e.prettyName
    }
    val base = tmpDir("ndhof")
    val p = new CdcPipeline(spark, PipelineConfig(
      tableRoot = s"$base/table", changeLogDir = s"$base/changelog",
      checkpointDir = s"$base/checkpoint", errorDir = s"$base/errors",
      lineageDir = s"$base/lineage", numBuckets = 4, mode = "mor",
      nearDupPolicy = "flag"))
    def toks(i: Int) = (0 until 30).map(j => (i * 1000 + j * 7) % 65536)
    def batch(ids: Seq[Int], lsn0: Long) = ids.map(i =>
      (lsn0 + i, "I", s"doc$i", Option(toks(i % 40)), Option(30L), "s"))
      .toDF("lsn", "op", "doc_id", "tokens", "n_tok", "source")
    p.applyBatch(batch(0 until 40, 0L), 0L)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(
          f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit = {
        plans.add(qe.executedPlan); ()
      }
      override def onFailure(
          f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      // docs 40..79 repeat docs 0..39's tokens: every one is flagged
      p.applyBatch(batch(40 until 80, 1000L), 1L)
      org.apache.spark.TestBus.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    assert(p.readNearDups().count() == 40)
    import scala.collection.JavaConverters._
    val all = plans.asScala.toSeq
    val root = s"$base/neardups"
    def one(what: String)(pick: String => Boolean): SparkPlan = {
      val hits = all.filter(pl => pick(pl.toString))
      assert(hits.size == 1, s"$what: ${hits.size} plans of ${all.size}")
      hits.head
    }
    val noops = all.filter(_.toString.contains("NoopWrite"))
    assert(noops.isEmpty, s"a noop write ran beside the index append:\n${noops.mkString("\n")}")
    val stage = Seq(
      "append" -> one("append")(s => s.contains("WriteFiles") && s.contains(s"$root/index/c-b1.")),
      "flag write" -> one("flag write")(s => s.contains("WriteFiles") && s.contains(s"$root/.staged-c-b1-")))
    // the append observes the touched buckets over the band rows it writes
    val observed = Walk.collect(stage.head._2) { case c: CollectMetricsExec => c }
    assert(observed.map(_.name) == Seq("ibkt-b1"),
      s"the index append carries no touched-bucket observation:\n${stage.head._2}")
    assert(observed.head.child.output.map(_.name) == DedupIndex.IndexSchema.fieldNames.toSeq &&
      expressions(observed.head.child).exists(_.isInstanceOf[TokenMinHash]),
      s"the touched-bucket observation is not over the band rows:\n${stage.head._2}")
    assert(Walk.collect(stage.last._2) { case j: BroadcastHashJoinExec => j }.nonEmpty,
      s"the flag write does not run the probe's join:\n${stage.last._2}")
    stage.foreach { case (what, pl) =>
      val hofs = interpretedHofs(pl)
      assert(hofs.isEmpty, s"$what runs interpreted ${hofs.distinct.mkString(", ")}:\n$pl")
    }
  }

  test("changesSince delta replay is a pure file read: no exchange, no join") {
    import graft.ingest.CdcGenerator
    import graft.operators.MergeOnRead
    import graft.streaming.{CdcPipeline, PipelineConfig}
    val base = tmpDir("cdcoutplan")
    val p = new CdcPipeline(spark, PipelineConfig(
      tableRoot = s"$base/table", changeLogDir = s"$base/changelog",
      checkpointDir = s"$base/checkpoint", errorDir = s"$base/errors",
      lineageDir = s"$base/lineage", numBuckets = 8, mode = "mor",
      compactThreshold = Double.PositiveInfinity))
    CdcGenerator.writeBatches(spark, sf0001, s"$base/changelog", batches = 2)
    val stats = p.runAvailableNow()
    val changes = MergeOnRead.changesSince(p.table, stats.head.version)
    changes.collect()
    val plan = changes.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"O(changes) replay must not shuffle:\n$plan")
    assert(!plan.contains("Join"), s"replay must not join:\n$plan")
  }

  test("streaming changelog micro-batch adds no exchange over the gated batch plan") {
    import graft.streaming.{CdcPipeline, PipelineConfig}
    import spark.implicits._
    val base = tmpDir("chstreamplan")
    val p = new CdcPipeline(spark, PipelineConfig(
      tableRoot = s"$base/table", changeLogDir = "-", checkpointDir = "-",
      errorDir = s"$base/errors", lineageDir = s"$base/lineage",
      numBuckets = 8, mode = "mor"))
    def batch(rows: (Long, String, String, Option[Seq[Int]], Option[Long], String)*) =
      rows.toSeq.toDF("lsn", "op", "doc_id", "tokens", "n_tok", "source")
    p.applyBatch(batch((1L, "I", "pl-a", Some(Seq(1)), Some(1L), "s")), 0L)
    val v1 = p.table.currentVersion.get
    p.applyBatch(batch(
      (2L, "U", "pl-a", Some(Seq(2)), Some(1L), "s"),
      (3L, "I", "pl-b", Some(Seq(3)), Some(1L), "s")), 1L)
    val q = spark.readStream.format("graft")
      .option("startingVersion", v1)
      .load(s"$base/table")
      .writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        assert(df.count() == 2); ()
      }
      .start()
    q.awaitTermination()
    // getBatch compiles the NATIVE changesSince plan (gated exchange- and
    // join-free above) to an RDD and hands the streaming engine that
    // compiled leaf — so the executed micro-batch plan must be the leaf
    // scan plus projection, with the streaming side adding no exchange,
    // join, or re-shuffle of the delivered rows on top
    val plan = q
      .asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
      .streamingQuery.lastExecution.executedPlan.toString
    assert(plan.contains("ExistingRDD"),
      s"micro-batch leaf must be the precompiled changesSince RDD:\n$plan")
    assert(!plan.contains("Exchange"), s"streaming wrapper added a shuffle:\n$plan")
    assert(!plan.contains("Join"), s"streaming wrapper added a join:\n$plan")
  }

  test("snapshot commit is compare-and-swap: a version can be claimed once") {
    import org.apache.spark.sql.types._
    val root = tmpDir("cas")
    val t = SnapshotTable.create(spark, root,
      StructType(Seq(StructField("doc_id", StringType))), numBuckets = 2)
    val m = t.current.get
    val next = m.copy(version = m.version + 1, parent = m.version, commitId = "w1")
    t.commit(next)
    // a racing writer computing the same next version must fail, not clobber
    intercept[Exception] {
      t.commit(next.copy(commitId = "w2"))
    }
    assert(t.current.get.commitId == "w1")
  }

  test("bootstrap duplicate sweep plans ONE doc_id exchange for both variant passes") {
    import spark.implicits._
    val valid = Seq(
      (1L, "I", "a", Seq(1, 2), 2L, "s"),
      (1L, "I", "a", Seq(1, 2), 2L, "s"),
      (1L, "I", "b", Seq(3), 1L, "s"),
      (1L, "I", "b", Seq(4), 1L, "s"))
      .toDF("lsn", "op", "doc_id", "tokens", "n_tok", "source")
    val (clean, amb) = graft.operators.Bootstrap.sweepDuplicates(valid, "c1")
    // semantics: identical copies collapse, conflicting variants quarantine
    assert(clean.select("doc_id").as[String].collect().toSeq == Seq("a"))
    assert(amb.count() == 2)
    // plan: both window passes (sorted lag + full-frame sum) ride ONE
    // hash exchange on doc_id — the claim sweepDuplicates' scaladoc makes
    val plan = clean.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$plan")
    assert(plan.contains("hashpartitioning(doc_id"), s"not partitioned by doc_id:\n$plan")
  }
}
