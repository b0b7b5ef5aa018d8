package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Spark-native library entry point: injects every graft codegen
  * expression into the session's function registry at session build time,
  * so a user of the library needs NO imperative register calls —
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.plans.GraftExtensions …
  *   // or
  *   SparkSession.builder().withExtensions(new GraftExtensions) …
  * }}}
  *
  * and then `SELECT graft_simhash(graft_shingles(tokens)) …` works in
  * plain SQL on every session of the cluster. The per-object `register`
  * helpers remain for ad-hoc/test use; this is the deployment path.
  * (The near-dup index's kernels — [[TokenMinHash]], [[BandKeys]],
  * [[LaneAgree]] — are no SQL functions: `DedupIndex` builds them as
  * Columns directly.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "")

  override def apply(ext: SparkSessionExtensions): Unit = {
    // SQL/catalog surface: expand spark.read.format("graft") relations
    // into the snapshot-resolve plan (see graft.sources.GraftDataSource)
    ext.injectResolutionRule(session =>
      graft.sources.GraftRelationResolution(session))
    // the LWW fold every table read and merge runs (see LwwFold)
    ext.injectPlannerStrategy(_ => LwwFoldStrategy)
    ext.injectFunction((
      FunctionIdentifier("graft_cosine"),
      info("graft_cosine", "graft_cosine(a, b) - fused cosine similarity of two float arrays"),
      (exprs: Seq[Expression]) => CosineSim(exprs.head, exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_shingles"),
      info("graft_shingles", "graft_shingles(tokens) - word-trigram shingle hashes"),
      (exprs: Seq[Expression]) => ShingleHash(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_simhash"),
      info("graft_simhash", "graft_simhash(shingles) - 60-bit simhash signature"),
      (exprs: Seq[Expression]) => SimHashSig(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_minhash"),
      info("graft_minhash", "graft_minhash(shingles[, numHashes]) - minhash signature array"),
      (exprs: Seq[Expression]) =>
        if (exprs.size > 1)
          MinHashSig(exprs.head, GraftExtensions.literalInt(exprs(1), "graft_minhash numHashes"))
        else MinHashSig(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_rolling_hash"),
      info("graft_rolling_hash", "graft_rolling_hash(tokens) - rolling-hash fingerprint"),
      (exprs: Seq[Expression]) => RollingHash(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_window_hashes"),
      info("graft_window_hashes",
        "graft_window_hashes(tokens, w) - distinct hashes of every length-w token window"),
      (exprs: Seq[Expression]) => WindowHashes(exprs.head, exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_hyperplane_sigs"),
      info("graft_hyperplane_sigs",
        "graft_hyperplane_sigs(emb, bits, tables) - multi-table hyperplane LSH signatures"),
      (exprs: Seq[Expression]) =>
        HyperplaneSigs(exprs.head,
          GraftExtensions.literalInt(exprs(1), "graft_hyperplane_sigs bits"),
          GraftExtensions.literalInt(exprs(2), "graft_hyperplane_sigs tables"))))
  }
}

object GraftExtensions {
  /** How to install the extensions — the message of every typed failure
    * a session without them hits. */
  val InstallHint: String =
    "install it with spark.sql.extensions=graft.plans.GraftExtensions " +
      "(or SparkSession.builder().withExtensions(new graft.plans.GraftExtensions))"

  /** Validate a config argument as a non-null integer LITERAL before
    * evaluating it — `eval(null)` on a column reference throws an
    * internal unbound-attribute error, and a NULL literal would NPE;
    * both deserve an actionable message instead (round-3 review). */
  private[plans] def literalInt(e: Expression, what: String): Int = {
    if (!e.foldable)
      throw new IllegalArgumentException(s"$what must be an integer literal, got ${e.sql}")
    e.eval(null) match {
      case n: Number => n.intValue()
      case other =>
        throw new IllegalArgumentException(
          s"$what must be a non-null integer literal, got $other")
    }
  }
}
