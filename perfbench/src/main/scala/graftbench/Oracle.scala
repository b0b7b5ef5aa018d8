package graftbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** The benchmark's own expected state: a plain last-writer-wins fold of
  * the generated valid events, keyed by doc_id (a delete leaves a
  * tombstone entry with `tokens == null`). Shares no code with the
  * engine's operators. */
final class Oracle {
  final class Entry(val lsn: Long, val tokens: Array[Int], val nTok: Long, val source: String) {
    def live: Boolean = tokens != null
  }
  private val state = new java.util.HashMap[String, Entry]()
  private var corrupt = false

  def fold(evs: Seq[Ev]): Unit = evs.foreach { e =>
    if (e.valid) {
      val cur = state.get(e.docId)
      if (cur == null || e.lsn > cur.lsn)
        state.put(e.docId,
          if (e.op == "D") new Entry(e.lsn, null, 0L, null)
          else new Entry(e.lsn, e.tokens, e.nTok.longValue, e.source))
    }
  }

  def get(docId: String): Option[Entry] = Option(state.get(docId)).filter(_.live)

  /** (live rows, order-independent hash) of the expected live view. */
  def digest: (Long, BigInt) = {
    var n = 0L
    var sum = BigInt(0)
    state.forEach { (id, e) =>
      if (e.live) { n += 1; sum += Oracle.rowHash(id, e.tokens, e.nTok, e.source) }
    }
    if (corrupt) (n, sum + 1) else (n, sum)
  }

  def liveIds: Set[String] = {
    val b = Set.newBuilder[String]
    state.forEach((id, e) => if (e.live) b += id)
    b.result()
  }

  /** Net changes since a state whose live docs were `fromLive` at
    * watermark `lsn`: docs live now at a newer version, plus docs live
    * then and deleted since. A change read by state diff returns
    * exactly these rows. */
  def netChangesSince(fromLive: Set[String], lsn: Long): Long = {
    var n = 0L
    state.forEach { (id, e) =>
      if (if (e.live) e.lsn > lsn else fromLive.contains(id)) n += 1
    }
    n
  }

  /** Self-test hook: make every later digest disagree with the engine. */
  def corruptDigest(): Unit = corrupt = true
}

object Oracle {
  /** Spark's xxhash64(doc_id, tokens, n_tok, source) computed on the
    * driver: seed 42, chained field by field, array elements in order. */
  def rowHash(docId: String, tokens: Array[Int], nTok: Long, source: String): Long = {
    var h = hashStr(docId, 42L)
    var i = 0
    while (i < tokens.length) { h = XXH64.hashInt(tokens(i), h); i += 1 }
    h = XXH64.hashLong(nTok, h)
    if (source != null) hashStr(source, h) else h
  }

  private def hashStr(s: String, seed: Long): Long = {
    val u = UTF8String.fromString(s)
    XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, seed)
  }

  private val hashCol: Column = xxhash64(col("doc_id"),
    col("tokens").cast("array<int>"), col("n_tok").cast("long"), col("source"))

  /** The full-payload aggregate that forces a read: (rows, hash sum). */
  def digestOf(df: DataFrame): (Long, BigInt) = {
    val r = df.agg(count(lit(1)), sum(hashCol.cast("decimal(38,0)"))).head()
    val s = Option(r.getDecimal(1)).map(d => BigInt(d.toBigInteger)).getOrElse(BigInt(0))
    (r.getLong(0), s)
  }
}
