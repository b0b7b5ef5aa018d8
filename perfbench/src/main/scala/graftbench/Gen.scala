package graftbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** One change event as the upstream log would carry it. `valid = false`
  * marks a planted invalid row (the engine must route it to its error
  * table; it never changes state). */
final case class Ev(
    lsn: Long, op: String, docId: String, tokens: Array[Int],
    nTok: java.lang.Long, source: String, valid: Boolean)

/** Input shape of a workload. Shares are per event of an update batch. */
final case class Shape(
    baseDocs: Int,        // bootstrapped base (MOR) / first insert batch (COW)
    batchEvents: Int,
    width: (Int, Int),    // token count, inclusive range
    pInsert: Double,
    pDelete: Double,
    pLate: Double,        // stale re-delivery below the key's current LSN
    pInvalid: Double,
    hotKeys: Double,      // share of keys that are hot
    hotEvents: Double,    // share of updates that hit a hot key
    pNearDup: Double)     // share of inserts planted as near-duplicates

/** Seeded change-stream generator. The seed drives the key permutation,
  * the hot-key set, the op mix, the planted invalid rows, the planted
  * near-duplicates and the payload width; the same seed and the same
  * sequence of calls give the same events. It keeps only key
  * bookkeeping (which keys are live); the expected table state is the
  * [[Oracle]]'s, folded from the events this returns. */
final class Gen(seed: Long, shape: Shape) {
  private val rng   = new SplittableRandom(seed)
  private val salt  = rng.nextLong()
  private val Vocab = 30000

  private var nextKey = 0
  private val live    = mutable.ArrayBuffer.empty[Int]
  private val posOf   = mutable.HashMap.empty[Int, Int]
  private val lastLsn = mutable.HashMap.empty[Int, Long]
  private val usedLate = mutable.HashSet.empty[Long]
  val deleted = mutable.ArrayBuffer.empty[Int]
  private var counter = 1L
  private val recent = mutable.ArrayBuffer.empty[Array[Int]] // earlier inserts
  private var hot: Array[Int] = Array.empty

  val plantedInvalid  = mutable.ArrayBuffer.empty[Long]
  val plantedNearDups = mutable.ArrayBuffer.empty[String]

  def docId(k: Int): String = f"d${Gen.mix(k.toLong + salt)}%016x"
  private def nextLsn(): Long = { counter += 1; counter * 4 }
  def floorLsn: Long = 4L

  private def tokens(): Array[Int] = {
    val (lo, hi) = shape.width
    Array.fill(lo + rng.nextInt(hi - lo + 1))(rng.nextInt(Vocab))
  }
  private def source(): String = "src" + rng.nextInt(4)

  private def addLive(k: Int): Unit = { posOf(k) = live.size; live += k }
  private def removeLive(k: Int): Unit = {
    val p = posOf.remove(k).get
    val last = live.remove(live.size - 1)
    if (last != k) { live(p) = last; posOf(last) = p }
  }
  private def anyLive(): Int = live(rng.nextInt(live.size))

  /** Base state: `baseDocs` fresh keys, all stamped at [[floorLsn]]. */
  def base(): Seq[Ev] = {
    val out = (0 until shape.baseDocs).map { _ =>
      val k = nextKey; nextKey += 1
      addLive(k); lastLsn(k) = floorLsn
      val t = tokens()
      Ev(floorLsn, "I", docId(k), t, t.length.toLong, source(), valid = true)
    }
    pickHot()
    out
  }

  private def pickHot(): Unit =
    hot = Array.fill(math.max(1, (live.size * shape.hotKeys).toInt))(anyLive()).distinct

  private def update(k: Int, lsn: Long): Ev = {
    val t = tokens()
    Ev(lsn, "U", docId(k), t, t.length.toLong, source(), valid = true)
  }

  /** First batch of a COW run: `baseDocs` inserts of fresh keys. */
  def insertBatch(): Seq[Ev] = {
    val out = (0 until shape.baseDocs).map { _ =>
      val k = nextKey; nextKey += 1
      val lsn = nextLsn()
      addLive(k); lastLsn(k) = lsn
      val t = tokens()
      Ev(lsn, "I", docId(k), t, t.length.toLong, source(), valid = true)
    }
    pickHot()
    out
  }

  /** One change batch over the current key space. */
  def batch(): Seq[Ev] = {
    val keysBefore = nextKey
    val startLsn   = counter * 4
    val touched    = mutable.HashSet.empty[Int]
    val inserted   = mutable.ArrayBuffer.empty[Array[Int]]
    val out = mutable.ArrayBuffer.empty[Ev]
    while (out.size < shape.batchEvents) {
      val r = rng.nextDouble()
      if (r < shape.pInvalid) {
        val lsn = nextLsn()
        plantedInvalid += lsn
        val t = tokens()
        out += (if (rng.nextBoolean())
                  Ev(lsn, "U", docId(anyLive()), t, t.length + 1L, source(), valid = false)
                else Ev(lsn, "U", null, t, t.length.toLong, source(), valid = false))
      } else if (r < shape.pInvalid + shape.pLate) {
        // re-delivery of an older version: below the key's current LSN,
        // so LWW must discard it as stale
        val k = anyLive()
        val lsn = lastLsn(k) - 1
        if (lastLsn(k) < startLsn && lsn > floorLsn && usedLate.add(lsn))
          out += update(k, lsn)
      } else if (r < shape.pInvalid + shape.pLate + shape.pDelete) {
        // only keys live before this batch, never hot ones: no key is
        // inserted and deleted in one batch, and no event follows a delete
        val k = anyLive()
        if (k < keysBefore && !hot.contains(k)) {
          removeLive(k); deleted += k; touched += k
          val lsn = nextLsn(); lastLsn(k) = lsn
          out += Ev(lsn, "D", docId(k), null, null, null, valid = true)
        }
      } else if (r < shape.pInvalid + shape.pLate + shape.pDelete + shape.pInsert) {
        val k = nextKey; nextKey += 1
        val lsn = nextLsn()
        addLive(k); lastLsn(k) = lsn; touched += k
        val t =
          if (recent.nonEmpty && rng.nextDouble() < shape.pNearDup) {
            // near-duplicate of an earlier batch's insert: same tokens
            // but the last one, so MinHash agreement stays high
            plantedNearDups += docId(k)
            val c = recent(rng.nextInt(recent.size)).clone()
            c(c.length - 1) = (c(c.length - 1) + 1) % Vocab
            c
          } else tokens()
        if (shape.pNearDup > 0) inserted += t
        out += Ev(lsn, "I", docId(k), t, t.length.toLong, source(), valid = true)
      } else {
        val k =
          if (hot.nonEmpty && rng.nextDouble() < shape.hotEvents) {
            val h = hot(rng.nextInt(hot.length))
            if (posOf.contains(h)) h else anyLive()
          } else anyLive()
        val lsn = nextLsn(); lastLsn(k) = lsn; touched += k
        out += update(k, lsn)
      }
    }
    if (recent.size > 512) recent.remove(0, recent.size - 512)
    recent ++= inserted
    out.toSeq
  }

  def liveKeys: Int = live.size
  def liveDoc(i: Int): String = docId(live(i))
  def absentDoc(i: Int): String = docId(Int.MaxValue - i)
  def pick(n: Int): Int = rng.nextInt(n)
}

object Gen {
  /** splitmix64 finalizer: a bijection on longs, so distinct key indices
    * give distinct, seed-permuted doc ids. */
  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  val EventSchema: StructType = StructType(Seq(
    StructField("lsn", LongType, nullable = false),
    StructField("op", StringType, nullable = false),
    StructField("doc_id", StringType, nullable = true),
    StructField("tokens", ArrayType(IntegerType), nullable = true),
    StructField("n_tok", LongType, nullable = true),
    StructField("source", StringType, nullable = true)))

  val SnapshotSchema: StructType = StructType(Seq(
    StructField("doc_id", StringType, nullable = false),
    StructField("tokens", ArrayType(IntegerType), nullable = true),
    StructField("n_tok", LongType, nullable = true),
    StructField("source", StringType, nullable = true)))

  /** Write events as one parquet batch directory. */
  def writeEvents(spark: SparkSession, evs: Seq[Ev], dir: String): Unit = {
    val rows = evs.map(e =>
      Row(e.lsn, e.op, e.docId, if (e.tokens == null) null else e.tokens.toSeq,
        e.nTok, e.source))
    write(spark, rows, EventSchema, dir)
  }

  /** Write base-state events as a payload-shaped snapshot directory. */
  def writeSnapshot(spark: SparkSession, evs: Seq[Ev], dir: String): Unit =
    write(spark, evs.map(e => Row(e.docId, e.tokens.toSeq, e.nTok, e.source)),
      SnapshotSchema, dir)

  private def write(spark: SparkSession, rows: Seq[Row], schema: StructType, dir: String): Unit = {
    val slices = math.max(1, math.min(spark.sparkContext.defaultParallelism, rows.size / 2000))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, slices), schema)
      .write.parquet(dir)
  }
}
