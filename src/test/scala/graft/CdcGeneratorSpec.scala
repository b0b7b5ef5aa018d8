package graft

import org.apache.spark.sql.functions._

import graft.ingest.CdcGenerator

/** The synthetic change stream is a pure function of `documents`: its
  * partitioning may change (it is sized for memory), its rows may not. */
class CdcGeneratorSpec extends SparkSpec {

  /** (row count, order-independent digest): XOR of every row's
    * xxhash64 — events are unique by lsn, so no pair cancels. */
  private def fingerprint(replicate: Int): (Long, Long) = {
    val ev = CdcGenerator.events(spark, sf001, replicate)
    val r = ev.agg(count(lit(1)),
      bit_xor(xxhash64(ev.columns.toIndexedSeq.map(col): _*))).head()
    (r.getLong(0), r.getLong(1))
  }

  test("replicated stream rows are pinned: events(sf0.01, replicate = 2)") {
    // measured on the generator that sized its repartition by
    // defaultParallelism; sizing it by rows must not change a row
    assert(fingerprint(2) == ((2238L, 3563030910292909166L)))
  }

  test("replicate = 1 stream rows are pinned: events(sf0.01)") {
    assert(fingerprint(1) == ((1119L, 8936165028960515590L)))
  }
}
