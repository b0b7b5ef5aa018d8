package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.hadoop.fs.{FSDataOutputStream, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The engine's local file system with a gate: while armed, creating a
  * `.parquet` file whose path contains the armed marker blocks until the
  * gate opens (or 60 s pass). A test holds one write job in flight this
  * way — e.g. the near-dup index append — while it makes a concurrent
  * job fail. Installed for a window by [[GatedLocalFs.during]]. */
class GatedLocalFs extends graft.table.NoForkLocalFileSystem {
  override def create(
      f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    GatedLocalFs.pass(f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object GatedLocalFs {
  @volatile private var marker: Option[String] = None
  @volatile private var gate = new CountDownLatch(0)
  @volatile private var heldOnce = false

  /** Whether a create waited at the gate since it was armed. */
  def held: Boolean = heldOnce

  private def pass(f: Path): Unit = {
    val p = f.toUri.getPath
    if (p.endsWith(".parquet") && marker.exists(p.contains)) {
      heldOnce = true
      gate.await(60, TimeUnit.SECONDS)
    }
  }

  /** Arm the gate for paths containing `mark`. */
  def arm(mark: String): Unit = {
    gate = new CountDownLatch(1)
    heldOnce = false
    marker = Some(mark)
  }

  /** Open the gate: held creates proceed, later ones pass. */
  def open(): Unit = { marker = None; gate.countDown() }

  /** Run `body` with this file system serving `file:` paths (uncached, so
    * every job's tasks pick it up), then restore the session's own. */
  def during[A](spark: org.apache.spark.sql.SparkSession)(body: => A): A = {
    val conf = spark.sparkContext.hadoopConfiguration
    val prev = conf.get("fs.file.impl")
    conf.set("fs.file.impl", classOf[GatedLocalFs].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    try body
    finally {
      open()
      if (prev == null) conf.unset("fs.file.impl") else conf.set("fs.file.impl", prev)
      conf.unset("fs.file.impl.disable.cache")
    }
  }
}
