package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Per-job attribution by job description. The pipeline labels its jobs
  * `cdc <commitId> <phase>`; the benchmark labels its own calls
  * `bench <op>`. A label is the description with the commit id dropped. */
final class JobTrace extends SparkListener {
  final class Job(val id: Int, val label: String, val start: Long) {
    @volatile var end: Long = -1L
  }
  final class Counters {
    var jobs, taskMs, cpuMs, gcMs, shuffleWrite, shuffleRead, spill, inRows, outRows = 0L
  }

  private val jobsById  = mutable.LinkedHashMap.empty[Int, Job]
  private val stageLbl  = mutable.HashMap.empty[Int, String]
  private val byLabel   = mutable.HashMap.empty[String, Counters]
  private var totalTask = 0L
  @volatile private var on = false

  def start(): Unit = synchronized {
    jobsById.clear(); byLabel.clear(); totalTask = 0L; on = true
  }

  private def counters(l: String) = byLabel.getOrElseUpdate(l, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val label = JobTrace.label(Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description"))).orNull)
    e.stageIds.foreach(s => if (!stageLbl.contains(s)) stageLbl(s) = label)
    if (on) {
      jobsById(e.jobId) = new Job(e.jobId, label, e.time)
      counters(label).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobsById.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (on && m != null) {
      val c = counters(stageLbl.getOrElse(e.stageId, JobTrace.Unlabelled))
      c.taskMs += m.executorRunTime
      c.cpuMs += m.executorCpuTime / 1000000L
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inRows += m.inputMetrics.recordsRead
      c.outRows += m.outputMetrics.recordsWritten
      totalTask += m.executorRunTime
    }
  }

  def jobs: Seq[Job] = synchronized(jobsById.values.toSeq)
  def get(label: String): Counters = synchronized(byLabel.getOrElse(label, new Counters))
  def labelledTaskFrac: Double = synchronized {
    val un = byLabel.get(JobTrace.Unlabelled).map(_.taskMs).getOrElse(0L)
    if (totalTask == 0) 1.0 else 1.0 - un.toDouble / totalTask
  }
  def labels: Seq[String] = synchronized(byLabel.keys.toSeq.sorted)
}

object JobTrace {
  val Unlabelled = "unlabelled"
  private val Cdc = """cdc \S+ (\S+)""".r

  def label(desc: String): String = desc match {
    case null        => Unlabelled
    case Cdc(phase)  => s"cdc $phase"
    // Spark's parallel file listing relabels its own jobs
    case d if d.startsWith("Listing leaf files") => "spark listing"
    case d           => d
  }

  /** The labels reported per layer, with the layer name each reports as. */
  val Layers: Seq[(String, String)] = Seq(
    "cdc neardup"      -> "neardup",
    "cdc stage-errors" -> "stage_errors",
    "cdc probe"        -> "probe",
    "cdc merge:cow"    -> "merge_cow",
    "cdc merge:mor"    -> "merge_mor",
    "cdc compact"      -> "auto_compact",
    "bench scan"       -> "scan",
    "bench lookup"     -> "lookup",
    "bench changes"    -> "changes",
    "bench compact"    -> "compact")

  /** Length of the union of [s, e) intervals clipped to [lo, hi). */
  def unionMs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val c = iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    c.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Spans around each call into the engine, kept in memory and written
  * once at the end. Times are epoch ms so they line up with job events. */
final class Spans {
  import Spans.Span
  private val all   = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]

  def apply[A](name: String)(body: => A): A = {
    val s = Span(all.size, stack.headOption.getOrElse(-1), name,
      System.currentTimeMillis(), -1L)
    all += s
    stack.push(s.id)
    try body
    finally { s.end = System.currentTimeMillis(); stack.pop(); () }
  }

  def named(n: String): Seq[Span] = all.filter(_.name == n).toSeq

  def write(path: java.nio.file.Path, trace: String): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val body = all.map { s =>
      s"""{"trace":"$trace","id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ms":${s.start},"end_ms":${s.end}}"""
    }.mkString("[\n", ",\n", "\n]\n")
    java.nio.file.Files.write(path, body.getBytes("UTF-8"))
    ()
  }
}

object Spans {
  final case class Span(id: Int, parent: Int, name: String, start: Long, var end: Long)
}
