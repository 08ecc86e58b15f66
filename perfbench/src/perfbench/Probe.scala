package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.{BenchBridge, SparkContext}
import org.apache.spark.scheduler._

/** Spans around the benchmark's calls into each layer, plus a
  * SparkListener that files every job, stage and task under the span that
  * was open on the calling thread when the job was submitted.
  *
  * Spans and counts stay in memory; [[Probe.toJson]] writes them out at
  * the end of the run. Only the traced run registers a Probe. */
final class Probe(sc: SparkContext) extends SparkListener {
  import Probe._

  private val PropKey = "perfbench.span"
  val spans = ArrayBuffer[Span]()
  private var open = List.empty[Int]

  /** Jobs in submission order. */
  val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Job]()
  private val jobById = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()
  private val stageSubmitted = new ConcurrentHashMap[Int, Long]()

  sc.addSparkListener(this)

  def close(): Unit = { drain(); sc.removeSparkListener(this) }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = BenchBridge.drainListeners(sc)

  /** Checks made while tracing, written out with the spans. */
  val notes = ArrayBuffer[(String, Boolean)]()
  def note(what: String, holds: Boolean): Unit = {
    notes += what -> holds
    if (!holds) System.err.println(s"perfbench: trace check failed: $what")
  }

  def span[T](name: String)(f: => T): T = {
    val s = Span(spans.size, name, open.headOption.getOrElse(-1),
      System.nanoTime(), System.currentTimeMillis())
    spans += s
    open = s.id :: open
    sc.setLocalProperty(PropKey, s.id.toString)
    try f
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      open = open.tail
      sc.setLocalProperty(PropKey, open.headOption.map(_.toString).orNull)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val j = Job(e.jobId,
      props.flatMap(p => Option(p.getProperty(PropKey))).map(_.toInt)
        .getOrElse(-1),
      props.flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse(""),
      e.time)
    e.stageIds.foreach(stageJob.put(_, j))
    jobById.put(e.jobId, j)
    jobs.add(j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobById.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSubmitted.put(e.stageInfo.stageId,
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).foreach(_.c.stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { j =>
      val c = j.c
      c.tasks += 1
      Option(stageSubmitted.get(e.stageId)).foreach(t =>
        c.taskWaitMs += math.max(0L, e.taskInfo.launchTime - t))
      Option(e.taskMetrics).foreach { m =>
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }

  /** Jobs submitted inside span `id` or any of its descendants. */
  def jobsUnder(id: Int): Seq[Job] = {
    val ids = subtree(id)
    jobs.asScala.filter(j => ids.contains(j.span)).toSeq
  }

  def subtree(id: Int): Set[Int] = {
    val kids = spans.filter(_.parent == id).map(_.id)
    kids.foldLeft(Set(id))(_ ++ subtree(_))
  }

  def named(name: String, under: Int): Seq[Span] = {
    val ids = subtree(under)
    spans.filter(s => s.name == name && ids.contains(s.id)).toSeq
  }

  def toJson: String = {
    def str(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val sp = spans.map(s =>
      s"""{"id":${s.id},"name":${str(s.name)},"parent":${s.parent},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},""" +
        s""""seconds":${s.seconds}}""")
    val jb = jobs.asScala.map(j =>
      s"""{"job":${j.id},"span":${j.span},"description":${str(j.description)},""" +
        s""""start_ms":${j.startMs},"end_ms":${j.endMs},"stages":${j.c.stages},""" +
        s""""tasks":${j.c.tasks},"task_wait_ms":${j.c.taskWaitMs},""" +
        s""""executor_run_ms":${j.c.runMs},"executor_cpu_ns":${j.c.cpuNs},""" +
        s""""gc_ms":${j.c.gcMs},"shuffle_read_bytes":${j.c.shuffleRead},""" +
        s""""shuffle_write_bytes":${j.c.shuffleWrite},"spill_bytes":${j.c.spill}}""")
    val ns = notes.map { case (w, h) => s"""{"check":${str(w)},"holds":$h}""" }
    s"""{"spans":[${sp.mkString(",")}],"jobs":[${jb.mkString(",")}],""" +
      s""""checks":[${ns.mkString(",")}]}"""
  }
}

object Probe {
  /** Nanosecond bounds time the span; millisecond bounds compare with
    * the scheduler's job timestamps. */
  final case class Span(id: Int, name: String, parent: Int, startNs: Long,
      startMs: Long) {
    var endNs = 0L
    var endMs = 0L
    def seconds: Double = (endNs - startNs) / 1e9
  }

  /** Counts summed over one job's stages and tasks. Written only by the
    * listener thread; read after [[Probe.drain]]. */
  final class Counts {
    var stages = 0L; var tasks = 0L; var taskWaitMs = 0L; var runMs = 0L
    var cpuNs = 0L; var gcMs = 0L; var shuffleRead = 0L
    var shuffleWrite = 0L; var spill = 0L
  }

  final case class Job(id: Int, span: Int, description: String,
      startMs: Long) {
    @volatile var endMs: Long = startMs
    val c = new Counts
  }

  /** Totals over a set of jobs. */
  final case class Totals(jobs: Long, stages: Long, tasks: Long,
      taskWaitS: Double, runS: Double, cpuS: Double, gcS: Double,
      shuffleRead: Long, shuffleWrite: Long, spill: Long)

  def totals(js: Seq[Job]): Totals = Totals(js.size,
    js.map(_.c.stages).sum, js.map(_.c.tasks).sum,
    js.map(_.c.taskWaitMs).sum / 1e3, js.map(_.c.runMs).sum / 1e3,
    js.map(_.c.cpuNs).sum / 1e9, js.map(_.c.gcMs).sum / 1e3,
    js.map(_.c.shuffleRead).sum, js.map(_.c.shuffleWrite).sum,
    js.map(_.c.spill).sum)
}
