package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** One timed interval at a layer boundary. Times are nanoseconds since
  * the tracer's origin; `counts` holds the work recorded on the span
  * itself (task metrics on stages, output rows on queries). */
final class Span(val id: Long, val parent: Long, val layer: String,
    val name: String, val start: Long) {
  @volatile var end: Long = -1L
  val counts: mutable.Map[String, Double] = mutable.Map.empty
  def add(key: String, v: Double): Unit = counts(key) = counts.getOrElse(key, 0.0) + v
  def max(key: String, v: Double): Unit = counts(key) = math.max(counts.getOrElse(key, 0.0), v)
}

/** In-memory span recorder. The benchmark opens spans around its own
  * calls into graft (run, unit, query, build/plan/action); a
  * SparkListener adds job and stage spans under whichever span the
  * calling thread had marked current when the job was submitted. The
  * mark is a Spark local property, so jobs run during DataFrame
  * construction, and jobs of concurrent clients, land on the query
  * that started them. Spans are written out once, at the end. */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer.{Marker, Prop}

  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val jobs = mutable.Map.empty[Int, Span]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stages = mutable.Map.empty[(Int, Int), Span]
  private var nextId = 1L
  private val markerJobs = mutable.Set.empty[Int]
  private val markerStages = mutable.Set.empty[Int]
  private var markersEnded = 0L

  def nowNs: Long = System.nanoTime() - originNs
  private def fromMs(ms: Long): Long = (ms - originMs) * 1000000L

  private def newSpan(parent: Long, layer: String, name: String, start: Long): Span =
    synchronized {
      val s = new Span(nextId, parent, layer, name, start)
      nextId += 1
      spans += s
      s
    }

  def open(parent: Span, layer: String, name: String): Span =
    newSpan(if (parent == null) 0L else parent.id, layer, name, nowNs)

  def close(s: Span): Unit = s.end = nowNs

  /** Runs `body` inside a span that is the current span of this thread,
    * so jobs it starts are recorded beneath it. */
  def within[T](parent: Span, layer: String, name: String)(body: Span => T): (Span, T) = {
    val s = open(parent, layer, name)
    (s, marked(s.id)(try body(s) finally close(s)))
  }

  private def marked[T](id: Long)(body: => T): T = {
    val prev = sc.getLocalProperty(Prop)
    sc.setLocalProperty(Prop, id.toString)
    try body finally sc.setLocalProperty(Prop, prev)
  }

  /** Blocks until the listener has seen every event posted so far: runs
    * a marker job and waits for its end event, which the bus delivers
    * after everything posted before it. */
  def drain(): Unit = {
    val seen = synchronized(markersEnded)
    marked(Marker)(sc.parallelize(Seq(1), 1).count())
    val deadline = System.nanoTime() + 10000000000L
    synchronized {
      while (markersEnded == seen && System.nanoTime() < deadline) wait(50)
    }
  }

  def snapshot: Seq[Span] = synchronized(spans.toList)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
      .map(_.toLong).getOrElse(0L)
    if (parent == Marker) { markerJobs += e.jobId; markerStages ++= e.stageIds }
    else {
      val s = newSpan(parent, "job", s"job ${e.jobId}", fromMs(e.time))
      jobs(e.jobId) = s
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (markerJobs.remove(e.jobId)) { markersEnded += 1; notifyAll() }
    jobs.get(e.jobId).foreach { s =>
      s.end = fromMs(e.time)
      if (e.jobResult != JobSucceeded) s.add("job_failures", 1)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    if (!markerStages.contains(i.stageId)) {
      val parent = stageJob.get(i.stageId).flatMap(jobs.get).map(_.id).getOrElse(0L)
      val start = i.submissionTime.map(fromMs).getOrElse(nowNs)
      val s = newSpan(parent, "stage", s"stage ${i.stageId}.${i.attemptNumber()}", start)
      if (i.attemptNumber() > 0) s.add("stage_retries", 1)
      stages((i.stageId, i.attemptNumber())) = s
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages.get((i.stageId, i.attemptNumber())).foreach { s =>
      s.end = i.completionTime.map(fromMs).getOrElse(nowNs)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get((e.stageId, e.stageAttemptId)).foreach { s =>
      s.add("tasks", 1)
      s.add("task_wall_s", e.taskInfo.duration / 1e3)
      if (e.taskInfo.failed || e.taskInfo.killed) s.add("task_failures", 1)
      val m = e.taskMetrics
      if (m != null) {
        s.add("task_run_s", m.executorRunTime / 1e3)
        s.add("task_cpu_s", m.executorCpuTime / 1e9)
        s.add("gc_s", m.jvmGCTime / 1e3)
        s.add("scan_bytes", m.inputMetrics.bytesRead.toDouble)
        s.add("scan_rows", m.inputMetrics.recordsRead.toDouble)
        s.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        s.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        s.add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        s.max("peak_exec_mem_bytes", m.peakExecutionMemory.toDouble)
      }
    }
  }
}

object Tracer {
  /** Local property naming the span that submitted a job. */
  val Prop = "graftbench.span"
  /** Span id that marks the tracer's own drain jobs. */
  val Marker = -1L
}
