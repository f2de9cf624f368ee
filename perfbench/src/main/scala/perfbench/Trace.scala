package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One call the benchmark made into the engine (or a phase grouping such
 * calls). Times are wall clock: nanos for durations, millis to line spans up
 * with Spark's job events, which carry millisecond timestamps. */
final case class Span(id: Long, name: String, parent: Long, request: String,
                      phase: String, startNs: Long, endNs: Long,
                      startMs: Long, endMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Stage metrics of one Spark job, summed over its completed stages. */
final class JobRec(val id: Int, val spanId: Long, val startMs: Long) {
  var endMs: Long = -1L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var recordsRead = 0L
}

/**
 * Span recorder plus the Spark listener that sums stage metrics per span.
 *
 * A disabled tracer only runs the wrapped code: untraced runs pay nothing,
 * which is why end-to-end numbers come from them alone.
 *
 * Attribution: around each span the client thread sets the local property
 * [[Tracer.SpanKey]]; Spark copies it into every job the call submits,
 * including jobs from helper threads the engine starts inside the call
 * (Spark local properties are inherited by child threads). A thread that
 * outlives the call keeps the copied id, so a job whose span had already
 * ended when the job started cannot belong to that call: it is counted as
 * `unattributed`, as are jobs without the property. Nothing is dropped.
 * Limitation: a background thread's jobs that start before the call that
 * spawned the thread returns are counted to that call.
 */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Long, String)] = Nil // (span id, phase)
  private var nextId = 1L
  private var bookkeepingNs = 0L
  /** Wall seconds per phase, summed over the spans that name one; kept
   * in untraced runs too, to show where a run's time goes. */
  val phaseSeconds = mutable.LinkedHashMap.empty[String, Double]
  private val listener = new StageListener
  if (enabled) sc.addSparkListener(listener)

  /** Run `f` as a span; nested spans record this one as their parent.
   * `phase` is inherited from the enclosing span when not given. */
  def span[A](name: String, request: String = "", phase: String = null)(f: => A): A =
    if (!enabled) {
      if (phase == null) f
      else {
        val (r, s) = Util.time(f)
        phaseSeconds(phase) = phaseSeconds.getOrElse(phase, 0.0) + s
        r
      }
    } else {
      val b0 = System.nanoTime()
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(0L)
      val ph = if (phase != null) phase else stack.headOption.map(_._2).getOrElse("")
      val prev = sc.getLocalProperty(Tracer.SpanKey)
      stack = (id, ph) :: stack
      sc.setLocalProperty(Tracer.SpanKey, id.toString)
      val startMs = System.currentTimeMillis()
      val startNs = System.nanoTime()
      bookkeepingNs += startNs - b0
      try f
      finally {
        val endNs = System.nanoTime()
        val endMs = System.currentTimeMillis()
        sc.setLocalProperty(Tracer.SpanKey, prev)
        stack = stack.tail
        spans += Span(id, name, parent, request, ph, startNs, endNs, startMs, endMs)
        if (phase != null) phaseSeconds(phase) = phaseSeconds.getOrElse(phase, 0.0) + (endNs - startNs) / 1e9
        bookkeepingNs += System.nanoTime() - endNs
      }
    }

  /** Waits until the listener has seen every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchBus.drain(sc)

  def allSpans: Seq[Span] = spans.toSeq

  /** Client-side cost of tracing: span bookkeeping plus listener handlers. */
  def overheadSeconds: Double = (bookkeepingNs + listener.handlerNs) / 1e9

  def storagePeakBytes: Long = listener.synchronized(listener.storagePeak)

  /** Jobs per span id after the end-of-span rule; key 0 = unattributed. */
  def jobsBySpan: Map[Long, Seq[JobRec]] = {
    val ends = spans.map(s => s.id -> s.endMs).toMap
    listener.synchronized(listener.jobs.values.toSeq).groupBy { j =>
      ends.get(j.spanId) match {
        case Some(end) if j.startMs <= end => j.spanId
        case _ => 0L
      }
    }
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** Sums task metrics of completed stages into their job's record. Runs on
 * Spark's listener bus thread; readers synchronize on the instance. */
final class StageListener extends SparkListener {
  val jobs = mutable.Map.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, JobRec]
  private val blockBytes = mutable.Map.empty[String, Long]
  private var storageNow = 0L
  var storagePeak = 0L
  @volatile var handlerNs = 0L

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    synchronized(f)
    handlerNs += System.nanoTime() - t0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toLong).getOrElse(0L)
    val rec = new JobRec(e.jobId, span, e.time)
    jobs(e.jobId) = rec
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, rec))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    val info = e.stageInfo
    for (rec <- stageJob.get(info.stageId); m <- Option(info.taskMetrics)) {
      rec.tasks += info.numTasks
      rec.cpuNs += m.executorCpuTime
      rec.gcMs += m.jvmGCTime
      rec.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      rec.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      rec.inputBytes += m.inputMetrics.bytesRead
      rec.recordsRead += m.inputMetrics.recordsRead
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = timed {
    val info = e.blockUpdatedInfo
    val key = info.blockId.name
    val now = if (info.storageLevel.isValid) info.memSize else 0L
    storageNow += now - blockBytes.getOrElse(key, 0L)
    if (now > 0) blockBytes(key) = now else blockBytes.remove(key)
    storagePeak = math.max(storagePeak, storageNow)
  }
}

/** Read-only view over a finished trace: calls by name and phase, and the
 * jobs attributed to each call. */
final class TraceView(tracer: Tracer) {
  tracer.drain()
  private val bySpan = tracer.jobsBySpan
  private val spans = tracer.allSpans

  def calls(name: String, phase: String = "measure"): Seq[Span] =
    spans.filter(s => s.name == name && s.phase == phase)

  def jobs(s: Span): Seq[JobRec] = bySpan.getOrElse(s.id, Nil)

  /** Wall time of the call while none of its jobs ran: driver-side work
   * such as planning, dispatch and result handling. */
  def driverSeconds(s: Span): Double = {
    val iv = jobs(s).map(j => (math.max(j.startMs, s.startMs),
      math.min(if (j.endMs < 0) s.endMs else j.endMs, s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { busy += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    busy += curB - curA
    math.max(0.0, s.seconds - busy / 1000.0)
  }

  /** `_s`, `.jobs`, `.tasks`, `.cpu_s`, `.gc_s`, `.shuffle_write_bytes` and
   * `.spill_bytes` of the calls named `name`, each the median over them. */
  def buildMetrics(name: String, phase: String): Map[String, Double] = {
    val cs = calls(name, phase)
    def med(f: Span => Double) = Util.median(cs.map(f))
    def sumJobs(s: Span)(f: JobRec => Double) = jobs(s).map(f).sum
    Map(
      s"${name}_s" -> med(_.seconds),
      s"$name.jobs" -> med(jobs(_).size.toDouble),
      s"$name.tasks" -> med(sumJobs(_)(_.tasks.toDouble)),
      s"$name.cpu_s" -> med(sumJobs(_)(_.cpuNs / 1e9)),
      s"$name.gc_s" -> med(sumJobs(_)(_.gcMs / 1e3)),
      s"$name.shuffle_write_bytes" -> med(sumJobs(_)(_.shuffleWriteBytes.toDouble)),
      s"$name.spill_bytes" -> med(sumJobs(_)(_.spillBytes.toDouble)))
  }
}
