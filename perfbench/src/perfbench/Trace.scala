package perfbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import scala.collection.mutable

/** One timed interval. Times are nanoseconds since the tracer's origin;
  * `parent` is 0 for a root span. `kind` names the layer. */
final case class Span(id: Long, parent: Long, trace: String, name: String,
                      kind: String, start: Long, end: Long) {
  def duration: Long = end - start
}

object Spans {

  /** Self time of every span: its duration minus the part of its interval
    * covered by its children (children clipped to the parent, overlaps
    * counted once). */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0L
      var curS = 0L
      var curE = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curE) {
          if (curE > curS) covered += curE - curS
          curS = a; curE = b
        } else if (b > curE) curE = b
      }
      if (curE > curS) covered += curE - curS
      s.id -> (s.duration - covered)
    }.toMap
  }

  /** Self time summed per span kind. */
  def selfByKind(spans: Seq[Span]): Map[String, Long] = {
    val self = selfTimes(spans)
    spans.groupBy(_.kind).map { case (k, ss) => k -> ss.map(s => self(s.id)).sum }
  }

  def toJson(spans: Seq[Span]): String = {
    val self = selfTimes(spans)
    spans.sortBy(s => (s.start, s.id)).map { s =>
      s"""{"id": ${s.id}, "parent": ${s.parent}, "trace": ${Stats.jsonString(s.trace)}, """ +
        s""""name": ${Stats.jsonString(s.name)}, "kind": ${Stats.jsonString(s.kind)}, """ +
        s""""start_ns": ${s.start}, "end_ns": ${s.end}, "self_ns": ${self(s.id)}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

/** Spans kept in memory. Disabled, `call` only runs its body. Enabled, it
  * records a span and sets the span id as the Spark job group around the
  * body, so the listener can parent the jobs the call runs. Calls nest on
  * the driver thread that makes them. */
final class Tracer(val enabled: Boolean, val trace: String) {
  import Tracer._
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis()
  private val ids = new AtomicLong(0L)
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Long] = Nil
  private var paused = false

  def nextId(): Long = ids.incrementAndGet()
  def now(): Long = System.nanoTime() - originNs
  def fromEpochMs(ms: Long): Long = (ms - originMs) * 1000000L
  def add(s: Span): Unit = synchronized { buf += s }
  def spans: Seq[Span] = synchronized { buf.toList }

  def call[T](sc: SparkContext, name: String, kind: String)(body: => T): T =
    if (!enabled || paused) body
    else {
      val id = nextId()
      val parent = stack.headOption.getOrElse(0L)
      val prevGroup = sc.getLocalProperty(JobGroup)
      val prevDesc = sc.getLocalProperty(JobDescription)
      sc.setJobGroup(id.toString, name)
      stack = id :: stack
      val t0 = now()
      try body
      finally {
        add(Span(id, parent, trace, name, kind, t0, now()))
        stack = stack.tail
        if (prevGroup == null) sc.clearJobGroup() else sc.setJobGroup(prevGroup, prevDesc)
      }
    }

  /** Runs `body` untraced: no spans, and no job group, so the listener
    * gives its jobs no spans either. */
  def suspended[T](sc: SparkContext)(body: => T): T =
    if (!enabled || paused) body
    else {
      val prevGroup = sc.getLocalProperty(JobGroup)
      val prevDesc = sc.getLocalProperty(JobDescription)
      sc.clearJobGroup()
      paused = true
      try body
      finally {
        paused = false
        if (prevGroup != null) sc.setJobGroup(prevGroup, prevDesc)
      }
    }
}

object Tracer {
  /** Spark's local-property keys of the job group and its description. */
  val JobGroup = "spark.jobGroup.id"
  val JobDescription = "spark.job.description"
}

/** Task-level counters of the Spark jobs run while the listener is registered. */
final class SparkCounters {
  var jobs, stages, tasks, failures = 0L
  var runMs, cpuNs, shuffleWrite, shuffleRead, shuffleRecords = 0L
  var spill, inputBytes, inputRecords, outputBytes = 0L
}

/** The benchmark's own listener: sums the task metrics of every job run
  * while it is registered, and turns the jobs and stages run under a tracer
  * span's job group into child spans of that span. */
final class SparkProbe(tracer: Tracer) extends SparkListener {
  import Tracer._
  val counters = new SparkCounters
  private val jobSpan = mutable.Map.empty[Int, (Long, Long, Long, String)] // job -> (span, parent, start, name)
  private val stageJob = mutable.Map.empty[Int, Int]
  private val DrainPrefix = "perfbench-drain-"
  private val drainJobs = mutable.Map.empty[Int, String]
  private val endedGroups = mutable.Set.empty[String]

  private def spanGroup(p: java.util.Properties): Option[Long] =
    Option(p).flatMap(pp => Option(pp.getProperty(JobGroup)))
      .flatMap(_.toLongOption)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val drain = Option(e.properties).flatMap(p => Option(p.getProperty(JobGroup)))
      .filter(_.startsWith(DrainPrefix))
    drain.foreach(g => drainJobs(e.jobId) = g)
    if (drain.isEmpty) {
      counters.jobs += 1
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
      spanGroup(e.properties).foreach { parent =>
        jobSpan(e.jobId) = (tracer.nextId(), parent, tracer.fromEpochMs(e.time), s"job ${e.jobId}")
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    drainJobs.remove(e.jobId).foreach(endedGroups += _)
    jobSpan.remove(e.jobId).foreach { case (id, parent, start, name) =>
      tracer.add(Span(id, parent, tracer.trace, name, "spark.job", start,
        math.max(start, tracer.fromEpochMs(e.time))))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    if (stageJob.contains(info.stageId)) counters.stages += 1
    for {
      job <- stageJob.get(info.stageId)
      (jobId, _, _, _) <- jobSpan.get(job)
      t0 <- info.submissionTime
      t1 <- info.completionTime
    } {
      tracer.add(Span(tracer.nextId(), jobId, tracer.trace, s"stage ${info.stageId}",
        "spark.stage", tracer.fromEpochMs(t0), math.max(tracer.fromEpochMs(t0), tracer.fromEpochMs(t1))))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (stageJob.contains(e.stageId)) {
      val c = counters
      c.tasks += 1
      if (e.reason != Success) c.failures += 1
      val m = e.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRecords += m.inputMetrics.recordsRead
        c.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  private def sawGroupEnd(g: String): Boolean = synchronized(endedGroups.contains(g))

  /** Blocks until every event posted before this call has reached the
    * listener: runs a one-task marker job and waits for its end event
    * (the listener bus delivers events in order). */
  def drain(sc: SparkContext): Unit = {
    val g = DrainPrefix + System.nanoTime()
    sc.setJobGroup(g, "listener drain")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30000000000L
    while (!sawGroupEnd(g)) {
      require(System.nanoTime() < deadline, "Spark listener did not drain within 30 s")
      Thread.sleep(5)
    }
  }
}
