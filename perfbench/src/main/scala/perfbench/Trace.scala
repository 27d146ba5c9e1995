package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Where a Spark job came from: the operation attempt and the phase
  * (`build`, `plan` or `execute`) that submitted it.
  */
final case class Origin(attempt: Long, phase: String)

/** Spark work counted per [[Origin]]. Plain mutable counters, updated only
  * from the listener bus thread.
  */
final class Counts {
  var jobs, stages, tasks, failedTasks = 0L
  var cpuNs, gcMs, schedWaitMs = 0L
  var inputBytes, inputRecords = 0L
  var shuffleWriteBytes, shuffleWriteRecords, shuffleReadBytes = 0L
  var spillBytes = 0L

  def add(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; failedTasks += o.failedTasks
    cpuNs += o.cpuNs; gcMs += o.gcMs; schedWaitMs += o.schedWaitMs
    inputBytes += o.inputBytes; inputRecords += o.inputRecords
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleWriteRecords += o.shuffleWriteRecords
    shuffleReadBytes += o.shuffleReadBytes; spillBytes += o.spillBytes
  }

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "failed_tasks" -> failedTasks,
    "task_cpu_s" -> cpuNs / 1e9, "gc_s" -> gcMs / 1e3, "sched_wait_s" -> schedWaitMs / 1e3,
    "input_bytes" -> inputBytes, "input_records" -> inputRecords,
    "shuffle_write_bytes" -> shuffleWriteBytes, "shuffle_write_records" -> shuffleWriteRecords,
    "shuffle_read_bytes" -> shuffleReadBytes, "spill_bytes" -> spillBytes)
}

/** The benchmark's own listener. Operations run one at a time, so each job
  * is attributed to the span open when it starts ([[Tracer.current]]); jobs
  * submitted from the library's own thread pools are attributed the same way.
  */
final class WorkListener(current: () => Option[Origin]) extends SparkListener {
  private val stageOrigin = TrieMap.empty[Int, Origin]
  private val stageSubmitted = TrieMap.empty[Int, Long]
  val counts: TrieMap[Origin, Counts] = TrieMap.empty

  private def of(o: Origin): Counts = counts.getOrElseUpdate(o, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    current().foreach { o =>
      e.stageIds.foreach(s => stageOrigin.putIfAbsent(s, o))
      of(o).jobs += 1
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val id = e.stageInfo.stageId
    stageSubmitted(id) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    stageOrigin.get(id).foreach(o => of(o).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stageOrigin.get(e.stageId).foreach { o =>
      val c = of(o)
      c.tasks += 1
      if (!e.taskInfo.successful) c.failedTasks += 1
      stageSubmitted.get(e.stageId).foreach { t =>
        c.schedWaitMs += math.max(0L, e.taskInfo.launchTime - t)
      }
      val m = e.taskMetrics
      if (m != null) {
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRecords += m.inputMetrics.recordsRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.spillBytes += m.diskBytesSpilled
      }
    }

  def total(keep: Origin => Boolean): Counts = {
    val t = new Counts
    counts.foreach { case (o, c) => if (keep(o)) t.add(c) }
    t
  }
}

/** One timed interval at a layer boundary. `attempt` is the operation
  * attempt it belongs to; `parent` is 0 for an attempt's root span.
  */
final case class Span(id: Long, parent: Long, attempt: Long, op: String, name: String,
    layer: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Span recorder. Spans are kept in memory and written out once, at the end
  * of the run; with tracing off, [[span]] only runs its body.
  */
final class Tracer {
  @volatile var enabled = false
  @volatile private var open: List[(Long, Origin)] = Nil
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()

  /** The innermost open span's attempt and name. */
  def current: Option[Origin] = open.headOption.map(_._2)

  def newAttempt(): Long = ids.incrementAndGet()

  /** Runs `body` as span `name` of `attempt`, a child of the span open on
    * entry (operations run one at a time).
    */
  def span[T](attempt: Long, op: String, name: String, layer: String)(body: => T): T = {
    if (!enabled) return body
    val id = ids.incrementAndGet()
    val parent = open.headOption.map(_._1).getOrElse(0L)
    open = (id, Origin(attempt, name)) :: open
    val t0 = System.nanoTime()
    try body
    finally {
      spans.add(Span(id, parent, attempt, op, name, layer, t0, System.nanoTime()))
      open = open.tail
    }
  }

  /** Self time per span name: duration minus the part its children cover. */
  def selfSeconds(of: Seq[Span]): Map[String, Double] = {
    val children = of.groupBy(_.parent)
    of.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map(s => s.seconds - children.getOrElse(s.id, Nil).map(_.seconds).sum).sum
    }
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq
}
