package graftbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Engine counters for one op, summed over its Spark jobs. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var peakExecMemBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
}

/** A finished Spark job: its op tag and its interval (epoch ms). */
final case class JobSpan(tag: String, jobId: Int, startMs: Long, endMs: Long)

/** Listener that attributes Spark jobs, stages and tasks to the op that
  * caused them. Ops are tagged through a local property, which threads
  * started inside the op (a streaming query's execution thread, the
  * broadcast pool) inherit, so their jobs land on the right op too.
  * Listener events arrive asynchronously: drain the bus before reading.
  */
final class Trace extends SparkListener {
  private val byTag = new ConcurrentHashMap[String, Counters]()
  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()
  private val spans = mutable.ArrayBuffer.empty[JobSpan]

  private def counters(tag: String): Counters = byTag.computeIfAbsent(tag, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.TagKey)))
    tag.foreach { t =>
      val c = counters(t)
      c.synchronized(c.jobs += 1)
      e.stageIds.foreach(stageTag.put(_, t))
      jobStart.put(e.jobId, (t, e.time))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (t, start) =>
      spans.synchronized(spans += JobSpan(t, e.jobId, start, e.time))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageTag.get(e.stageInfo.stageId)).foreach { t =>
      val c = counters(t)
      c.synchronized(c.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (t <- Option(stageTag.get(e.stageId)); m <- Option(e.taskMetrics)) {
      val c = counters(t)
      c.synchronized {
        c.tasks += 1
        c.taskRunMs += m.executorRunTime
        c.taskCpuNs += m.executorCpuTime
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.peakExecMemBytes = math.max(c.peakExecMemBytes, m.peakExecutionMemory)
        c.inputBytes += m.inputMetrics.bytesRead
        c.outputBytes += m.outputMetrics.bytesWritten
      }
    }

  def countersOf(tag: String): Option[Counters] = Option(byTag.get(tag))
  def jobSpans: Seq[JobSpan] = spans.synchronized(spans.toList)
}

object Trace {
  val TagKey = "graftbench.op"
}

/** Collects every streaming micro-batch's progress, the monitoring
  * surface Structured Streaming reports per trigger.
  */
final class Progress extends StreamingQueryListener {
  private val buf = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = buf.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()

  /** Progress reported since the last call, oldest first. */
  def drain(): Seq[StreamingQueryProgress] = {
    val out = mutable.ArrayBuffer.empty[StreamingQueryProgress]
    var p = buf.poll()
    while (p != null) { out += p; p = buf.poll() }
    out.toList
  }
}
