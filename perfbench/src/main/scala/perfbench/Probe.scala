package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spark listener registered by the harness. It always records each job's
  * duration and the records its scans read (end-to-end metrics). When
  * tracing, it also attributes job, stage and task aggregates to the span
  * whose id the job carries in the [[Probe.SpanKey]] local property: the
  * harness sets it (with the job group) on entering a span, and Spark
  * copies local properties into the threads a query starts, including a
  * stream's micro-batch thread, which sets a job group of its own. */
final class Probe(tracer: Tracer) extends SparkListener {
  private val jobSpan = mutable.HashMap.empty[Int, Int]
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  val jobMs: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
  var recordsRead: Long = 0L

  private def span(id: Int): Option[Span] = tracer.byId(id)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty(Probe.SpanKey)))
      .flatMap(_.toIntOption).getOrElse(-1)
    jobSpan(e.jobId) = g
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(stageSpan(_) = g)
    span(g).foreach(_.add("jobs", 1))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { t0 =>
      jobMs += (e.time - t0).toDouble
      span(jobSpan.getOrElse(e.jobId, -1)).foreach(_.jobIntervals += ((t0, e.time)))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    span(stageSpan.getOrElse(e.stageInfo.stageId, -1)).foreach(_.add("stages", 1))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      recordsRead += m.inputMetrics.recordsRead
      span(stageSpan.getOrElse(e.stageId, -1)).foreach { s =>
        s.add("tasks", 1)
        s.add("task_s", m.executorRunTime / 1e3)
        s.add("task_cpu_s", m.executorCpuTime / 1e9)
        s.add("gc_s", m.jvmGCTime / 1e3)
        s.add("scan_bytes", m.inputMetrics.bytesRead.toDouble)
        s.add("scan_rows", m.inputMetrics.recordsRead.toDouble)
        s.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        s.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        s.add("shuffle_fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        s.add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        s.add("result_bytes", m.resultSize.toDouble)
        s.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      }
    }
  }
}

object Probe {
  val SpanKey = "perfbench.span"
}

/** Streaming progress of every query, by query id, in arrival order. */
final class StreamProbe extends StreamingQueryListener {
  val progress: mutable.HashMap[java.util.UUID,
    mutable.ArrayBuffer[org.apache.spark.sql.streaming.StreamingQueryProgress]] =
    mutable.HashMap.empty

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    progress.getOrElseUpdate(e.progress.id, mutable.ArrayBuffer.empty) += e.progress
  }

  def of(id: java.util.UUID): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] =
    synchronized(progress.get(id).map(_.toList).getOrElse(Nil))
}
