package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** One timed interval: a harness call into a layer, or a Spark job/stage
  * the listener saw. `parent` is 0 for the workload root.
  */
final case class Span(
    id: Long, parent: Long, name: String, startNs: Long, endNs: Long)

/** In-memory span recorder. The harness is one client thread, so the
  * innermost open span is a single stack; Spark jobs that start while a
  * span is open (also those run by the stream's own thread, which the
  * harness blocks on) are attributed to it by the listener.
  *
  * With tracing off, [[span]] only runs its body: no clock reads, no
  * allocation, so untraced timings carry no tracing cost.
  */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = mutable.Stack[(Long, String, Long)]()
  @volatile private var current: Long = 0L

  /** Called with the innermost open span id whenever it changes: the
    * harness publishes it as a Spark local property, so each job carries
    * the span it was submitted under.
    */
  @volatile var onChange: Long => Unit = _ => ()

  def openId: Long = current

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = current
      stack.push((id, name, System.nanoTime()))
      current = id
      onChange(id)
      try body
      finally {
        val (_, n, t0) = stack.pop()
        current = parent
        onChange(parent)
        done.add(Span(id, parent, n, t0, System.nanoTime()))
      }
    }

  def newId(): Long = ids.incrementAndGet()

  /** Record a span whose interval the caller measured itself. */
  def record(id: Long, name: String, parent: Long, startNs: Long, endNs: Long): Unit =
    if (enabled) done.add(Span(id, parent, name, startNs, endNs))

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.startNs)
}

/** SparkListener for the traced run: job and stage spans (parented to the
  * harness span open at job start) and task-level aggregates.
  */
final class SparkTrace(tracer: Tracer) extends SparkListener {
  // listener callbacks run on the listener-bus thread; the harness reads
  // the aggregates only after SparkContext's bus has drained
  private val jobSpan = mutable.Map[Int, (Long, Long, Long)]()
  private val stageParent = mutable.Map[Int, Long]()
  private val stageStart = mutable.Map[Int, Long]()
  val taskMs = mutable.ArrayBuffer[Long]()
  var jobs = 0L
  var stages = 0L
  var cpuNs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L

  private def nowNs(epochMs: Long): Long =
    System.nanoTime() - (System.currentTimeMillis() - epochMs) * 1000000L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    val id = tracer.newId()
    // a stream's jobs inherit the properties of the thread that started
    // it; they belong to the span the harness is blocked in right now
    val parent = Option(e.properties)
      .filter(_.getProperty(SparkTrace.StreamQueryKey) == null)
      .flatMap(p => Option(p.getProperty(SparkTrace.SpanProperty)))
      .map(_.toLong).getOrElse(tracer.openId)
    jobSpan(e.jobId) = (id, parent, nowNs(e.time))
    e.stageIds.foreach(s => stageParent(s) = id)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (id, parent, t0) =>
      tracer.record(id, "spark.job", parent, t0, nowNs(e.time))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      stageStart(e.stageInfo.stageId) =
        e.stageInfo.submissionTime.map(nowNs).getOrElse(System.nanoTime())
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val info = e.stageInfo
      if (info.failureReason.isEmpty && info.completionTime.isDefined) stages += 1
      stageStart.remove(info.stageId).foreach { t0 =>
        val parent = stageParent.remove(info.stageId).getOrElse(tracer.openId)
        tracer.record(tracer.newId(), "spark.stage", parent, t0,
          info.completionTime.map(nowNs).getOrElse(System.nanoTime()))
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    }
  }
}

object SparkTrace {
  val SpanProperty = "perfbench.span"
  /** Local property Spark sets on every job of a streaming query. */
  val StreamQueryKey = "sql.streaming.queryId"
}

/** StreamingQueryListener for the traced run: every progress report. */
final class StreamTrace extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = progress.add(e.progress)
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  def all: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] =
    progress.asScala.toSeq.sortBy(_.batchId)
}
