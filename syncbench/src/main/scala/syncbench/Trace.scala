package syncbench

import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** What Spark did on behalf of one span. */
final class SparkCounts {
  val jobs, stages, tasks, taskMs, gcMs, shuffleBytes, spillBytes, bytesWritten = new AtomicLong
}

/** Charges jobs, stages and task metrics to the span whose id the submitting
  * thread carried in the [[SparkCounter.SpanProperty]] local property.
  * Callbacks run on the listener-bus thread while the main thread reads, so
  * all state lives in concurrent maps of atomics, and a reader first drains
  * the bus ([[SparkCounter.drain]]) so that late events are not missed. */
final class SparkCounter extends SparkListener {
  private val bySpan = new ConcurrentHashMap[java.lang.Long, SparkCounts]()
  private val stageSpan = new ConcurrentHashMap[Integer, java.lang.Long]()

  private def counts(span: java.lang.Long): SparkCounts =
    bySpan.computeIfAbsent(span, _ => new SparkCounts)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(SparkCounter.SpanProperty))).foreach { s =>
      val span = java.lang.Long.valueOf(s)
      counts(span).jobs.incrementAndGet()
      e.stageIds.foreach(id => stageSpan.put(id, span))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageSpan.get(e.stageInfo.stageId)).foreach(s => counts(s).stages.incrementAndGet())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val span = stageSpan.get(e.stageId)
    val m = e.taskMetrics
    if (span != null && m != null) {
      val c = counts(span)
      c.tasks.incrementAndGet()
      c.taskMs.addAndGet(m.executorRunTime)
      c.gcMs.addAndGet(m.jvmGCTime)
      c.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c.spillBytes.addAndGet(m.diskBytesSpilled)
      c.bytesWritten.addAndGet(m.outputMetrics.bytesWritten)
    }
  }

  def get(span: Long): Option[SparkCounts] = Option(bySpan.get(span))
}

object SparkCounter {
  val SpanProperty = "syncbench.span"
  def drain(spark: SparkSession): Unit = ListenerBusDrain(spark.sparkContext)
}

/** One micro-batch as reported by query progress. */
final case class BatchProgress(runId: UUID, addBatchMs: Long, triggerMs: Long)

/** Records the `addBatch` and `triggerExecution` durations of every
  * micro-batch. Progress events arrive on the listener bus, so readers drain
  * it first, as for [[SparkCounter]]. */
final class StreamProgress extends StreamingQueryListener {
  private val seen = new ConcurrentLinkedQueue[BatchProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs
    if (d.containsKey("addBatch"))
      seen.add(BatchProgress(p.runId, d.get("addBatch"), d.get("triggerExecution")))
  }
  def forRun(runId: UUID): Seq[BatchProgress] = seen.asScala.filter(_.runId == runId).toSeq
}

/** Wraps each call into a library layer. This base class only runs the call:
  * it is what untraced syncs use. */
class Tracer {
  /** A call whose work is done when it returns. */
  def call[A](layer: String, op: String)(body: => A): A = body
  /** A call that returns a lazy frame. */
  def frame(layer: String, op: String)(body: => DataFrame): DataFrame = body
  /** A call that runs a streaming query to its end. */
  def query(layer: String, op: String)(body: => StreamingQuery): StreamingQuery = body
}

object Tracer {
  val Off = new Tracer
}

/** A traced call: times are nanoseconds since the run began. `planEnd` is
  * when the call returned; for a frame, `end` also covers materializing it. */
final case class Span(id: Long, sync: Int, layer: String, op: String, parent: Long,
    start: Long, planEnd: Long, end: Long, rows: Long, runId: Option[UUID], isFrame: Boolean) {
  def dur: Long = end - start
}

/** Records a span around each call, keeps spans in memory, and tags Spark
  * jobs with the innermost open span. A frame is materialized at the layer
  * boundary (local checkpoint), so the lazy work it stands for is charged to
  * the layer that built it and not to whichever layer forces it later. */
final class SpanTracer(spark: SparkSession, t0: Long) extends Tracer {
  val counter = new SparkCounter
  val progress = new StreamProgress
  spark.sparkContext.addSparkListener(counter)
  spark.streams.addListener(progress)

  val spans = ArrayBuffer[Span]()
  private var nextId = 1L
  private var open: List[Long] = Nil
  private var sync = -1

  private def now: Long = System.nanoTime() - t0
  private def tag(): Unit =
    spark.sparkContext.setLocalProperty(SparkCounter.SpanProperty, open.headOption.map(_.toString).orNull)

  private def within[A](layer: String, op: String, isFrame: Boolean)(body: => (A, Long, Long, Option[UUID])): A = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(0L)
    open = id :: open
    tag()
    val start = now
    try {
      val (r, planEnd, rows, runId) = body
      spans += Span(id, sync, layer, op, parent, start, planEnd, now, rows, runId, isFrame)
      r
    } finally {
      open = open.tail
      tag()
    }
  }

  /** Runs one whole sync as the root span; spans opened inside belong to it. */
  def sync[A](i: Int)(body: => A): A = {
    sync = i
    try within[A]("sync", "sync", isFrame = false) { val r = body; (r, now, -1L, None) }
    finally SparkCounter.drain(spark)
  }

  override def call[A](layer: String, op: String)(body: => A): A =
    within[A](layer, op, isFrame = false) { val r = body; (r, now, -1L, None) }

  override def frame(layer: String, op: String)(body: => DataFrame): DataFrame =
    within[DataFrame](layer, op, isFrame = true) {
      val df = body
      val planEnd = now
      val m = df.localCheckpoint(eager = true)
      (m, planEnd, m.count(), None)
    }

  override def query(layer: String, op: String)(body: => StreamingQuery): StreamingQuery =
    within[StreamingQuery](layer, op, isFrame = false) {
      val q = body
      (q, now, -1L, Some(q.runId))
    }
}
