package perfbench

import graft.sync.TableStore
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** One timed interval. Times are epoch milliseconds; parent and trace id
  * are assigned when the run is summarised, by interval containment: the
  * benchmark is one closed-loop client, so what runs inside an operation's
  * interval is that operation's work. */
final case class Span(name: String, layer: String, start: Double, end: Double,
                      attrs: Map[String, Double] = Map.empty)

/** In-memory span recorder for the traced run. Off by default: timed runs
  * record nothing and register no listeners. */
object Trace {
  @volatile var on = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble

  /** Epoch milliseconds at sub-millisecond resolution. */
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def record(s: Span): Unit = if (on) spans.add(s)

  def span[T](name: String, layer: String)(body: => T): T =
    if (!on) body
    else {
      val t0 = now()
      try body finally spans.add(Span(name, layer, t0, now()))
    }

  def all: Seq[Span] = spans.asScala.toSeq
}

/** Delegating store: times every call into the wrapped [[TableStore]]. */
final class TimedStore(inner: TableStore) extends TableStore {
  override def read(table: String): Option[DataFrame] =
    Trace.span("store.read", "store")(inner.read(table))
  override def write(df: DataFrame, table: String): Unit =
    Trace.span("store.write", "store")(inner.write(df, table))
  override def append(df: DataFrame, table: String): Unit =
    Trace.span("store.append", "store")(inner.append(df, table))
  override def watermark(table: String, checkColumn: String): Option[DataFrame] =
    Trace.span("store.watermark", "store")(inner.watermark(table, checkColumn))
  override def writeAtomic(df: DataFrame, table: String): Unit =
    Trace.span("store.write_atomic", "store")(inner.writeAtomic(df, table))
}

/** Spark's own listener interfaces, turned into spans:
  *  - jobs, and stages with their summed task metrics (SparkListener);
  *  - analysis, optimization and planning phases (QueryExecutionListener);
  *  - micro-batches with their phase durations (StreamingQueryListener). */
final class Listeners(spark: SparkSession) {
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobStart.put(e.jobId, e.time)
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { t0 =>
        Trace.record(Span("spark.job", "spark", t0.toDouble, e.time.toDouble))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      for (t0 <- i.submissionTime; t1 <- i.completionTime if m != null)
        Trace.record(Span("spark.stage", "spark.stage", t0.toDouble, t1.toDouble, Map(
          "tasks" -> i.numTasks.toDouble,
          "executor_run_s" -> m.executorRunTime / 1e3,
          "executor_cpu_s" -> m.executorCpuTime / 1e9,
          "gc_s" -> m.jvmGCTime / 1e3,
          "shuffle_write_mb" -> m.shuffleWriteMetrics.bytesWritten / 1e6,
          "shuffle_read_mb" -> m.shuffleReadMetrics.totalBytesRead / 1e6,
          "spill_mb" -> (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6,
          "input_rows" -> m.inputMetrics.recordsRead.toDouble,
          "output_rows" -> m.outputMetrics.recordsWritten.toDouble)))
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (phase, p) =>
        Trace.record(Span(s"spark.plan.$phase", "spark.plan", p.startTimeMs.toDouble, p.endTimeMs.toDouble))
      }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue / 1e3 }.toMap
      Trace.record(Span("stream.batch", "stream", t0, t0 + d.getOrElse("triggerExecution", 0.0) * 1e3,
        d.map { case (k, v) => s"phase.$k" -> v } ++ Map(
          "batch_id" -> p.batchId.toDouble, "input_rows" -> p.numInputRows.toDouble)))
    }
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Waits until every queued event has been delivered, then detaches. */
  def unregister(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }
}
