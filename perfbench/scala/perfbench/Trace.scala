package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.streaming.runtime.StreamExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock shared by every record the benchmark writes: epoch
  * milliseconds with sub-millisecond resolution, so JVM-side times line up
  * with the file source's log and with each other. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def now: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** CPU time of the whole JVM process (every thread: Spark's, the JIT's and
  * the collector's), in milliseconds. The kernel charges a thread only for
  * the time it ran, so time the host hands to other guests (CPU steal) is
  * not in it, where it is in the wall clock. */
object CpuClock {
  private val os = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def now: Double = os.getProcessCpuTime / 1e6
}

/** One span: a boundary the benchmark crosses (workload run, drain,
  * micro-batch, query, sink call, pipeline prefix). `attrs` carries counters
  * read at the same boundary. */
final case class Span(id: String, name: String, parent: String,
    start: Double, end: Double, attrs: Map[String, Double] = Map.empty)

/** Spans and engine events kept in memory and written when the run ends.
  * With `on = false` nothing is registered and `span` only runs its body,
  * so untraced runs pay for no listener. */
final class Trace(val on: Boolean, val runId: String) {
  val spans = new ConcurrentLinkedQueue[Span]()
  private val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val tasks = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val planning = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val progress = new ConcurrentLinkedQueue[Map[String, Any]]()

  def span[T](id: String, name: String, parent: String,
      attrs: => Map[String, Double] = Map.empty)(body: => T): T =
    if (!on) body
    else {
      val before = Trace.counters()
      val s = Clock.now
      try body
      finally {
        val after = Trace.counters()
        val deltas = after.map { case (k, v) => k -> (v - before(k)) }
        spans.add(Span(id, name, parent, s, Clock.now, deltas ++ attrs))
      }
    }

  def add(s: Span): Unit = if (on) spans.add(s)

  private var sparkListener: SparkListener = _
  private var qeListener: QueryExecutionListener = _
  private var streamListener: StreamingQueryListener = _

  def install(spark: SparkSession): Unit = if (on) {
    sparkListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val qid = Option(e.properties)
          .flatMap(p => Option(p.getProperty(StreamExecution.QUERY_ID_KEY)))
          .getOrElse("")
        jobs.add(Map("id" -> e.jobId, "start" -> e.time.toDouble,
          "query" -> qid, "stages" -> e.stageIds))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.add(Map("id" -> e.jobId, "end" -> e.time.toDouble))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) tasks.add(Map(
          "stage" -> e.stageId,
          "end" -> e.taskInfo.finishTime.toDouble,
          "run_ms" -> m.executorRunTime,
          "cpu_ns" -> m.executorCpuTime,
          "gc_ms" -> m.jvmGCTime,
          "shuffle_w" -> m.shuffleWriteMetrics.bytesWritten,
          "spill" -> (m.memoryBytesSpilled + m.diskBytesSpilled)))
      }
    }
    spark.sparkContext.addSparkListener(sparkListener)
    qeListener = new QueryExecutionListener {
      private def rec(qe: QueryExecution): Unit = {
        val ph = qe.tracker.phases
        planning.add(Map(
          "start" -> (if (ph.isEmpty) Clock.now else
            ph.values.map(_.startTimeMs).min.toDouble),
          "ms" -> ph.values.map(_.durationMs).sum.toDouble))
      }
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = rec(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = rec(qe)
    }
    spark.listenerManager.register(qeListener)
    streamListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val state = p.stateOperators.toSeq
        progress.add(Map(
          "name" -> Option(p.name).getOrElse(""),
          "query" -> p.id.toString,
          "batch" -> p.batchId,
          "start" -> java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
          "rows" -> p.numInputRows,
          "durations" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          "state_bytes" -> state.map(_.memoryUsedBytes).sum))
      }
    }
    spark.streams.addListener(streamListener)
  }

  /** Unregister the listeners after draining the listener bus, so every
    * event of the run is in memory before it is written. */
  def uninstall(spark: SparkSession): Unit = if (on) {
    org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  def toJson: Map[String, Any] = Map(
    "run" -> runId,
    "spans" -> spans.asScala.toSeq.map(s => Map("id" -> s.id, "name" -> s.name,
      "parent" -> s.parent, "start" -> s.start, "end" -> s.end,
      "attrs" -> s.attrs)),
    "jobs" -> jobs.asScala.toSeq,
    "tasks" -> tasks.asScala.toSeq,
    "planning" -> planning.asScala.toSeq,
    "progress" -> progress.asScala.toSeq)
}

object Trace {
  /** Process-wide counters read at span boundaries: Janino compile time
    * (ns) and the number of generated classes compiled. */
  def counters(): Map[String, Double] = Map(
    "codegen_ns" -> CodeGenerator.compileTime.toDouble,
    "codegen_classes" ->
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
        .getCount.toDouble)

  /** JVM memory high-water marks: summed heap-pool peaks and the
    * process's peak resident set (VmHWM). */
  def jvmPeaks(): Map[String, Double] = {
    import java.lang.management.{ManagementFactory, MemoryType}
    val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum
    val rssKb = try {
      scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble)
        .getOrElse(0.0)
    } catch { case _: Exception => 0.0 }
    Map("jvm.peak_heap_mb" -> heap / 1048576.0,
      "jvm.peak_rss_mb" -> rssKb / 1024.0)
  }
}
