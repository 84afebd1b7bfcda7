package graft.perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. Spans of one op share `op`; `parent` is the
  * enclosing span's id (-1 for a run's root span). */
final class Span(val id: Int, val parent: Int, val op: String, val name: String,
    val startNs: Long) {
  var endNs: Long = 0L
  val attrs = mutable.LinkedHashMap.empty[String, Any]
  val counters = mutable.LinkedHashMap.empty[String, Double]
  def add(k: String, v: Double): Unit = counters(k) = counters.getOrElse(k, 0.0) + v
  def toMap: Map[String, Any] = Map("id" -> id, "parent" -> parent, "op" -> op,
    "name" -> name, "start_ns" -> startNs, "end_ns" -> endNs,
    "attrs" -> attrs, "counters" -> counters)
}

/** Engine counters of the Spark work done while one span was innermost. */
private final class SparkAcc {
  var jobs, stages, tasks, busyMs, inputBytes, shuffleWrite, shuffleRead,
    spillBytes, gcMs, resultBytes, planMs = 0L
  def addTo(s: Span): Unit = if (jobs + stages + tasks + planMs > 0) {
    s.add("spark.jobs", jobs); s.add("spark.stages", stages); s.add("spark.tasks", tasks)
    s.add("spark.task_busy_ms", busyMs); s.add("spark.input_bytes", inputBytes)
    s.add("spark.shuffle_write_bytes", shuffleWrite)
    s.add("spark.shuffle_read_bytes", shuffleRead); s.add("spark.spill_bytes", spillBytes)
    s.add("spark.gc_ms", gcMs); s.add("spark.result_bytes", resultBytes)
    s.add("spark.plan_ms", planMs)
  }
}

/** Listens to the engine seam under every module: job/stage/task metrics
  * from the scheduler, and driver planning time (analysis + optimization +
  * planning) from each finished query's `QueryExecution.tracker`. */
private final class SparkProbe(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  private var acc = new SparkAcc

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { acc.jobs += 1 }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { acc.stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized {
      acc.tasks += 1
      acc.busyMs += m.executorRunTime
      acc.inputBytes += m.inputMetrics.bytesRead
      acc.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      acc.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      acc.spillBytes += m.diskBytesSpilled
      acc.gcMs += m.jvmGCTime
      acc.resultBytes += m.resultSize
    }
  }

  private def planMs(qe: QueryExecution): Long =
    qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { acc.planMs += planMs(qe) }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    synchronized { acc.planMs += planMs(qe) }

  /** Everything delivered since the last drain. Waits for the listener bus
    * first, so a span's events never leak into the next span. */
  def drain(): SparkAcc = {
    PerfbenchBridge.waitForListeners(spark.sparkContext)
    synchronized { val a = acc; acc = new SparkAcc; a }
  }
}

/** Span recorder for the traced run. Spans stay in memory and are written
  * out with the result. With tracing off every method is a pass-through, so
  * the untraced run times the same calls with nothing added.
  *
  * Engine work is attributed to the innermost open span: the listener bus is
  * drained at every span boundary, and the single client thread means at
  * most one span is innermost at a time. The span id is also set as a Spark
  * local property, so jobs in Spark's own logs name the span that ran them. */
final class Tracer(spark: SparkSession, available: Boolean) {
  /** Record spans now; toggled per run by the run loop. */
  var active = false
  private val probe: Option[SparkProbe] =
    if (!available) None
    else {
      val p = new SparkProbe(spark)
      spark.sparkContext.addSparkListener(p)
      spark.listenerManager.register(p)
      Some(p)
    }
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil

  /** Events delivered while no span is open (between runs) are dropped. */
  private def flush(): Unit = probe.foreach { p =>
    val a = p.drain()
    open.headOption.foreach(a.addTo)
  }

  def span[A](name: String, op: String)(body: => A): A =
    if (!active) body
    else {
      flush()
      val s = new Span(spans.size, open.headOption.map(_.id).getOrElse(-1), op, name,
        System.nanoTime())
      spans += s
      open = s :: open
      spark.sparkContext.setLocalProperty("perfbench.span", s.id.toString)
      try body
      finally {
        flush()
        s.endNs = System.nanoTime()
        open = open.tail
        spark.sparkContext.setLocalProperty("perfbench.span",
          open.headOption.map(_.id.toString).orNull)
      }
    }

  /** Attach an operator decision to the innermost open span. */
  def attr(k: String, v: Any): Unit = if (active) open.headOption.foreach(_.attrs(k) = v)
  /** Add to a counter of the innermost open layer span. A counter describes
    * the layer being measured, so one taken during the benchmark's own
    * bookkeeping goes to the layer span around it, not to the `bench.*` span. */
  def count(k: String, v: Double): Unit =
    if (active) open.find(!_.name.startsWith("bench.")).foreach(_.add(k, v))

  def close(): Unit = probe.foreach { p =>
    spark.sparkContext.removeSparkListener(p)
    spark.listenerManager.unregister(p)
  }
}
