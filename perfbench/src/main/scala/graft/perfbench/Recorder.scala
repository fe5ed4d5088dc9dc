package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Op timings (always) and, when `tracing`, spans plus raw listener
  * events. Everything stays in memory and is written once at the end
  * (see [[Main]]); the Python side turns it into metrics.
  *
  * Clock: spans use `System.nanoTime` relative to the recorder's start.
  * Listener events carry wall-clock milliseconds, converted onto the
  * same base with the offset taken at start, so they land on span
  * intervals to within a millisecond.
  *
  * Spans come from one client thread (the workload loop); the
  * listeners run on Spark's listener-bus thread and only append. */
final class Recorder(spark: SparkSession, val tracing: Boolean) {
  private val t0Ns = System.nanoTime()
  private val t0Ms = System.currentTimeMillis()

  def nowMs: Double = (System.nanoTime() - t0Ns) / 1e6
  /** A wall-clock millisecond timestamp on the recorder's time base. */
  def wallMs(epochMs: Long): Double = (epochMs - t0Ms).toDouble

  // ---- ops and spans ----------------------------------------------

  final class Span(val id: Int, val parent: Int, val op: Int, val name: String,
      val start: Double) { var end: Double = Double.NaN }

  /** One timed operation. `phase` is "setup", "warmup" or "timed". */
  final case class Op(id: Int, kind: String, phase: String, start: Double, end: Double,
      error: Option[String])

  val ops = ArrayBuffer.empty[Op]
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  /** Runs `f` as one op; returns its result, or None if it threw (the
    * error is recorded on the op, which counts as failed). */
  def op[T](kind: String, phase: String)(f: => T): Option[T] = {
    val id = ops.size
    val start = nowMs
    val root = if (tracing) Some(open(kind, id)) else None
    val r = try Right(f) catch { case e: Throwable => Left(e) }
    val end = nowMs
    root.foreach(close)
    stack = Nil
    ops += Op(id, kind, phase, start, end,
      r.left.toOption.map(e => s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"))
    r.toOption
  }

  /** A child span of the current op; a no-op when not tracing. */
  def span[T](name: String)(f: => T): T =
    if (!tracing || stack.isEmpty) f
    else {
      val s = open(name, stack.head.op)
      try f finally close(s)
    }

  /** A span of known duration that ended now (used for stage builds,
    * whose start is only known as a duration from Staged.buildTimings). */
  def closedSpan(name: String, durationMs: Double): Unit =
    if (tracing && stack.nonEmpty && durationMs > 0) {
      val end = nowMs
      val s = new Span(spans.size, stack.head.id, stack.head.op, name, end - durationMs)
      s.end = end
      spans += s
    }

  private def open(name: String, op: Int): Span = {
    val s = new Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), op, name, nowMs)
    spans += s
    stack = s :: stack
    s
  }
  private def close(s: Span): Unit = {
    s.end = nowMs
    stack = stack.dropWhile(_ ne s).drop(1)
  }

  // ---- listener events (tracing only) -----------------------------

  /** (submitMs, stageIds) per job */
  val jobs = ArrayBuffer.empty[(Double, Seq[Int])]
  /** stageId, launchMs, runMs, cpuNs, shuffleWriteB, shuffleReadB, spillB,
    * inputB, inputRows per task */
  val tasks = ArrayBuffer.empty[Array[Double]]
  /** Catalyst phases (name, startMs, endMs) per executed query */
  val plans = ArrayBuffer.empty[Seq[(String, Double, Double)]]
  /** One map per streaming progress event */
  val progress = ArrayBuffer.empty[Map[String, Any]]

  if (tracing) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        jobs += ((wallMs(e.time), e.stageIds))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        val i = e.taskInfo
        if (m != null) synchronized {
          tasks += Array(e.stageId.toDouble, wallMs(i.launchTime),
            m.executorRunTime.toDouble, m.executorCpuTime.toDouble,
            m.shuffleWriteMetrics.bytesWritten.toDouble, m.shuffleReadMetrics.totalBytesRead.toDouble,
            m.diskBytesSpilled.toDouble, m.inputMetrics.bytesRead.toDouble,
            m.inputMetrics.recordsRead.toDouble)
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
      override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = record(qe)
      private def record(qe: QueryExecution): Unit = {
        val ph = qe.tracker.phases.toSeq.map { case (n, p) => (n, wallMs(p.startTimeMs), wallMs(p.endTimeMs)) }
        synchronized { plans += ph }
      }
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val st = p.stateOperators.headOption
        val rec = Map[String, Any](
          "run_id" -> p.runId.toString,
          "input_rows" -> p.numInputRows,
          "durations_ms" -> p.durationMs.asScalaMap,
          "state_rows_total" -> st.map(_.numRowsTotal).getOrElse(0L),
          "state_rows_updated" -> st.map(_.numRowsUpdated).getOrElse(0L),
          "state_custom" -> st.map(_.customMetrics.asScalaMap).getOrElse(Map.empty))
        synchronized { progress += rec }
      }
    })
  }

  private implicit class JMapOps[V](m: java.util.Map[String, V]) {
    def asScalaMap: Map[String, Long] = {
      import scala.jdk.CollectionConverters._
      m.asScala.map { case (k, v) => k -> v.toString.toLong }.toMap
    }
  }

  /** Waits until every posted listener event has been delivered. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
}
