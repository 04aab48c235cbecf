package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Minimal JSON rendering for the raw result file (no dependency). */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
}

/** In-memory span recorder plus Spark listeners, written out when the
  * run ends.
  *
  * A span has a name, an operation id (shared by every span of one
  * key, pass or batch), wall-clock bounds in epoch milliseconds (the
  * clock Spark stamps task, job and stage events with, so events can
  * be attributed to spans by time: the workload has one client, so
  * nothing else runs while a span is open), its nanoTime duration, and
  * the codegen compile count/time seen while it was open. The listeners
  * record tasks, jobs, stages, SQL executions (bounds and call site),
  * planning phases and streaming progress.
  */
final class Trace(spark: SparkSession) {
  import Trace.Span

  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0
  private var listening = false

  // task: launch, finish, cpu ns, run ms, gc ms, shuffle write bytes,
  // shuffle read bytes, spill bytes (memory + disk), input bytes
  private val tasks = new ConcurrentLinkedQueue[Array[Long]]()
  private val jobs = new ConcurrentLinkedQueue[java.lang.Long]()
  // stage: submission, completion, stage id, tasks, call site
  private val stages = new ConcurrentLinkedQueue[Seq[Any]]()
  // (end of the last planning phase, planning ms) per query execution
  private val plans = new ConcurrentLinkedQueue[Array[Long]]()
  private val progress = new ConcurrentLinkedQueue[Map[String, Any]]()
  // SQL execution id → (start, end, description): the description is
  // the action's call site ("save at CsvToParquet.scala:31"), so the
  // program's own actions can be attributed to the file that ran them
  private val execs = new java.util.concurrent.ConcurrentHashMap[Long, Array[Any]]()

  private val sparkListener = new SparkListener {
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val i = e.taskInfo
      val m = e.taskMetrics
      if (m != null) tasks.add(Array(i.launchTime, i.finishTime,
        m.executorCpuTime, m.executorRunTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead))
    }
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.add(e.time)
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execs.put(s.executionId, Array[Any](s.time, s.time, s.description))
      case s: SparkListenerSQLExecutionEnd =>
        Option(execs.get(s.executionId)).foreach(_(1) = s.time)
      case _ =>
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val end = si.completionTime.getOrElse(System.currentTimeMillis())
      stages.add(Seq(si.submissionTime.getOrElse(end), end, si.stageId,
        si.numTasks, si.name))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      recordPlanning(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      recordPlanning(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ops = p.stateOperators.toSeq
      progress.add(Map(
        "batch_id" -> p.batchId,
        "input_rows" -> p.numInputRows,
        "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        "state_rows_total" -> ops.map(_.numRowsTotal).sum,
        "state_memory_bytes" -> ops.map(_.memoryUsedBytes).sum,
        "rows_dropped_by_watermark" -> ops.map(_.numRowsDroppedByWatermark).sum))
    }
  }

  /** Planning time of one query execution: the sum of its
    * QueryPlanningTracker phases, stamped with the end of the last. */
  def recordPlanning(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases.values
    if (ph.nonEmpty)
      plans.add(Array(ph.map(_.endTimeMs).max, ph.map(_.durationMs).sum))
  }

  def listen(on: Boolean): Unit = if (on != listening) {
    val sc = spark.sparkContext
    if (on) {
      sc.addSparkListener(sparkListener)
      spark.listenerManager.register(qeListener)
      spark.streams.addListener(streamListener)
    } else {
      drain(sc)
      sc.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(qeListener)
      spark.streams.removeListener(streamListener)
    }
    listening = on
  }

  private def codegen(): (Long, Double) = {
    // compile count from spark-core's CodegenMetrics; total compile
    // time (ns) from the code generator's own accumulator
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e6)
  }

  /** Run `body` as a span (a no-op wrapper while not listening). */
  def span[T](name: String, op: String)(body: => T): T =
    if (!listening) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val (c0, ms0) = codegen()
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        val w1 = System.currentTimeMillis()
        val (c1, ms1) = codegen()
        stack = stack.tail
        spans += Span(id, parent, name, op, w0, w1, (t1 - t0) / 1e9,
          c1 - c0, ms1 - ms0)
      }
    }

  /** Wait until the listener bus has delivered every posted event. */
  def drain(sc: SparkContext): Unit =
    org.apache.spark.PerfbenchBridge.waitUntilEmpty(sc)

  def toJson: Map[String, Any] = {
    drain(spark.sparkContext)
    Map(
      "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "op" -> s.op, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs, "dur_s" -> s.durS, "compiles" -> s.compiles,
        "compile_ms" -> s.compileMs)).toSeq,
      "tasks" -> tasks.asScala.toSeq.map(_.toSeq),
      "jobs" -> jobs.asScala.toSeq.map(_.longValue),
      "stages" -> stages.asScala.toSeq,
      "plans" -> plans.asScala.toSeq.map(_.toSeq),
      "execs" -> execs.values.asScala.toSeq.map(_.toSeq),
      "progress" -> progress.asScala.toSeq)
  }
}

object Trace {
  final case class Span(id: Int, parent: Int, name: String, op: String,
      startMs: Long, endMs: Long, durS: Double, compiles: Long,
      compileMs: Double)
}
