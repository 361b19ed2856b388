package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into the library. `unit` is the index of the fixed
  * operation sequence (refresh, pass or cycle) the call belongs to.
  */
final class Op(val id: Int, val kind: String, val layer: String,
               val unit: Int, val traced: Boolean, val startNs: Long) {
  var endNs: Long = -1L
  var ok: Boolean = false
}

/** A traced interval inside an operation: a sub-call made by the
  * benchmark, a Spark job, or a Catalyst phase.
  */
final case class Span(op: Int, name: String, layer: String,
                      startNs: Long, endNs: Long)

/** Per-operation counts gathered from listener events. */
final class Counts {
  var jobs = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var taskGcMs = 0L
  var taskDeserMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var inputBytes = 0L
  var singleTaskStageMs = 0L
  var singleTaskStages = 0L
  val sinkWrites: mutable.Set[Long] = mutable.Set.empty
}

/** Records operations always, and spans and counts while `tracing` is
  * on. Jobs are tied to the operation that launched them through a
  * local property set on the driver thread (Spark copies local
  * properties to the threads it starts for broadcasts and subqueries).
  * SQL executions and Catalyst phases carry no such property; they are
  * tied to operations by time when the trace is written, which is exact
  * because one driver thread runs the operations one after another.
  */
final class Recorder(spark: SparkSession) {
  import Recorder._

  private val sc = spark.sparkContext
  // listener events carry epoch milliseconds; spans use nanoTime
  private val wall0Ms = System.currentTimeMillis()
  private val mono0Ns = System.nanoTime()
  private def msToNs(ms: Long): Long = mono0Ns + (ms - wall0Ms) * 1000000L

  val ops = mutable.ArrayBuffer.empty[Op]
  val spans = mutable.ArrayBuffer.empty[Span]
  val counts = mutable.Map.empty[Int, Counts]
  private val phases = mutable.ArrayBuffer.empty[(String, Long, Long)]
  private var current = -1
  private var tracing = false

  def op[T](kind: String, layer: String, unit: Int)(body: => T): T = {
    val o = new Op(ops.size, kind, layer, unit, tracing, System.nanoTime())
    ops += o
    current = o.id
    sc.setLocalProperty(OpKey, o.id.toString)
    try { val r = body; o.ok = true; r }
    finally {
      o.endNs = System.nanoTime()
      sc.setLocalProperty(OpKey, null)
      current = -1
    }
  }

  /** A sub-call inside the current operation, traced runs only. */
  def span[T](name: String, layer: String)(body: => T): T =
    if (!tracing) body
    else {
      val s = System.nanoTime()
      try body
      finally addSpan(Span(current, name, layer, s, System.nanoTime()))
    }

  private def countsOf(op: Int): Counts =
    counts.synchronized(counts.getOrElseUpdate(op, new Counts))

  private val stageOp = mutable.Map.empty[Int, Int]
  private val sinkStages = mutable.Set.empty[Int]
  private val jobStart = mutable.Map.empty[Int, (Int, Long)]
  private val execStart = mutable.Map.empty[Long, Long]
  private val sinkExecs = mutable.Set.empty[Long]

  private def addSpan(s: Span): Unit = spans.synchronized(spans += s)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = opOf(e.properties)
      if (op >= 0) synchronized {
        val sinkExec = Option(e.properties).flatMap(p =>
            Option(p.getProperty("spark.sql.execution.id")))
          .map(_.toLong).filter(sinkExecs.contains)
        jobStart(e.jobId) = (op, e.time)
        e.stageIds.foreach(s => stageOp(s) = op)
        if (sinkExec.isDefined) sinkStages ++= e.stageIds
        val c = countsOf(op)
        c.jobs += 1
        sinkExec.foreach(c.sinkWrites += _)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach { case (op, t0) =>
        addSpan(Span(op, s"job ${e.jobId}", SparkLayer, msToNs(t0),
          msToNs(e.time)))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val (op, sink) = synchronized(
        (stageOp.get(si.stageId), sinkStages.remove(si.stageId)))
      if (si.numTasks == 1)
        for (o <- op; s <- si.submissionTime; f <- si.completionTime) {
          val c = countsOf(o)
          c.singleTaskStageMs += f - s
          c.singleTaskStages += 1
          // a sink's own stage is the one-task coalesce that writes the
          // file; the stages feeding it stay with spark
          if (sink && si.rddInfos.exists(_.name == "CoalescedRDD"))
            addSpan(Span(o, s"stage ${si.stageId}", SinkLayer, msToNs(s),
              msToNs(f)))
        }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      synchronized(stageOp.get(e.stageId)).foreach { op =>
        val c = countsOf(op)
        c.tasks += 1
        if (m != null) {
          c.taskRunMs += m.executorRunTime
          c.taskGcMs += m.jvmGCTime
          c.taskDeserMs += m.executorDeserializeTime
          c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.inputBytes += m.inputMetrics.bytesRead
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => synchronized {
        execStart(s.executionId) = s.time
        // the single-file sink is the only writer that coalesces to one
        // partition right under the write command
        if (isSingleFileWrite(s.physicalPlanDescription))
          sinkExecs += s.executionId
      }
      // executions carry no local properties; like Catalyst phases they
      // are tied to operations by time
      case x: SparkListenerSQLExecutionEnd => synchronized {
        execStart.remove(x.executionId).foreach { t0 =>
          val name = if (sinkExecs.remove(x.executionId)) "sink-execution"
                     else "execution"
          addSpan(Span(-1, s"$name ${x.executionId}", SparkLayer,
            msToNs(t0), msToNs(x.time)))
        }
      }
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = phases.synchronized {
      qe.tracker.phases.foreach { case (name, p) =>
        phases += ((name, p.startTimeMs, p.endTimeMs))
      }
    }
  }

  /** Switch tracing on or off between operations. */
  def trace(on: Boolean): Unit = if (on != tracing) {
    if (on) {
      sc.addSparkListener(listener)
      spark.listenerManager.register(qeListener)
    } else {
      org.apache.spark.ListenerDrain(sc)
      sc.removeSparkListener(listener)
      spark.listenerManager.unregister(qeListener)
    }
    tracing = on
  }

  /** Catalyst phases as spans; `op` is resolved by time downstream. */
  def phaseSpans: Seq[Span] = {
    org.apache.spark.ListenerDrain(sc)
    phases.synchronized(phases.toList).map { case (n, s, e) =>
      Span(-1, n, CatalystLayer, msToNs(s), msToNs(e))
    }
  }
}

object Recorder {
  val OpKey = "perfbench.op"
  val SparkLayer = "spark"
  val SinkLayer = "ops.Sinks"
  val CatalystLayer = "catalyst"

  private def opOf(p: java.util.Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty(OpKey))).map(_.toInt)
      .getOrElse(-1)

  private val CoalesceUnderWrite =
    """WriteFiles \(\d+\)\n\s*\+- Coalesce \((\d+)\)""".r.unanchored

  /** True when the formatted physical plan writes files straight out of
    * a one-partition coalesce: the single-file sink's plan shape.
    */
  private[perfbench] def isSingleFileWrite(plan: String): Boolean =
    plan match {
      case CoalesceUnderWrite(id) =>
        val at = plan.indexOf(s"($id) Coalesce\n")
        at >= 0 && plan.substring(at).split("\n", 5).take(4)
          .contains("Arguments: 1")
      case _ => false
    }
}
