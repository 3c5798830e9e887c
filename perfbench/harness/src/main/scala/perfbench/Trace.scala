package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans recorded at the benchmark's calls into each engine layer, plus
  * the Spark listeners that attribute jobs, stages and task metrics to
  * the operation that launched them. Everything stays in memory and is
  * reduced to per-layer numbers when the run ends.
  *
  * All spans are opened on the single client thread, so the parent is
  * simply the innermost open span. Times are epoch milliseconds with
  * sub-millisecond precision (nanoTime anchored once), so they compare
  * directly with the listener events' driver timestamps.
  */
final class Trace {
  /** Spans are recorded only while on (the traced passes). */
  var on = false
  final case class Span(id: Int, parent: Int, op: Int, name: String,
                        start: Double, end: Double) {
    def dur: Double = end - start
  }

  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def nowMs(): Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var nextId = 0
  /** Operation id of the traced operation in progress, -1 outside one. */
  var op: Int = -1
  private var nextOp = 0

  /** Run `body` as one traced operation: its spans share one id, and
    * the jobs it launches carry that id as a local property.
    */
  def operation[T](spark: SparkSession, name: String)(body: => T): T =
    if (!on) body
    else {
      op = nextOp; nextOp += 1
      spark.sparkContext.setLocalProperty(Trace.OpProperty, op.toString)
      try span(name)(body)
      finally {
        spark.sparkContext.setLocalProperty(Trace.OpProperty, null)
        op = -1
      }
    }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId; nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val t0 = nowMs()
      try body
      finally {
        open = open.tail
        spans += Span(id, parent, op, name, t0, nowMs())
      }
    }

  /** Sum over spans named `name` of duration minus the time covered by
    * their direct children: the layer's self time, in seconds.
    */
  def selfSeconds(name: String): Double = {
    val kids = spans.groupBy(_.parent)
    spans.iterator.filter(_.name == name).map { s =>
      s.dur - kids.getOrElse(s.id, Nil).map(_.dur).sum
    }.sum / 1e3
  }

  def totalSeconds(name: String): Double =
    spans.iterator.filter(_.name == name).map(_.dur).sum / 1e3

  /** Operation spans: the outermost span of each traced operation. */
  def opSpans: Seq[Span] = spans.filter(s => s.parent < 0 && s.op >= 0).toSeq
}

object Trace {
  val OpProperty = "perfbench.op"
}

/** Job, stage and task counters per traced operation, collected by a
  * public [[SparkListener]]. Jobs without the operation property (warm
  * pass, output checks, untraced passes) are ignored.
  */
final class JobListener extends SparkListener {
  final class OpStats {
    var jobs = 0; var stages = 0; var tasks = 0
    var cpuNs = 0L; var runMs = 0L; var gcMs = 0L
    var inBytes = 0L; var inRows = 0L; var outBytes = 0L
    var shufRead = 0L; var shufWrite = 0L; var spill = 0L; var peakMem = 0L
    val jobSpans = mutable.ArrayBuffer.empty[(Double, Double)]
  }
  val ops = mutable.Map.empty[Int, OpStats]
  private val jobStart = mutable.Map.empty[Int, (Int, Double)]
  private val stageOp = mutable.Map.empty[Int, Int]
  @volatile var started = 0
  @volatile var ended = 0

  private def stats(op: Int) = ops.getOrElseUpdate(op, new OpStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Trace.OpProperty))).map(_.toInt)
    op.foreach { o =>
      jobStart(e.jobId) = (o, e.time.toDouble)
      val s = stats(o)
      s.jobs += 1
      s.stages += e.stageIds.size
      e.stageIds.foreach(stageOp(_) = o)
      started += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (o, t0) =>
      stats(o).jobSpans += ((t0, e.time.toDouble))
      ended += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOp.get(e.stageId).foreach { o =>
      val s = stats(o)
      s.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        s.cpuNs += m.executorCpuTime
        s.runMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.inBytes += m.inputMetrics.bytesRead
        s.inRows += m.inputMetrics.recordsRead
        s.outBytes += m.outputMetrics.bytesWritten
        s.shufRead += m.shuffleReadMetrics.totalBytesRead
        s.shufWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
      }
    }
  }

  /** Wait (bounded) until every attributed job's end event arrived. */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    while (ended < started && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    Thread.sleep(200) // trailing task-end events of the last stage
  }
}

/** Planning time of every SQL execution, read from the execution's own
  * `QueryPlanningTracker` through the public [[QueryExecutionListener]]:
  * analysis, optimization and physical planning, as (epoch ms the first
  * phase started, seconds), so it can be attributed to the traced
  * operation running then.
  */
final class PlanListener extends QueryExecutionListener {
  val plans = mutable.ArrayBuffer.empty[(Double, Double)]
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    record(qe)
  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.filter(_._1 != QueryPlanningTracker.PARSING).values
    if (phases.nonEmpty) synchronized {
      plans += ((phases.map(_.startTimeMs).min.toDouble, phases.map(_.durationMs).sum / 1e3))
    }
  }
}

/** Micro-batch counters from the public [[StreamingQueryListener]]. */
final class StreamListener extends StreamingQueryListener {
  @volatile var enabled = false
  var batches = 0
  var batchMs = 0L
  var stateRows = 0L
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (enabled) synchronized {
      val p = e.progress
      // idle progress reports (no new data) are not micro-batches
      if (p.numInputRows > 0) {
        batches += 1
        batchMs += Option(p.durationMs.get("triggerExecution"))
          .map(_.longValue).getOrElse(0L)
        stateRows += p.stateOperators.map(_.numRowsTotal).sum
      }
    }
}
