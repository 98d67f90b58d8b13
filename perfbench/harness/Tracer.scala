package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable

/** Listener counters of one traced operation. Updated from the listener
  * bus threads, read by the harness after the bus has drained.
  */
final class OpStats {
  var jobs, stages, tasks, streams, batches = 0L
  var cpuNs, gcMs, planMs = 0L
  var swRecords, swBytes, srBytes, spillBytes = 0L
  var inBytes, outBytes = 0L
  var mapStageMs, resultStageMs = 0L
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  val batchMs = mutable.ArrayBuffer.empty[Long]

  /** Wall milliseconds covered by at least one job. */
  def jobMs: Long = {
    var covered, end = 0L
    jobSpans.sortBy(_._1).foreach { case (s, e) =>
      val from = math.max(s, end)
      if (e > from) covered += e - from
      end = math.max(end, e)
    }
    covered
  }

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "streams" -> streams,
    "batches" -> batches, "batch_ms" -> batchMs.toSeq,
    "cpu_s" -> cpuNs / 1e9, "gc_s" -> gcMs / 1e3, "plan_s" -> planMs / 1e3,
    "job_s" -> jobMs / 1e3,
    "shuffle_write_records" -> swRecords, "shuffle_write_bytes" -> swBytes,
    "shuffle_read_bytes" -> srBytes, "spill_bytes" -> spillBytes,
    "input_bytes" -> inBytes, "output_bytes" -> outBytes,
    "map_stage_s" -> mapStageMs / 1e3, "result_stage_s" -> resultStageMs / 1e3)
}

/** Harness-side span: one public call, with its parent span and the op
  * id it ran under.
  */
final case class Span(name: String, startNs: Long, endNs: Long,
    parent: Int, op: String)

/** Outside-in tracer. Spans are recorded by the harness around each
  * public call; Spark's own listeners supply the layer counters. Both
  * share an op id: the harness sets it as the job group of the calling
  * thread, so every job (including a stream's micro-batch jobs, whose
  * thread inherits the group) carries it, and stages and tasks are
  * mapped to it through their job. Query-execution and streaming
  * events carry no job group; they are attributed to the op that is
  * running, which is exact because the harness drains the listener bus
  * before it starts the next op. Everything is kept in memory and
  * written out when the run ends.
  */
object Tracer {
  @volatile private var current: String = null
  private val stats = new ConcurrentHashMap[String, OpStats]()
  private val stageOp = new ConcurrentHashMap[Int, String]()
  private val jobOp = new ConcurrentHashMap[Int, (String, Long)]()
  private val stageWrites = new ConcurrentHashMap[Int, java.lang.Long]()
  val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Int]
  private var nextOp = 0

  private def statsOf(op: String): OpStats =
    if (op == null) null else stats.get(op)

  /** Runs `f` as one traced operation and returns its result, its wall
    * seconds (drain excluded) and its listener counters.
    */
  def op[A](sc: SparkContext, name: String)(f: => A): (A, Double, OpStats) = {
    nextOp += 1
    val id = s"op$nextOp"
    val st = new OpStats
    stats.put(id, st)
    sc.setJobGroup(id, name, interruptOnCancel = false)
    sc.addSparkListener(JobListener)
    current = id
    val t0 = System.nanoTime
    try {
      val r = span(name, id)(f)
      val secs = (System.nanoTime - t0) / 1e9
      (r, secs, st)
    } finally {
      org.apache.spark.perfbench.BusDrain(sc)
      current = null
      sc.removeSparkListener(JobListener)
      sc.clearJobGroup()
    }
  }

  /** A harness span around one public call inside the current op. */
  def span[A](name: String, op: String = current)(f: => A): A = {
    val start = System.nanoTime
    spans += Span(name, start, -1L, open.headOption.getOrElse(-1), op)
    val me = spans.size - 1
    open.push(me)
    try f
    finally {
      open.pop()
      spans(me) = spans(me).copy(endNs = System.nanoTime)
    }
  }

  /** Spans with their self time (span time minus child-span time). */
  def spanRows: Seq[Map[String, Any]] = {
    val child = new Array[Long](spans.size)
    spans.foreach(s => if (s.parent >= 0) child(s.parent) += s.endNs - s.startNs)
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    spans.zipWithIndex.map { case (s, i) =>
      Map("name" -> s.name, "op" -> s.op, "parent" -> s.parent,
        "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9,
        "self_s" -> (s.endNs - s.startNs - child(i)) / 1e9)
    }.toSeq
  }

  object JobListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      val st = statsOf(op)
      if (st != null) {
        jobOp.put(e.jobId, (op, e.time))
        e.stageIds.foreach(stageOp.put(_, op))
        st.synchronized(st.jobs += 1)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val j = jobOp.remove(e.jobId)
      if (j != null) {
        val st = statsOf(j._1)
        if (st != null) st.synchronized(st.jobSpans += ((j._2, e.time)))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val st = statsOf(stageOp.get(i.stageId))
      if (st != null) st.synchronized {
        st.stages += 1
        val ms = (for (a <- i.submissionTime; b <- i.completionTime) yield b - a)
          .getOrElse(0L)
        // a stage whose tasks wrote shuffle output is a map stage
        if (Option(stageWrites.remove(i.stageId)).exists(_ > 0)) st.mapStageMs += ms
        else st.resultStageMs += ms
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val st = statsOf(stageOp.get(e.stageId))
      val m = e.taskMetrics
      if (st != null && m != null) st.synchronized {
        st.tasks += 1
        st.cpuNs += m.executorCpuTime
        st.gcMs += m.jvmGCTime
        st.swRecords += m.shuffleWriteMetrics.recordsWritten
        stageWrites.merge(e.stageId, m.shuffleWriteMetrics.recordsWritten,
          (x, y) => x + y)
        st.swBytes += m.shuffleWriteMetrics.bytesWritten
        st.srBytes += m.shuffleReadMetrics.totalBytesRead
        st.spillBytes += m.diskBytesSpilled
        st.inBytes += m.inputMetrics.bytesRead
        st.outBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  def onQuery(qe: QueryExecution): Unit = {
    val st = statsOf(current)
    if (st != null) st.synchronized {
      st.planMs += qe.tracker.phases.values.map(_.durationMs).sum
    }
  }

  def onStream(started: Boolean, batchMs: Option[Long]): Unit = {
    val st = statsOf(current)
    if (st != null) st.synchronized {
      if (started) st.streams += 1
      batchMs.foreach { ms => st.batches += 1; st.batchMs += ms }
    }
  }
}

/** Registered for every session through `spark.sql.queryExecutionListeners`
  * in traced runs (child sessions made by `Sessions.withConf` included).
  */
class TracerQueryListener extends QueryExecutionListener {
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    Tracer.onQuery(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    Tracer.onQuery(qe)
}

/** Registered through `spark.sql.streaming.streamingQueryListeners`. */
class TracerStreamListener extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit =
    Tracer.onStream(started = true, None)
  override def onQueryProgress(e: QueryProgressEvent): Unit =
    Tracer.onStream(started = false,
      Option(e.progress.durationMs.get("triggerExecution")).map(_.longValue))
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
}
