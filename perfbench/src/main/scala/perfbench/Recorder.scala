package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Trace recorder for a traced run. Everything stays in memory and is
  * written once, when the run ends.
  *
  *  - Spans: name, start, end, parent and op id, opened and closed by
  *    the runner around each public call (run → pass → module → op →
  *    build/plan/exec).
  *  - Jobs are attributed to the op whose id is their job group. Jobs
  *    submitted under another group (a streaming query's micro-batches
  *    run under the query's own group) go to the op current at job
  *    start; the runner drains the listener bus before it moves on, so
  *    that op is still current.
  *  - Stages and tasks follow their job. Task metrics are summed per
  *    stage; each task's shuffle-read bytes are kept for the skew figure.
  *  - Streaming progress events go to the current op.
  *
  * Times are epoch milliseconds, the clock of Spark's own events. */
final class Recorder extends SparkListener {
  import Recorder._
  @volatile var currentOp: String = ""

  val spans = mutable.ArrayBuffer.empty[Span]

  def open(name: String, parent: Int, op: String = ""): Int = synchronized {
    val s = Span(spans.size, parent, name, op, Clock.ms())
    spans += s
    s.id
  }
  def close(id: Int): Unit = synchronized { spans(id).end = Clock.ms() }

  final class Job(val id: Int, val op: String, val group: String,
      val start: Double, var end: Double = -1)
  final class Stage(val id: Int, val op: String) {
    var tasks = 0L; var taskMs = 0L; var runMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
    var inBytes = 0L; var inRows = 0L; var outBytes = 0L; var outRows = 0L
    val readPerTask = mutable.ArrayBuffer.empty[Long]
  }

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.LinkedHashMap.empty[Int, Stage]
  val batches = mutable.ArrayBuffer.empty[Batch]
  private val stageOp = mutable.HashMap.empty[Int, String]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val op = if (group.startsWith(Recorder.GroupPrefix)) group else currentOp
    jobs(e.jobId) = new Job(e.jobId, op, group, e.time.toDouble)
    e.stageIds.foreach(s => stageOp.getOrElseUpdate(s, op))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val st = stages.getOrElseUpdate(e.stageId,
      new Stage(e.stageId, stageOp.getOrElse(e.stageId, currentOp)))
    st.tasks += 1
    st.taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      st.runMs += m.executorRunTime
      val r = m.shuffleReadMetrics.totalBytesRead
      st.shuffleRead += r
      st.readPerTask += r
      st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      st.inBytes += m.inputMetrics.bytesRead
      st.inRows += m.inputMetrics.recordsRead
      st.outBytes += m.outputMetrics.bytesWritten
      st.outRows += m.outputMetrics.recordsWritten
    }
  }

  /** Streaming progress arrives as a StreamingQueryListener event on the
    * shared bus. Taking it here rather than through a session's
    * `streams.addListener` also sees the queries that graft starts in
    * child sessions (`newSession()`), whose managers filter their own
    * listeners to their own queries. */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case q: StreamingQueryListener.QueryProgressEvent => synchronized {
      val p = q.progress
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      batches += Batch(currentOp, d("triggerExecution"), p.numInputRows,
        p.stateOperators.map(_.numRowsTotal).sum,
        p.stateOperators.map(_.memoryUsedBytes).sum,
        d("walCommit") + d("commitOffsets"), p.runId.toString)
    }
    case _ => ()
  }

  def toJson: Map[String, Any] = synchronized {
    Map(
      "spans" -> spans.toSeq.map(s => Map("id" -> s.id,
        "parent" -> s.parent, "name" -> s.name, "op" -> s.op,
        "start" -> s.start, "end" -> s.end)),
      "jobs" -> jobs.values.toSeq.map(j => Map("id" -> j.id,
        "op" -> j.op, "group" -> j.group, "start" -> j.start, "end" -> j.end)),
      "stages" -> stages.values.toSeq.map(s => Map(
        "id" -> s.id, "op" -> s.op, "tasks" -> s.tasks,
        "task_ms" -> s.taskMs, "run_ms" -> s.runMs,
        "shuffle_read" -> s.shuffleRead, "shuffle_write" -> s.shuffleWrite,
        "spill" -> s.spill, "in_bytes" -> s.inBytes, "in_rows" -> s.inRows,
        "out_bytes" -> s.outBytes, "out_rows" -> s.outRows,
        "read_per_task" -> s.readPerTask.toSeq)),
      "batches" -> batches.toSeq.map(b => Map("op" -> b.op,
        "duration_ms" -> b.durationMs, "input_rows" -> b.inputRows,
        "state_rows" -> b.stateRows, "state_bytes" -> b.stateBytes,
        "commit_ms" -> b.commitMs, "run_id" -> b.runId)))
  }
}

object Recorder {
  final case class Span(id: Int, parent: Int, name: String, op: String,
      start: Double, var end: Double = -1)
  final case class Batch(op: String, durationMs: Long, inputRows: Long,
      stateRows: Long, stateBytes: Long, commitMs: Long, runId: String)

  /** Job-group prefix of a traced op; the rest is its op id. */
  val GroupPrefix = "perfbench:"
}

/** One clock for the runner's spans and Spark's event times: epoch
  * milliseconds, with nanoTime resolution between calls. */
object Clock {
  private val nano0 = System.nanoTime()
  private val ms0 = System.currentTimeMillis().toDouble
  def ms(): Double = ms0 + (System.nanoTime() - nano0) / 1e6
}
