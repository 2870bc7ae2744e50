package agentbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One traced interval. Times are microseconds since the epoch; `parent`
  * is 0 for a root span; `op` is the id of the benchmark operation (a
  * request or a lane run) that caused it. */
final case class Span(id: Long, parent: Long, name: String, op: Long,
                      start: Long, end: Long) {
  def dur: Long = end - start
}

object Trace {
  /** Local property that carries the op id into every Spark job the op
    * starts, including jobs of streaming queries it starts. */
  val OpProperty = "agentbench.op"

  /** A span's duration minus the part of its interval that its children
    * cover (overlapping children counted once, clipped to the span). */
  def selfTime(span: Span, children: Seq[Span]): Long = {
    val iv = children.map(c => (math.max(c.start, span.start), math.min(c.end, span.end)))
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L; var curS = 0L; var curE = Long.MinValue
    iv.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    span.dur - covered
  }

  /** Self time summed per span name over a whole trace. */
  def selfTimeByName(spans: Seq[Span]): Map[String, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => selfTime(s, kids.getOrElse(s.id, Nil))).sum
    }
  }

  def nowMicros(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }
}

/** Per-op totals of what Spark did, from task, stage and job events. */
final class ExecTotals {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var schedDelayMs = 0L
  var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
  var outputBytes = 0L; var outputRecords = 0L
}

/** SparkListener that turns jobs, stages and tasks into spans under the
  * op whose id the job carries, and sums task metrics per op. */
final class SparkTap extends SparkListener {
  private val ids = new java.util.concurrent.atomic.AtomicLong(1L << 40)
  private val jobOf = mutable.Map.empty[Int, (Long, Long)] // stage -> (op, job span)
  private val stageSpan = mutable.Map.empty[(Int, Int), Long] // (stage, attempt) -> span
  private val jobSpan = mutable.Map.empty[Int, (Long, Long, Long)] // job -> (op, span, start)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val totals = mutable.Map.empty[Long, ExecTotals]

  private def tot(op: Long) = totals.getOrElseUpdate(op, new ExecTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.OpProperty)))
      .map(_.toLong).getOrElse(0L)
    val id = ids.incrementAndGet()
    jobSpan(e.jobId) = (op, id, e.time * 1000)
    e.stageIds.foreach(s => jobOf(s) = (op, id))
    tot(op).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (op, id, start) =>
      spans += Span(id, op, "job", op, start, e.time * 1000)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val (op, parent) = jobOf.getOrElse(si.stageId, (0L, 0L))
    val id = stageSpan.remove((si.stageId, si.attemptNumber()))
      .getOrElse(ids.incrementAndGet())
    for (s <- si.submissionTime; c <- si.completionTime)
      spans += Span(id, parent, "stage", op, s * 1000, c * 1000)
    tot(op).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val (op, _) = jobOf.getOrElse(e.stageId, (0L, 0L))
    val stage = stageSpan.getOrElseUpdate((e.stageId, e.stageAttemptId), ids.incrementAndGet())
    val ti = e.taskInfo
    spans += Span(ids.incrementAndGet(), stage, "task", op, ti.launchTime * 1000,
      ti.finishTime * 1000)
    val t = tot(op)
    t.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      t.runMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.schedDelayMs += math.max(0L, ti.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        (if (ti.gettingResultTime > 0) ti.finishTime - ti.gettingResultTime else 0L))
      t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      t.outputBytes += m.outputMetrics.bytesWritten
      t.outputRecords += m.outputMetrics.recordsWritten
    }
  }

  def snapshot(): (Seq[Span], Map[Long, ExecTotals]) = synchronized {
    (spans.toSeq, totals.toMap)
  }
}

/** One micro-batch's progress as the streaming layer reports it. */
final case class BatchRec(query: String, batchId: Long, startMicros: Long,
                          durationMs: Map[String, Long], stateRows: Long,
                          stateCommitTaskMs: Long)

/** StreamingQueryListener registered through
  * `spark.sql.streaming.streamingQueryListeners`, so every session the
  * engine creates for its replays reports here too. */
final class StreamTap extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (StreamTap.enabled) {
      val p = e.progress
      val start = java.time.Instant.parse(p.timestamp)
      StreamTap.batches.add(BatchRec(
        Option(p.name).getOrElse(""), p.batchId,
        start.getEpochSecond * 1000000L + start.getNano / 1000,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.stateOperators.map(_.numRowsTotal).sum,
        p.stateOperators.map(_.commitTimeMs).sum))
    }
}

object StreamTap {
  @volatile var enabled = false
  val batches = new ConcurrentLinkedQueue[BatchRec]()
  def drain(): Seq[BatchRec] = {
    val out = Seq.newBuilder[BatchRec]
    var b = batches.poll()
    while (b != null) { out += b; b = batches.poll() }
    out.result()
  }
}
