package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory trace store. Spans are recorded from outside the engine —
  * the benchmark's own calls into public functions, plus Spark's public
  * listener APIs — and written out once, when the run ends.
  *
  * Times are epoch milliseconds. Harness spans take theirs from one
  * nanoTime-anchored clock (sub-ms resolution); listener spans carry the
  * millisecond times Spark stamps on its events. Jobs are tied to their
  * operation through the `perfbench.op` local property the harness sets
  * on the thread that runs the operation. */
object Trace {
  val OpProperty = "perfbench.op"

  /** Whether operations and jobs starting now are traced. A traced run
    * switches it off for its untraced operations, so the difference
    * between the two sets is the tracing overhead. */
  @volatile var on = false

  private val epoch0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val nextId = new AtomicLong(1)
  def newId(): Long = nextId.getAndIncrement()

  /** One span: `kind` is the layer boundary it was recorded at. */
  final case class Span(id: Long, parent: Long, op: String, kind: String, name: String,
      start: Double, end: Double, attrs: Map[String, Double])

  val spans = new ConcurrentLinkedQueue[Span]()
  def add(s: Span): Unit = if (on) spans.add(s)

  /** Streaming progress is an end-to-end input (batch end times), so it
    * records whether or not tracing is on. */
  final case class Progress(batchId: Long, start: Double, end: Double, endOffset: Long,
      rows: Long, durations: Map[String, Double], stateRows: Long, stateBytes: Long,
      stateCommitMs: Double, droppedByWatermark: Long)
  val progress = new ConcurrentLinkedQueue[Progress]()

  // --- cache layer: storage held by cached / checkpointed blocks ---------
  private val blockBytes = mutable.Map[String, Long]()
  private var storageNow = 0L
  @volatile var storagePeak = 0L
  private[perfbench] def blockUpdated(id: String, bytes: Long): Unit = synchronized {
    storageNow += bytes - blockBytes.getOrElse(id, 0L)
    if (bytes == 0) blockBytes.remove(id) else blockBytes(id) = bytes
    storagePeak = math.max(storagePeak, storageNow)
  }

  def json(): String = {
    def attrs(m: Map[String, Double]) =
      m.map { case (k, v) => s""""$k":${num(v)}""" }.mkString("{", ",", "}")
    spans.asScala.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${Json.str(s.op)},"kind":"${s.kind}",""" +
        s""""name":${Json.str(s.name)},"start":${num(s.start)},"end":${num(s.end)},""" +
        s""""attrs":${attrs(s.attrs)}}"""
    }.mkString("[", ",\n", "]")
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}

/** Job, stage and task boundaries from the scheduler's listener bus. A
  * stage span's attrs hold the sums of its tasks' metrics; a task span is
  * not kept (only its stage's sums and the max/median task time). */
class JobListener extends SparkListener {
  import Trace._
  private val jobOf = mutable.Map[Int, (Long, String)]() // stageId -> (job span id, op)
  private val jobStart = mutable.Map[Int, (Long, String, Double, Int)]()
  private val taskMs = mutable.Map[(Int, Int), mutable.ArrayBuffer[Double]]()
  private val sums = mutable.Map[(Int, Int), mutable.Map[String, Double]]()

  private def opOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(OpProperty)))
      .orElse(Option(p).flatMap(x => Option(x.getProperty("streaming.sql.batchId")))
        .map(b => s"batch-$b"))
      .getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = if (on) synchronized {
    val id = newId()
    val op = opOf(e.properties)
    jobStart(e.jobId) = (id, op, e.time.toDouble, e.stageIds.size)
    e.stageIds.foreach(s => jobOf(s) = (id, op))
  }

  // Events arrive on the listener bus after the fact, so a job is traced
  // when it started while tracing was on, and its stages and tasks with it.
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (id, op, t0, nStages) =>
      val failed = if (e.jobResult == JobSucceeded) 0.0 else 1.0
      spans.add(Span(id, 0, op, "job", s"job-${e.jobId}", t0, e.time.toDouble,
        Map("stages" -> nStages.toDouble, "failed" -> failed)))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (jobOf.contains(e.stageId)) accumulate(e)
  }

  private def accumulate(e: SparkListenerTaskEnd): Unit = {
    val key = (e.stageId, e.stageAttemptId)
    val info = e.taskInfo
    val m = e.taskMetrics
    taskMs.getOrElseUpdate(key, mutable.ArrayBuffer()) += info.duration.toDouble
    val s = sums.getOrElseUpdate(key, mutable.Map[String, Double]().withDefaultValue(0.0))
    def acc(k: String, v: Double): Unit = s(k) = s(k) + v
    acc("tasks", 1)
    acc("task_ms", info.duration.toDouble)
    if (m != null) {
      val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - info.gettingResultTime
      acc("sched_delay_ms", math.max(0L, delay).toDouble)
      acc("run_ms", m.executorRunTime.toDouble)
      acc("cpu_ms", m.executorCpuTime / 1e6)
      acc("gc_ms", m.jvmGCTime.toDouble)
      acc("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      acc("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      acc("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
      acc("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      acc("scan_bytes", m.inputMetrics.bytesRead.toDouble)
      acc("scan_rows", m.inputMetrics.recordsRead.toDouble)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val key = (i.stageId, i.attemptNumber())
    val ms = taskMs.remove(key).map(_.sorted).getOrElse(mutable.ArrayBuffer[Double]())
    val s = sums.remove(key).map(_.toMap).getOrElse(Map.empty[String, Double])
    jobOf.remove(i.stageId).foreach { case (parent, op) =>
      val med = if (ms.isEmpty) 0.0 else ms(ms.size / 2)
      val skew = if (ms.size >= 2 && med > 0) ms.last / med else 1.0
      spans.add(Span(newId(), parent, op, "stage", s"stage-${i.stageId}",
        i.submissionTime.getOrElse(0L).toDouble, i.completionTime.getOrElse(0L).toDouble,
        s ++ Map("skew" -> skew, "failed" -> (if (i.failureReason.isDefined) 1.0 else 0.0))))
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) blockUpdated(b.blockId.name, b.memSize + b.diskSize)
  }
}

/** Catalyst phase times of every query execution. Registered through
  * `spark.sql.queryExecutionListeners`, so sessions the engine clones for
  * its plan scopes load it too. Callbacks arrive on the listener bus, not
  * the calling thread, so every plan span of a traced run is kept and tied
  * to its operation by time. Each phase's own interval is kept too
  * (`<phase>_t0`, `<phase>_t1`), so the driver time a plan explains is the
  * union of its phases, not the gaps between them. */
class PlanListener extends QueryExecutionListener {
  import Trace._
  private val phases = Seq("analysis" -> "analysis", "optimization" -> "optimization",
    "planning" -> "physical")
  private def record(funcName: String, qe: QueryExecution, failed: Boolean): Unit = {
    val ph = qe.tracker.phases
    val starts = ph.values.map(_.startTimeMs)
    val ends = ph.values.map(_.endTimeMs)
    val (t0, t1) = if (starts.isEmpty) (0.0, 0.0) else (starts.min.toDouble, ends.max.toDouble)
    val times = phases.flatMap { case (k, n) =>
      val p = ph.get(k)
      Seq(s"${n}_ms" -> p.map(_.durationMs.toDouble).getOrElse(0.0)) ++
        p.toSeq.flatMap(x => Seq(s"${n}_t0" -> x.startTimeMs.toDouble, s"${n}_t1" -> x.endTimeMs.toDouble))
    }
    spans.add(Span(newId(), 0, "", "plan", funcName, t0, t1,
      times.toMap + ("failed" -> (if (failed) 1.0 else 0.0))))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(funcName, qe, failed = false)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(funcName, qe, failed = true)
}

/** Micro-batch progress: trigger start and duration give each batch's end
  * time, which ends the latency of every event the batch emitted. */
class ProgressListener extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val durations = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    val endOffset = p.sources.headOption.flatMap(s => Option(s.endOffset))
      .flatMap(o => scala.util.Try(o.trim.toLong).toOption).getOrElse(-1L)
    val st = p.stateOperators.headOption
    Trace.progress.add(Trace.Progress(p.batchId, start,
      start + durations.getOrElse("triggerExecution", 0.0), endOffset, p.numInputRows,
      durations, st.map(_.numRowsTotal).getOrElse(0L), st.map(_.memoryUsedBytes).getOrElse(0L),
      st.map(_.commitTimeMs.toDouble).getOrElse(0.0),
      st.map(_.numRowsDroppedByWatermark).getOrElse(0L)))
  }
}

object Json {
  def str(s: String): String = {
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
