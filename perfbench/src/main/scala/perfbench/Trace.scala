package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkConf
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One interval on the run's timeline, in epoch microseconds. `layer`
  * names the module the time belongs to (see README.md); `attrs` carries
  * the counts measured at the same boundary. */
final case class Span(layer: String, name: String, startUs: Long, endUs: Long,
    attrs: Map[String, Double] = Map.empty) {
  def durUs: Long = endUs - startUs
}

/** In-memory span store shared by the harness and the listeners. Spark
  * instantiates the listeners itself (from the static confs), once per
  * context or session, so they all write here. Nothing is written out
  * until the run ends. */
object Trace {
  val spans = new ConcurrentLinkedQueue[Span]()

  // epoch-anchored monotonic clock: listener events carry epoch millis,
  // harness spans need sub-millisecond resolution
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L

  def add(s: Span): Unit = spans.add(s)
  def clear(): Unit = spans.clear()
  def snapshot(): Seq[Span] = spans.asScala.toSeq
}

/** Jobs, stages, tasks and block puts (registered via spark.extraListeners
  * in traced runs). Tasks are kept as zero-length spans at their finish
  * time, carrying their metrics; they are summed per gate, not swept. */
class JobTrace(conf: SparkConf) extends SparkListener {
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobStart.put(e.jobId, e.time)

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val t0 = Option(jobStart.remove(e.jobId)).getOrElse(e.time)
    Trace.add(Span("exec.job", s"job ${e.jobId}", t0 * 1000L, e.time * 1000L))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val end = i.completionTime.getOrElse(System.currentTimeMillis())
    Trace.add(Span("exec.stage", s"stage ${i.stageId}", end * 1000L, end * 1000L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val ti = e.taskInfo
    if (m == null || ti == null) return
    val wall = ti.finishTime - ti.launchTime
    val sched = wall - m.executorRunTime - m.executorDeserializeTime - m.resultSerializationTime
    val sr = m.shuffleReadMetrics
    val sw = m.shuffleWriteMetrics
    Trace.add(Span("exec.task", "", ti.finishTime * 1000L, ti.finishTime * 1000L, Map(
      "run_ms" -> m.executorRunTime.toDouble,
      "cpu_ns" -> m.executorCpuTime.toDouble,
      "sched_ms" -> math.max(0L, sched).toDouble,
      "shuffle_write_b" -> sw.bytesWritten.toDouble,
      "shuffle_read_b" -> (sr.remoteBytesRead + sr.localBytesRead).toDouble,
      "fetch_wait_ms" -> sr.fetchWaitTime.toDouble,
      "spill_b" -> (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble,
      "scan_rows" -> m.inputMetrics.recordsRead.toDouble,
      "scan_b" -> m.inputMetrics.bytesRead.toDouble)))
  }

  // bytes of every live persisted RDD block, so each update can carry the
  // running total (the storage peak is the largest total seen in a pass)
  private val live = new java.util.HashMap[String, Long]()
  private var liveBytes = 0L

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) {
      val bytes = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
      liveBytes += bytes - Option(live.put(b.blockId.name, bytes)).getOrElse(0L)
      val t = Trace.nowUs
      Trace.add(Span("cache.block", b.blockId.name, t, t, Map(
        "put" -> (if (bytes > 0) 1.0 else 0.0), "live_bytes" -> liveBytes.toDouble)))
    }
  }
}

/** Catalyst phases of every executed query (spark.sql.queryExecutionListeners).
  * One instance per session; all write to [[Trace]]. */
class PlanTrace extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val phases = Seq("analysis", "optimization", "planning").flatMap(p =>
      qe.tracker.phases.get(p).map(s =>
        Span(s"catalyst.$p", p, s.startTimeMs * 1000L, s.endTimeMs * 1000L)))
    phases.foreach(Trace.add)
    // the plan counts where its planning started (events arrive late)
    val t = phases.map(_.startUs).minOption.getOrElse(Trace.nowUs)
    Trace.add(Span("catalyst.plan", "plan", t, t))
  }
}

/** Micro-batch progress of every stream (spark.sql.streaming.streamingQueryListeners).
  * Registered in untraced runs too: the batch-time end-to-end metrics come
  * from here. A batch span starts at the progress timestamp and lasts
  * `triggerExecution`; its `durationMs` parts ride along as attributes. */
class StreamTrace(conf: SparkConf) extends StreamingQueryListener {
  def this() = this(null)
  import StreamingQueryListener._

  override def onQueryStarted(e: QueryStartedEvent): Unit = {
    val t = java.time.Instant.parse(e.timestamp).toEpochMilli * 1000L
    Trace.add(Span("streaming.query", Option(e.name).getOrElse(e.id.toString), t, t))
  }

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }
    val startUs = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
    val trigger = d.getOrElse("triggerExecution", 0.0)
    val ops = p.stateOperators.toSeq
    def sum(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long): Double =
      ops.map(o => f(o).toDouble).sum
    val attrs = d.toMap.map { case (k, v) => s"ms.$k" -> v } ++ Map(
      "input_rows" -> p.numInputRows.toDouble,
      "late_dropped_rows" -> sum(_.numRowsDroppedByWatermark),
      "state.instances" -> sum(_.numStateStoreInstances),
      "state.commit_ms" -> sum(_.commitTimeMs),
      "state.update_ms" -> sum(_.allUpdatesTimeMs),
      "state.removal_ms" -> sum(_.allRemovalsTimeMs),
      "state.rows" -> sum(_.numRowsTotal),
      "state.bytes" -> sum(_.memoryUsedBytes))
    Trace.add(Span("streaming.batch", s"${Option(p.name).getOrElse(p.id)}#${p.batchId}", startUs,
      startUs + (trigger * 1000).toLong, attrs))
  }

  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
}
