package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval: a name, wall-clock start and end (epoch µs), and
  * the span it belongs to (0 for a root).
  */
final case class Span(id: Long, parent: Long, name: String, startUs: Long, endUs: Long,
    attrs: Map[String, String] = Map.empty)

/** In-memory span store, written out once at the end of a traced run. */
final class Spans {
  private val seq = new AtomicLong(0L)
  private val buf = ArrayBuffer.empty[Span]
  def nextId(): Long = seq.incrementAndGet()
  def add(s: Span): Unit = synchronized { buf += s }
  def all: Seq[Span] = synchronized { buf.toList }
}

object Clock {
  def nowUs: Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }
}

/** Per-op attribution of Spark jobs, stages, tasks and planning phases.
  *
  * Ops are tagged with a job group (`op-<n>`), which jobs carry in their
  * properties, so every job, stage and task is charged to the op that ran
  * it, however late the listener bus delivers the event. Query executions
  * carry no job group; ops run one at a time, so an execution belongs to
  * the op whose build or timed call last started before its planning did.
  */
final class OpLedger(spans: Spans) extends SparkListener with QueryExecutionListener {
  final class OpStats {
    val jobs = new LongAdder; val stages = new LongAdder; val tasks = new LongAdder
    val runNs = new LongAdder; val shuffleRead = new LongAdder
    val shuffleWrite = new LongAdder; val spill = new LongAdder
    // Planning phases (ms) of the query executions inside the timed call.
    val analysisMs = new LongAdder; val optimizeMs = new LongAdder; val planMs = new LongAdder
    val buildJobs = new LongAdder
  }
  val ops = new ConcurrentHashMap[String, OpStats]()
  /** Start (epoch µs) of each op's build and timed call -> (group, is timed call). */
  private val starts = new java.util.concurrent.ConcurrentSkipListMap[Long, (String, Boolean)]()
  private val callStartMs = new ConcurrentHashMap[String, java.lang.Long]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobStartMs = new ConcurrentHashMap[Int, java.lang.Long]()
  /** Span ids of each op's build and timed call (job and plan spans hang off them). */
  private val opSpans = new ConcurrentHashMap[String, (Long, Long)]()

  def stats(group: String): OpStats = ops.computeIfAbsent(group, _ => new OpStats)
  def bindSpans(group: String, buildSpan: Long, callSpan: Long): Unit =
    opSpans.put(group, (buildSpan, callSpan))
  def buildStarted(group: String, atUs: Long): Unit = starts.put(atUs, (group, false))
  def callStarted(group: String, atUs: Long): Unit = {
    starts.put(atUs, (group, true)); callStartMs.put(group, atUs / 1000L)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.filter(_.startsWith("op-")).foreach { grp =>
      jobGroup.put(e.jobId, grp)
      jobStartMs.put(e.jobId, e.time)
      e.stageIds.foreach(stageGroup.put(_, grp))
      val s = stats(grp)
      s.jobs.increment()
      val call = callStartMs.get(grp)
      if (call == null || e.time < call) s.buildJobs.increment()
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val grp = jobGroup.get(e.jobId)
    if (grp != null) {
      val start: Long = jobStartMs.getOrDefault(e.jobId, e.time)
      val call = callStartMs.get(grp)
      val (build, exec) = opSpans.getOrDefault(grp, (0L, 0L))
      spans.add(Span(spans.nextId(), if (call == null || start < call) build else exec,
        s"job ${e.jobId}", start * 1000L, e.time * 1000L))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val grp = stageGroup.get(e.stageInfo.stageId)
    if (grp != null) stats(grp).stages.increment()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val grp = stageGroup.get(e.stageId)
    if (grp != null && e.taskMetrics != null) {
      val s = stats(grp); val m = e.taskMetrics
      s.tasks.increment()
      s.runNs.add(m.executorRunTime * 1000000L)
      s.shuffleRead.add(m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead)
      s.shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      s.spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  private def phases(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    if (ph.isEmpty) return
    // Phase times have ms resolution: look up the end of the start's ms.
    val startUs = ph.values.map(_.startTimeMs).min * 1000L + 999L
    Option(starts.floorEntry(startUs)).map(_.getValue).foreach {
      case (grp, true) =>
        val s = stats(grp)
        val end = ph.values.map(p => p.endTimeMs).max
        spans.add(Span(spans.nextId(), opSpans.getOrDefault(grp, (0L, 0L))._2, "plan",
          ph.values.map(_.startTimeMs).min * 1000L, end * 1000L))
        ph.get("analysis").foreach(p => s.analysisMs.add(p.durationMs))
        ph.get("optimization").foreach(p => s.optimizeMs.add(p.durationMs))
        ph.get("planning").foreach(p => s.planMs.add(p.durationMs))
      case _ => () // an eager action inside the builder: the build layer's cost
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
}
