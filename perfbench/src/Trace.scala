package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import scala.jdk.CollectionConverters._

/** One timed interval. Times are epoch milliseconds (fractional), the
  * clock Spark's listener events carry, so harness spans and engine
  * spans share one axis. `parent` is the id of the enclosing span
  * (0 = none); engine spans name the job group of the job they ran
  * for and are attached to it when the trace is written out.
  */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      start: Double, end: Double, group: String = "")

/** In-memory span recorder; nothing is written until the run ends. */
object Trace {
  @volatile var enabled = false
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  // epoch-ms at nanoTime 0: harness spans use nanoTime for precision
  private val originMs: Double =
    System.currentTimeMillis().toDouble - System.nanoTime() / 1e6

  val TracedGroup = "pbT-"
  val UntracedGroup = "pbU-"
  def traced(group: String): Boolean = group != null && group.startsWith(TracedGroup)

  def nowMs(): Double = originMs + System.nanoTime() / 1e6
  def nextId(): Long = ids.incrementAndGet()

  def record(s: Span): Unit = spans.add(s)

  /** Time `body` as a span under `parent` (recorded only while
    * enabled); the body receives the new span's id.
    */
  def span[T](parent: Long, kind: String, name: String, group: String = "")(
      body: Long => T): T = {
    val id = nextId()
    val on = enabled
    val t0 = nowMs()
    try body(id)
    finally if (on) record(Span(id, parent, kind, name, t0, nowMs(), group))
  }

  def all: Seq[Span] = spans.asScala.toSeq
}

/** Spark-runtime counters and stage spans ("engine" layer), kept per
  * stage and attributed to traced or untraced work when the run ends
  * (`tallies`): a stage counts as traced if its job group marks a traced
  * job or a traced write (`Trace.TracedGroup` prefix), or, when its group
  * is not one the benchmark sets (streaming micro-batches run under the
  * group Spark's stream execution sets), if it was submitted inside a
  * traced pass. Events that arrive late on the listener bus still land
  * on the right side.
  */
class EngineTap extends SparkListener {
  import EngineTap._
  private val stages = new ConcurrentHashMap[Int, StageRec]()

  private def rec(id: Int): StageRec =
    stages.computeIfAbsent(id, _ => new StageRec)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val r = rec(e.stageInfo.stageId)
    r.synchronized {
      r.submitMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()).toDouble
      r.group = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val r = rec(e.stageInfo.stageId)
    r.synchronized {
      e.stageInfo.completionTime.foreach(c => r.endMs = c.toDouble)
      if (r.submitMs < 0) e.stageInfo.submissionTime.foreach(s => r.submitMs = s.toDouble)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) {
      val m = e.taskMetrics
      val r = rec(e.stageId)
      r.synchronized {
        val c = r.counts
        c(0) += 1
        c(1) += m.executorRunTime
        c(2) += m.executorCpuTime
        c(3) += m.jvmGCTime
        c(4) += m.inputMetrics.bytesRead
        c(5) += m.inputMetrics.recordsRead
        c(6) += m.shuffleWriteMetrics.bytesWritten
        c(7) += m.shuffleReadMetrics.totalBytesRead
        c(8) += m.memoryBytesSpilled + m.diskBytesSpilled
        c(9) += m.outputMetrics.bytesWritten
        if (r.submitMs >= 0) c(10) += math.max(0L, e.taskInfo.launchTime - r.submitMs.toLong)
      }
    }

  private def tracedStages(inTraced: Double => Boolean): Seq[(Int, StageRec)] =
    stages.asScala.toSeq.sortBy(_._1).filter { case (_, r) =>
      r.synchronized {
        if (Trace.traced(r.group)) true
        else if (r.group.startsWith(Trace.UntracedGroup)) false
        else r.submitMs >= 0 && inTraced(r.submitMs)
      }
    }

  /** Counter totals over the traced stages: `stages` plus `Counters`. */
  def tallies(inTraced: Double => Boolean): Map[String, Long] = {
    val ts = tracedStages(inTraced)
    val sums = new Array[Long](Counters.length)
    ts.foreach { case (_, r) => r.synchronized {
      for (i <- sums.indices) sums(i) += r.counts(i)
    } }
    Counters.zip(sums).toMap + ("stages" -> ts.size.toLong)
  }

  /** Spans of the traced stages that completed. */
  def spans(inTraced: Double => Boolean): Seq[Span] =
    tracedStages(inTraced).flatMap { case (id, r) => r.synchronized {
      if (r.endMs < 0) None
      else Some(Span(Trace.nextId(), 0, "stage", s"stage $id", r.submitMs, r.endMs, r.group))
    } }
}

object EngineTap {
  val Counters: Seq[String] = Seq("tasks", "task_run_ms", "task_cpu_ns", "gc_ms",
    "input_bytes", "input_records", "shuffle_write_bytes", "shuffle_read_bytes",
    "spill_bytes", "output_bytes", "scheduler_wait_ms")

  final class StageRec {
    var group = ""
    var submitMs, endMs = -1.0
    val counts = new Array[Long](Counters.length)
  }
}

/** Micro-batch progress of every streaming query (registered through
  * `spark.sql.streaming.streamingQueryListeners`, the only registration
  * that reaches the child sessions the replays run in). Progress events
  * are kept and attributed by their trigger time when the run ends.
  */
class StreamTap extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit =
    StreamTap.progress.add(e.progress)
}

object StreamTap {
  val Durations: Seq[String] = Seq("addBatch", "walCommit", "commitOffsets",
    "queryPlanning", "latestOffset", "triggerExecution")
  private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()

  private def startMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble

  private def durationMs(p: StreamingQueryProgress, k: String): Long =
    Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)

  private def traced(inTraced: Double => Boolean): Seq[StreamingQueryProgress] =
    progress.asScala.toSeq.filter(p => inTraced(startMs(p)))

  /** Totals over the micro-batches that started inside a traced pass. */
  def tallies(inTraced: Double => Boolean): Map[String, Long] = {
    val ps = traced(inTraced)
    val ops = ps.flatMap(_.stateOperators)
    Map("batches" -> ps.size.toLong, "input_rows" -> ps.map(_.numInputRows).sum,
      "state_rows" -> ops.map(_.numRowsTotal).sum,
      "state_mem_bytes" -> ops.map(_.memoryUsedBytes).sum,
      "state_commit_ms" -> ops.map(_.commitTimeMs).sum) ++
      Durations.map(k => s"${k}_ms" -> ps.map(durationMs(_, k)).sum)
  }

  def spans(inTraced: Double => Boolean): Seq[Span] = traced(inTraced).map { p =>
    val s = startMs(p)
    Span(Trace.nextId(), 0, "batch", s"${p.name} #${p.batchId}", s,
      s + durationMs(p, "triggerExecution"))
  }
}
