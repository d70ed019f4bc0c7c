package perfbench

import java.util.Properties
import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around every call the harness makes into the program: name,
  * start, end, parent span and run id. Kept in memory and written out
  * once, at exit. A disabled tracer records nothing. */
final class Spans(runId: String, val enabled: Boolean) {
  private final class Span(val id: Int, val parent: Int, val name: String,
      val start: Long, var end: Long = -1L)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(spans.size, open.headOption.fold(-1)(_.id), name,
        System.nanoTime())
      spans += s
      open = s :: open
      try body
      finally { s.end = System.nanoTime(); open = open.tail }
    }

  def json: String = Json(Map("run_id" -> runId, "unit" -> "ns",
    "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
      "name" -> s.name, "start" -> s.start, "end" -> s.end))))
}

/** Counters of one label (a key, a twin, or a streaming query). */
final case class Counters(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    taskMs: Long = 0, shuffleWrite: Long = 0, shuffleRead: Long = 0,
    spill: Long = 0, input: Long = 0, output: Long = 0) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, taskMs - o.taskMs, shuffleWrite - o.shuffleWrite,
    shuffleRead - o.shuffleRead, spill - o.spill, input - o.input,
    output - o.output)
  def +(o: Counters): Counters = Counters(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, taskMs + o.taskMs, shuffleWrite + o.shuffleWrite,
    shuffleRead + o.shuffleRead, spill + o.spill, input + o.input,
    output + o.output)
}

/** One executed query plan: its Catalyst phases and its run time. */
final case class PlanRecord(startMs: Long, analysisMs: Long,
    optimizerMs: Long, planningMs: Long, runMs: Double)

/** The traced run's listeners. Scheduler work is attributed to the label
  * in the [[Layers.LabelProp]] local property, or to the streaming query
  * that ran it; plans are kept with their start time so a pass can claim
  * the ones that started inside it. */
final class Layers extends SparkListener with QueryExecutionListener {
  private val counters = mutable.Map.empty[String, Counters]
  private val stageLabel = mutable.Map.empty[Int, String]
  private val plans = mutable.ArrayBuffer.empty[PlanRecord]
  private val streamNames = mutable.Map.empty[String, String]
  private val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]

  def nameStream(queryId: String, name: String): Unit =
    synchronized { streamNames(queryId) = name }

  private def label(p: Properties): String =
    if (p == null) Layers.Other
    else Option(p.getProperty("sql.streaming.queryId"))
      .map(id => streamNames.getOrElse(id, "stream"))
      .orElse(Option(p.getProperty(Layers.LabelProp)))
      .getOrElse(Layers.Other)

  private def add(l: String)(f: Counters => Counters): Unit =
    counters(l) = f(counters.getOrElse(l, Counters()))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val l = label(e.properties)
    e.stageIds.foreach(stageLabel(_) = l)
    add(l)(c => c.copy(jobs = c.jobs + 1))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      add(stageLabel.getOrElse(e.stageInfo.stageId, Layers.Other))(c =>
        c.copy(stages = c.stages + 1))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null)
      add(stageLabel.getOrElse(e.stageId, Layers.Other))(c => c.copy(
        tasks = c.tasks + 1,
        taskMs = c.taskMs + m.executorRunTime,
        shuffleWrite = c.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
        shuffleRead = c.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
        spill = c.spill + m.memoryBytesSpilled + m.diskBytesSpilled,
        input = c.input + m.inputMetrics.bytesRead,
        output = c.output + m.outputMetrics.bytesWritten))
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).fold(0L)(_.durationMs)
    val start = if (ph.isEmpty) System.currentTimeMillis()
      else ph.values.map(_.startTimeMs).min
    val r = PlanRecord(start, ms("analysis"), ms("optimization"),
      ms("planning"), durationNs / 1e6)
    synchronized { plans += r }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  /** Cumulative counters per label. */
  def snapshot(): Map[String, Counters] = synchronized { counters.toMap }

  def plansBetween(fromMs: Long, toMs: Long): Seq[PlanRecord] =
    synchronized { plans.filter(p => p.startMs >= fromMs && p.startMs <= toMs).toSeq }

  def progressOf(name: String): Seq[StreamingQueryProgress] =
    synchronized { progress.filter(_.name == name).toSeq }

  def clearProgress(): Unit = synchronized { progress.clear() }

  /** Streaming progress arrives on the same bus. */
  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Layers.this.synchronized { progress += e.progress }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
}

object Layers {
  val LabelProp = "perfbench.label"
  val Other = "other"

  def total(m: Map[String, Counters]): Counters =
    m.valuesIterator.foldLeft(Counters())(_ + _)

  def diff(after: Map[String, Counters], before: Map[String, Counters])
      : Map[String, Counters] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, Counters())) }
}
