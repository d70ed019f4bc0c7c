package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.io.Sinks
import graft.streaming.{Apply, Event, Streams, Validate}

/** One message of the generated pgshovel-shaped log, in arrival order.
  * Brackets (begin/commit/rollback) carry no row: user_id = event_id = -1. */
final case class LogRec(arrival: Long, publisher: String, seq: Long,
    op: String, user_id: Long, event_id: Long, ts: java.sql.Timestamp,
    event_type: String, value: Double)

/** cdc_stream: the log goes through one MemoryStream into three stateful
  * queries (Validate FSM, Apply op derivation, LWW compaction), each
  * writing through the idempotent epoch sink over RocksDB state. One
  * client, closed loop: batch i+1 is added only after every sink has
  * committed batch i, as a PgQ consumer calls next_batch only after
  * finish_batch. Every pass starts fresh queries over fresh checkpoints
  * and replays the whole log; it then rebuilds the same history in one
  * shot with the batch twins and the [[KeyWorkload.Replay]] keys over the
  * log's `events.parquet`. */
final class StreamWorkload(spark: SparkSession, a: Args, spans: Spans)
    extends Workload {
  import spark.implicits._
  import StreamWorkload._

  // One state partition per query: the three queries already run side by
  // side, and at this batch size a state partition per core only adds
  // per-partition commit work to every batch.
  spark.conf.set("spark.sql.shuffle.partitions", "1")

  private val log: Array[LogRec] = spark.read.parquet(s"${a.fixture}/log.parquet")
    .as[LogRec].collect().sortBy(_.arrival)
  private val batches: Seq[Array[LogRec]] = {
    val size = math.ceil(log.length.toDouble / Batches).toInt
    log.grouped(size).toSeq
  }
  private val muts = log.filter(_.op == "mutation")

  private val replay = new KeyWorkload(spark, a, spans, KeyWorkload.Replay, twins = true)

  private var nAttempted = 0L
  private val failed = mutable.ArrayBuffer.empty[Failure]
  private var nFailed = 0L
  def attempted: Long = nAttempted + replay.attempted
  def failedUnits: Long = nFailed + replay.failedUnits
  def failures: Seq[Failure] = failed.toSeq ++ replay.failures
  def callsPerKey: Map[String, Long] = replay.callsPerKey + ("batch" -> nAttempted)

  /** What each query's sink must hold after the pass, epoch by epoch:
    * the plain-Scala folds over the same batches. */
  private lazy val expected: Map[String, Seq[String]] = {
    val vs = mutable.Map.empty[String, Validate.TxnState]
    val as = mutable.Map.empty[Long, Apply.KeyState]
    val cs = mutable.Map.empty[Long, Event]
    val out = Map("validate" -> mutable.ArrayBuffer.empty[String],
      "apply" -> mutable.ArrayBuffer.empty[String],
      "compact" -> mutable.ArrayBuffer.empty[String])
    for ((b, epoch) <- batches.zipWithIndex) {
      b.groupBy(_.publisher).foreach { case (p, ms) =>
        val (st, v) = Validate.run(ms.map(msg).sortBy(_.seq).iterator,
          vs.getOrElse(p, Validate.initialState))
        vs(p) = st
        out("validate") ++= v.map(fmt(epoch, _))
      }
      val bm = b.filter(_.op == "mutation")
      bm.groupBy(_.user_id).foreach { case (k, ms) =>
        val (st, ops) = Apply.run(ms.map(mutation).sortBy(_.event_id).iterator,
          as.getOrElse(k, Apply.initialState))
        as(k) = st
        out("apply") ++= ops.map(fmt(epoch, _))
        val w = (cs.get(k).iterator ++ ms.iterator.map(event))
          .maxBy(e => (e.ts.getTime, e.event_id))
        cs(k) = w
        out("compact") += fmt(epoch, w)
      }
    }
    out.map { case (k, v) => k -> v.sorted.toSeq }
  }

  /** One pass: the stream's batch latencies and its time from first add
    * to last commit, then the replay's calls; `wallS` covers both. */
  private case class Pass(latMs: Seq[Double], streamS: Double, wallS: Double,
      startMs: Long, streamEndMs: Long, endMs: Long, ok: Boolean,
      counters: Counters, gc: (Double, Long), replayed: replay.Pass)

  private def counters(layers: Option[Layers]): Counters =
    layers.fold(Counters()) { l =>
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      Layers.total(l.snapshot())
    }

  private var passDirs = 0

  private def pass(i: Int, layers: Option[Layers]): Pass = spans(s"pass.$i") {
    passDirs += 1
    val dir = s"${a.work}/stream/$passDirs"
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // A MemoryStream forgets a batch once one reader commits it, so each
    // query reads its own stream; every batch is added to all three.
    val mems = Seq.fill(3)(MemoryStream[LogRec])
    def mutations(i: Int) = mems(i).toDS().filter(_.op == "mutation")
    def start(name: String, ds: Dataset[Row], mode: String): StreamingQuery = {
      val q = Sinks.epochParquetSink(ds, s"$dir/$name", s"$dir/ckpt-$name")
        .outputMode(mode).queryName(name)
        .trigger(Trigger.ProcessingTime(0L))
        .start()
      layers.foreach(_.nameStream(q.id.toString, name))
      q
    }
    val c0 = counters(layers)
    val gc0 = Stats.gc()
    spark.sparkContext.setLocalProperty(Layers.LabelProp, "stream")
    val queries = Seq(
      start("validate", Validate.validateStream(mems(0).toDS().map(msg)).toDF(), "append"),
      start("apply", Apply.deriveStream(mutations(1).map(mutation)).toDF(), "append"),
      start("compact", Streams.compactStream(mutations(2).map(event)).toDF(), "update"))
    spark.sparkContext.setLocalProperty(Layers.LabelProp, null)
    val lat = mutable.ArrayBuffer.empty[Double]
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var error: Option[String] = None
    try {
      batches.zipWithIndex.foreach { case (b, j) =>
        if (error.isEmpty) spans(s"batch.$j") {
          nAttempted += 1
          val s = System.nanoTime()
          try {
            mems.foreach(_.addData(b.toSeq))
            queries.foreach(_.processAllAvailable())
            lat += (System.nanoTime() - s) / 1e6
          } catch { case NonFatal(e) =>
            error = Some(e.getClass.getName)
            nFailed += 1
            failed += Failure("batch", i, e.getClass.getName)
          }
        }
      }
    } finally queries.foreach(q => try q.stop() catch { case NonFatal(_) => () })
    val streamS = (System.nanoTime() - t0) / 1e9
    val streamEndMs = System.currentTimeMillis()
    val replayed = spans("replay")(replay.pass(i, layers))
    val wall = (System.nanoTime() - t0) / 1e9
    val endMs = System.currentTimeMillis()
    val gc1 = Stats.gc()
    val c1 = counters(layers)
    val mismatch = if (error.isDefined) Nil else spans("check")(check(dir))
    mismatch.foreach { case (what, msg) => failed += Failure(what, i, msg) }
    if (mismatch.nonEmpty) { mismatches ++= mismatch; nFailed += lat.size }
    Pass(lat.toSeq, streamS, wall, startMs, streamEndMs, endMs,
      error.isEmpty && mismatch.isEmpty && replayed.ok,
      c1 - c0, (gc1._1 - gc0._1, gc1._2 - gc0._2), replayed)
  }

  private val mismatches = mutable.ArrayBuffer.empty[(String, String)]

  /** Sink contents against [[expected]], as epoch-tagged rows. */
  private def check(dir: String): Seq[(String, String)] =
    Seq("validate", "apply", "compact").flatMap { name =>
      val want = expected(name)
      try {
        val df = spark.read.parquet(s"$dir/$name")
        val cols = df.columns.filter(_ != "epoch")
        val got = df.select("epoch", cols.toSeq: _*).collect().toSeq
          .map(r => r.toSeq.map(cell).mkString("|")).sorted
        if (got == want) None
        else Some(name -> (s"${got.size} rows vs ${want.size} from the plain fold; first difference: " +
          got.diff(want).headOption.orElse(want.diff(got).headOption).getOrElse("order")))
      } catch { case NonFatal(e) => Some(name -> e.getClass.getName) }
    }

  def measure(budgetS: Double, layers: Option[Layers], fixture: String,
      deadlineMs: Long, minWarm: Int): Phase = {
    layers.foreach(_.clearProgress())
    replay.fixture = fixture
    val (passes, heap) = Passes.run(budgetS, deadlineMs, minWarm)(pass(_, layers))
    val warm = passes.tail.filter(_.ok)
    val layerMetrics = layers.fold(Map.empty[String, Double]) { l =>
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      streamLayers(l, warm) ++ replay.callMetrics(passes.head.replayed, warm.map(_.replayed))
    }
    Phase(if (passes.head.ok) passes.head.wallS else Double.NaN,
      Stats.median(warm.map(_.wallS)), warm.flatMap(_.latMs), heap,
      layerMetrics,
      Map("events_per_s" -> log.length / Stats.median(warm.map(_.streamS)),
        "warm_passes" -> warm.size.toDouble))
  }

  private def streamLayers(l: Layers, warm: Seq[Pass]): Map[String, Double] = {
    def inWarm(startMs: Long) = warm.exists(p => startMs >= p.startMs && startMs <= p.endMs)
    val perQuery = Seq("validate", "apply", "compact").flatMap { name =>
      val ps = l.progressOf(name).filter(p =>
        inWarm(java.time.Instant.parse(p.timestamp).toEpochMilli))
      def dur(k: String) = ps.map(p => Option(p.durationMs.get(k)).fold(0.0)(_.doubleValue))
      val state = ps.flatMap(_.stateOperators.headOption)
      Seq(s"streaming.$name.batch_ms" -> Stats.median(dur("triggerExecution")),
        s"streaming.$name.state_rows" -> state.lastOption.fold(0.0)(_.numRowsTotal.toDouble),
        s"streaming.$name.state_bytes" -> state.lastOption.fold(0.0)(_.memoryUsedBytes.toDouble),
        s"streaming.$name.state_commit_ms" -> Stats.median(state.map(_.commitTimeMs.toDouble)),
        s"$name.planning_ms" -> Stats.median(dur("queryPlanning")),
        s"$name.wal_ms" -> Stats.median(dur("walCommit").zip(dur("commitOffsets")).map(t => t._1 + t._2)))
    }.toMap
    def med(f: Pass => Double) = Stats.median(warm.map(f))
    def plans(p: Pass) = l.plansBetween(p.startMs, p.endMs)
    Map(
      "streaming.planning_ms" -> Seq("validate", "apply", "compact").map(n => perQuery(s"$n.planning_ms")).sum,
      "streaming.wal_ms" -> Seq("validate", "apply", "compact").map(n => perQuery(s"$n.wal_ms")).sum,
      "streaming.fold_events_per_s" -> foldEventsPerS(),
      "io.sink_write_ms" -> Stats.median(warm.flatMap(p =>
        l.plansBetween(p.startMs, p.streamEndMs)).map(_.runMs)),
      "catalyst.analysis_ms" -> med(plans(_).map(_.analysisMs).sum.toDouble),
      "catalyst.optimizer_ms" -> med(plans(_).map(_.optimizerMs).sum.toDouble),
      "catalyst.planning_ms" -> med(plans(_).map(_.planningMs).sum.toDouble),
      "scheduler.jobs" -> med(_.counters.jobs.toDouble),
      "scheduler.stages" -> med(_.counters.stages.toDouble),
      "scheduler.tasks" -> med(_.counters.tasks.toDouble),
      "scheduler.task_s" -> med(_.counters.taskMs / 1e3),
      "scheduler.parallel_eff" -> med(p => p.counters.taskMs / 1e3 / (p.wallS * a.cores)),
      "shuffle.write_bytes" -> med(_.counters.shuffleWrite.toDouble),
      "shuffle.read_bytes" -> med(_.counters.shuffleRead.toDouble),
      "shuffle.spill_bytes" -> med(_.counters.spill.toDouble),
      "io.input_bytes" -> med(_.counters.input.toDouble),
      "io.sink_bytes" -> med(_.counters.output.toDouble),
      "jvm.gc_s" -> med(_.gc._1), "jvm.gc_count" -> med(_.gc._2.toDouble),
    ) ++ perQuery.filter(_._1.startsWith("streaming."))
  }

  /** The stream sheet's single-thread baseline: the same three folds in
    * plain Scala over the whole log, no Spark. Median of five. */
  private def foldEventsPerS(): Double = Stats.median((1 to 5).map { _ =>
    val t0 = System.nanoTime()
    log.groupBy(_.publisher).foreach { case (_, ms) => Validate.run(ms.iterator.map(msg)) }
    muts.groupBy(_.user_id).foreach { case (_, ms) =>
      Apply.run(ms.iterator.map(mutation))
      ms.iterator.map(event).maxBy(e => (e.ts.getTime, e.event_id))
    }
    log.length / ((System.nanoTime() - t0) / 1e9)
  })

  /** The replay's key rows for the oracle and its twin checks; the
    * stream was checked pass by pass. */
  def verify(): Map[String, Any] = {
    val replayed = spans("replay")(replay.verify())
    replayed + ("mismatches" -> (mismatches.toMap ++ replay.mismatches))
  }
}

object StreamWorkload {
  val Batches = 12

  def msg(r: LogRec): Validate.Msg = Validate.Msg(r.publisher, r.seq, r.op)
  def mutation(r: LogRec): Apply.Mutation =
    Apply.Mutation(r.user_id, r.event_id, r.event_type, r.value)
  def event(r: LogRec): Event = Event(r.event_id, r.ts, r.user_id, r.event_type, r.value)

  def cell(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => cell(x)
    case t: java.sql.Timestamp => t.toInstant.toString
    case other => other.toString
  }

  def fmt(epoch: Int, p: Product): String =
    (epoch +: p.productIterator.toSeq).map(cell).mkString("|")
}
