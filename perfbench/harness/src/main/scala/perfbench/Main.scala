package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession
import graft.GraftSession

/** Command line of the harness; `run.py` builds it. */
final case class Args(workload: String, seed: Long, seconds: Double,
    trace: Boolean, cores: Int, fixture: String, work: String,
    out: String, spansOut: String, deadlineMs: Long)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    def get(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toDouble,
      get("trace") == "1", get("cores").toInt, get("fixture"), get("work"),
      get("out"), get("spans"), get("deadline-ms").toLong)
  }
}

/** What one measured phase (traced or not) of a workload reports. */
final case class Phase(coldPassS: Double, warmPassS: Double,
    callMs: Seq[Double], peakHeapMb: Double, layers: Map[String, Double],
    extra: Map[String, Double])

/** One failed or incorrect unit of work, by key (or stream query). */
final case class Failure(what: String, pass: Int, error: String)

/** The pass loop both workloads share. */
object Passes {
  /** Warm passes a measured run always makes. Two, because a full set of
    * runs of both workloads with a third would not end within the time
    * the benchmark is given. */
  val MinWarm = 2
  val MaxWarm = 12

  /** A cold pass, then warm passes until `budgetS` is spent and at least
    * `minWarm` have run. Past the first warm pass, a pass that would end
    * after `deadlineMs`, by the last pass's length, is not started, so a
    * slowed host shortens the run instead of overrunning it. Returns the
    * passes and the largest heap left after a collection while they ran. */
  def run[P](budgetS: Double, deadlineMs: Long, minWarm: Int)(pass: Int => P)
      : (Seq[P], Double) = {
    val t0 = System.nanoTime()
    val passes = mutable.ArrayBuffer.empty[P]
    var lastMs = 0.0
    HeapPeak.reset()
    while (passes.size < 2 || (passes.size < 1 + MaxWarm &&
        (passes.size < 1 + minWarm || (System.nanoTime() - t0) / 1e9 < budgetS) &&
        System.currentTimeMillis() + lastMs < deadlineMs)) {
      val s = System.currentTimeMillis()
      passes += pass(passes.size)
      lastMs = (System.currentTimeMillis() - s).toDouble
    }
    (passes.toSeq, HeapPeak.peakMb())
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of the samples; NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Cumulative collector time (s) and count. */
  def gc(): (Double, Long) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionTime).filter(_ > 0).sum / 1e3,
      beans.map(_.getCollectionCount).filter(_ > 0).sum)
  }
}

/** The largest heap in use right after a collection, over a window: a
  * listener on every collector sums the heap pools' usage after each
  * collection, young ones included, and keeps the maximum. So memory a
  * call holds while it runs shows whenever a collection finds it live. */
object HeapPeak {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  @volatile private var peak = 0L

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
          case (pool, u) if heapPools(pool) => u.getUsed }.sum
        HeapPeak.synchronized { peak = math.max(peak, used) }
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ => ()
  }

  def reset(): Unit = synchronized { peak = 0L }

  /** The peak since [[reset]], in MB. With no collection since then, the
    * heap left by the last one (each pool's collection usage). */
  def peakMb(): Double = synchronized {
    val p = if (peak > 0) peak else
      ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == MemoryType.HEAP)
        .flatMap(m => Option(m.getCollectionUsage)).map(_.getUsed).sum
    p / 1e6
  }
}

/** The benchmark harness: sets up a session three times, runs one
  * workload's measured phases, checks outputs it can check in-process,
  * and writes one result document for `run.py`. All load comes from
  * this one thread. */
object Main {
  val SetupRounds = 3

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val runId = s"${a.workload}-s${a.seed}-${ProcessHandle.current().pid()}"
    val spans = new Spans(runId, a.trace)
    val result = spans("run") {
      val setups = (1 to SetupRounds).map { i =>
        spans(s"setup.$i")(setup(a, if (i == 1) Some(jvmStartMs) else None))
      }
      val spark = setups.last.spark
      val workload = a.workload match {
        case "curate" => new KeyWorkload(spark, a, spans, KeyWorkload.Curate,
          twins = false, alsoVerify = KeyWorkload.CuratePairs)
        case "cdc_stream" => new StreamWorkload(spark, a, spans)
        case other => sys.error(s"unknown workload $other")
      }
      // A traced run measures twice, untraced then traced, each with one
      // warm pass at least, to report the tracing overhead.
      val half = System.currentTimeMillis() + (a.deadlineMs - System.currentTimeMillis()) / 2
      val untraced = spans("phase.untraced") {
        if (a.trace) workload.measure(a.seconds / 2, None, a.fixture, half, 1)
        else workload.measure(a.seconds, None, a.fixture, a.deadlineMs, Passes.MinWarm)
      }
      val traced = if (!a.trace) None else {
        val layers = new Layers
        spark.sparkContext.addSparkListener(layers)
        spark.listenerManager.register(layers)
        spark.streams.addListener(layers.streams)
        // Stores are named after the fixture path: a copy of the fixture
        // gives the traced half empty stores, so it has a cold pass too.
        val copy = s"${a.work}/fixture-traced"
        copyDir(a.fixture, copy)
        Some(spans("phase.traced")(
          workload.measure(a.seconds / 2, Some(layers), copy, a.deadlineMs, 1)))
      }
      val check = spans("verify")(workload.verify())
      def setupMedian(f: Setup => Double) = Stats.median(setups.map(f))
      val e2e = Map(
        "setup_s" -> setupMedian(_.totalS),
        "cold_pass_s" -> untraced.coldPassS,
        "warm_pass_s" -> untraced.warmPassS,
        "batch_p50_ms" -> Stats.quantile(untraced.callMs, 0.5),
        "batch_p90_ms" -> Stats.quantile(untraced.callMs, 0.9),
        "peak_heap_mb" -> untraced.peakHeapMb)
      val metrics = traced match {
        case None => e2e
        case Some(t) =>
          val te2e = Map(
            "cold_pass_s" -> t.coldPassS, "warm_pass_s" -> t.warmPassS,
            "batch_p50_ms" -> Stats.quantile(t.callMs, 0.5),
            "batch_p90_ms" -> Stats.quantile(t.callMs, 0.9),
            "peak_heap_mb" -> t.peakHeapMb)
          t.layers ++ Map(
            "session.first_setup_s" -> setups.head.totalS,
            "session.build_s" -> setupMedian(_.buildS),
            "session.install_ms" -> setupMedian(_.installMs),
            "session.warmup_s" -> setupMedian(_.warmupS)) ++
            te2e.map { case (k, v) => s"trace.overhead.$k" -> (v - e2e(k)) }
      }
      spark.stop()
      Map("workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
        "cores" -> a.cores,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1e6,
        "setups_s" -> setups.map(_.totalS),
        "metrics" -> metrics,
        "untraced" -> e2e,
        "extra" -> (untraced.extra ++ traced.fold(Map.empty[String, Double])(_.extra)),
        "attempted" -> workload.attempted,
        "failed_units" -> workload.failedUnits,
        "failures" -> workload.failures.map(f =>
          Map("what" -> f.what, "pass" -> f.pass, "error" -> f.error)),
        "calls_per_key" -> workload.callsPerKey,
        "check" -> check)
    }
    write(a.out, Json(result))
    if (a.trace) write(a.spansOut, spans.json)
  }

  private def copyDir(from: String, to: String): Unit = {
    val dst = java.nio.file.Paths.get(to)
    java.nio.file.Files.createDirectories(dst)
    Option(new java.io.File(from).listFiles()).toSeq.flatten.foreach(f =>
      java.nio.file.Files.copy(f.toPath, dst.resolve(f.getName)))
  }

  private def write(path: String, s: String): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  final case class Setup(spark: SparkSession, totalS: Double, buildS: Double,
      installMs: Double, warmupS: Double)

  /** One set-up: session built, engine installed, warm-up job done. The
    * first counts from JVM start; later ones stop the previous session
    * and build a new one, so work moved into set-up shows in every one. */
  def setup(a: Args, jvmStartMs: Option[Long]): Setup = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val t1 = System.nanoTime()
    GraftSession.install(spark)
    val t2 = System.nanoTime()
    spark.range(1000000L).selectExpr("sum(id)").collect()
    val t3 = System.nanoTime()
    val total = jvmStartMs.fold((t3 - t0) / 1e9)(ms =>
      (System.currentTimeMillis() - ms) / 1e3)
    Setup(spark, total, (t1 - t0) / 1e9, (t2 - t1) / 1e6, (t3 - t2) / 1e9)
  }
}

/** A workload the harness can measure and check. */
trait Workload {
  /** [[Passes.run]] over `fixture`; traced when `layers` is given. */
  def measure(budgetS: Double, layers: Option[Layers], fixture: String,
      deadlineMs: Long, minWarm: Int): Phase
  /** Checks outside the timed window; returns what run.py still checks. */
  def verify(): Map[String, Any]
  /** Timed units (key calls or micro-batches) run. */
  def attempted: Long
  /** Units that threw, or whose output the harness found wrong. */
  def failedUnits: Long
  def failures: Seq[Failure]
  def callsPerKey: Map[String, Long]
}
