package perfbench

import java.io.File
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.SparkEntry
import graft.streaming.{Apply, Validate}

/** curate, and the replay half of cdc_stream: passes over a fixed list of
  * query keys, each call timed as `SparkEntry.queries(k)(spark, dir).count()`,
  * and optionally the batch twins `Validate.validateBatch` and
  * `Apply.deriveBatch` over the fixture's log. The first pass of a phase
  * finds no stores for its fixture (cold); later passes reuse what it
  * published (warm). */
final class KeyWorkload(spark: SparkSession, a: Args, spans: Spans,
    keys: Seq[String], twins: Boolean, alsoVerify: Seq[String] = Nil)
    extends Workload {
  import spark.implicits._
  import KeyWorkload._

  private val queries = SparkEntry.queries
  private val missing = (keys ++ alsoVerify).filterNot(queries.contains)
  require(missing.isEmpty, s"unknown keys: $missing")

  /** The fixture the calls read; each measured phase sets it. */
  private[perfbench] var fixture = a.fixture

  /** Every timed unit: label → the call whose result is counted. */
  private val calls: Seq[(String, () => DataFrame)] =
    keys.map(k => k -> (() => queries(k)(spark, fixture))) ++
      (if (!twins) Nil else Seq(
        TwinValidate -> (() => Validate.validateBatch(logMsgs()).toDF()),
        TwinApply -> (() => Apply.deriveBatch(mutations()).toDF())))

  private def logMsgs() = spark.read.parquet(s"$fixture/log.parquet")
    .select("publisher", "seq", "op").as[Validate.Msg]
  private def mutations() = spark.read.parquet(s"$fixture/events.parquet")
    .select("user_id", "event_id", "event_type", "value").as[Apply.Mutation]

  private val storeRoots = Seq("SPARK_GRAFT_SIG_STORE", "SPARK_GRAFT_PQ_STORE",
    "SPARK_GRAFT_CDC_STORE").map(v => new File(sys.env.getOrElse(v,
      sys.error(s"$v must point into the run's own directory"))))

  private var nAttempted = 0L
  private val failed = mutable.ArrayBuffer.empty[Failure]
  private val perKey = mutable.Map.empty[String, Long].withDefaultValue(0L)
  def attempted: Long = nAttempted
  def failedUnits: Long = failed.size.toLong + twinMismatches.keys.toSeq.map(perKey).sum
  def failures: Seq[Failure] = failed.toSeq
  def callsPerKey: Map[String, Long] = perKey.toMap

  /** One pass's outcome: per-call seconds (None = failed) and, when
    * traced, the store entries each call published. */
  private[perfbench] case class Pass(secs: Seq[(String, Option[Double])],
      built: Map[String, (Int, Long)], startMs: Long, endMs: Long,
      counters: Map[String, Counters], gc: (Double, Long)) {
    def ok: Boolean = secs.forall(_._2.isDefined)
    def total: Double = secs.flatMap(_._2).sum
  }

  private def storeEntries(): Map[String, Long] =
    storeRoots.flatMap(r => Option(r.listFiles()).toSeq.flatten)
      .filter(f => f.isDirectory && !f.getName.contains(".tmp-"))
      .map(f => f.getPath -> du(f)).toMap

  private[perfbench] def pass(i: Int, layers: Option[Layers]): Pass = {
    val before = layers.map(_ => snapshot(layers))
    val gc0 = Stats.gc()
    val startMs = System.currentTimeMillis()
    val built = mutable.Map.empty[String, (Int, Long)]
    val secs = calls.map { case (label, call) =>
      val stores0 = if (layers.isDefined) storeEntries() else Map.empty[String, Long]
      spark.sparkContext.setLocalProperty(Layers.LabelProp, label)
      nAttempted += 1
      perKey(label) += 1
      val t0 = System.nanoTime()
      val r = try spans(label) { call().count(); None }
        catch { case NonFatal(e) => Some(e.getClass.getName) }
      val dt = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.setLocalProperty(Layers.LabelProp, null)
      r.foreach(err => failed += Failure(label, i, err))
      if (layers.isDefined) {
        val fresh = storeEntries() -- stores0.keySet
        if (fresh.nonEmpty) built(label) = (fresh.size, fresh.values.sum)
      }
      label -> (if (r.isEmpty) Some(dt) else None)
    }
    val endMs = System.currentTimeMillis()
    val gc1 = Stats.gc()
    val after = snapshot(layers)
    Pass(secs, built.toMap, startMs, endMs,
      before.fold(Map.empty[String, Counters])(b => Layers.diff(after, b)),
      (gc1._1 - gc0._1, gc1._2 - gc0._2))
  }

  private def snapshot(layers: Option[Layers]): Map[String, Counters] =
    layers.fold(Map.empty[String, Counters]) { l =>
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      l.snapshot()
    }

  def measure(budgetS: Double, layers: Option[Layers], fixture: String,
      deadlineMs: Long, minWarm: Int): Phase = {
    this.fixture = fixture
    val (passes, heap) = Passes.run(budgetS, deadlineMs, minWarm)(i =>
      spans(s"pass.$i")(pass(i, layers)))
    val cold = passes.head
    val warm = passes.tail.filter(_.ok)
    // A call's latency is taken per key (median over the warm passes), so
    // the percentiles weigh every key once instead of falling between
    // the clusters of unlike keys.
    val perKeyMs = calls.map { case (label, _) =>
      Stats.median(warm.flatMap(_.secs.toMap.apply(label))) * 1e3 }
    Phase(if (cold.ok) cold.total else Double.NaN,
      Stats.median(warm.map(_.total)), if (warm.isEmpty) Nil else perKeyMs,
      heap, layers.fold(Map.empty[String, Double])(l =>
        layerMetrics(l, warm) ++ callMetrics(cold, warm)),
      Map("warm_passes" -> warm.size.toDouble))
  }

  /** Scheduler, Catalyst, shuffle, I/O and GC metrics: medians over the
    * warm passes. */
  private def layerMetrics(l: Layers, warm: Seq[Pass]): Map[String, Double] = {
    def med(f: Pass => Double) = Stats.median(warm.map(f))
    def plans(p: Pass) = l.plansBetween(p.startMs, p.endMs)
    def tot(p: Pass) = Layers.total(p.counters)
    Map(
      "catalyst.analysis_ms" -> med(plans(_).map(_.analysisMs).sum.toDouble),
      "catalyst.optimizer_ms" -> med(plans(_).map(_.optimizerMs).sum.toDouble),
      "catalyst.planning_ms" -> med(plans(_).map(_.planningMs).sum.toDouble),
      "scheduler.jobs" -> med(tot(_).jobs.toDouble),
      "scheduler.stages" -> med(tot(_).stages.toDouble),
      "scheduler.tasks" -> med(tot(_).tasks.toDouble),
      "scheduler.task_s" -> med(tot(_).taskMs / 1e3),
      "scheduler.parallel_eff" -> med(p =>
        tot(p).taskMs / ((p.endMs - p.startMs).max(1L) * a.cores.toDouble)),
      "shuffle.write_bytes" -> med(tot(_).shuffleWrite.toDouble),
      "shuffle.read_bytes" -> med(tot(_).shuffleRead.toDouble),
      "shuffle.spill_bytes" -> med(tot(_).spill.toDouble),
      "io.input_bytes" -> med(tot(_).input.toDouble),
      "io.sink_bytes" -> med(tot(_).output.toDouble),
      "jvm.gc_s" -> med(_.gc._1),
      "jvm.gc_count" -> med(_.gc._2.toDouble))
  }

  /** Per-call and store metrics: call times and stages as medians over
    * the warm passes, store metrics from the cold pass against the warm
    * ones. */
  private[perfbench] def callMetrics(cold: Pass, warm: Seq[Pass]): Map[String, Double] = {
    def med(f: Pass => Double) = Stats.median(warm.map(f))
    def secs(label: String) = med(_.secs.toMap.apply(label).getOrElse(Double.NaN))
    val perCall = calls.map(_._1).flatMap { label =>
      if (module(label) == "twins") Seq(s"ops.twins.${label}_s" -> secs(label))
      else Seq(s"ops.${module(label)}.$label.s" -> secs(label),
        s"ops.${module(label)}.$label.stages" ->
          med(_.counters.get(label).fold(0.0)(_.stages.toDouble)))
    }.toMap
    val modules = calls.map(_._1).groupBy(module).map { case (mod, labels) =>
      s"ops.$mod.s" -> med(p => labels.map(p.secs.toMap.apply(_).getOrElse(0.0)).sum)
    }
    val warmBuilt = warm.map(_.built.values.map(_._1).sum.toDouble)
    val coldBuilders = cold.built.keySet
    Map(
      "store.builds" -> cold.built.values.map(_._1).sum.toDouble,
      "store.bytes_written" -> cold.built.values.map(_._2).sum.toDouble,
      "store.build_s" -> coldBuilders.toSeq.map { k =>
        cold.secs.toMap.apply(k).getOrElse(0.0) -
          med(_.secs.toMap.apply(k).getOrElse(0.0))
      }.sum,
      "store.hits" -> med(p => coldBuilders.count(k =>
        !p.built.contains(k) && p.secs.toMap.apply(k).isDefined).toDouble),
      "store.warm_builds" -> Stats.median(warmBuilt),
    ) ++ modules ++ perCall
  }

  /** Writes every key's rows (and those of `alsoVerify`, which other
    * checks build on) for the oracle compare in run.py, and checks the
    * batch twins against the plain-Scala folds here. */
  def verify(): Map[String, Any] = {
    val dir = s"${a.work}/verify"
    val written = (keys ++ alsoVerify).distinct
    val writeErrors = written.flatMap { k =>
      try { queries(k)(spark, fixture).write.mode("overwrite").parquet(s"$dir/$k"); None }
      catch { case NonFatal(e) => Some(k -> e.getClass.getName) }
    }.toMap
    if (twins) twinMismatches = checkTwins()
    Map("dir" -> dir, "keys" -> written,
      "oracle" -> written.flatMap(k => SparkEntry.oracleSql.get(k).map(k -> _)).toMap,
      "write_errors" -> writeErrors, "mismatches" -> twinMismatches)
  }

  private var twinMismatches = Map.empty[String, String]
  /** Batch twins whose rows differ from the plain fold, after [[verify]]. */
  def mismatches: Map[String, String] = twinMismatches

  private def checkTwins(): Map[String, String] = {
    val msgs = logMsgs().collect().toSeq
    val muts = mutations().collect().toSeq
    val wantV = msgs.groupBy(_.publisher).toSeq.flatMap { case (_, ms) =>
      Validate.run(ms.sortBy(_.seq).iterator)._2 }.map(_.toString).sorted
    val wantA = muts.groupBy(_.user_id).toSeq.flatMap { case (_, ms) =>
      Apply.run(ms.sortBy(_.event_id).iterator)._2 }.map(_.toString).sorted
    def cmp(label: String, got: => Seq[String], want: Seq[String])
        : Option[(String, String)] =
      try {
        val g = got.sorted
        if (g == want) None
        else Some(label -> (s"${g.size} rows vs ${want.size} from the plain fold; " +
          s"first difference: ${g.diff(want).headOption.orElse(want.diff(g).headOption).getOrElse("order")}"))
      } catch { case NonFatal(e) => Some(label -> e.getClass.getName) }
    (cmp(TwinValidate, Validate.validateBatch(logMsgs()).collect().toSeq.map(_.toString), wantV) ++
      cmp(TwinApply, Apply.deriveBatch(mutations()).collect().toSeq.map(_.toString), wantA)).toMap
  }
}

object KeyWorkload {
  val TwinValidate = "validate_batch"
  val TwinApply = "apply_batch"

  /** The replay half of cdc_stream, trimmed to the run length: the LWW
    * compaction over the two-generation CDC store chain (built on the cold
    * pass) and one stream-semantics key. Both are short, so planning and
    * stage scheduling dominate. */
  val Replay: Seq[String] = Seq("q_cdc_compact_day2", "q_stream_session")

  /** One key per curation mechanism, trimmed to the run length.
    * q_dedup_pagerank builds the signature and verified-pair stores on
    * its cold call and runs the PageRank loop on every call;
    * q_dedup_clusters_stored builds the label store with the CC loop;
    * q_sim_ann_ivfsq8_day2 builds the SQ8 store (the Lloyd loop trains
    * its coarse cells) and probes it; q_text_bpe runs the BPE merge loop
    * on every call. Order matters: the pair store comes first. */
  val Curate: Seq[String] = Seq(
    "q_dedup_pagerank", "q_dedup_clusters_stored", "q_sim_ann_ivfsq8_day2",
    "q_text_bpe")

  /** The pair rows the curate checks close the CC and PageRank keys over. */
  val CuratePairs: Seq[String] = Seq("q_dedup_minhash_verify")

  def module(label: String): String =
    if (label == TwinValidate || label == TwinApply) "twins"
    else label.stripPrefix("q_").takeWhile(_ != '_') match {
      case "sim" | "embed" => "vectors"
      case other => other
    }

  def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(du).sum
    else f.length

}
