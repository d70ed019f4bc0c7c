package graft
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    // Warm-up: run the whole suite once at the smallest SF. Generated
    // code and JIT state are scale-independent, so this pre-compiles
    // every query's codegen stages and warms the JVM paths (window,
    // sort-merge, hash-agg) — the timed loop then measures steady-state
    // execution at the target SF instead of first-call compilation,
    // which otherwise dominates (2-4x) the per-query wall time.
    spark.range(1000000L).selectExpr("sum(id)").collect()
    // Optional subset run (comma-separated keys): partial fixtures like
    // the vocab-grown sf1v carry only the tables its target queries
    // read, so the full suite would drown the output in failed rows.
    val queries: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY") match {
        case Some(keys) =>
          val want = keys.split(",").map(_.trim).filter(_.nonEmpty).toSet
          val missing = want -- SparkEntry.queries.keySet
          require(missing.isEmpty, s"unknown bench keys: $missing")
          SparkEntry.queries.filter { case (k, _) => want(k) }
        case None => SparkEntry.queries
      }
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    if (new java.io.File(warmDir).isDirectory && warmDir != sfDir) {
      queries.foreach { case (_, fn) =>
        try { fn(spark, warmDir).count() } catch { case NonFatal(_) => () }
      }
    }
    try SparkEntry.entry(spark).count() catch { case NonFatal(_) => () }
    // Median-of-N timed passes (default 5) over SUCCESSFUL runs: host
    // co-tenant load spikes (observed 5x inflation, and a 20% r3→r4
    // total swing with ZERO code change under min-of-2) would otherwise
    // corrupt the measurement — the median absorbs a minority of slow
    // passes where the min still tracks one lucky one. A failed run
    // must not enter the stats (a fast exception is not a fast query);
    // a query that failed in every pass reports -1 so the failure is
    // visible. Per-query [min, max] spread is persisted alongside so a
    // noisy round is visibly noisy instead of silently wrong.
    // Opt-in per-query heap high-water probe (SPARK_GRAFT_BENCH_HEAP=1):
    // full GC + pool-peak reset before each query (OUTSIDE the timed
    // window), sum of heap-pool peaks after. Off by default so the
    // published 5-pass medians keep the exact round-over-round
    // methodology; a separate 1-pass probe run answers "where does the
    // sf1 heap go" with measurements instead of arithmetic.
    val heapProbe = sys.env.get("SPARK_GRAFT_BENCH_HEAP").contains("1")
    val heapPools = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
    }
    val peakHeapMb = scala.collection.mutable.Map.empty[String, Double]
    def timedPass(): Map[String, (Double, Option[String])] = queries.map {
      case (name, fn) =>
        if (heapProbe) { System.gc(); heapPools.foreach(_.resetPeakUsage()) }
        val t0 = System.nanoTime()
        val err = try { fn(spark, sfDir).count(); None }
          catch { case NonFatal(e) => Some(e.getClass.getName) }
        val dt = (System.nanoTime() - t0) / 1e9
        if (heapProbe) {
          val mb = heapPools.map(_.getPeakUsage.getUsed).sum / 1e6
          peakHeapMb(name) = math.max(mb, peakHeapMb.getOrElse(name, 0.0))
        }
        name -> ((dt, err))
    }
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "5").toInt
    val allPasses = (1 to passes).map(_ => timedPass())
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.isEmpty) -1.0
      else if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val byQuery = queries.keys.map { k =>
      k -> allPasses.flatMap { p =>
        val (v, err) = p(k); if (err.isEmpty) Some(v) else None
      }
    }.toMap
    val results = byQuery.map { case (k, xs) => k -> median(xs) }
    val spread = byQuery.collect { case (k, xs) if xs.nonEmpty =>
      k -> (xs.min, xs.max)
    }
    // Per-key MIN persisted as its own stat (round-15 verdict #7): the
    // ≥5 s store/CC keys are machine-state-sensitive at ±2× in their
    // medians (documented r13/r14), so round-over-round regression
    // checks on those keys should compare min-of-passes — the best
    // pass is the least co-tenant-contaminated observation — while
    // the headline total keeps the median methodology.
    val minPass = byQuery.collect { case (k, xs) if xs.nonEmpty =>
      k -> xs.min
    }
    // Cold/warm split: the FIRST pass at the target SF is the one that
    // builds every store the key reads (signature/pair/label/PQ/TF
    // chains publish on first touch), so its time is store-build +
    // query; later passes read published stores only. (On a re-run
    // against unchanged fixtures the stamp-keyed stores are already
    // published and cold ≈ warm — the split is meaningful on the
    // fresh-store run the driver performs.) Reporting
    // `cold` (first successful pass) and `warm_median` (median of the
    // remaining successful passes) separately makes store economics
    // first-class evidence instead of a spread anomaly — a stored
    // key's [1.4, 27.4] spread is really cold=27.4 / warm=1.4.
    // warm_median is -1 when no post-first pass succeeded (e.g. a
    // single-pass run): unknown is reported as unknown, never
    // approximated by the cold value. `cold` is a measurement ONLY
    // when it is literally pass 1 (round-15 ADVICE: if pass 1 failed
    // after publishing some stores, pass 2 runs warm — reporting it
    // as cold would overstate store economics); a first-pass failure
    // reports cold = -1, same unknown-stays-unknown rule.
    val coldPass = queries.keys.map { k =>
      // headOption + per-key get: a zero-pass run or a key absent from
      // pass 1 degrades to the -1 unknown marker instead of throwing
      k -> allPasses.headOption.flatMap(_.get(k)).collect {
        case (v, None) => v
      }.getOrElse(-1.0)
    }.toMap
    val warmMedian = queries.keys.map { k =>
      val later = allPasses.drop(1).flatMap { p =>
        val (v, err) = p(k); if (err.isEmpty) Some(v) else None
      }
      k -> median(later)
    }.toMap
    // A query that failed every pass has no measurement — its -1 marker
    // must never enter the total (round 5 committed a crashed sf1 run
    // whose total summed 94 sentinels to -85s and still parsed as a
    // valid bench line). The total covers successful queries only, and
    // the failed set is named explicitly in BOTH output lines so a
    // partial run is unmistakable.
    val failed = byQuery.collect { case (k, xs) if xs.isEmpty => k }
      .toSeq.sorted
    // ... and every key that failed in any pass keeps its cause: the
    // exception class of its first failed pass
    val errors = queries.keys.toSeq.sorted.flatMap(k =>
      allPasses.flatMap(_(k)._2).headOption.map(k -> _))
    // Locale.ROOT: a comma-decimal default locale would emit "0,500"
    // and corrupt the contract JSON line
    def r3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def jsonMap(m: Iterable[(String, Double)]): String =
      m.map { case (k, v) => "\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    def jsonList(xs: Seq[String]): String =
      xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    def jsonStrMap(m: Seq[(String, String)]): String =
      m.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }.mkString("{", ",", "}")
    val total = results.valuesIterator.filter(_ >= 0).sum
    def jsonSpread(m: Iterable[(String, (Double, Double))]): String =
      m.map { case (k, (lo, hi)) => "\"" + k + "\":[" + r3(lo) + "," + r3(hi) + "]" }
        .mkString("{", ",", "}")
    // Full per-query map for humans / logs (NOT the contract line — with 85
    // queries it exceeds the driver's captured-output tail and fails to parse).
    val heapJson =
      if (heapProbe) s""","peak_heap_mb":${jsonMap(peakHeapMb.toSeq.sortBy(-_._2))}"""
      else ""
    val full = s"""{"n":${results.size},"n_failed":${failed.size},"failed":${jsonList(failed)},"errors":${jsonStrMap(errors)},"total_sec":${r3(total)},"sf":"$sfDir","passes":$passes,"queries":${jsonMap(results)},"cold":${jsonMap(coldPass)},"warm_median":${jsonMap(warmMedian)},"min":${jsonMap(minPass)},"spread":${jsonSpread(spread)}$heapJson}"""
    println(s"BENCH_FULL $full")
    // ... and persisted to a file so no round's per-query history can be
    // lost to stdout-tail truncation again (BENCH_r01's total was)
    // A subset run (SPARK_GRAFT_BENCH_ONLY) must never silently clobber
    // the committed full-suite artifact: default it to a distinct file
    // unless the caller gave an explicit SPARK_GRAFT_BENCH_OUT.
    val defaultOut =
      if (sys.env.contains("SPARK_GRAFT_BENCH_ONLY"))
        "/root/repo/BENCH_SUBSET.json"
      else "/root/repo/BENCH_FULL.json"
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", defaultOut)
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
        (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case NonFatal(_) => () } // read-only fs must not kill the bench
    // Contract line: keep it short (< ~1.2 KB) so it fits entirely inside the
    // driver's tail window even with sbt's trailing "[success]" line after it.
    // `value` is the TOTAL across all SUCCESSFUL queries (failed ones are
    // named in `failed`); `queries` is a representative headline subset
    // (one per operator family, plus the heaviest ops).
    val headline = Seq(
      "q_scan_parquet", "q_agg_hash", "q_agg_cube", "q_join_inner_hash",
      "q_join_broadcast", "q_join_asof", "q_join_interval", "q_window_rank",
      "q_topk_per_group", "q_sort_limit", "q_explode", "q_unpivot",
      "q_cdc_merge_upsert", "q_cdc_scd2", "q_stream_session",
      "q_dedup_exact", "q_dedup_near", "q_dedup_ngram",
      "q_dedup_minhash_lsh", "q_dedup_minhash_verify", "q_dedup_clusters",
      "q_sim_cosine_topk", "q_sim_ann_lsh", "q_sim_ann_ivf", "q_text_tfidf",
      "q_text_langid", "q_pipeline_curate")
    val head = headline.flatMap(k => results.get(k).map(k -> _))
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","n_queries":${results.size},"n_failed":${failed.size},"failed":${jsonList(failed)},"queries":${jsonMap(head)},"sf":"$sfDir"}""")
    spark.stop()
  }
}
