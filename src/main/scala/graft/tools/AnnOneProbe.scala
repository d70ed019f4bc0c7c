package graft.tools

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import graft.ops.Vectors

/** Production-geometry pruning receipt for the cell-partitioned IVF-PQ
  * store (VERDICT r15 ask #3): at the registry's 10-probe fixture
  * geometry the probed-cell union covers every cell, so the partition
  * pruning can prune nothing and its benefit was arguable-not-measured.
  * This tool runs the SAME stored index at the geometry a production
  * ANN service actually serves — ONE query vector, nprobe at its floor
  * — and records, per configuration, the inverted-list scan's
  * filesRead / partsRead plus wall seconds, pruned vs
  * flat (pruning disabled = what a non-partitioned layout must read):
  *
  *   - `ten_probe_default`: the registry point (10 probes, derived
  *     nprobe). On the fixture the probe union covers all cells, so
  *     the resolve SKIPS the IN filter entirely (the `_CELLS` sidecar
  *     short-circuit) — filesRead = all, by design.
  *   - `one_probe_pruned`: 1 probe, nprobe = floor(2). filesRead must
  *     track the probed-cell union (≈ nprobe of ncells) — the 100 TB
  *     serving story: one query touches ~nprobe/ncells of the store.
  *   - `one_probe_flat`: identical search, resolve disabled — every
  *     cell's files are read, the flat-layout cost.
  *
  * Usage: `sbt "runMain graft.tools.AnnOneProbe <sfDir> [out.json]"`
  * — prints one JSON line and writes it to `out.json` when given.
  */
object AnnOneProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outPath = if (args.length > 1) Some(args(1)) else None
    val spark = graft.GraftSession.local()

    def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => p +: flatten(a.executedPlan)
      case q: QueryStageExec        => p +: flatten(q.plan)
      case r: ReusedExchangeExec    => p +: flatten(r.child)
      case other => other +: other.children.flatMap(flatten)
    }

    // store builds happen OUTSIDE the timed rows (one registry run)
    graft.SparkEntry.queries("q_sim_ann_ivfpq_stored")(spark, sfDir).count()
    graft.SparkEntry.queries("q_sim_ann_ivfsq8")(spark, sfDir).count()
    graft.SparkEntry.queries("q_sim_ann_ivfpq_split")(spark, sfDir).count()

    // (label, probeMax, cellsPerProbe, prune): Long.MaxValue as the
    // divisor forces nprobe to its floor (NProbeMin) — the narrowest
    // honest search this index serves. Both cell-partitioned stored
    // families run the same grid: ivfpq over the `ivfcodes` store,
    // ivfsq8 over `sq8codes` (round-16 verdict #3 — the receipts must
    // cover the new family too).
    val families = Seq(
      ("ivfpq", "ivfcodes",
        (p: Long, c: Long, pr: Boolean) =>
          Vectors.ivfpqStoredSearch(spark, sfDir, p, c, pr)),
      ("ivfsq8", "sq8codes",
        (p: Long, c: Long, pr: Boolean) =>
          Vectors.ivfsq8StoredSearch(spark, sfDir, p, c, pr)),
      // the split generation at the REBALANCED child geometry — on a
      // skewed fixture the one-probe row shows the point of the whole
      // machinery: a hot probe reads a few shard files instead of the
      // mega-cell (and the flat row, what an unpartitioned layout pays)
      ("ivfpq_split_child", "splitcodes",
        (p: Long, c: Long, pr: Boolean) =>
          Vectors.ivfpqSplitSearch(spark, sfDir, p, c,
            childProbe = true, prune = pr)))
    val configs = Seq(
      ("ten_probe_default", 10L, Vectors.CellsPerProbe, true),
      ("one_probe_pruned", 1L, Long.MaxValue, true),
      ("one_probe_flat", 1L, Long.MaxValue, false))
    val rows = for {
      (fam, marker, search) <- families
      (label, probeMax, cpp, prune) <- configs
    } yield {
      // two passes: pass 1 pays the one-time plan-time cell resolve
      // (a planner cost, memoized per store+geometry after it); pass 2
      // is the steady-state serving latency a deployment sees.
      def pass(): (Long, Double, org.apache.spark.sql.execution.QueryExecution) = {
        val t0 = System.nanoTime()
        val df = search(probeMax, cpp, prune)
        val qe = df.queryExecution
        val n = qe.toRdd.count()
        (n, (System.nanoTime() - t0) / 1e9, qe)
      }
      val (n, secsFirst, _) = pass()
      val (_, secs, qe) = pass()
      // the inverted-list scan is the store read rooted at the
      // family's code dir; every other scan is codebook-sized
      val scan = flatten(qe.executedPlan)
        .collectFirst { case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(
            _.toString.contains(marker)) => f }
      def m(key: String): Long =
        scan.flatMap(_.metrics.get(key)).map(_.value).getOrElse(-1L)
      f""" {"family":"$fam","config":"$label","rows":$n,"secs":$secs%.2f,""" +
        f""""secs_first":$secsFirst%.2f,""" +
        s""""files_read":${m("numFiles")},"parts_read":${m("numPartitions")}}"""
    }
    val line = s"""{"sf_dir":"$sfDir","rows":[${rows.mkString(",").trim}]}"""
    println(line)
    outPath.foreach { p =>
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    spark.stop()
  }
}
