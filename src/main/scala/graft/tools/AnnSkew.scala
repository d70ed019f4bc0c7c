package graft.tools

import org.apache.spark.sql.functions._
import graft.ops.Vectors

/** ANN-under-skew receipt (round-16 verdict #1 + #2): runs the cell
  * audits AND the split/rebalance response against the adversarial
  * `skewvec` fixture (mixture-of-Gaussians embeddings, one dominant
  * near-duplicate mode — GenSf mode `skewvec`), recording in one JSON
  * line what the isotropic fixtures could never show:
  *
  *  - `base`: the stored IVF-PQ index's imbalance_factor
  *    (ncells·Σ frac² — FAISS's statistic), its mega-cell's corpus
  *    fraction, and the per-probe scan fractions — hot probes visibly
  *    scanning ≈ the hot family's mass instead of nprobe/ncells.
  *  - `split`: the split generation's child count, post-split
  *    imbalance and max-cell fraction — the response restoring the
  *    occupancy bound.
  *  - `rebalanced`: per-probe scan fractions at the child geometry
  *    (every probe back near nprobe′/ncells′) plus recall@3 of the
  *    child-probe search against the exact cosine truth and against
  *    the unsplit ADC search, with wall seconds for all three
  *    searches — the recall price of the narrower scan, measured.
  *
  * Usage: `sbt "runMain graft.tools.AnnSkew <skewDir> [out.json]"`.
  */
object AnnSkew {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/repo/testdata/sfskew")
    val outPath = if (args.length > 1) Some(args(1)) else None
    val spark = graft.GraftSession.local()

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }
    def imbalance(occ: Seq[Long]): Double = {
      val n = occ.sum.toDouble
      occ.map(v => v.toDouble * v).sum * occ.length / (n * n)
    }
    def fracs(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
      df.select(col("probe_id"), col("scan_frac")).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq

    // builds happen once, outside the timed rows
    graft.SparkEntry.queries("q_sim_ann_ivfpq_stored")(spark, sfDir).count()
    graft.SparkEntry.queries("q_sim_ann_ivfpq_split")(spark, sfDir).count()

    val baseOcc = graft.SparkEntry.queries("q_sim_ann_cell_stats")(spark, sfDir)
      .select(col("n_vecs")).collect().map(_.getLong(0)).toSeq
    val baseScan = fracs(
      graft.SparkEntry.queries("q_sim_ann_scan_frac")(spark, sfDir))
    val (_, _, scents, scodes) = Vectors.storedIvfPqSplitIndex(spark, sfDir)
    val splitOcc = scodes.filter(col("j") === 0)
      .groupBy(col("cell")).agg(count(lit(1)).as("nv"))
      .select(col("nv")).collect().map(_.getLong(0)).toSeq
    val rebScan = fracs(Vectors.splitScanFrac(spark, sfDir))

    val truth = graft.SparkEntry.queries("q_sim_cosine_topk")(spark, sfDir)
      .filter(col("rn") <= 3).select("probe_id", "neighbor_id")
      .localCheckpoint()
    val nTruth = truth.count().toDouble
    def top3(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("rn") <= 3).select("probe_id", "neighbor_id")
        .localCheckpoint()
    val (storedR, storedSecs) = timed(top3(
      graft.SparkEntry.queries("q_sim_ann_ivfpq_stored")(spark, sfDir)))
    val (splitR, splitSecs) = timed(top3(
      graft.SparkEntry.queries("q_sim_ann_ivfpq_split")(spark, sfDir)))
    val (rebR, rebSecs) = timed(top3(
      Vectors.ivfpqSplitSearch(spark, sfDir, childProbe = true)))
    val recTruth = rebR.intersect(truth).count() / nTruth
    val recStored = rebR.intersect(storedR).count() / storedR.count().toDouble
    val recStoredTruth = storedR.intersect(truth).count() / nTruth
    require(splitR.intersect(storedR).count() == storedR.count(),
      "split (parent-expansion) search diverged from stored — " +
        "the shared-oracle invariant broke on this corpus")

    def jf(xs: Seq[(Long, Double)]): String =
      xs.sortBy(_._1).map { case (p, f) =>
        f""""$p":$f%.4f""" }.mkString("{", ",", "}")
    val line =
      f"""{"sf_dir":"$sfDir","n_vecs":${baseOcc.sum},""" +
      f""""base":{"ncells":${baseOcc.length},""" +
      f""""imbalance":${imbalance(baseOcc)}%.3f,""" +
      f""""max_cell_frac":${baseOcc.max.toDouble / baseOcc.sum}%.4f,""" +
      f""""scan_frac":${jf(baseScan)},"secs":$storedSecs%.2f,""" +
      f""""recall3_cos":$recStoredTruth%.4f},""" +
      f""""split":{"ncells":${splitOcc.length},""" +
      f""""imbalance":${imbalance(splitOcc)}%.3f,""" +
      f""""max_cell_frac":${splitOcc.max.toDouble / splitOcc.sum}%.4f,""" +
      f""""parent_expand_secs":$splitSecs%.2f,"matches_stored":true},""" +
      f""""rebalanced":{"scan_frac":${jf(rebScan)},"secs":$rebSecs%.2f,""" +
      f""""recall3_cos":$recTruth%.4f,"recall3_vs_stored":$recStored%.4f}}"""
    println(line)
    outPath.foreach { p =>
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    spark.stop()
  }
}
