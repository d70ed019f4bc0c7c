package graft.tools

import org.apache.spark.sql.functions._
import graft.ops.Vectors

/** Recall/latency FRONTIER for the production rerank searches
  * (VERDICT r14 ask #6; ivfsq8 added per r16 #3): sweep the two
  * search-time knobs — the shortlist rule C(n) = cFactor·√n over
  * cFactor ∈ {1, 3, 5} and the probed-cell divisor nprobe = ncells/cpp
  * over cpp ∈ {8, 4, 2} — for the four rerank keys, against ONE
  * stored index per family (both knobs are search-side, nothing
  * retrains), and report recall@3 vs the exact cosine truth plus wall
  * seconds per grid point. This is the table a deployment actually
  * tunes with: where recall stops paying for probe width, and what a
  * shortlist factor buys at fixed nprobe.
  *
  * Usage: `sbt "runMain graft.tools.AnnFrontier <sfDir> [out.json]"`
  * — prints one JSON line and writes it to `out.json` when given.
  * sq8_rerank has no cells (it scans the whole SQ8 corpus by
  * construction), so only its cFactor axis is swept.
  */
object AnnFrontier {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outPath = if (args.length > 1) Some(args(1)) else None
    val spark = graft.GraftSession.local()

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }

    val (truth, truthSecs) = timed {
      graft.SparkEntry.queries("q_sim_cosine_topk")(spark, sfDir)
        .filter(col("rn") <= 3).select("probe_id", "neighbor_id")
        .localCheckpoint()
    }
    val nTruth = truth.count().toDouble

    val ivfKeys = Seq("q_sim_ann_ivfpq_rerank" -> Vectors.IvfPqRerank,
      "q_sim_ann_ivfpq_residual_rerank" -> Vectors.ResidualRerank,
      "q_sim_ann_ivfsq8_rerank" -> Vectors.IvfSq8Rerank)
    val sq8Key = "q_sim_ann_sq8_rerank" -> Vectors.Sq8Rerank
    val cFactors = Seq(1.0, 3.0, 5.0)
    val cpps = Seq(8L, 4L, 2L)
    // warm pass so every store is built OUTSIDE the timed grid — the
    // grid then measures search cost only, the economics a reader of
    // this artifact is tuning
    (ivfKeys :+ sq8Key).foreach { case (k, _) =>
      graft.SparkEntry.queries(k)(spark, sfDir).count()
    }
    val grid =
      (for { k <- ivfKeys; cf <- cFactors; cpp <- cpps } yield (k, cf, Some(cpp))) ++
        cFactors.map(cf => (sq8Key, cf, None))
    val rows = grid.map { case ((k, family), cf, cppOpt) =>
      val q = Vectors.rerankFrontier(family, cf, cppOpt.getOrElse(1L))
      val (got, secs) = timed {
        q(spark, sfDir).filter(col("rn") <= 3)
          .select("probe_id", "neighbor_id").localCheckpoint()
      }
      val recall = got.intersect(truth).count() / nTruth
      val cppTag = cppOpt.map(v => s""","cpp":$v""").getOrElse("")
      f""" {"key":"$k","c_factor":$cf$cppTag,"recall3":$recall%.4f,"secs":$secs%.2f}"""
    }
    val line = s"""{"sf_dir":"$sfDir","truth_secs":${f"$truthSecs%.2f"},""" +
      s""""grid":[${rows.mkString(",").trim}]}"""
    println(line)
    outPath.foreach { p =>
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    spark.stop()
  }
}
