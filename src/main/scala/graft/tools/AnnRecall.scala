package graft.tools

import org.apache.spark.sql.functions._

/** ANN recall-at-volume artifact (VERDICT r11 ask #6): recall@3 of
  * every ANN variant against the exact brute-force cosine top-3
  * (q_sim_cosine_topk — the oracle-verified ground truth), with the
  * variant's wall time beside it, so the knob settings (band counts,
  * nprobe=2, 8×16 PQ) carry measured recall/cost evidence at sf1
  * instead of fixture-scale assertions only.
  *
  * Usage: `sbt "runMain graft.tools.AnnRecall <sfDir>"` — prints one
  * JSON line {"sf_dir":…, "truth_secs":…, "variants":{key:
  * {"recall3":…, "secs":…}}}. Methodology matches OperatorSpec's
  * in-suite recall checks: intersect on (probe_id, neighbor_id) with
  * rn ≤ 3 on both sides, micro-averaged over the probe set.
  */
object AnnRecall {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/repo/testdata/sf1")
    val spark = graft.GraftSession.local()

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }

    val (cosTruth, truthSecs) = timed {
      graft.SparkEntry.queries("q_sim_cosine_topk")(spark, sfDir)
        .filter(col("rn") <= 3).select("probe_id", "neighbor_id")
        .localCheckpoint()
    }
    // L2-exact top-3 — the NATIVE metric of the PQ/ADC variants
    // (which rank by quantized squared L2): reporting PQ recall
    // against cosine truth alone would conflate metric mismatch
    // (embeddings are not unit-norm) with quantization error. Brute
    // force over the same broadcast probe set as cosineTopk.
    val (l2Truth, l2Secs) = timed {
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("emb"))
      val probes = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("emb").as("p_emb"))
      val d2 = aggregate(zip_with(col("emb"), col("p_emb"),
        (a, b) => (a - b) * (a - b)), lit(0.0d), (acc, x) => acc + x)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("probe_id"))
        .orderBy(col("d2").asc, col("vec_id").asc)
      emb.crossJoin(broadcast(probes))
        .filter(col("vec_id") =!= col("probe_id"))
        .withColumn("d2", d2)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("probe_id"), col("vec_id").as("neighbor_id"))
        .localCheckpoint()
    }
    val nCos = cosTruth.count().toDouble
    val nL2 = l2Truth.count().toDouble

    val variants = Seq("q_sim_ann_lsh", "q_sim_ann_multiprobe",
      "q_sim_ann_hamming", "q_sim_ann_lsh_tables",
      "q_sim_ann_ivf", "q_sim_ann_ivf_sampled",
      "q_sim_ann_pq", "q_sim_ann_pq_sampled", "q_sim_ann_pq_stored",
      "q_sim_ann_pq_day2", "q_sim_ann_pq_rerank", "q_sim_ann_ivfpq",
      "q_sim_ann_ivfpq_stored", "q_sim_ann_ivfpq_residual",
      "q_sim_ann_ivfpq_residual_stored", "q_sim_ann_ivfpq_residual_rerank",
      "q_sim_ann_ivfpq_rerank",
      "q_sim_ann_sq8", "q_sim_ann_sq8_rerank",
      "q_sim_ann_ivfsq8", "q_sim_ann_ivfsq8_rerank",
      "q_sim_ann_ivfsq8_day2", "q_sim_ann_ivfpq_split")
    val rows = variants.map { key =>
      val (got, secs) = timed {
        graft.SparkEntry.queries(key)(spark, sfDir)
          .filter(col("rn") <= 3).select("probe_id", "neighbor_id")
          .localCheckpoint()
      }
      val rCos = got.intersect(cosTruth).count() / nCos
      val rL2 = got.intersect(l2Truth).count() / nL2
      key -> (rCos, rL2, secs)
    }
    val body = rows.map { case (k, (rc, rl, s)) =>
      f""""$k":{"recall3_cos":$rc%.4f,"recall3_l2":$rl%.4f,"secs":$s%.2f}"""
    }.mkString(",")
    println(f"""{"sf_dir":"$sfDir","truth_secs":$truthSecs%.2f,""" +
      f""""l2_truth_secs":$l2Secs%.2f,"variants":{$body}}""")
    spark.stop()
  }
}
