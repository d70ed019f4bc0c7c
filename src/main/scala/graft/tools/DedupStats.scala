package graft.tools

import org.apache.spark.sql.functions._

/** Dedup-pipeline diagnostics: candidate volume, verify volume, LSH
  * recall vs the exact ≥0.8 pair set, and signature-vs-mask cluster
  * agreement, at a given SF. This is the measurement harness behind the
  * banding choice in Dedup ([[graft.ops.Dedup]] `Bands` scaladoc) — run
  * it before/after a banding change to see the candidate stream move.
  *
  *   sbt "runMain graft.tools.DedupStats /root/testdata/sf0.01"
  */
object DedupStats {
  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/testdata/sf0.01")
    val withExact = args.length < 2 || args(1) != "--no-exact"
    val spark = graft.GraftSession.local()

    def timed[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"DEDUPSTATS $label done ${(System.nanoTime() - t0) / 1e9}%.1fs")
      r
    }

    val lsh = graft.SparkEntry.queries("q_dedup_minhash_lsh")(spark, sf)
    val nCand = timed("lsh")(lsh.count())
    println(s"DEDUPSTATS candidates=$nCand sf=$sf")
    val verify = graft.SparkEntry.queries("q_dedup_minhash_verify")(spark, sf)
    val nVer = timed("verify")(verify.count())
    println(s"DEDUPSTATS verify=$nVer")
    // volume-control surface: hot band keys + the capped stream
    // coalesce: sum() over zero hot keys is NULL, and getAs[Long] would
    // NPE unboxing it — a fixture small enough to have no band-key group
    // over the hot threshold must still print hot_pair_volume=0
    val hot = graft.SparkEntry.queries("q_dedup_lsh_hot_keys")(spark, sf)
      .agg(count(lit(1)).as("k"),
        coalesce(sum(col("n_pairs")), lit(0L)).as("p")).collect()(0)
    println(s"DEDUPSTATS hot_keys=${hot.getAs[Long]("k")} " +
      s"hot_pair_volume=${hot.getAs[Long]("p")}")
    val cap = sys.env.getOrElse("SPARK_GRAFT_LSH_CAP", "64").toInt
    val capped = graft.ops.Dedup.lshCandidatePairsCapped(
      graft.ops.Dedup.lshBandKeys(spark, sf), cap)
    val nCap = timed("capped")(capped.count())
    println(s"DEDUPSTATS cap=$cap capped_candidates=$nCap")
    if (withExact) {
      val exact = graft.SparkEntry.queries("q_dedup_near")(spark, sf)
        .select("a_id", "b_id")
      val nEx = exact.count()
      val hit = exact.intersect(lsh.select("a_id", "b_id")).count()
      println(f"DEDUPSTATS exact=$nEx recall=${hit.toDouble / nEx}%.4f")
      val hitCap = exact.intersect(capped).count()
      println(f"DEDUPSTATS capped_recall=${hitCap.toDouble / nEx}%.4f")
      val cs = graft.SparkEntry.queries("q_dedup_clusters_sig")(spark, sf)
      val cm = graft.SparkEntry.queries("q_dedup_clusters")(spark, sf)
      val n = cm.count()
      val agree = cs.select(col("doc_id"), col("cluster_id"))
        .join(cm.select(col("doc_id"), col("cluster_id").as("cm_id")), "doc_id")
        .filter(col("cluster_id") === col("cm_id")).count()
      println(s"DEDUPSTATS cluster_agree=$agree of=$n")
    } else {
      val cs = graft.SparkEntry.queries("q_dedup_clusters_sig")(spark, sf)
      timed("clusters_sig")(cs.count())
    }
    spark.stop()
  }
}
