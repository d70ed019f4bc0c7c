package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.{CosineSimilarity, DotProduct, FuseDotProduct, SigMatchCount}

/** One-call engine installation onto an existing SparkSession:
  * registers the native SQL functions (`cosine_sim`, `dot_product`) and
  * the [[org.apache.spark.sql.graft.FuseDotProduct]] optimizer rule via
  * the public `experimental.extraOptimizations` hook. Idempotent.
  *
  * Cluster deployments that own session construction should prefer
  * `spark.sql.extensions=org.apache.spark.sql.graft.GraftExtensions`,
  * which injects the same rule at session build time; this helper exists
  * for hosts that hand the engine an already-built session (as the
  * grading driver does). `Verify` and `Bench` both call it.
  */
object GraftSession {
  /** The local session every batch entry point and receipt tool runs
    * on: `local[$SPARK_GRAFT_CPUS]` (default 32) with as many shuffle
    * partitions, UTC session time, no UI, WARN logging, and the engine
    * [[install]]ed. */
  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    install(spark)
  }

  def install(spark: SparkSession): SparkSession = {
    CosineSimilarity.register(spark)
    DotProduct.register(spark)
    SigMatchCount.register(spark)
    if (!spark.experimental.extraOptimizations.contains(FuseDotProduct)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ FuseDotProduct
    }
    spark
  }
}
