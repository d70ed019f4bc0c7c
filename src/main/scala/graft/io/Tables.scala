package graft.io

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{LongType, StructType}

/** Catalog of named parquet sources under a scale-factor directory.
  *
  * Reference analog: pgshovel's "replication set" — a named config of
  * which tables/columns are captured (public pgshovel
  * `configurations.proto`, `TableConfiguration`). Here the catalog is
  * schema-first: Spark infers `StructType` from the parquet footer, and
  * Catalyst prunes columns/predicates down to the scan, which is the
  * Spark-native equivalent of capture-time column configuration.
  *
  * Inference runs once per table per fixture stamp, not once per read:
  * `spark.read.parquet` without a schema launches a footer-reading
  * Spark job (50–65 ms per warm read of sf0.01 `documents` on a 4-core
  * host, against 5–7 ms with a known schema), and a key reads its
  * tables many times. [[apply]]
  * keeps each table's inferred schema in a JVM-wide memo and reads
  * every later hit with it (PLANS.md "Source reads").
  *
  * Scale note (100 TB): `spark.read.parquet` over a directory tree of
  * many files partitions by file/row-group automatically
  * (`spark.sql.files.maxPartitionBytes`); nothing here assumes a single
  * file. For partitioned lakes, the same call picks up hive-style
  * partition columns and enables static/dynamic partition pruning.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Session confs that change what parquet inference returns for the
    * same files; part of the memo key, so `events`' `nanosAsLong` and a
    * session without it each keep their own schema. */
  private val InferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema")

  /** (path, inference confs) → (fixture stamp, inferred schema). One
    * entry per key: a regenerated fixture has a new [[Stamp]], so its
    * next read re-infers and replaces the entry. */
  private val schemas = new ConcurrentHashMap[(String, Seq[String]), (String, StructType)]()

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val key = (path, InferenceConfs.map(spark.conf.getOption(_).orNull))
    // stamp before inference: a rewrite between the two leaves an entry
    // under the old stamp, which the next read misses
    val stamp = Stamp(path)
    Option(schemas.get(key)) match {
      case Some((`stamp`, schema)) => spark.read.schema(schema).parquet(path)
      case _ =>
        // inferred outside any map lock: it is a Spark job
        val df = spark.read.parquet(path)
        schemas.put(key, (stamp, df.schema))
        df
    }
  }

  /** Format-agnostic loader for non-parquet lake layouts. CSV/JSON
    * should always be read with an explicit schema: inference scans the
    * data twice and guesses types — never acceptable on a 100 TB feed.
    * TablesSpec round-trips parquet → csv/json → DataFrame. */
  def load(spark: SparkSession, path: String, format: String,
      schema: Option[StructType] = None): DataFrame = {
    val r = spark.read.format(format)
    val withSchema = schema.fold(r)(r.schema)
    format match {
      case "csv"  => withSchema.option("header", "true").load(path)
      case _      => withSchema.load(path)
    }
  }

  def region(s: SparkSession, d: String): DataFrame     = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = apply(s, d, "lineitem")

  /** An events.ts written as parquet TIMESTAMP(NANOS) is refused by
    * Spark 4 as a timestamp. Read it as a raw long (legacy conf, which
    * is part of the schema memo's key) and convert to a µs timestamp
    * (`timestamp_micros(ns div 1000)`) so the rest of the engine sees a
    * plain timestamp column; a µs ts (the checked-in fixtures: zone-less,
    * so inferred as TIMESTAMP_NTZ) passes through. DuckDB reads the same
    * file natively — truncate to millisecond in both engines before
    * comparing (see [[graft.Det.ets]]). */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = apply(s, d, "events")
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _        => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
