package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import scala.util.Try
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite
import graft.io.Tables

/** Source-format coverage: the engine's queries are source-agnostic —
  * the same rows arrive from parquet, CSV, or JSON (schema-first; no
  * inference on a production feed). The schema memo of parquet reads
  * infers once per fixture stamp and inference confs. */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = SparkTestSession.sf

  test("nation round-trips through csv and json with identical rows") {
    val orig = Tables.nation(spark, sf).orderBy("n_nationkey")
    val dir = Files.createTempDirectory("graft-src").toString
    orig.write.mode("overwrite").option("header", "true").csv(s"$dir/csv")
    orig.write.mode("overwrite").json(s"$dir/json")
    val schema = orig.schema
    val fromCsv = Tables.load(spark, s"$dir/csv", "csv", Some(schema))
      .orderBy("n_nationkey")
    val fromJson = Tables.load(spark, s"$dir/json", "json", Some(schema))
      .orderBy("n_nationkey")
    assert(fromCsv.collect().toSeq == orig.collect().toSeq)
    assert(fromJson.collect().toSeq == orig.collect().toSeq)
  }

  test("a declared query runs unchanged against a csv copy of its table") {
    val dir = Files.createTempDirectory("graft-src2").toString
    val docs = Tables.documents(spark, sf)
    docs.write.mode("overwrite").option("header", "true").csv(s"$dir/documents")
    val fromCsv = Tables.load(spark, s"$dir/documents", "csv", Some(docs.schema))
    // same top-20 wordcount whether the corpus came from parquet or csv
    val viaParquet = SparkEntry.queries("q_text_wordcount")(spark, sf).collect().toSeq
    val viaCsv = fromCsv
      .select(explode(graft.ops.Text.tokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word").asc).limit(20).collect().toSeq
    assert(viaCsv == viaParquet)
  }

  /** Spark jobs `body` starts on this thread. The listener bus is
    * asynchronous but ordered, so a marker job run after `body` flushes
    * it: every job of `body` is seen before the marker. */
  private def jobsStarted(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = "graft.test.jobs"
    val seen = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(tag))).foreach(seen.put)
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tag, "body")
      try body finally sc.setLocalProperty(tag, "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(tag, null)
      Iterator.continually(Option(seen.poll(60, TimeUnit.SECONDS))
        .getOrElse(fail("marker job never reached the listener")))
        .takeWhile(_ != "marker").size
    } finally sc.removeSparkListener(listener)
  }

  /** A fresh sf dir holding a copy of the fixture's `name` table. */
  private def copyOf(name: String): String = {
    val dir = Files.createTempDirectory("graft-memo")
    Files.copy(Paths.get(s"$sf/$name.parquet"), dir.resolve(s"$name.parquet"))
    dir.toString
  }

  test("schema memo: a second read of an unchanged table starts no Spark job") {
    val dir = copyOf("documents")
    assert(jobsStarted(Tables.documents(spark, dir)) >= 1, "first read infers")
    assert(jobsStarted(Tables.documents(spark, dir)) == 0, "second read re-inferred")
    assert(Tables.documents(spark, dir).count() == Tables.documents(spark, sf).count())
  }

  test("schema memo: a rewritten table is re-inferred, rows as an uncached read") {
    val dir = copyOf("documents")
    val path = s"$dir/documents.parquet"
    val before = Tables.documents(spark, dir).schema
    Tables.documents(spark, sf).withColumn("extra", col("doc_id") * 2)
      .write.mode("overwrite").parquet(path)
    val got = Tables.documents(spark, dir)
    val uncached = spark.read.parquet(path)
    assert(got.schema == uncached.schema)
    assert(got.schema.fieldNames.toSeq == before.fieldNames.toSeq :+ "extra")
    assert(got.orderBy("doc_id").collect().toSeq == uncached.orderBy("doc_id").collect().toSeq)
  }

  test("schema memo: events keeps its timestamp ts on a memoized read") {
    val dir = copyOf("events")
    // the fixture's ts is a zone-less parquet timestamp, read as NTZ
    val types = (1 to 2).map(_ => Tables.events(spark, dir).schema("ts").dataType)
    assert(types.forall(t => t == TimestampType || t == TimestampNTZType), types)
    assert(types.distinct.size == 1, types)
  }

  test("schema memo: each nanosAsLong value reads a path as an uncached read does") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    // a TIMESTAMP(NANOS) column: read as a long under nanosAsLong,
    // refused without it
    val dir = Files.createTempDirectory("graft-nanos").toString
    val schema = MessageTypeParser.parseMessageType(
      "message t { required int64 id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
      new org.apache.hadoop.fs.Path(s"$dir/nanos.parquet"),
      new org.apache.hadoop.conf.Configuration())).withType(schema).build()
    try (0 until 3).foreach(i => w.write(new SimpleGroupFactory(schema).newGroup()
      .append("id", i.toLong).append("ts", i * 1000000000L)))
    finally w.close()
    val s2 = spark.newSession()
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    // alternate the conf so a hit under one value would serve the other
    Seq("true", "false", "true", "false").foreach { v =>
      s2.conf.set(key, v)
      val got = Try(Tables(s2, dir, "nanos").schema("ts").dataType)
      val uncached = Try(s2.read.parquet(s"$dir/nanos.parquet").schema("ts").dataType)
      assert(got.toOption == uncached.toOption, s"nanosAsLong=$v")
      if (v == "true") assert(got.toOption.contains(LongType))
    }
  }
}
