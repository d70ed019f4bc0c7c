package graft

import java.io.File
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.io.Store

/** Crash and cleanup contract of the store layer, in one JVM against
  * throwaway roots (every store call takes its dir explicitly): what a
  * crashed or failed build leaves behind must never be read, never
  * block the next build, and be swept once it is old enough; what is
  * current or recent must survive the sweep. The cross-process publish
  * race is StoreLockSpec's. */
class StoreSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def root(): File = Files.createTempDirectory("graft-store-spec").toFile
  private def rows(n: Long, from: Long = 0): DataFrame =
    spark.range(from, from + n).select(col("id").as("k"), (col("id") * 2).as("v"))
  private def published(d: File) = new File(d, "_SUCCESS").exists()
  private def junkPart(d: File): File = {
    d.mkdirs()
    Files.write(new File(d, "part-00000-junk.parquet").toPath,
      "not parquet".getBytes("UTF-8")).toFile
  }

  test("a target without _SUCCESS (a crashed build) is rebuilt") {
    val target = new File(root(), "t-crashed")
    val junk = junkPart(target)
    assert(Store.storedTable(spark, target.getPath)(rows(10)).count() == 10)
    assert(published(target))
    assert(!junk.exists(), "the crashed build's files survived the rebuild")
  }

  test("a dead .tmp- sibling is neither read nor blocking") {
    val r = root()
    val target = new File(r, "t-dead")
    val dead = new File(r, "t-dead.tmp-1-1")
    junkPart(dead)
    assert(Store.storedTable(spark, target.getPath)(rows(7)).count() == 7)
    assert(published(target))
    // the build's own temp dir is gone; the dead one is the sweep's
    assert(r.listFiles().filter(_.getName.contains(".tmp-")).toSeq == Seq(dead))
  }

  test("an append onto an unpublished base is refused") {
    val r = root()
    val base = new File(r, "t-base")
    val next = new File(r, "t-next")
    junkPart(base)
    val e = intercept[IllegalArgumentException] {
      Store.storedTableAppend(spark, next.getPath, base.getPath)(rows(3))
    }
    assert(e.getMessage.contains("not published"), e.getMessage)
    assert(!next.exists())
    // once the base is published the same append goes through: base ∪ batch
    Store.storedTable(spark, base.getPath)(rows(5))
    val appended = Store.storedTableAppend(spark, next.getPath, base.getPath)(
      rows(3, from = 100))
    assert(appended.count() == 8 && published(next))
  }

  test("a partition column that is not LONG is refused") {
    val r = root()
    val target = new File(r, "t-int")
    val e = intercept[IllegalArgumentException] {
      Store.storedTable(spark, target.getPath, partitionBy = Seq("cell"))(
        rows(4).withColumn("cell", (col("k") % 2).cast("int")))
    }
    assert(e.getMessage.contains("must be LONG"), e.getMessage)
    assert(r.listFiles().isEmpty, "a refused build left files behind")
  }

  test("sweep: stale tokens and old .tmp- dirs go; current and recent stay") {
    val r = root()
    val now = System.currentTimeMillis()
    val old = now - Store.SweepGraceMs - 60000L
    def entry(name: String, mtime: Long, dir: Boolean = true): File = {
      val f = new File(r, name)
      if (dir) junkPart(f) else f.createNewFile()
      f.setLastModified(mtime)
      f
    }
    def current(f: Store.Family, kind: String) =
      new File(Store.dir(f, "/nonexistent/fx", kind)).getName
    // the same fixture and kind under an older fixture stamp
    def superseded(f: Store.Family, kind: String) =
      current(f, kind).dropRight(12) + "0123456789ab"
    val keep = Seq(
      entry(current(Store.Dedup, "pairs"), old),
      entry(current(Store.Dedup, "pairs") + ".lock", old, dir = false),
      entry(current(Store.Tf, "tf0"), old),
      entry("t_fx-pairs-v3-0123456789ab", now), // stale, inside the grace
      entry("t_fx-pairs-v3-0123456789ab.lock", old, dir = false),
      entry(current(Store.Dedup, "labels") + ".tmp-3-4", now),
      entry(current(Store.Dedup, "ranks"), now),
      entry(superseded(Store.Dedup, "ranks"), now - 60000L)) // inside the grace
    val gone = Seq(
      entry("t_fx-labels-v3-0123456789ab", old), // pre-family layout
      entry("t_fx-labels-v3-0123456789ab.lock", old, dir = false),
      entry(s"t_fx-pairs-v${Store.FormatVersion}.d0-0123456789ab", old),
      entry("t_fx-v3.p8-0123456789ab", old), // old nested PQ index
      entry(current(Store.Pq, "codes"), old), // not a family of this root
      entry(current(Store.Dedup, "ranks") + ".tmp-1-2", old),
      entry(superseded(Store.Dedup, "pairs"), old - 60000L), // older generation
      entry(superseded(Store.Dedup, "pairs") + ".lock", old, dir = false))
    Store.sweep(r, Seq(Store.Dedup, Store.Tf), now)
    keep.foreach(f => assert(f.exists(), s"${f.getName} was swept"))
    gone.foreach(f => assert(!f.exists(), s"${f.getName} survived the sweep"))
  }
}
