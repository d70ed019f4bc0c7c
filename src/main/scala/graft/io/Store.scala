package graft.io

import java.io.File
import java.nio.file.{Files, StandardOpenOption}
import java.util.concurrent.ConcurrentHashMap
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.LongType

/** The stored-table layer: the one place that knows how a derived
  * artifact of a fixture is named, built, published, read back and
  * cleaned up. Every operator that materializes a table (the dedup
  * signature/pair/label chains, the TF chain, the PQ/IVF/SQ8 indexes,
  * the CDC compaction checkpoints) goes through it.
  *
  * Contract:
  *  - a store dir is immutable once it carries `_SUCCESS`; its name
  *    ([[dir]]) embeds a CODE token (format + family version) and a
  *    DATA token (the source table's filesystem stamp), so a builder
  *    change or a regenerated fixture is always a new dir, never an
  *    overwrite — the snapshot-id role a Delta/Iceberg table plays;
  *  - a build runs into a session-unique `.tmp-` sibling and is
  *    published by one locked same-parent rename ([[publish]]), so a
  *    reader never sees a half-written dir;
  *  - a derived store records the stores it read (`_UPSTREAM`) and
  *    refuses to read if they went incoherent; a partitioned store
  *    records its partition universe (`_CELLS`).
  */
object Store {
  import Stamp.listing

  /** A store family: which root it lives under (env var + built-in
    * default), which fixture table its content stamp is taken from, and
    * the family version folded into every dir name. Bump a family's
    * `version` whenever one of its builders changes (persisted columns,
    * thresholds, geometry, layout): only that family's stores rebuild. */
  final case class Family(tag: String, rootEnv: String, defaultRoot: String,
                          source: String, version: Int) {
    def root: String = sys.env.getOrElse(rootEnv, defaultRoot)
    private[io] def token: String = s"-v$FormatVersion.$tag$version-"
  }

  /** Dedup signature/pair/label/rank chains over `documents`. */
  // d3: day-chain restructure (d1labels reads the appended d1pairs
  // store; d0pairs/d1ranks added) — a v2 d1labels receipt naming
  // d1sigs was refused by the coherence guard the moment it changed.
  val Dedup = Family("d", "SPARK_GRAFT_SIG_STORE", "/tmp/graft-sig-store",
    "documents", 3)

  /** Term-frequency day chain over `documents`, beside the dedup stores. */
  // t2: three generations (tf1 appends ONLY doc_id%10==8, tf2 ==9) — a
  // t1 tf1 store holds the old two-way split's ≥8 batch.
  val Tf = Family("t", "SPARK_GRAFT_SIG_STORE", "/tmp/graft-sig-store",
    "documents", 2)

  /** PQ / IVF-PQ / IVF-SQ8 indexes over `embeddings`. */
  // p2: map-side coding + stored IVF tables. p3: corpus-derived
  // geometry + sampled training in every builder. p4/p5: ivfcodes and
  // rescodes hive-partitioned by cell, clustered on cell before the
  // write. p6: `_CELLS` sidecar and long-typed partition read-back.
  // p8: the hot-cell split generation (splitcents/splitcodes).
  val Pq = Family("p", "SPARK_GRAFT_PQ_STORE", "/tmp/graft-pq-store",
    "embeddings", 8)

  /** CDC compaction checkpoints over `events`. */
  val Cdc = Family("c", "SPARK_GRAFT_CDC_STORE", "/tmp/graft-cdc-store",
    "events", 1)

  private val Families = Seq(Dedup, Tf, Pq, Cdc)

  /** Version of the shared machinery and of the dir-name layout itself;
    * bumped when either changes. */
  // v4: one layout for every family (`-v<format>.<tag><ver>-`); the
  // flat PQ index stopped nesting codebook/codes under one dir.
  val FormatVersion = 4

  /** Store dir of artifact `kind` derived from fixture `d`:
    * `<root>/t<sanitized d>-<kind>-v<format>.<tag><ver>-<stamp>`. The
    * "t" prefix matters: a sanitized absolute path starts with "_",
    * which Hadoop's listing filter treats as hidden. */
  def dir(family: Family, d: String, kind: String): String = {
    swept
    s"${family.root}/t${d.replaceAll("[^A-Za-z0-9._-]", "_")}-$kind" +
      family.token + Stamp(s"$d/${family.source}.parquet")
  }

  private def rm(f: File): Unit = {
    if (f.isDirectory) listing(f).foreach(rm)
    f.delete(); ()
  }

  private def published(f: File): Boolean = new File(f, "_SUCCESS").exists()

  /** Entries younger than this are never swept: a concurrent JVM on
    * other code may be mid-build (`.tmp-`) or mid-read of a store under
    * a token this code no longer writes; such a store is recent by
    * construction, while multi-day leftovers still clear. */
  private[graft] val SweepGraceMs = 6L * 3600 * 1000

  /** Delete, from `root`, every entry older than the grace window that
    * is not a store of one of `families` under the current tokens:
    * superseded versions, old layouts and dead `.tmp-` build dirs, each
    * with its `.lock` sibling (a lock is judged by the dir it guards and
    * stays while that dir is recent). Of the current-token stores of one
    * fixture and kind (names equal up to the stamp), only the newest by
    * mtime is current: the others are generations of a fixture that has
    * since been regenerated. Best-effort: a failed delete is ignored. */
  private[graft] def sweep(root: File, families: Seq[Family], nowMs: Long): Unit = {
    val current = families.map(f =>
      s"t.+-[A-Za-z0-9]+${java.util.regex.Pattern.quote(f.token)}[0-9a-f]{12}")
    def tokenCurrent(name: String) =
      !name.contains(".tmp-") && current.exists(name.matches)
    try {
      val entries = listing(root)
      val superseded = entries.filter(f => tokenCurrent(f.getName))
        .groupBy(_.getName.dropRight(12)).values
        .flatMap(_.sortBy(-_.lastModified()).tail.map(_.getName)).toSet
      entries.filter { f =>
        val guarded = new File(root, f.getName.stripSuffix(".lock"))
        (!tokenCurrent(guarded.getName) || superseded(guarded.getName)) &&
          (f.lastModified() max guarded.lastModified()) < nowMs - SweepGraceMs
      }.foreach(rm)
    } catch { case NonFatal(_) => () }
  }

  /** Runs once per JVM, and only under BUILT-IN default roots: a root
    * named by its env var may hold unrelated content and is never
    * touched. */
  private lazy val swept: Unit =
    Families.filterNot(f => sys.env.contains(f.rootEnv))
      .groupBy(_.defaultRoot).foreach { case (root, fs) =>
        sweep(new File(root), fs, System.currentTimeMillis())
      }

  /** Coherence marker of a DERIVED store: the basenames of the stores
    * its build read, re-verified on every read so a half-cleared,
    * re-stamped or cross-copied root refuses loudly instead of pairing
    * fresh tables with stale ones. */
  private[graft] val UpstreamMarker = "_UPSTREAM"

  /** Partition-universe sidecar of a partitioned store: its sorted
    * distinct partition values, so a planner learns the universe from
    * one small file instead of a directory listing. */
  private val CellsMarker = "_CELLS"

  private def checkUpstream(target: File, expected: Seq[String]): Unit = {
    val m = new File(target, UpstreamMarker)
    if (expected.nonEmpty && m.exists()) {
      val recorded = new String(Files.readAllBytes(m.toPath), "UTF-8").trim
        .split("\n").toSeq.filter(_.nonEmpty)
      val want = expected.map(p => new File(p).getName)
      require(recorded == want,
        s"store ${target.getName} is INCOHERENT with its upstream: built " +
          s"from ${recorded.mkString(",")} but the current upstream is " +
          s"${want.mkString(",")} — wipe ${target.getParent} and rebuild")
    }
  }

  /** Atomically publish the fully built `tmp` at `target`. Under the
    * lock the decision is serialized: a complete (`_SUCCESS`) target is
    * never deleted — the loser drops its byte-equivalent build — and
    * only a crashed earlier build (target present, no `_SUCCESS`) is
    * cleared before the rename. Same-parent rename ⇒ atomic; cross-JVM
    * exclusion via [[java.nio.channels.FileLock]] (released by the OS
    * even on crash), same-JVM exclusion via the interned path monitor
    * (overlapping FileLocks in one JVM throw instead of blocking). */
  private def publish(tmp: File, target: File): Unit =
    target.getPath.intern.synchronized {
      val lockFile = new File(target.getParentFile, target.getName + ".lock")
      val ch = java.nio.channels.FileChannel.open(lockFile.toPath,
        StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      try {
        val lock = ch.lock()
        try {
          if (published(target)) rm(tmp)
          else {
            if (target.exists()) rm(target)
            require(tmp.renameTo(target),
              s"stored-table publish failed for ${target.getPath}")
          }
        } finally lock.release()
      } finally ch.close()
      require(published(target), s"stored-table publish failed for ${target.getPath}")
    }

  /** Build-once-read-forever parquet table at `dir`: if it lacks
    * `_SUCCESS`, `build` is written into a temp sibling and published;
    * then the table is read back. `upstream` lists the store dirs the
    * build reads (recorded and re-verified, see [[UpstreamMarker]]).
    * `partitionBy` (at most one LONG column) writes the store
    * hive-partitioned, so a reader keyed on it scans only matching
    * subdirs; partition columns move to the END of the read-back
    * schema and are cast back to long (Spark's inference would narrow
    * them to int). */
  def storedTable(s: SparkSession, dir: String, upstream: Seq[String] = Nil,
                  partitionBy: Seq[String] = Nil)
                 (build: => DataFrame): DataFrame =
    materialize(s, dir, upstream, partitionBy, base = None)(build)

  /** Day-chain store: publish day N+1's table as day N's (`baseDir`)
    * plus `batch`, without re-deriving day N — every data file of the
    * base is HARD-LINKED into the new dir (O(#files) metadata, zero data
    * movement: the add-files commit of a Delta/Iceberg append) and only
    * `batch` is written beside them. The base must be published. */
  def storedTableAppend(s: SparkSession, dir: String, baseDir: String,
                        partitionBy: Seq[String] = Nil)
                       (batch: => DataFrame): DataFrame =
    materialize(s, dir, Seq(baseDir), partitionBy, Some(new File(baseDir)))(batch)

  private def materialize(s: SparkSession, dir: String, upstream: Seq[String],
                          partitionBy: Seq[String], base: Option[File])
                         (build: => DataFrame): DataFrame = {
    val target = new File(dir)
    if (!published(target)) {
      // _CELLS records one level of partition dirs: a multi-column
      // store would publish a sidecar readers misread as the universe
      require(partitionBy.size <= 1, s"a store takes at most one partition " +
        s"column, got $partitionBy — the _CELLS sidecar contract is single-level")
      base.foreach(b => require(published(b), s"append base $b is not published"))
      // clustered on the partition column: an N-task frame otherwise
      // writes up to N files per partition value
      val frame =
        if (partitionBy.isEmpty) build
        else build.repartition(partitionBy.map(col): _*)
      partitionBy.foreach(c => require(frame.schema(c).dataType == LongType,
        s"store partition column $c must be LONG (engine convention " +
          "— read-back casts partition columns to long)"))
      val tmp = new File(target.getParentFile,
        s"${target.getName}.tmp-${ProcessHandle.current().pid()}-${System.nanoTime()}")
      base.foreach(linkParts(_, tmp, partitionBy.headOption))
      val w = frame.write.mode(if (base.isDefined) "append" else "overwrite")
      (if (partitionBy.isEmpty) w else w.partitionBy(partitionBy: _*))
        .parquet(tmp.getPath)
      if (upstream.nonEmpty)
        Files.write(tmp.toPath.resolve(UpstreamMarker), upstream
          .map(p => new File(p).getName).mkString("", "\n", "\n").getBytes("UTF-8"))
      partitionBy.headOption.foreach(writeCells(tmp, _))
      publish(tmp, target)
    }
    checkUpstream(target, upstream)
    readStored(s, dir, partitionBy)
  }

  /** Hard-link the base's part files into `tmp`, keeping each partition
    * dir's name (the batch then adds its files beside them and new
    * values create new dirs). */
  private def linkParts(base: File, tmp: File, partCol: Option[String]): Unit = {
    def linkInto(src: File, dst: File): Unit = {
      dst.mkdirs()
      listing(src).filter(f => f.isFile && f.getName.startsWith("part-"))
        .foreach(f => Files.createLink(dst.toPath.resolve(f.getName), f.toPath))
    }
    partCol match {
      case None => linkInto(base, tmp)
      case Some(c) =>
        listing(base).filter(f => f.isDirectory && f.getName.startsWith(c + "="))
          .foreach(pd => linkInto(pd, new File(tmp, pd.getName)))
    }
  }

  /** `_CELLS` from the partition dirs a (possibly appended) write left —
    * sorted longs, one per line. A NULL value writes
    * `col=__HIVE_DEFAULT_PARTITION__`: name that cause instead of
    * failing on the parse. */
  private def writeCells(tmp: File, partCol: String): Unit = {
    val values = listing(tmp)
      .filter(f => f.isDirectory && f.getName.startsWith(partCol + "="))
      .map(_.getName.split("=", 2)(1))
    val bad = values.filterNot(_.matches("-?[0-9]+"))
    require(bad.isEmpty, s"store ${tmp.getName}: non-numeric partition dirs " +
      s"$bad — null or non-long values in partition column $partCol " +
      "(engine convention: non-null LONG)")
    Files.write(tmp.toPath.resolve(CellsMarker),
      values.map(_.toLong).sorted.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  /** The partition universe a partitioned store recorded at publish. */
  private[graft] def storedPartValues(dir: String): Seq[Long] = {
    val f = new File(dir, CellsMarker)
    require(f.exists(), s"store $dir has no $CellsMarker sidecar — " +
      "only a partitioned store has a partition universe")
    new String(Files.readAllBytes(f.toPath), "UTF-8")
      .split("\n").toSeq.filter(_.nonEmpty).map(_.toLong)
  }

  /** Read-back handles memoized per (session, store dir). A published
    * store is immutable, so the handle (whose file index holds the
    * listing and partition discovery) is reusable for the session's
    * lifetime — without it each query re-paid the partition walk and
    * footer read at plan time (0.32 s per read on a 45-partition store
    * vs 0.19 s for the scan itself).
    *
    * Keyed by the session OBJECT (identity hashes are reused after GC,
    * so a hash key could serve a handle bound to another session).
    * Eviction is explicit — a cached DataFrame strongly references its
    * session, so a weak map could never clear: entries of a stopped
    * context are purged on every lookup and an LRU cap bounds live
    * sessions (an evicted session re-pays one listing). */
  private val ReadMemoSessionCap = 8
  private val readMemo =
    new java.util.LinkedHashMap[SparkSession, ConcurrentHashMap[String, DataFrame]](
        16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[SparkSession,
          ConcurrentHashMap[String, DataFrame]]) = size > ReadMemoSessionCap
    }

  /** Live sessions currently holding memoized handles (eviction test hook). */
  private[graft] def readMemoSessionCount: Int =
    readMemo.synchronized(readMemo.size)

  private def readStored(s: SparkSession, dir: String,
                         partitionBy: Seq[String]): DataFrame = {
    val perSession = readMemo.synchronized {
      readMemo.entrySet().removeIf(_.getKey.sparkContext.isStopped)
      readMemo.computeIfAbsent(s, _ => new ConcurrentHashMap[String, DataFrame]())
    }
    perSession.computeIfAbsent(dir, _ =>
      partitionBy.foldLeft(s.read.parquet(dir))((df, c) =>
        df.withColumn(c, col(c).cast("long"))))
  }
}
