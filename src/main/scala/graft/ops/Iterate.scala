package graft.ops

import scala.annotation.tailrec
import scala.util.control.NonFatal
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one driver of a checkpointed Spark loop (PageRank, star CC,
  * label propagation). The state is a DataFrame that is truncated
  * every round with an eager heap `localCheckpoint`, so a round's plan
  * is one step deep however many rounds ran, and Catalyst sees the
  * state's true size. A round is, in this order:
  *  1. `step(prev).localCheckpoint()` — one eager job;
  *  2. the convergence check, if any;
  *  3. release of `prev`, which nothing reads again.
  *
  * `init` is a checkpoint the caller hands over: from the call on,
  * this object owns it. Only the returned final checkpoint outlives the
  * call (the caller's returned plan reads it). On a non-fatal failure
  * every checkpoint the loop holds is released and the same exception
  * is rethrown.
  *
  * Heap checkpoints suit node- or skeleton-sized state. A corpus-scale
  * input that every round re-reads goes [[onDisk]] instead; the
  * plan-only Lloyd rounds of `Vectors` take no checkpoint at all
  * (PLANS.md "Iteration driver"). */
private[graft] object Iterate {

  /** Round cap of [[fixpoint]]: a loop that is still changing after
    * this many rounds fails instead of running on. */
  val MaxRounds = 50

  /** Exactly `n` rounds; no convergence check, so no extra job. */
  def rounds(init: DataFrame, n: Int)(step: DataFrame => DataFrame): DataFrame =
    loop(init, n, step, (_, _) => false, identity)

  /** Rounds until `stable(prev, next)` holds, at most [[MaxRounds]];
    * past the cap it fails with "`what` did not converge in 50 rounds". */
  def fixpoint(init: DataFrame, what: String)(step: DataFrame => DataFrame)(
      stable: (DataFrame, DataFrame) => Boolean): DataFrame =
    loop(init, MaxRounds, step, stable,
      _ => throw new IllegalStateException(s"$what did not converge in $MaxRounds rounds"))

  /** `capped` is what reaching the cap means: the result for [[rounds]],
    * a failure for [[fixpoint]]. */
  private def loop(init: DataFrame, cap: Int, step: DataFrame => DataFrame,
      stable: (DataFrame, DataFrame) => Boolean,
      capped: DataFrame => DataFrame): DataFrame = {
    @tailrec def go(prev: DataFrame, round: Int): DataFrame =
      if (round > cap) releasingOnFailure(prev)(capped(prev))
      else {
        val next = releasingOnFailure(prev)(step(prev).localCheckpoint())
        val done = releasingOnFailure(prev, next)(stable(prev, next))
        release(prev)
        if (done) next else go(next, round + 1)
      }
    go(init, 1)
  }

  private def releasingOnFailure[A](live: DataFrame*)(body: => A): A =
    try body catch { case NonFatal(e) => live.foreach(release); throw e }

  /** Materialize `df` once into the disk store and return it, for a
    * corpus-scale input that several branches or rounds read.
    *
    * DISK_ONLY, not a checkpoint: a heap-backed copy pins the frame in
    * executor memory for the whole loop. Measured at sf1: PageRank's
    * directed edge stream (75 M rows) failed the query outright and
    * poisoned every later query in the same JVM (65 suite failures);
    * star CC's raw pair set (205–219 M rows) made later CC invocations
    * in the same JVM degrade 23 → 82–93 s (heap aging), and is what
    * forced the 48 GiB local-mode heap. On disk a pass costs one
    * deserialize and the heap holds only stream buffers.
    *
    * The `count()` is the barrier: a lazy persist fills per partition as
    * tasks finish, so the two branches of a union over `df` run as
    * parallel map stages, race past the empty cache and each re-run its
    * lineage (two identical 12.6 s stages under star CC's `hop`
    * checkpoint at sf0.1). After the count every consumer reads the
    * disk blocks, so the lineage runs once. */
  def onDisk(df: DataFrame): DataFrame = {
    df.persist(StorageLevel.DISK_ONLY)
    df.count()
    df
  }

  /** Free the blocks of a frame nothing will read again: a
    * `localCheckpoint` through its `LogicalRDD`'s RDD, anything else
    * (an [[onDisk]] persist) through `Dataset.unpersist`. The latter
    * alone cannot free a checkpoint: it only drops CacheManager
    * entries, and a checkpoint has none, so its RDD would stay until
    * the ContextCleaner happened to collect the frame. A checkpoint's
    * blocks cannot be recomputed, so release only the superseded. */
  def release(df: DataFrame): Unit = df.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.unpersist(blocking = false); ()
    case _ => df.unpersist(blocking = false); ()
  }

  /** Free the checkpoints that `spent` reads and `live` does not: once
    * a materialized frame has replaced `spent`, its `LogicalRDD`
    * leaves are dead unless the returned plan `live` still reads them
    * (a caller's checkpoint passed through, say). */
  def releaseSpent(spent: DataFrame, live: DataFrame): Unit = {
    def leaves(df: DataFrame) =
      df.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd }
    val kept = leaves(live).map(_.id).toSet
    leaves(spent).filterNot(r => kept(r.id)).foreach(_.unpersist(blocking = false))
  }
}
