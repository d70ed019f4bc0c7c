package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Det
import graft.io.{Store, Tables}

/** CDC / stream-semantics operators — the reference's actual surface
  * recast on Spark (SURVEY.md §2.H).
  *
  * pgshovel's consumers reconstruct row state from an ordered stream of
  * keyed mutations: last-write-wins compaction (snapshot building),
  * duplicate tolerance (at-least-once relay), sequence-gap / ordering
  * audits (stream validation), and applying validated deltas to a target
  * (replication targets). `events` plays the mutation stream:
  * event_id ≡ publisher sequence, user_id ≡ primary key, ts ≡ commit
  * time, value ≡ payload.
  *
  * Scale notes (100 TB): every operator here is keyed by the entity key
  * — compaction, dedup and gap detection are one shuffle by key followed
  * by a partition-local sort (window), which is the plan you want on a
  * 1000-executor cluster. Nothing collects to the driver; nothing is
  * quadratic. The streaming twins (Structured Streaming with RocksDB
  * state) share these exact frame semantics — see graft.streaming.
  */
object Cdc {
  type Q = (SparkSession, String) => DataFrame

  /** Normalized mutation stream: cross-engine-safe ts (see Det.ets). */
  private def stream(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).withColumn("ts", Det.ets(col("ts")))

  private val wLatest =
    Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)

  /** Last-write-wins compaction: the reference's snapshot fold. One
    * shuffle by key; row_number beats groupBy+join for "whole latest
    * row" because the payload never leaves its partition. */
  private val latestState: Q = (s, d) =>
    stream(s, d)
      .withColumn("rn", row_number().over(wLatest))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("value"), Det.outTs(col("ts")).as("ts"))
      .orderBy(col("user_id").asc)

  /** Day-chain ingest split for the compaction checkpoints — THREE
    * generations: `event_id % 10 < 8` is the day-0 history (80%),
    * `== 8` is day-1's ops (10%, folded into the stored snap1
    * checkpoint), `== 9` is day-2's live batch (10%). */
  private[graft] val Day2NewMin = 8

  /** One LWW fold step over a snapshot ∪ ops union: keeps each key's
    * winning row under the (ts, event_id) total order, columns
    * unchanged (raw ts) so the output can re-enter a LATER fold —
    * the semigroup operation both [[compactDay2]] and the streaming
    * twin (StreamsSpec "foreachBatch checkpointed compaction") run. */
  private[graft] def lwwStep(df: DataFrame): DataFrame =
    df.withColumn("rn", row_number().over(wLatest))
      .filter(col("rn") === 1).drop("rn")

  /** The day-0 compaction CHECKPOINT: the LWW fold of the first 80% of
    * the sequence space, published once through the locked store layer
    * ([[Store.storedTable]]). Rows keep their ORIGINAL (ts, event_id)
    * so the snapshot re-enters a later fold as ordinary ops. */
  private[graft] def storedSnapshot(s: SparkSession, d: String): DataFrame =
    Store.storedTable(s, Store.dir(Store.Cdc, d, "snap0")) {
      lwwStep(stream(s, d)
        .filter(pmod(col("event_id"), lit(10)) < Day2NewMin))
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("value"), col("ts"))
    }

  /** The day-1 compaction checkpoint — the SECOND stored generation
    * (round-15 verdict #6: the dedup family proved multi-generation
    * store chains; CDC stopped at one): day-1's ops fold into the
    * day-0 snapshot and publish as their own store, upstream-receipted
    * against snap0, so day-2 replays NEITHER history nor day-1.
    * Because LWW is a semigroup fold and each checkpoint retains every
    * key's winning (ts, event_id), the chain composes:
    * fold(snap1 ∪ day-2) = fold(fold(snap0 ∪ day-1) ∪ day-2) =
    * fold(all ops). */
  private[graft] def storedSnapshot1(s: SparkSession, d: String): DataFrame =
    Store.storedTable(s, Store.dir(Store.Cdc, d, "snap1"),
        upstream = Seq(Store.dir(Store.Cdc, d, "snap0"))) {
      lwwStep(storedSnapshot(s, d).unionByName(
          stream(s, d)
            .filter(pmod(col("event_id"), lit(10)) === Day2NewMin)
            .select(col("user_id"), col("event_id"), col("event_type"),
              col("value"), col("ts"))))
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("value"), col("ts"))
    }

  /** Checkpointed compaction — how a CDC consumer actually runs at
    * 100 TB: it never replays history. The chain is now THREE
    * generations: day-0's LWW fold published once ([[storedSnapshot]]),
    * day-1's fold chained on top as its own store
    * ([[storedSnapshot1]]), and day-2 folds {snap1 ∪ today's 10%}.
    * LWW is a semigroup fold over the (ts, event_id) total order and
    * each snapshot retains each key's winning (ts, event_id), so the
    * two-checkpoint composition ≡ fold(all ops) EXACTLY — the oracle
    * is [[latestState]]'s full-replay SQL verbatim, so the driver
    * hash-compare proves the whole chain. Daily cost:
    * O(|snapshot| + |day's ops|) through one keyed shuffle,
    * independent of history length AND of generation count. */
  private val compactDay2: Q = (s, d) => {
    val batch = stream(s, d)
      .filter(pmod(col("event_id"), lit(10)) > Day2NewMin)
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("value"), col("ts"))
    lwwStep(storedSnapshot1(s, d).unionByName(batch))
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("value"), Det.outTs(col("ts")).as("ts"))
      .orderBy(col("user_id").asc)
  }

  /** At-least-once dedup: self-union simulates relay redelivery; exact
    * once restored by the sequence key. One row per event_id survives,
    * chosen by a total order over the payload — deterministic even if a
    * redelivery ever carried a mutated payload (dropDuplicates would
    * keep an arbitrary one). */
  private val dedup: Q = (s, d) => {
    val e = stream(s, d)
    val w = Window.partitionBy(col("event_id"))
      .orderBy(col("user_id").asc, col("event_type").asc,
        col("value").asc, col("ts").asc)
    e.unionAll(e)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), Det.outTs(col("ts")).as("ts"))
      .orderBy(col("event_id").asc)
  }

  /** Sequence-gap detection (reference: SequencingError on
    * non-contiguous publisher sequence). Flags per-user jumps larger
    * than 3× the expected stride (~100 here). */
  private val sequenceGaps: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id").asc)
    stream(s, d)
      .withColumn("prev_id", lag(col("event_id"), 1).over(w))
      .withColumn("gap", col("event_id") - col("prev_id"))
      .filter(col("gap") > 300)
      .select(col("user_id"), col("prev_id"), col("event_id"), col("gap"))
      .orderBy(col("user_id").asc, col("event_id").asc)
  }

  /** Ordering-violation audit (reference: stream validation rejects
    * non-monotonic states). The raw feed is perfectly ordered, so both
    * engines first apply the same deterministic perturbation —
    * pts = ts - (event_id % 13) minutes — then flag rows whose pts is
    * behind the running max of earlier rows in sequence order. */
  private val outOfOrder: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    stream(s, d)
      .withColumn("pts",
        expr("ts - make_interval(0, 0, 0, 0, 0, CAST(event_id % 13 AS INT), 0)"))
      .withColumn("prior_max", max(col("pts")).over(w))
      .filter(col("pts") < col("prior_max"))
      .select(col("user_id"), col("event_id"),
        Det.outTs(col("pts")).as("pts"),
        Det.outTs(col("prior_max")).as("prior_max"))
      .orderBy(col("user_id").asc, col("event_id").asc)
  }

  /** MERGE/upsert: compact the purchase deltas (latest per key), then
    * full-outer apply onto the customer base — coalesce(new, old).
    * At scale: the compacted delta is small → broadcast side of the
    * apply join; the base never shuffles. */
  private val mergeUpsert: Q = (s, d) => {
    val deltas = stream(s, d)
      .filter(col("event_type") === "purchase")
      .withColumn("rn", row_number().over(wLatest))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("value").as("new_acctbal"))
    Tables.customer(s, d)
      .join(deltas, col("c_custkey") === col("user_id"), "full")
      .select(
        coalesce(col("c_custkey"), col("user_id")).as("key"),
        col("c_acctbal").as("old_acctbal"),
        coalesce(col("new_acctbal"), col("c_acctbal")).as("acctbal"))
      .orderBy(col("key").asc)
  }

  /** Point-in-time snapshot: filter to the horizon, then compact —
    * the reference's consistent-bootstrap semantics without MVCC
    * (the stream is totally ordered). */
  private val snapshotAt: Q = (s, d) => {
    val horizon = lit("2024-01-15 00:00:00").cast("timestamp")
    stream(s, d)
      .filter(col("ts") <= horizon)
      .withColumn("rn", row_number().over(wLatest))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("value"), Det.outTs(col("ts")).as("ts"))
      .orderBy(col("user_id").asc)
  }

  /** Snapshot reconciliation — the consistency check a CDC pipeline
    * runs after a bootstrap or on suspected drift: diff the live
    * compacted state against a point-in-time snapshot (the
    * [[snapshotAt]] horizon plays the stale target) and emit the op
    * stream (insert/update/delete) that would bring the target
    * current. The op classification is the apply-side inverse of
    * [[mergeUpsert]]: what merge folds in, reconcile detects as
    * missing.
    *
    * Plan: both sides are the standard one-shuffle window compaction,
    * diffed by ONE entity-keyed full outer join — at 100 TB this is
    * two keyed compactions + one co-partitioned join, no broadcast of
    * anything state-sized. On an append-only fixture 'delete' is
    * structurally unreachable (live keys ⊇ snapshot keys — the spec
    * asserts exactly that); it fires when a real target holds keys the
    * source has since compacted away. */
  private val reconcile: Q = (s, d) => {
    val horizon = lit("2024-01-15 00:00:00").cast("timestamp")
    def compact(df: DataFrame): DataFrame = df
      .withColumn("rn", row_number().over(wLatest))
      .filter(col("rn") === 1)
    val tgt = compact(stream(s, d).filter(col("ts") <= horizon))
      .select(col("user_id"), col("event_id").as("tgt_event_id"))
    val src = compact(stream(s, d))
      .select(col("user_id"), col("event_id").as("src_event_id"),
        col("event_type").as("src_event_type"), col("value").as("src_value"))
    src.join(tgt, Seq("user_id"), "full_outer")
      .withColumn("op",
        when(col("tgt_event_id").isNull, "insert")
          .when(col("src_event_id").isNull, "delete")
          .when(col("src_event_id") =!= col("tgt_event_id"), "update"))
      .filter(col("op").isNotNull)
      .select(col("user_id"), col("op"), col("tgt_event_id"),
        col("src_event_id"), col("src_event_type"), col("src_value"))
      .orderBy(col("user_id").asc)
  }

  /** Batch/transaction accounting: per (key, hour) — the relay's
    * Begin..Commit batch summary. min_by/max_by pick first/last payload
    * by sequence without a second window pass. */
  private val txnStats: Q = (s, d) =>
    stream(s, d)
      .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n_events"),
        Det.dsum(col("value")).as("sum_value"),
        min_by(col("event_type"), col("event_id")).as("first_type"),
        max_by(col("event_type"), col("event_id")).as("last_type"))
      .orderBy(col("user_id").asc, col("hour").asc)

  /** SCD type-2 history: every mutation becomes a validity interval
    * [valid_from, valid_to), closed by the key's next mutation
    * (`lead`); the open interval is the current state. This is the
    * standard warehouse materialization of a CDC stream — one shuffle
    * by key, one partition-local sort, same frame as compaction. */
  private val scd2: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    stream(s, d)
      .withColumn("vt", lead(col("ts"), 1).over(w))
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("value"),
        Det.outTs(col("ts")).as("valid_from"),
        Det.outTs(col("vt")).as("valid_to"),
        col("vt").isNull.as("is_current"))
      .orderBy(col("user_id").asc, col("event_id").asc)
  }

  /** Tombstone-aware compaction — the reference's DELETE path: a
    * mutation stream's last operation decides whether the key still
    * exists. Here `error` plays the tombstone operation (the fixture
    * has no literal delete type): compact to latest state, keep only
    * keys whose final event is not a tombstone, and report how many
    * tombstones each surviving key absorbed along the way. Same
    * one-shuffle window frame as [[latestState]]. */
  private val tombstone: Q = (s, d) =>
    stream(s, d)
      .withColumn("rn", row_number().over(wLatest))
      .withColumn("n_tombstones",
        sum(when(col("event_type") === "error", 1L).otherwise(0L))
          .over(Window.partitionBy(col("user_id"))))
      .filter(col("rn") === 1 && col("event_type") =!= "error")
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("value"), Det.outTs(col("ts")).as("ts"), col("n_tombstones"))
      .orderBy(col("user_id").asc)

  /** Op-typed mutation stream — the reference's actual message shape:
    * op ∈ {insert, update, delete} with old/new payload (type, value),
    * keyed by PK. Derived from the ordered event feed per key: the
    * first sighting (or the first after a delete) is an INSERT, a
    * later non-tombstone event is an UPDATE carrying the prior payload
    * as `old_*`, and a tombstone on a live key is a DELETE carrying
    * only `old_*`. Tombstones on keys that don't exist are no-ops and
    * are dropped (a delete can't reference a row that was never
    * inserted). One `lag` window — one shuffle by key, partition-local
    * sort, the same frame every compaction here rides. */
  private def opsStream(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    stream(s, d)
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .withColumn("prev_value", lag(col("value"), 1).over(w))
      .withColumn("existed",
        col("prev_type").isNotNull && col("prev_type") =!= "error")
      .withColumn("op",
        when(col("event_type") === "error",
          when(col("existed"), lit("delete")))
          .otherwise(when(col("existed"), lit("update"))
            .otherwise(lit("insert"))))
      .filter(col("op").isNotNull)
      .withColumn("old_type", when(col("op") =!= "insert", col("prev_type")))
      .withColumn("old_value", when(col("op") =!= "insert", col("prev_value")))
      .withColumn("new_type", when(col("op") =!= "delete", col("event_type")))
      .withColumn("new_value", when(col("op") =!= "delete", col("value")))
  }

  private val opsStreamQ: Q = (s, d) =>
    opsStream(s, d)
      .select(col("user_id"), col("event_id"), Det.outTs(col("ts")).as("ts"),
        col("op"), col("old_type"), col("old_value"),
        col("new_type"), col("new_value"))
      .orderBy(col("user_id").asc, col("event_id").asc)

  /** Snapshot fold over [[opsStream]] — pgshovel's consumer-side state
    * reconstruction: apply the op stream in order; a key exists iff its
    * last op is not a delete, and its state is that op's new payload.
    * Per-key op counts ride the same single shuffle as the fold (window
    * aggregates over the key partition, tombstone-query pattern).
    * OperatorSpec reconciles this against the independent
    * [[tombstone]] compaction — two formulations, same survivors. */
  private val applyOps: Q = (s, d) =>
    opsStream(s, d)
      .withColumn("rn", row_number().over(wLatest))
      .withColumn("n_inserts",
        sum(when(col("op") === "insert", 1L).otherwise(0L))
          .over(Window.partitionBy(col("user_id"))))
      .withColumn("n_updates",
        sum(when(col("op") === "update", 1L).otherwise(0L))
          .over(Window.partitionBy(col("user_id"))))
      .withColumn("n_deletes",
        sum(when(col("op") === "delete", 1L).otherwise(0L))
          .over(Window.partitionBy(col("user_id"))))
      .filter(col("rn") === 1 && col("op") =!= "delete")
      .select(col("user_id"), col("event_id").as("last_event_id"),
        col("new_type").as("event_type"), col("new_value").as("value"),
        Det.outTs(col("ts")).as("ts"),
        col("n_inserts"), col("n_updates"), col("n_deletes"))
      .orderBy(col("user_id").asc)

  /** CDC schema evolution — the reference's per-table configuration
    * versioning surfaced in the consumer: the payload schema CHANGES
    * mid-stream and the snapshot fold tolerates (and audits) it.
    * The stream's own sequence defines three configuration versions —
    * first third v1 (payload = {value}), middle third v2 (column
    * `score` ADDED: score = length(event_type) + event_id % 100),
    * last third v3 (column `value` DROPPED) — so the epoch history
    * scales with the fixture and both engines derive it identically
    * from MAX(event_id).
    *
    * Fold semantics (the Debezium→warehouse convention): a key's
    * snapshot row carries the columns of the version it was LAST
    * written under — `score` is NULL for keys last written before the
    * addition (old-rows-null), `value` is NULL for keys last written
    * after the drop (dropped-column masking); neither is ever
    * back-filled or resurrected from older events. first_v/last_v
    * audit the version span each key's history crossed.
    *
    * Plan: the version boundary is ONE broadcast scalar
    * (crossJoin(broadcast(max))) — no corpus-sized exchange is added;
    * the fold itself is the standard one-shuffle [[wLatest]] window,
    * and the audit columns ride the same key partition. */
  private val schemaEvolve: Q = (s, d) => {
    val e = stream(s, d)
    val bounds = e.agg(max(col("event_id")).as("mx"))
    val withV = e.crossJoin(broadcast(bounds))
      .withColumn("schema_v",
        when(col("event_id") * 3 <= col("mx"), 1L)
          .when(col("event_id") * 3 <= col("mx") * 2, 2L)
          .otherwise(3L))
    withV
      .withColumn("score", when(col("schema_v") >= 2,
        length(col("event_type")).cast("long") +
          pmod(col("event_id"), lit(100L))))
      .withColumn("pval", when(col("schema_v") <= 2, col("value")))
      .withColumn("rn", row_number().over(wLatest))
      .withColumn("first_v",
        min(col("schema_v")).over(Window.partitionBy(col("user_id"))))
      .withColumn("last_v",
        max(col("schema_v")).over(Window.partitionBy(col("user_id"))))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id").as("last_event_id"),
        col("schema_v"), col("event_type"), col("pval").as("value"),
        col("score"), col("first_v"), col("last_v"))
      .orderBy(col("user_id").asc)
  }

  val queries: Map[String, Q] = Map(
    "q_cdc_ops_stream"    -> opsStreamQ,
    "q_cdc_schema_evolve" -> schemaEvolve,
    "q_cdc_apply_ops"     -> applyOps,
    "q_cdc_scd2"          -> scd2,
    "q_cdc_tombstone"     -> tombstone,
    "q_cdc_latest_state"  -> latestState,
    "q_cdc_compact_day2"  -> compactDay2,
    "q_cdc_dedup"         -> dedup,
    "q_cdc_sequence_gaps" -> sequenceGaps,
    "q_cdc_out_of_order"  -> outOfOrder,
    "q_cdc_merge_upsert"  -> mergeUpsert,
    "q_cdc_snapshot_at"   -> snapshotAt,
    "q_cdc_txn_stats"     -> txnStats,
    "q_cdc_reconcile"     -> reconcile,
  )

  private val sqlStream =
    "SELECT event_id, user_id, event_type, value, props, " +
      s"${Det.sqlEts("ts")} AS ts FROM events"

  /** Full-replay LWW oracle — also the oracle of the checkpointed
    * fold [[compactDay2]] (see its scaladoc for why the results are
    * provably identical). */
  private lazy val sqlLatestState: String =
    s"""WITH s AS ($sqlStream),
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
       |                ORDER BY ts DESC, event_id DESC) AS rn FROM s)
       |SELECT user_id, event_id, event_type, value,
       |       ${Det.sqlOutTs("ts")} AS ts
       |FROM r WHERE rn = 1
       |ORDER BY user_id ASC""".stripMargin

  /** Shared CTE chain deriving the op-typed stream (DuckDB twin of
    * [[opsStream]]); ends in `f(user_id, event_id, ts, op, old_*, new_*)`. */
  private val sqlOps =
    s"""s AS ($sqlStream),
       |lg AS (SELECT user_id, event_id, ts, event_type, value,
       |         LAG(event_type, 1) OVER (PARTITION BY user_id
       |                ORDER BY ts ASC, event_id ASC) AS prev_type,
       |         LAG(value, 1) OVER (PARTITION BY user_id
       |                ORDER BY ts ASC, event_id ASC) AS prev_value
       |       FROM s),
       |ex AS (SELECT *,
       |         (prev_type IS NOT NULL AND prev_type <> 'error') AS existed
       |       FROM lg),
       |o AS (SELECT *,
       |        CASE WHEN event_type = 'error'
       |             THEN CASE WHEN existed THEN 'delete' END
       |             WHEN existed THEN 'update' ELSE 'insert' END AS op
       |      FROM ex),
       |f AS (SELECT user_id, event_id, ts, op,
       |        CASE WHEN op <> 'insert' THEN prev_type END AS old_type,
       |        CASE WHEN op <> 'insert' THEN prev_value END AS old_value,
       |        CASE WHEN op <> 'delete' THEN event_type END AS new_type,
       |        CASE WHEN op <> 'delete' THEN value END AS new_value
       |      FROM o WHERE op IS NOT NULL)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_cdc_schema_evolve" ->
      s"""WITH s AS ($sqlStream),
         |mx AS (SELECT MAX(event_id) AS mx FROM s),
         |v AS (SELECT s.*,
         |        CAST(CASE WHEN event_id * 3 <= mx THEN 1
         |                  WHEN event_id * 3 <= mx * 2 THEN 2
         |                  ELSE 3 END AS BIGINT) AS schema_v
         |      FROM s, mx),
         |p AS (SELECT *,
         |        CASE WHEN schema_v >= 2
         |             THEN LENGTH(event_type) + event_id % 100 END AS score,
         |        CASE WHEN schema_v <= 2 THEN value END AS pval
         |      FROM v),
         |r AS (SELECT *,
         |        ROW_NUMBER() OVER (PARTITION BY user_id
         |               ORDER BY ts DESC, event_id DESC) AS rn,
         |        MIN(schema_v) OVER (PARTITION BY user_id) AS first_v,
         |        MAX(schema_v) OVER (PARTITION BY user_id) AS last_v
         |      FROM p)
         |SELECT user_id, event_id AS last_event_id, schema_v, event_type,
         |       pval AS value, score, first_v, last_v
         |FROM r WHERE rn = 1
         |ORDER BY user_id ASC""".stripMargin,
    "q_cdc_ops_stream" ->
      s"""WITH $sqlOps
         |SELECT user_id, event_id, ${Det.sqlOutTs("ts")} AS ts, op,
         |       old_type, old_value, new_type, new_value
         |FROM f
         |ORDER BY user_id ASC, event_id ASC""".stripMargin,
    "q_cdc_apply_ops" ->
      s"""WITH $sqlOps,
         |r AS (SELECT *,
         |        ROW_NUMBER() OVER (PARTITION BY user_id
         |               ORDER BY ts DESC, event_id DESC) AS rn,
         |        CAST(SUM(CASE WHEN op = 'insert' THEN 1 ELSE 0 END)
         |             OVER (PARTITION BY user_id) AS BIGINT) AS n_inserts,
         |        CAST(SUM(CASE WHEN op = 'update' THEN 1 ELSE 0 END)
         |             OVER (PARTITION BY user_id) AS BIGINT) AS n_updates,
         |        CAST(SUM(CASE WHEN op = 'delete' THEN 1 ELSE 0 END)
         |             OVER (PARTITION BY user_id) AS BIGINT) AS n_deletes
         |      FROM f)
         |SELECT user_id, event_id AS last_event_id, new_type AS event_type,
         |       new_value AS value, ${Det.sqlOutTs("ts")} AS ts,
         |       n_inserts, n_updates, n_deletes
         |FROM r WHERE rn = 1 AND op <> 'delete'
         |ORDER BY user_id ASC""".stripMargin,
    "q_cdc_tombstone" ->
      s"""WITH s AS ($sqlStream),
         |r AS (SELECT *,
         |        ROW_NUMBER() OVER (PARTITION BY user_id
         |                           ORDER BY ts DESC, event_id DESC) AS rn,
         |        CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
         |             OVER (PARTITION BY user_id) AS BIGINT) AS n_tombstones
         |      FROM s)
         |SELECT user_id, event_id, event_type, value,
         |       ${Det.sqlOutTs("ts")} AS ts, n_tombstones
         |FROM r WHERE rn = 1 AND event_type <> 'error'
         |ORDER BY user_id ASC""".stripMargin,
    "q_cdc_scd2" ->
      s"""WITH s AS ($sqlStream),
         |v AS (SELECT user_id, event_id, event_type, value, ts,
         |             LEAD(ts, 1) OVER (PARTITION BY user_id
         |                               ORDER BY ts ASC, event_id ASC) AS vt
         |      FROM s)
         |SELECT user_id, event_id, event_type, value,
         |       ${Det.sqlOutTs("ts")} AS valid_from,
         |       ${Det.sqlOutTs("vt")} AS valid_to,
         |       vt IS NULL AS is_current
         |FROM v
         |ORDER BY user_id ASC, event_id ASC""".stripMargin,
    "q_cdc_latest_state" -> sqlLatestState,
    // shared VERBATIM with q_cdc_latest_state: the driver hash-compare
    // is the checkpoint-merge ≡ full-replay proof
    "q_cdc_compact_day2" -> sqlLatestState,
    "q_cdc_dedup" ->
      s"""WITH s AS ($sqlStream),
         |u AS (SELECT * FROM s UNION ALL SELECT * FROM s),
         |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_id
         |                ORDER BY user_id ASC, event_type ASC,
         |                         value ASC, ts ASC) AS rn FROM u)
         |SELECT event_id, user_id, event_type, value,
         |       ${Det.sqlOutTs("ts")} AS ts
         |FROM r WHERE rn = 1
         |ORDER BY event_id ASC""".stripMargin,
    "q_cdc_sequence_gaps" ->
      """SELECT user_id, prev_id, event_id, gap
        |FROM (SELECT user_id, event_id,
        |             LAG(event_id, 1) OVER (PARTITION BY user_id
        |                                    ORDER BY event_id ASC) AS prev_id,
        |             event_id - LAG(event_id, 1) OVER (PARTITION BY user_id
        |                                    ORDER BY event_id ASC) AS gap
        |      FROM events)
        |WHERE gap > 300
        |ORDER BY user_id ASC, event_id ASC""".stripMargin,
    "q_cdc_out_of_order" ->
      s"""WITH s AS ($sqlStream),
         |p AS (SELECT user_id, event_id,
         |             ts - (event_id % 13) * INTERVAL 1 MINUTE AS pts
         |      FROM s),
         |m AS (SELECT user_id, event_id, pts,
         |             MAX(pts) OVER (PARTITION BY user_id ORDER BY event_id ASC
         |                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |               AS prior_max
         |      FROM p)
         |SELECT user_id, event_id, ${Det.sqlOutTs("pts")} AS pts,
         |       ${Det.sqlOutTs("prior_max")} AS prior_max
         |FROM m WHERE pts < prior_max
         |ORDER BY user_id ASC, event_id ASC""".stripMargin,
    "q_cdc_merge_upsert" ->
      s"""WITH s AS ($sqlStream),
         |d AS (SELECT user_id, value AS new_acctbal
         |      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
         |                      ORDER BY ts DESC, event_id DESC) AS rn
         |            FROM s WHERE event_type = 'purchase')
         |      WHERE rn = 1)
         |SELECT COALESCE(c_custkey, user_id) AS key,
         |       c_acctbal AS old_acctbal,
         |       COALESCE(new_acctbal, c_acctbal) AS acctbal
         |FROM customer FULL OUTER JOIN d ON c_custkey = user_id
         |ORDER BY key ASC""".stripMargin,
    "q_cdc_snapshot_at" ->
      s"""WITH s AS ($sqlStream),
         |f AS (SELECT * FROM s WHERE ts <= TIMESTAMP '2024-01-15 00:00:00'),
         |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
         |                ORDER BY ts DESC, event_id DESC) AS rn FROM f)
         |SELECT user_id, event_id, event_type, value,
         |       ${Det.sqlOutTs("ts")} AS ts
         |FROM r WHERE rn = 1
         |ORDER BY user_id ASC""".stripMargin,
    "q_cdc_reconcile" ->
      s"""WITH s AS ($sqlStream),
         |tr AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
         |                 ORDER BY ts DESC, event_id DESC) AS rn
         |       FROM s WHERE ts <= TIMESTAMP '2024-01-15 00:00:00'),
         |tgt AS (SELECT user_id, event_id AS tgt_event_id FROM tr WHERE rn = 1),
         |sr AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
         |                 ORDER BY ts DESC, event_id DESC) AS rn FROM s),
         |src AS (SELECT user_id, event_id AS src_event_id,
         |               event_type AS src_event_type, value AS src_value
         |        FROM sr WHERE rn = 1),
         |j AS (
         |  SELECT COALESCE(src.user_id, tgt.user_id) AS user_id,
         |         tgt_event_id, src_event_id, src_event_type, src_value,
         |         CASE WHEN tgt_event_id IS NULL THEN 'insert'
         |              WHEN src_event_id IS NULL THEN 'delete'
         |              WHEN src_event_id <> tgt_event_id THEN 'update'
         |         END AS op
         |  FROM src FULL OUTER JOIN tgt ON src.user_id = tgt.user_id)
         |SELECT user_id, op, tgt_event_id, src_event_id,
         |       src_event_type, src_value
         |FROM j WHERE op IS NOT NULL
         |ORDER BY user_id ASC""".stripMargin,
    "q_cdc_txn_stats" ->
      s"""WITH s AS ($sqlStream)
         |SELECT user_id, date_trunc('hour', ts) AS hour,
         |       COUNT(*) AS n_events,
         |       ${Det.sqlDsum("value")} AS sum_value,
         |       ARG_MIN(event_type, event_id) AS first_type,
         |       ARG_MAX(event_type, event_id) AS last_type
         |FROM s
         |GROUP BY user_id, date_trunc('hour', ts)
         |ORDER BY user_id ASC, hour ASC""".stripMargin,
  )
}
