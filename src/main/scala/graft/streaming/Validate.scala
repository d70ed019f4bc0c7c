package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StatefulProcessor, TimeMode, TimerValues}

/** Transaction-bracket stream validation — the reference's consumer-side
  * state machine recast as a typed Spark fold.
  *
  * pgshovel publishes per-publisher, sequence-numbered messages
  * bracketed `Begin → Mutation* → (Commit|Rollback)` (public pgshovel
  * `streams.proto`), and consumers enforce: contiguous sequence
  * (SequencingError), duplicate drop (at-least-once relay), and legal
  * operation transitions (InvalidOperation / TransactionAborted) —
  * public pgshovel `replication/validation/transactions.py` semantics.
  * Violations are emitted as rows, never thrown, so a bad publisher
  * cannot kill the pipeline.
  *
  * The transition function [[step]] is a pure fold shared verbatim by:
  *  - [[validateBatch]]: `groupByKey(publisher).flatMapGroups` over a
  *    recorded stream (per-group in-memory sort — groups are per
  *    publisher, bounded by the relay's batch size at the reference);
  *  - [[validateStream]]: `flatMapGroupsWithState` under Structured
  *    Streaming — state lives in the state store (RocksDB at scale),
  *    one entry per publisher, so state size is O(publishers), not
  *    O(messages).
  *
  * Batch/stream parity of the two is asserted in ValidateSpec, and FSM
  * laws (well-formed accepted; injected gaps/duplicates/bracket breaks
  * detected) are ScalaCheck properties.
  *
  * The group layer ([[GMsg]], [[stepGroup]]) adds pgshovel's
  * publisher-failover acceptance (SURVEY §3.1 E3): a new publisher
  * legally supersedes the old one mid-stream (audited `handoff`, with
  * the implied abort of an unfinished transaction), and a superseded
  * publisher can never re-enter (`stale_publisher`).
  */
object Validate {

  /** One stream message. op ∈ begin | mutation | commit | rollback. */
  case class Msg(publisher: String, seq: Long, op: String)

  /** Per-publisher FSM state. lastSeq = -1 ⇒ nothing seen yet. */
  case class TxnState(lastSeq: Long, inTxn: Boolean)
  val initialState: TxnState = TxnState(-1L, inTxn = false)

  /** A validation finding, emitted as data. */
  case class Violation(publisher: String, seq: Long, op: String, kind: String)

  /** Pure transition: returns the next state plus any violations this
    * message triggers. Duplicates (seq ≤ lastSeq) are dropped without a
    * state change — the reference's redelivery tolerance. */
  def step(st: TxnState, m: Msg): (TxnState, List[Violation]) = {
    if (st.lastSeq >= 0 && m.seq <= st.lastSeq)
      (st, List(Violation(m.publisher, m.seq, m.op, "duplicate")))
    else {
      val gap =
        if (st.lastSeq >= 0 && m.seq != st.lastSeq + 1)
          List(Violation(m.publisher, m.seq, m.op, "sequence_gap"))
        else Nil
      val (inTxn, bracket) = m.op match {
        case "begin" if st.inTxn =>
          (true, List(Violation(m.publisher, m.seq, m.op, "begin_in_txn")))
        case "begin" => (true, Nil)
        case "mutation" if !st.inTxn =>
          (false, List(Violation(m.publisher, m.seq, m.op, "mutation_outside_txn")))
        case "mutation" => (true, Nil)
        case "commit" | "rollback" if !st.inTxn =>
          (false, List(Violation(m.publisher, m.seq, m.op, "end_outside_txn")))
        case "commit" | "rollback" => (false, Nil)
        case _ =>
          (st.inTxn, List(Violation(m.publisher, m.seq, m.op, "unknown_op")))
      }
      (TxnState(m.seq, inTxn), gap ++ bracket)
    }
  }

  /** Fold a publisher's messages (already in arrival order); linear in
    * the slice (violations accumulate in a builder). */
  def run(msgs: Iterator[Msg], init: TxnState = initialState)
      : (TxnState, List[Violation]) = {
    val out = List.newBuilder[Violation]
    val last = msgs.foldLeft(init) { (st, m) =>
      val (st2, vs) = step(st, m)
      out ++= vs
      st2
    }
    (last, out.result())
  }

  /** Batch twin: validate a recorded stream. */
  def validateBatch(msgs: Dataset[Msg]): Dataset[Violation] = {
    val spark = msgs.sparkSession
    import spark.implicits._
    msgs.groupByKey(_.publisher).flatMapGroups { (_, it) =>
      run(it.toSeq.sortBy(_.seq).iterator)._2
    }
  }

  /** The same FSM on the Spark 4 `transformWithState` API — the
    * successor to flatMapGroupsWithState: explicit typed state handles
    * from the StatefulProcessorHandle, per-key timers, and state
    * schema evolution. Behavior is identical to [[validateStream]]
    * (ValidateSpec asserts parity); both fold with [[step]]. */
  class ValidateProcessor extends StatefulProcessor[String, Msg, Violation] {
    @transient private var state:
      org.apache.spark.sql.streaming.ValueState[TxnState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[TxnState]("txn",
        Encoders.product[TxnState], org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[Msg],
        timerValues: TimerValues): Iterator[Violation] = {
      val init = Option(state.get()).getOrElse(initialState)
      val (st, vs) = run(rows.toSeq.sortBy(_.seq).iterator, init)
      state.update(st)
      vs.iterator
    }
  }

  /** Streaming validation on transformWithState. */
  def validateStreamTws(msgs: Dataset[Msg]): Dataset[Violation] = {
    val spark = msgs.sparkSession
    import spark.implicits._
    msgs.groupByKey(_.publisher)
      .transformWithState(new ValidateProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  /** Streaming form: one state-store entry per publisher; violations
    * append per micro-batch. */
  def validateStream(msgs: Dataset[Msg]): Dataset[Violation] = {
    val spark = msgs.sparkSession
    import spark.implicits._
    msgs.groupByKey(_.publisher)
      .flatMapGroupsWithState[TxnState, Violation](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_, it: Iterator[Msg], state: GroupState[TxnState]) =>
          val init = state.getOption.getOrElse(initialState)
          val (st, vs) = run(it.toSeq.sortBy(_.seq).iterator, init)
          state.update(st)
          vs.iterator
      }
  }

  // ------------------------------------------------- publisher failover

  /** One message of a replication-set (group) stream with failover.
    * pgshovel runs one relay (publisher) per set at a time; on relay
    * failure another takes over under a NEW publisher id with its own
    * sequence space, and consumers must accept the takeover
    * (SURVEY §3.1 E3 "publisher-failover acceptance") rather than
    * flag it. `arrival` is the transport order (the Kafka offset at
    * the reference): handoff is an arrival-order concept, so the fold
    * keys on it explicitly instead of on any publisher's sequence. */
  case class GMsg(group: String, publisher: String, seq: Long, op: String,
                  arrival: Long)

  /** Per-group failover state: the publisher currently owning the
    * stream, its per-publisher FSM state, and the superseded
    * publishers (grows with failovers, not with messages). */
  case class GroupTxnState(active: String, pub: TxnState,
                           retired: List[String])
  val initialGroupState: GroupTxnState =
    GroupTxnState(null, initialState, Nil)

  /** A group-stream finding. `violation = false` rows are audit
    * events of ACCEPTED transitions (`handoff`, and the
    * `handoff_aborted_txn` it implies when the old publisher died
    * mid-transaction — the reference's consumers likewise discard the
    * unfinished transaction and move on); `violation = true` rows are
    * [[step]]'s kinds plus `stale_publisher`. */
  case class GroupEvent(group: String, publisher: String, seq: Long,
                        op: String, kind: String, violation: Boolean)

  /** Pure group transition — wraps [[step]] with failover acceptance:
    *  - messages from the active publisher validate as before;
    *  - a message from an UNSEEN publisher is a legal takeover: emit
    *    an audited `handoff` (plus `handoff_aborted_txn` if the old
    *    publisher left a transaction open), retire the old publisher,
    *    and validate the message against a fresh per-publisher state
    *    (new publishers start their own sequence space);
    *  - a message from a RETIRED publisher is a `stale_publisher`
    *    violation and is dropped without touching state — a
    *    superseded relay must never re-enter the stream. */
  def stepGroup(st: GroupTxnState, m: GMsg)
      : (GroupTxnState, List[GroupEvent]) = {
    def ev(kind: String, violation: Boolean) =
      GroupEvent(m.group, m.publisher, m.seq, m.op, kind, violation)
    def delegate(pst: TxnState): (TxnState, List[GroupEvent]) = {
      val (next, vs) = step(pst, Msg(m.publisher, m.seq, m.op))
      (next, vs.map(v => ev(v.kind, violation = true)))
    }
    if (st.active == null || m.publisher == st.active) {
      val (p2, evs) = delegate(if (st.active == null) initialState else st.pub)
      (GroupTxnState(m.publisher, p2, st.retired), evs)
    } else if (st.retired.contains(m.publisher)) {
      (st, List(ev("stale_publisher", violation = true)))
    } else {
      val aborted =
        if (st.pub.inTxn) List(ev("handoff_aborted_txn", violation = false))
        else Nil
      val (p2, evs) = delegate(initialState)
      (GroupTxnState(m.publisher, p2, st.active :: st.retired),
        ev("handoff", violation = false) :: aborted ::: evs)
    }
  }

  /** Fold a group's messages (already in arrival order); linear in the
    * slice, like [[run]]. */
  def runGroup(msgs: Iterator[GMsg],
               init: GroupTxnState = initialGroupState)
      : (GroupTxnState, List[GroupEvent]) = {
    val out = List.newBuilder[GroupEvent]
    val last = msgs.foldLeft(init) { (st, m) =>
      val (st2, es) = stepGroup(st, m)
      out ++= es
      st2
    }
    (last, out.result())
  }

  /** Batch twin: validate a recorded group stream. */
  def validateGroupBatch(msgs: Dataset[GMsg]): Dataset[GroupEvent] = {
    val spark = msgs.sparkSession
    import spark.implicits._
    msgs.groupByKey(_.group).flatMapGroups { (_, it) =>
      runGroup(it.toSeq.sortBy(_.arrival).iterator)._2
    }
  }

  /** Streaming form: one state-store entry per GROUP (not per
    * publisher), so failover state survives the publisher change. */
  def validateGroupStream(msgs: Dataset[GMsg]): Dataset[GroupEvent] = {
    val spark = msgs.sparkSession
    import spark.implicits._
    msgs.groupByKey(_.group)
      .flatMapGroupsWithState[GroupTxnState, GroupEvent](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_, it: Iterator[GMsg], state: GroupState[GroupTxnState]) =>
          val init = state.getOption.getOrElse(initialGroupState)
          val (st, es) = runGroup(it.toSeq.sortBy(_.arrival).iterator, init)
          state.update(st)
          es.iterator
      }
  }
}
