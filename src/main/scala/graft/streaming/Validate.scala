package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}

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
  * The pure transition [[step]] is the spec. [[KeyedFold]] is the one
  * runner: keyed by publisher and ordered by `seq`, it runs [[step]] as
  * the plain fold [[run]], the batch twin [[validateBatch]] and the
  * streaming form [[validateStream]] (one state-store entry per
  * publisher, so state size is O(publishers), not O(messages)).
  *
  * Batch/stream parity is asserted in ValidateSpec (in-memory and
  * RocksDB state, and across a checkpoint restart), and FSM laws
  * (well-formed accepted; injected gaps/duplicates/bracket breaks
  * detected) are ScalaCheck properties.
  *
  * The group layer ([[GMsg]], [[stepGroup]]) adds pgshovel's
  * publisher-failover acceptance (SURVEY §3.1 E3): a new publisher
  * legally supersedes the old one mid-stream (audited `handoff`, with
  * the implied abort of an unfinished transaction), and a superseded
  * publisher can never re-enter (`stale_publisher`). It is a second
  * [[KeyedFold]] instance, keyed by group and ordered by `arrival`.
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

  private val fold = new KeyedFold[String, Msg, TxnState, Violation](
    _.publisher, Ordering.by(_.seq), initialState, step)(
    Encoders.STRING, Encoders.product[TxnState], Encoders.product[Violation])

  /** Fold a publisher's messages (already in arrival order). */
  def run(msgs: Iterator[Msg], init: TxnState = initialState)
      : (TxnState, List[Violation]) = fold.run(msgs, init)

  /** Batch twin: validate a recorded stream. */
  def validateBatch(msgs: Dataset[Msg]): Dataset[Violation] = fold.batch(msgs)

  /** Streaming form: one state-store entry per publisher; violations
    * append per micro-batch. */
  def validateStream(msgs: Dataset[Msg]): Dataset[Violation] = fold.stream(msgs)

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

  private val groupFold = new KeyedFold[String, GMsg, GroupTxnState, GroupEvent](
    _.group, Ordering.by(_.arrival), initialGroupState, stepGroup)(
    Encoders.STRING, Encoders.product[GroupTxnState], Encoders.product[GroupEvent])

  /** Fold a group's messages (already in arrival order). */
  def runGroup(msgs: Iterator[GMsg],
               init: GroupTxnState = initialGroupState)
      : (GroupTxnState, List[GroupEvent]) = groupFold.run(msgs, init)

  /** Batch twin: validate a recorded group stream. */
  def validateGroupBatch(msgs: Dataset[GMsg]): Dataset[GroupEvent] =
    groupFold.batch(msgs)

  /** Streaming form: one state-store entry per GROUP (not per
    * publisher), so failover state survives the publisher change. */
  def validateGroupStream(msgs: Dataset[GMsg]): Dataset[GroupEvent] =
    groupFold.stream(msgs)
}
