package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}

/** Streaming derivation of the op-typed mutation stream — the relay
  * side of the reference, as a typed stateful fold.
  *
  * The batch twin of this logic is `graft.ops.Cdc`'s `q_cdc_ops_stream`
  * (a lag window): first sighting of a key (or first after a delete) is
  * an INSERT, later non-tombstone events are UPDATEs carrying the prior
  * payload as `old_*`, a tombstone on a live key is a DELETE, and
  * tombstones on dead keys are no-ops. Here the same derivation runs
  * incrementally: one state-store entry per key (the last payload +
  * liveness — O(keys), not O(events)), so a continuous CDC feed emits
  * ops as it arrives instead of re-windowing the history. ApplySpec
  * asserts the batch/stream/declared-query three-way agreement.
  *
  * The pure transition [[step]] is the spec. [[KeyedFold]] is the one
  * runner: keyed by `user_id` and ordered by `event_id`, it runs
  * [[step]] as the plain fold [[run]], the batch twin [[deriveBatch]]
  * and the streaming form [[deriveStream]].
  *
  * Ordering contract: within a key, events must arrive in sequence
  * order (pgshovel's publisher guarantees exactly this; the FSM in
  * [[Validate]] is the enforcement surface). Per micro-batch the fold
  * sorts its slice defensively, but cross-batch order is the
  * transport's contract, as at the reference.
  */
object Apply {

  /** One raw CDC event (the `events` fixture shape). */
  case class Mutation(user_id: Long, event_id: Long, event_type: String,
      value: Double)

  /** Per-key fold state: last live payload, liveness. */
  case class KeyState(lastType: String, lastValue: Double, live: Boolean)
  val initialState: KeyState = KeyState("", 0.0, live = false)

  /** One derived op. op ∈ insert | update | delete. */
  case class Op(user_id: Long, event_id: Long, op: String,
      old_type: Option[String], old_value: Option[Double],
      new_type: Option[String], new_value: Option[Double])

  /** Pure transition: tombstones (`error`) delete live keys and are
    * no-ops on dead ones; everything else inserts or updates. */
  def step(st: KeyState, m: Mutation): (KeyState, Option[Op]) =
    if (m.event_type == "error") {
      if (st.live)
        (KeyState(m.event_type, m.value, live = false),
          Some(Op(m.user_id, m.event_id, "delete",
            Some(st.lastType), Some(st.lastValue), None, None)))
      else (st, None)
    } else if (st.live)
      (KeyState(m.event_type, m.value, live = true),
        Some(Op(m.user_id, m.event_id, "update",
          Some(st.lastType), Some(st.lastValue),
          Some(m.event_type), Some(m.value))))
    else
      (KeyState(m.event_type, m.value, live = true),
        Some(Op(m.user_id, m.event_id, "insert",
          None, None, Some(m.event_type), Some(m.value))))

  private val fold = new KeyedFold[Long, Mutation, KeyState, Op](
    _.user_id, Ordering.by(_.event_id), initialState, step)(
    Encoders.scalaLong, Encoders.product[KeyState], Encoders.product[Op])

  /** Fold one key's events (already in sequence order). */
  def run(ms: Iterator[Mutation], init: KeyState = initialState)
      : (KeyState, List[Op]) = fold.run(ms, init)

  /** Batch twin: derive ops from a recorded feed. */
  def deriveBatch(events: Dataset[Mutation]): Dataset[Op] = fold.batch(events)

  /** Streaming form: one state-store entry per key; ops append per
    * micro-batch. */
  def deriveStream(events: Dataset[Mutation]): Dataset[Op] = fold.stream(events)
}
