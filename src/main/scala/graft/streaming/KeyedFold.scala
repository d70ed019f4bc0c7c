package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One per-key state machine, run three ways from the same pure
  * transition — the Structured Streaming premise (one stateful program,
  * executed as a batch or incrementally) applied to the CDC core.
  *
  * `step` is the spec: it maps the key's state and one message to the
  * next state plus the outputs that message triggers. Within a key the
  * messages are folded in `order`; across keys nothing is ordered.
  *  - [[run]]: the plain fold over one key's messages, already ordered;
  *  - [[batch]]: `groupByKey → flatMapGroups` over a recorded stream,
  *    each group sorted in memory (groups are per key, bounded by the
  *    relay's batch size at the reference);
  *  - [[stream]]: `flatMapGroupsWithState` in Append mode with no
  *    timeout. State lives in the state store (RocksDB at scale), one
  *    entry per key, so state is O(keys), not O(messages). Each
  *    micro-batch slice is sorted; order ACROSS micro-batches is the
  *    transport's contract, as at the reference.
  *
  * The encoders are explicit so an instance names its key, state and
  * output types once; the instance is shipped to the executors inside
  * the grouped functions, so everything it holds is serializable. */
final class KeyedFold[K, M, S, O](key: M => K, order: Ordering[M], init: S,
    step: (S, M) => (S, IterableOnce[O]))(
    kEnc: Encoder[K], sEnc: Encoder[S], oEnc: Encoder[O]) extends Serializable {

  /** Fold one key's messages (already in order) from `from`; linear in
    * the slice. */
  def run(ms: IterableOnce[M], from: S = init): (S, List[O]) = {
    val out = List.newBuilder[O]
    val last = ms.iterator.foldLeft(from) { (st, m) =>
      val (next, os) = step(st, m)
      out ++= os
      next
    }
    (last, out.result())
  }

  /** Batch twin: fold every key of a recorded stream from [[init]]. */
  def batch(ds: Dataset[M]): Dataset[O] =
    ds.groupByKey(key)(kEnc).flatMapGroups { (_, it) =>
      run(it.toSeq.sorted(order))._2
    }(oEnc)

  /** Streaming form: each micro-batch continues the key's stored state;
    * outputs append per micro-batch. */
  def stream(ds: Dataset[M]): Dataset[O] =
    ds.groupByKey(key)(kEnc).flatMapGroupsWithState(
      OutputMode.Append, GroupStateTimeout.NoTimeout) {
      (_: K, it: Iterator[M], state: GroupState[S]) =>
        val (next, os) = run(it.toSeq.sorted(order), state.getOption.getOrElse(init))
        state.update(next)
        os.iterator
    }(sEnc, oEnc)
}
