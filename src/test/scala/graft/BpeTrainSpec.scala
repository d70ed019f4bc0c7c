package graft

import graft.ops.Text
import graft.ops.Text.{BpeMerge, BpeNoMerge}
import org.scalatest.funsuite.AnyFunSuite

/** [[Text.bpeTrain]] as a pure function: the driver-side fold must do
  * the DuckDB oracle's per-round arithmetic exactly — exact long pair
  * counts, the (cnt DESC, a ASC, b ASC) argmax in UTF-8 byte order,
  * the ("", "") sentinel once pairs run out, and the non-overlapping
  * left-to-right replace as the merge. */
class BpeTrainSpec extends AnyFunSuite {

  /** A word in the trainer's working representation: `␁s₁␁␁s₂␁…`. */
  private def wrap(symbols: String*): String =
    symbols.mkString("\u0001", "\u0001\u0001", "\u0001")

  test("bpeTrain: count wins, then a ASC, then b ASC") {
    val words = Seq(
      wrap("b", "c") -> 2L,
      wrap("a", "d") -> 2L,
      wrap("a", "c") -> 2L,
      wrap("z", "z") -> 3L)
    assert(Text.bpeTrain(words, 4) == Seq(
      BpeMerge("z", "z"), BpeMerge("a", "c"), BpeMerge("a", "d"),
      BpeMerge("b", "c")))
    // counts are exact long sums of word frequencies, past Int range
    val big = Seq(
      wrap("p", "q") -> 3000000000L,
      wrap("p", "q", "x") -> 3000000000L,
      wrap("a", "b") -> 5000000000L)
    assert(Text.bpeTrain(big, 1) == Seq(BpeMerge("p", "q")))
  }

  test("bpeTrain: ties break in UTF-8 order, not UTF-16") {
    val tilde = "\uFF5E"       // one UTF-16 code unit, 3 UTF-8 bytes
    val smile = "\uD83D\uDE00" // U+1F600: a surrogate pair, 4 UTF-8 bytes
    assert(tilde.compareTo(smile) > 0, "UTF-16 order puts U+1F600 first")
    assert(Text.Utf8Order.compare(tilde, smile) < 0)
    assert(Text.bpeTrain(Seq(wrap("x", smile) -> 1L,
      wrap("x", tilde) -> 1L), 1) == Seq(BpeMerge("x", tilde)))
    assert(Text.bpeTrain(Seq(wrap(smile, "y") -> 1L,
      wrap(tilde, "y") -> 1L), 1) == Seq(BpeMerge(tilde, "y")))
  }

  test("bpeTrain: exhausted pairs yield the no-op sentinel") {
    // "a a a" holds the pair (a, a) twice (overlapping positions count);
    // the merge replaces left to right without overlap: "aa a"
    assert(Text.bpeTrain(Seq(wrap("a", "a", "a") -> 1L), 4) == Seq(
      BpeMerge("a", "a"), BpeMerge("aa", "a"), BpeNoMerge, BpeNoMerge))
    // one-symbol and empty words never pair
    assert(Text.bpeTrain(Seq(wrap("a") -> 5L, wrap("") -> 2L), 3) ==
      Seq.fill(3)(BpeNoMerge))
    assert(Text.bpeTrain(Seq.empty, 2) == Seq(BpeNoMerge, BpeNoMerge))
    // the sentinel's pattern can never match a wrapped word
    assert(BpeNoMerge.pat == "\u0001\u0001\u0001\u0001")
    assert(Seq(wrap("a", "b"), wrap("a"), wrap(""))
      .forall(w => !w.contains(BpeNoMerge.pat)))
  }
}
