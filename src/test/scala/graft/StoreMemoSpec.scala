package graft

import org.scalatest.funsuite.AnyFunSuite

/** Lifecycle contract of the store read-back memo (round-16 ADVICE /
  * verdict #6): handles are keyed by SESSION OBJECT IDENTITY (no
  * identity-hash collisions possible), one session's repeated reads
  * share one handle, distinct sessions get distinct handles bound to
  * their own session, and the per-session LRU cap bounds growth so a
  * JVM cycling many sessions (this test suite) can never pin an
  * unbounded set of dead sessions' plans. */
class StoreMemoSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val sf = SparkTestSession.sf

  test("same session twice shares one handle; sibling session gets its own") {
    val s1 = spark.newSession()
    val h1 = ops.Vectors.storedPqBook(s1, sf)
    val h1b = ops.Vectors.storedPqBook(s1, sf)
    assert(h1 eq h1b, "memo miss on a repeated read in one session")
    val s2 = spark.newSession()
    val h2 = ops.Vectors.storedPqBook(s2, sf)
    assert(!(h2 eq h1),
      "two sessions shared a handle — a handle is bound to the session " +
        "whose state resolved it")
    assert(h1.sparkSession eq s1)
    assert(h2.sparkSession eq s2)
    assert(h1.count() == h2.count())
  }

  test("session churn stays under the LRU cap") {
    (1 to 20).foreach { _ =>
      ops.Vectors.storedPqBook(spark.newSession(), sf)
    }
    val n = io.Store.readMemoSessionCount
    assert(n <= 8, s"memo tracks $n sessions — LRU cap not enforced")
  }
}
