package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.SparkTestSession
import org.apache.spark.sql.Encoders
import Validate.{Msg, TxnState, Violation, initialState, validateBatch, validateStream}
import Validate.{GMsg, GroupEvent, runGroup, validateGroupBatch, validateGroupStream}
import Validate.{run => foldMsgs}

/** FSM unit + property tests, and batch/stream parity via MemoryStream. */
class ValidateSpec extends AnyFunSuite {

  private def checkProp(p: Prop): Unit = {
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(50), p)
    assert(r.passed, r.status.toString)
  }
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def wellFormed(publisher: String, txns: Int,
      mutsPerTxn: Int): List[Msg] = {
    var seq = -1L
    (0 until txns).flatMap { _ =>
      val ops = List("begin") ++ List.fill(mutsPerTxn)("mutation") ++ List("commit")
      ops.map { op => seq += 1; Msg(publisher, seq, op) }
    }.toList
  }

  test("well-formed stream produces no violations") {
    val (st, vs) = foldMsgs(wellFormed("p1", 5, 3).iterator)
    assert(vs.isEmpty)
    assert(!st.inTxn && st.lastSeq == 24)
  }

  test("sequence gap detected, stream continues") {
    // drop a mutation: begin(0), [1 missing], commit(2) — gap only
    val msgs = wellFormed("p1", 2, 1).filterNot(_.seq == 1)
    val vs = foldMsgs(msgs.iterator)._2
    assert(vs.map(_.kind) == List("sequence_gap"))
    // drop a commit: the gap AND the resulting bracket break both surface
    val msgs2 = wellFormed("p1", 2, 1).filterNot(_.seq == 2)
    assert(foldMsgs(msgs2.iterator)._2.map(_.kind) ==
      List("sequence_gap", "begin_in_txn"))
  }

  test("duplicate dropped without state corruption") {
    val ms = wellFormed("p1", 1, 1)
    val withDup = ms.take(2) ++ List(ms(1)) ++ ms.drop(2)
    val (st, vs) = foldMsgs(withDup.iterator)
    assert(vs.map(_.kind) == List("duplicate"))
    assert(!st.inTxn)
  }

  test("bracket violations: begin-in-txn, mutation/end outside txn") {
    val vs1 = foldMsgs(List(Msg("p", 0, "begin"), Msg("p", 1, "begin")).iterator)._2
    assert(vs1.map(_.kind) == List("begin_in_txn"))
    val vs2 = foldMsgs(List(Msg("p", 0, "mutation")).iterator)._2
    assert(vs2.map(_.kind) == List("mutation_outside_txn"))
    val vs3 = foldMsgs(List(Msg("p", 0, "commit")).iterator)._2
    assert(vs3.map(_.kind) == List("end_outside_txn"))
  }

  test("property: any single non-final dropped message is detected") {
    // dropping the FINAL message is undetectable mid-stream by design:
    // the FSM flags on the next arrival (the reference behaves the same;
    // a truncated tail only surfaces at the next batch/rewind).
    val base = wellFormed("p", 4, 2)
    checkProp(Prop.forAll(Gen.choose(1, base.size - 2)) { i =>
      foldMsgs(base.patch(i, Nil, 1).iterator)._2.nonEmpty
    })
  }

  test("property: well-formed streams of any shape are accepted") {
    checkProp(Prop.forAll(Gen.choose(1, 10), Gen.choose(0, 5)) { (txns, muts) =>
      foldMsgs(wellFormed("p", txns, muts).iterator)._2.isEmpty
    })
  }

  test("FSM stream restarted from its RocksDB checkpoint agrees with batch") {
    // the keyed-fold state must survive a query restart: epoch 1 leaves
    // publisher b inside an open transaction, epoch 2 (read by a NEW
    // query on the same checkpoint) redelivers one of b's messages and
    // closes the transaction — a duplicate only restored state can see
    val e1 = wellFormed("a", 1, 1) ++
      List(Msg("b", 0, "begin"), Msg("b", 1, "mutation"))
    val e2 = List(Msg("b", 1, "mutation"), Msg("b", 2, "mutation"),
      Msg("b", 3, "commit"), Msg("a", 4, "begin"))
    val s2 = SparkTestSession.rocksSession
    val root = java.nio.file.Files.createTempDirectory("graft-fsm-ckpt-").toFile
    val src = new java.io.File(root, "src").getPath
    val ckpt = new java.io.File(root, "ckpt").getPath
    def feed(ms: Seq[Msg]): Unit =
      s2.createDataset(ms).repartition(1).write.mode("append").parquet(src)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Violation]()
    def runQuery(): Unit = {
      val q = validateStream(s2.readStream.schema(Encoders.product[Msg].schema)
          .parquet(src).as[Msg])
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[Violation], _: Long) =>
          b.collect().foreach(seen.add); ()
        }
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    feed(e1); runQuery()
    feed(e2); runQuery()
    val streamed = seen.toArray(Array.empty[Violation]).toSet
    assert(streamed == validateBatch(spark.createDataset(e1 ++ e2)).collect().toSet)
    assert(streamed.map(_.kind) == Set("duplicate", "sequence_gap"))
  }

  // ---------------------------------------------- publisher failover

  private def gmsgs(group: String, pub: String, txns: Int, muts: Int,
      arrival0: Long): List[GMsg] =
    wellFormed(pub, txns, muts).zipWithIndex.map { case (m, i) =>
      GMsg(group, pub, m.seq, m.op, arrival0 + i)
    }

  test("clean publisher handoff is audited, not a violation") {
    val (st, es) = runGroup(
      (gmsgs("g", "p1", 2, 1, 0) ++ gmsgs("g", "p2", 2, 1, 100)).iterator)
    assert(es.map(_.kind) == List("handoff"))
    assert(es.forall(!_.violation))
    assert(st.active == "p2" && st.retired == List("p1"))
  }

  test("handoff mid-transaction audits the implicit abort") {
    val open = gmsgs("g", "p1", 1, 2, 0).dropRight(1) // commit never arrives
    val (st, es) = runGroup((open ++ gmsgs("g", "p2", 1, 1, 100)).iterator)
    assert(es.map(_.kind) == List("handoff", "handoff_aborted_txn"))
    assert(es.forall(!_.violation))
    assert(st.active == "p2" && !st.pub.inTxn)
  }

  test("stale publisher resurrection rejected without state change") {
    val p2b = gmsgs("g", "p2", 1, 1, 300).map(m => m.copy(seq = m.seq + 3))
    val (st, es) = runGroup(
      (gmsgs("g", "p1", 1, 1, 0) ++ gmsgs("g", "p2", 1, 1, 100) ++
        List(GMsg("g", "p1", 99, "begin", 200)) ++ p2b).iterator)
    assert(es.map(_.kind) == List("handoff", "stale_publisher"))
    assert(es.filter(_.violation).map(_.kind) == List("stale_publisher"))
    assert(st.active == "p2" && st.retired == List("p1"))
  }

  test("property: chained complete-txn failovers audit handoffs only") {
    checkProp(Prop.forAll(Gen.choose(1, 5), Gen.choose(1, 4),
        Gen.choose(0, 3)) { (pubs, txns, muts) =>
      val msgs = (0 until pubs).toList.flatMap { k =>
        gmsgs("g", s"p$k", txns, muts, k * 1000L)
      }
      val es = runGroup(msgs.iterator)._2
      es.map(_.kind) == List.fill(pubs - 1)("handoff") &&
        es.forall(!_.violation)
    })
  }

  test("property: single-publisher group stream embeds the plain FSM") {
    checkProp(Prop.forAll(Gen.choose(1, 6), Gen.choose(0, 4),
        Gen.choose(0L, 5L)) { (txns, muts, drop) =>
      val mutated = wellFormed("p", txns, muts).filterNot(_.seq == drop)
      val plain = foldMsgs(mutated.iterator)._2
        .map(v => (v.seq, v.op, v.kind))
      val group = runGroup(mutated.zipWithIndex.map { case (m, i) =>
        GMsg("g", "p", m.seq, m.op, i.toLong)
      }.iterator)._2.map(e => (e.seq, e.op, e.kind))
      plain == group
    })
  }

  test("group batch and streaming failover validation agree") {
    val msgs = gmsgs("g1", "a", 2, 1, 0) ++ gmsgs("g1", "b", 2, 1, 100) ++
      List(GMsg("g1", "a", 50, "begin", 200)) ++            // resurrection
      gmsgs("g2", "x", 1, 2, 0).dropRight(1) ++             // open txn …
      gmsgs("g2", "y", 1, 1, 100)                           // … then handoff
    val batch = validateGroupBatch(spark.createDataset(msgs)).collect().toSet
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[GMsg]
    val q = validateGroupStream(mem.toDS()).writeStream
      .format("memory").queryName(s"gfsm_out_${System.nanoTime()}")
      .outputMode("append").start()
    val ordered = msgs.sortBy(m => (m.arrival, m.group))
    val (e1, e2) = ordered.splitAt(ordered.size / 2)
    mem.addData(e1); q.processAllAvailable()
    mem.addData(e2); q.processAllAvailable()
    val streamed = spark.table(q.name).as[GroupEvent].collect().toSet
    q.stop()
    assert(streamed == batch)
  }

  test("FSM stream on the RocksDB state store agrees with batch") {
    // the flatMapGroupsWithState FSM with its per-publisher state in
    // RocksDB — provider choice must not change a single violation
    val msgs = wellFormed("a", 3, 2) ++
      wellFormed("b", 2, 1).filterNot(_.seq == 1) ++
      List(Msg("c", 0, "mutation"))
    val s2 = SparkTestSession.rocksSession
    val mem = MemoryStream[Msg](s2)
    val q = validateStream(mem.toDS()).writeStream
      .format("memory").queryName(s"fsm_rocks_${System.nanoTime()}")
      .outputMode("append").start()
    val (e1, e2) = msgs.splitAt(msgs.size / 2)
    mem.addData(e1); q.processAllAvailable()
    mem.addData(e2); q.processAllAvailable()
    val streamed = s2.table(q.name).as[Violation].collect().toSet
    q.stop()
    assert(streamed == validateBatch(spark.createDataset(msgs)).collect().toSet)
  }

  test("batch and streaming validation agree (MemoryStream, 2 epochs)") {
    val msgs = wellFormed("a", 3, 2) ++
      wellFormed("b", 2, 1).filterNot(_.seq == 1) ++ // gap in b
      List(Msg("c", 0, "mutation"))                  // bracket break in c
    val batch = validateBatch(spark.createDataset(msgs)).collect().toSet

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Msg]
    val q = validateStream(mem.toDS()).writeStream
      .format("memory").queryName(s"fsm_out_${System.nanoTime()}")
      .outputMode("append").start()
    val (e1, e2) = msgs.splitAt(msgs.size / 2)
    mem.addData(e1); q.processAllAvailable()
    mem.addData(e2); q.processAllAvailable()
    val streamed = spark.table(q.name).as[Violation].collect().toSet
    q.stop()
    assert(streamed == batch)
  }
}
