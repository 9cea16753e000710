package graft.nats

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** Ports the reference's orphaned buffer-test intents
  * (reference src/batch_buffer_test.rs:7-130, never compiled there —
  * SURVEY §5.1) onto the ledger/admission-control shape, plus the
  * enforced-overflow behavior the reference only intended (§2.C3).
  */
class MessageLedgerSpec extends AnyFunSuite {

  private def ledger(batch: Int = 3, timeoutMs: Long = 1000, cap: Int = 10) =
    new MessageLedger(LedgerConfig(batch, timeoutMs, cap))

  /** Ledger of text payloads on one subject, read back as text. */
  private implicit class TextLedger(l: MessageLedger) {
    def append(payload: String): Boolean =
      l.append(LedgerEntry("subj", "", payload.getBytes(UTF_8)))
    def payloadsBetween(start: Long, end: Long): Seq[String] =
      l.rowsBetween(start, end).toSeq.map(e => new String(e.payload, UTF_8))
  }

  test("size-based flush: batch admitted exactly when batchSize rows arrive") {
    val l = ledger(batch = 3)
    l.append("a"); l.append("b")
    assert(l.admit(0, nowMs = 0) === 0)      // 2 < 3, no timeout yet
    l.append("c")
    assert(l.admit(0, nowMs = 1) === 3)      // full batch
    assert(l.payloadsBetween(0, 3) === Seq("a", "b", "c"))
  }

  test("timeout-based flush: partial batch admitted after silence") {
    val l = ledger(batch = 100, timeoutMs = 50)
    l.append("a"); l.append("b")
    assert(l.admit(0, nowMs = 0) === 0)      // starts the policy clock
    assert(l.admit(0, nowMs = 49) === 0)     // not yet
    assert(l.admit(0, nowMs = 50) === 2)     // partial flush at timeout
    assert(l.payloadsBetween(0, 2) === Seq("a", "b"))
  }

  test("no empty batches: offset never advances with nothing buffered") {
    val l = ledger(batch = 3, timeoutMs = 10)
    assert(l.admit(0, nowMs = 0) === 0)
    assert(l.admit(0, nowMs = 1000) === 0)   // timeout passed but zero rows
  }

  test("overflow is enforced: rows past maxBufferSize dropped and counted") {
    val l = ledger(batch = 100, cap = 5)
    val accepted = (1 to 8).map(i => l.append(s"m$i"))
    assert(accepted.count(identity) === 5)
    assert(l.droppedRows === 3)
    assert(l.bufferedCount === 5)
    assert(l.endOffset === 5)
    // trimming frees capacity again
    l.trim(2)
    assert(l.append("m9"))
    assert(l.endOffset === 6)
  }

  test("multi-batch remainder: oversize backlog drains batchSize at a time") {
    val l = ledger(batch = 3, timeoutMs = 50, cap = 100)
    (1 to 7).foreach(i => l.append(s"m$i"))
    val e1 = l.admit(0, nowMs = 0)
    assert(e1 === 3)
    val e2 = l.admit(e1, nowMs = 1)
    assert(e2 === 6)                          // second full batch, no timeout needed
    assert(l.admit(e2, nowMs = 2) === 6)      // 1 row left, below size, no timeout
    val e3 = l.admit(e2, nowMs = 60)
    assert(e3 === 7)                          // remainder flushed on timeout
    assert(l.payloadsBetween(6, 7) === Seq("m7"))
  }

  test("trim releases memory and guards replay below base") {
    val l = ledger(batch = 2, cap = 100)
    (1 to 4).foreach(i => l.append(s"m$i"))
    assert(l.payloadsBetween(0, 2) === Seq("m1", "m2"))
    l.trim(2)
    assert(l.bufferedCount === 2)
    assert(l.endOffset === 4)                 // offsets stay monotone
    assert(l.payloadsBetween(2, 4) === Seq("m3", "m4"))
    intercept[IllegalArgumentException](l.rowsBetween(0, 2))
  }

  test("concurrent appends never lose or duplicate accepted rows") {
    val l = new MessageLedger(LedgerConfig(1000, 1000, 100000))
    val threads = (0 until 8).map { t =>
      new Thread(() => (0 until 1000).foreach(i => l.append(s"$t-$i")))
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(l.endOffset === 8000)
    val all = l.payloadsBetween(0, 8000)
    assert(all.length === 8000)
    assert(all.toSet.size === 8000)
  }

  // ---- packing a planned slice for the executor (NatsStreamPartition) ----

  private val schema = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("name", StringType, nullable = false)))
  private val opts = NatsOptions("memory://ledger-spec", "ev.>", 1000, 1000L, 10000, None, 5000L, 1)

  private def pack(entries: Array[LedgerEntry], rows: IndexedSeq[Int], firstSeq: Long = 1L) =
    NatsStreamPartition.pack(entries, rows, firstSeq, schema, schema, Array.empty, opts)

  /** Each row of a packed partition as (subject, headers, seq, payload). */
  private def unpack(p: NatsStreamPartition): Seq[(String, String, Long, String)] = {
    var run = 0
    (0 until p.rowCount).map { i =>
      while (p.runEnds(run) <= i) run += 1
      (p.runSubjects(run), p.runHeaders(run), p.seqs(i), p.payload(i))
    }
  }

  test("pack: payloads, sequences and envelopes survive in row order; equal envelopes share a run") {
    val hdr = NatsMetadata.encodeHeaders(Seq("k" -> "v"))
    val entries = Array(
      LedgerEntry("ev.a", "", "1,a".getBytes(UTF_8)),
      LedgerEntry(new String("ev.a"), "", "2,ä".getBytes(UTF_8)), // equal, not the same instance
      LedgerEntry("ev.b", "", "".getBytes(UTF_8)),                // an empty payload
      LedgerEntry("ev.b", hdr, "4,d".getBytes(UTF_8)),
      LedgerEntry("ev.a", "", "5,e".getBytes(UTF_8)))
    val all = pack(entries, entries.indices, firstSeq = 11L)
    assert(unpack(all) === Seq(
      ("ev.a", "", 11L, "1,a"), ("ev.a", "", 12L, "2,ä"), ("ev.b", "", 13L, ""),
      ("ev.b", hdr, 14L, "4,d"), ("ev.a", "", 15L, "5,e")))
    assert(all.runSubjects.toSeq === Seq("ev.a", "ev.b", "ev.b", "ev.a"))
    assert(all.runEnds.toSeq === Seq(2, 3, 4, 5))
    // a non-contiguous selection (partitionBySubject) keeps each row's own seq
    assert(unpack(pack(entries, IndexedSeq(2, 3), firstSeq = 11L)) === Seq(
      ("ev.b", "", 13L, ""), ("ev.b", hdr, 14L, "4,d")))
    assert(pack(entries, IndexedSeq.empty).rowCount === 0)
  }

  test("shipping gate: a packed partition serializes to the payload bytes plus at most 16 bytes a row") {
    // Deterministic stand-in for the executor's deserialization cost: a
    // regression to one object per row (a String per payload, a boxed
    // envelope per row) fails on bytes and object count, not on timing.
    val n = 10000
    val entries = Array.tabulate(n) { i =>
      // subjects come off the wire as separate String instances
      LedgerEntry(new String("ev.in"), "", s"$i,2024-01-01 00:00:00,${i % 97},view,1.5".getBytes(UTF_8))
    }
    final class Counting(out: java.io.OutputStream) extends java.io.ObjectOutputStream(out) {
      var objects = 0
      enableReplaceObject(true)
      override def replaceObject(obj: AnyRef): AnyRef = { objects += 1; obj }
    }
    def shipped(rows: IndexedSeq[Int]): (Int, Int) = {
      val bytes = new java.io.ByteArrayOutputStream()
      val out = new Counting(bytes)
      out.writeObject(pack(entries, rows))
      out.close()
      (bytes.size, out.objects)
    }
    val (emptyBytes, emptyObjects) = shipped(IndexedSeq.empty) // schema, options, class descriptors
    val (bytes, objects) = shipped(0 until n)
    val payloadBytes = entries.map(_.payload.length.toLong).sum
    val bound = payloadBytes + 16L * n + emptyBytes + 64 // + the one envelope run
    assert(bytes <= bound, s"$n rows shipped as $bytes bytes, bound $bound (payload $payloadBytes)")
    assert(objects <= emptyObjects + 2, s"$n rows shipped as $objects objects (empty: $emptyObjects)")
  }
}
