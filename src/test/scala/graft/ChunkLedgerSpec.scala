package graft

import java.sql.Timestamp
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.core.ChunkMeta
import graft.streaming.{ChunkLedger, LedgerStore}

/** The bounded driver ledger (round-10 verdict task 5): acked chunks
  * must LEAVE driver memory (watermark eviction), pulls must cost the
  * group's pending set only, and the WAL compaction must shrink to
  * watermark + pending while keeping foreachBatch replay idempotent. */
class ChunkLedgerSpec extends AnyFunSuite {

  private def meta(g: String, b: Long, rows: Long = 1L): ChunkMeta =
    ChunkMeta(g, s"$g-$b", b, rows, new Timestamp(0L), acked = false)

  test("in-order acks evict immediately: resident state is O(pending)") {
    val l = new ChunkLedger
    (0L until 1000L).foreach(b => assert(l.record(meta("g", b))))
    assert(l.stats == ((1, 1000L, 0L)))
    (0L until 1000L).foreach(b => assert(l.ack("g", s"g-$b").isDefined))
    val (groups, pending, ackedResident) = l.stats
    assert(groups == 1 && pending == 0L && ackedResident == 0L,
      "acked history must leave driver memory, not accumulate")
    assert(l.watermark("g") == 999L)
    assert(l.pendingRows("g") == 0L)
  }

  test("out-of-order acks are retained only while a gap is pending") {
    val l = new ChunkLedger
    (0L to 4L).foreach(b => l.record(meta("g", b)))
    // ack everything EXCEPT chunk 1: 0 advances wm to 0; 2,3,4 wait above
    Seq(0L, 2L, 3L, 4L).foreach(b => assert(l.ack("g", s"g-$b").isDefined))
    assert(l.watermark("g") == 0L)
    assert(l.ackedResident("g").map(_.batchId) == Seq(2L, 3L, 4L))
    assert(l.pending("g").map(_.batchId) == Seq(1L))
    // closing the gap swallows the whole tail
    assert(l.ack("g", "g-1").isDefined)
    assert(l.watermark("g") == 4L)
    assert(l.ackedResident("g").isEmpty && l.pending("g").isEmpty)
  }

  test("replay guard: acked chunks (resident or compacted) never resurrect") {
    val l = new ChunkLedger
    l.record(meta("g", 0L)); l.record(meta("g", 2L))
    l.ack("g", "g-2") // out of order: resident above wm
    assert(!l.record(meta("g", 2L)), "resident acked replay must be rejected")
    l.ack("g", "g-0") // wm -> 2, both evicted
    assert(!l.record(meta("g", 0L)), "watermark-compacted replay must be rejected")
    assert(!l.record(meta("g", 2L)))
    assert(l.record(meta("g", 3L)), "genuinely new chunks still mint")
  }

  test("duplicate and unknown acks return None; maxBatchId survives eviction") {
    val l = new ChunkLedger
    l.record(meta("g", 7L))
    assert(l.ack("g", "g-7").isDefined)
    assert(l.ack("g", "g-7").isEmpty, "duplicate ack")
    assert(l.ack("g", "no-such").isEmpty, "unknown id")
    assert(l.ack("other", "g-7").isEmpty, "unknown group")
    assert(l.maxBatchId == 7L, "epoch base must survive acked eviction")
  }

  test("WAL compaction rewrites acked history as a watermark and stays replay-idempotent") {
    val dir = Files.createTempDirectory("graft-ledgerspec").toString
    val st = new LedgerStore(dir)
    (0L until 50L).foreach(b => st.appendChunk(meta("g", b)))
    (0L until 49L).foreach(b => st.appendAck("g", s"g-$b")) // 49 stays pending
    val before = Files.size(java.nio.file.Paths.get(dir, "ledger.jsonl"))
    st.compact()
    val after = Files.size(java.nio.file.Paths.get(dir, "ledger.jsonl"))
    assert(after < before / 10,
      s"compaction must drop acked history ($before -> $after bytes)")
    val (metas, wms) = st.loadState()
    assert(wms("g") == 48L)
    assert(metas.keySet == Set(("g", "g-49")) && !metas(("g", "g-49")).acked)
    // a post-restart foreachBatch replay re-appends a compacted chunk:
    // it must replay as ACKED (the watermark carries the idempotence)
    st.appendChunk(meta("g", 10L))
    val (metas2, _) = st.loadState()
    assert(metas2(("g", "g-10")).acked,
      "chunk line at/below the watermark must replay acked, not pending")
    // and the ledger built from this state rejects the re-mint
    val l = new ChunkLedger
    l.beginLoad()
    wms.foreach { case (g, w) => l.restoreWatermark(g, w) }
    metas2.values.foreach(m => if (m.acked) l.restoreAcked(m) else { l.record(m); () })
    l.settleLoad()
    assert(!l.record(meta("g", 10L)))
    assert(l.pending("g").map(_.batchId) == Seq(49L))
    assert(l.maxBatchId == 49L)
  }

  test("all-acked group compacts to a single watermark line and keeps its epoch") {
    val dir = Files.createTempDirectory("graft-ledgerspec2").toString
    val st = new LedgerStore(dir)
    (0L until 10L).foreach { b => st.appendChunk(meta("g", b)); st.appendAck("g", s"g-$b") }
    st.compact()
    val (metas, wms) = st.loadState()
    assert(metas.isEmpty && wms("g") == 9L)
    val l = new ChunkLedger
    l.beginLoad(); l.restoreWatermark("g", 9L); l.settleLoad()
    assert(l.maxBatchId == 9L, "chunkSeqBase must not regress after full compaction")
    // double compaction is stable
    st.compact()
    assert(st.loadState()._2("g") == 9L)
  }

  test("dropGroup clears all state for that group only") {
    val l = new ChunkLedger
    l.record(meta("a", 0L)); l.record(meta("b", 0L))
    l.dropGroup("a")
    assert(l.pending("a").isEmpty && l.pending("b").map(_.batchId) == Seq(0L))
    assert(l.stats._1 == 1)
  }

  test("negative (backfill) and positive batchIds order consistently") {
    val l = new ChunkLedger
    l.record(ChunkMeta("g", "g-backfill-0", -1L, 5L, new Timestamp(0L), false))
    l.record(ChunkMeta("g", "g-backfill-1", -2L, 5L, new Timestamp(0L), false))
    l.record(meta("g", 0L, 3L))
    assert(l.pending("g").map(_.batchId) == Seq(-2L, -1L, 0L),
      "backfill chunks sort before live chunks")
    assert(l.pendingRows("g") == 13L)
    assert(l.ack("g", "g-backfill-1").isDefined)
    assert(l.watermark("g") == -2L) // wm advances only to the acked prefix
    assert(l.ack("g", "g-backfill-0").isDefined)
    assert(l.watermark("g") == -1L)
  }

  test("WAL drop record forgets the group's earlier lines, keeps later ones and its floor through compaction") {
    val dir = Files.createTempDirectory("graft-ledgerspec-drop").toString
    val st = new LedgerStore(dir)
    (0L until 3L).foreach(b => st.appendChunk(meta("g", b)))
    st.appendAck("g", "g-0")
    st.appendOffer("g", "g-1", 7L, 100L, 2)
    st.appendChunk(meta("h", 1L))
    st.compact() // g's acked prefix becomes a watermark line
    st.appendDrop("g", 5L)
    st.appendChunk(meta("g", 6L)) // the re-created incarnation
    for (_ <- 0 until 2) {
      val (metas, wms) = st.loadState()
      assert(metas.keySet == Set(("g", "g-6"), ("h", "h-1")),
        s"only the post-drop incarnation of g survives: ${metas.keySet}")
      assert(!metas(("g", "g-6")).acked && wms.get("g").forall(_ < 6L),
        "the removed incarnation's watermark must not mark the new chunk acked")
      assert(st.loadFlights().isEmpty, "the removed group's flights are forgotten")
      assert(st.loadFloors() == Map("g" -> 5L))
      st.compact()
    }
    val l = new ChunkLedger
    st.loadFloors().values.foreach(l.restoreEpoch)
    assert(l.maxBatchId == 5L, "the floor keeps the epoch a dropped group minted")
  }
}
