package graft.streaming

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import graft.core.ChunkMeta

/** Bounded driver-side chunk ledger shared by both delivery engines
  * ([[MultiplexedDelivery]], [[DurableEventLog]]).
  *
  * The previous design kept every `ChunkMeta` ever minted in one flat
  * `(groupId, chunkId) → meta` map: acked history accumulated forever
  * (resident size O(all-time chunks) — at 10⁷ chunks ≈ GBs of driver
  * heap for a bookkeeping structure), and every pull scanned the WHOLE
  * map to find one group's pending chunks (O(total) per pull — with 10k
  * groups each pulling per batch that is O(groups × chunks) per
  * trigger). The reference has the same unbounded shape in its
  * in-server ack map (public_event_server.rs:318-319); at 100 TB that
  * is the first driver OOM.
  *
  * This ledger bounds both:
  *
  *  - **per-group pending index**: `group → TreeMap[batchId → meta]` —
  *    a pull touches exactly its group's pending chunks, already in
  *    batch order (no sort, no global scan);
  *  - **acked-history eviction**: per group, a WATERMARK `wm` (every
  *    existing chunk with batchId ≤ wm is acked) plus the acked metas
  *    ABOVE it (out-of-order acks, bounded by the unacked window: every
  *    retained acked meta is interleaved with a still-pending one).
  *    Acking a chunk below the next pending batch advances the
  *    watermark and evicts the metas it swallows — resident size is
  *    O(pending + interleaved acked), independent of history. The WAL
  *    ([[LedgerStore]]) persists the watermark at compaction so the
  *    eviction is durable, and the payload parquet ([[DeliveryTable]])
  *    remains the full post-ack history.
  *
  * Why a watermark is sound: a chunk leaves the pending index only via
  * [[ack]] or [[dropGroup]], so any batchId below the smallest pending
  * one is acked-or-never-existed — exactly the watermark invariant the
  * foreachBatch mint guard needs ("batchId ≤ wm ⇒ this replayed chunk
  * was already delivered AND acked; do not resurrect it").
  *
  * Concurrency: state is per-group and guarded by that group's own
  * monitor — pulls/acks/mints on different groups never contend (the
  * many-groups path); the engines' foreachBatch is single-threaded per
  * query, client calls race only with their own group's mint.
  */
final class ChunkLedger {

  private final class G {
    /** Unacked chunks, batchId-ordered. (group, batchId) is unique by
      * construction in every engine: in-memory ids are
      * `group-(epoch+batch)`, durable ids are log positions. */
    val pending = new java.util.TreeMap[Long, ChunkMeta]()
    val pendingByChunk = new java.util.HashMap[String, Long]()
    /** Every existing chunk with batchId ≤ wm is acked. */
    var wm: Long = Long.MinValue
    /** Acked metas with batchId > wm (out-of-order acks), evicted as
      * the watermark advances past them. */
    val ackedAbove = new java.util.TreeMap[Long, ChunkMeta]()
    var pendingRows: Long = 0L

    def advance(): Unit = {
      if (pending.isEmpty) {
        if (!ackedAbove.isEmpty) wm = math.max(wm, ackedAbove.lastKey)
        ackedAbove.clear()
      } else {
        val limit = pending.firstKey - 1
        if (limit > wm) {
          wm = limit
          ackedAbove.headMap(limit, true).clear()
        }
      }
    }
  }

  private val groups = new ConcurrentHashMap[String, G]()
  private val maxSeq = new AtomicLong(Long.MinValue)
  /** True while WAL replay feeds [[record]]/[[restoreAcked]] in
    * arbitrary order — watermark advancement is deferred to
    * [[settleLoad]] so a not-yet-replayed pending chunk can't be
    * swallowed. */
  @volatile private var loading = false

  private def g(groupId: String): G =
    groups.computeIfAbsent(groupId, _ => new G)

  private def bump(batchId: Long): Unit =
    maxSeq.updateAndGet(cur => math.max(cur, batchId))

  /** Largest batchId ever recorded (pending, acked, or compacted into a
    * watermark) — the chunk-sequence epoch base. Long.MinValue when
    * empty. */
  def maxBatchId: Long = maxSeq.get()

  /** Mint a chunk if it is not already known. Returns true when the
    * meta was inserted (caller journals it); false when the chunk is
    * already pending or already acked (foreachBatch replay after
    * restart — keep the existing state, especially acked). */
  def record(meta: ChunkMeta): Boolean = {
    bump(meta.batchId)
    val st = g(meta.groupId)
    st.synchronized {
      val known = meta.batchId <= st.wm ||
        st.ackedAbove.containsKey(meta.batchId) ||
        st.pending.containsKey(meta.batchId)
      if (known) false
      else {
        st.pending.put(meta.batchId, meta.copy(acked = false))
        st.pendingByChunk.put(meta.chunkId, meta.batchId)
        st.pendingRows += meta.rows
        true
      }
    }
  }

  /** The group's highest known batchId: pending, resident acked, or
    * its watermark. Long.MinValue when the group holds nothing. */
  def highestSeq(groupId: String): Long = {
    val st = groups.get(groupId)
    if (st == null) Long.MinValue
    else st.synchronized {
      Seq(st.pending, st.ackedAbove).filterNot(_.isEmpty).map(_.lastKey).foldLeft(st.wm)(math.max)
    }
  }

  /** WAL replay of an acked chunk: retained above the watermark until
    * [[settleLoad]] (or a later ack) advances past it. */
  def restoreAcked(meta: ChunkMeta): Unit = {
    bump(meta.batchId)
    val st = g(meta.groupId)
    st.synchronized {
      if (meta.batchId > st.wm) {
        st.ackedAbove.put(meta.batchId, meta.copy(acked = true)); ()
      }
    }
  }

  /** WAL replay of a compacted watermark record. */
  def restoreWatermark(groupId: String, w: Long): Unit = {
    bump(w)
    val st = g(groupId)
    st.synchronized { st.wm = math.max(st.wm, w) }
  }

  /** WAL replay of a removed group's history floor: it only keeps the
    * epoch ([[maxBatchId]]) from dropping below what was minted. */
  def restoreEpoch(batchId: Long): Unit = bump(batchId)

  /** Begin WAL replay (defers watermark advancement). */
  def beginLoad(): Unit = { loading = true }

  /** End WAL replay: advance every group's watermark over the restored
    * acked history (evicting what it swallows). */
  def settleLoad(): Unit = {
    loading = false
    groups.values.asScala.foreach(st => st.synchronized(st.advance()))
  }

  /** Ack by client-facing chunk id. Some(meta) when the chunk was
    * pending (caller journals the ack + settles the flight); None for
    * unknown ids and duplicate acks. */
  def ack(groupId: String, chunkId: String): Option[ChunkMeta] = {
    val st = groups.get(groupId)
    if (st == null) return None
    st.synchronized {
      Option(st.pendingByChunk.remove(chunkId)).map { batchId =>
        val meta = st.pending.remove(batchId)
        st.pendingRows -= meta.rows
        st.ackedAbove.put(batchId, meta.copy(acked = true))
        if (!loading) st.advance()
        meta
      }
    }
  }

  /** The group's unacked chunks in batch order — O(group pending). */
  def pending(groupId: String): Seq[ChunkMeta] = {
    val st = groups.get(groupId)
    if (st == null) Seq.empty
    else st.synchronized { st.pending.values.asScala.toVector }
  }

  /** Pending row total from metadata alone — O(1). */
  def pendingRows(groupId: String): Long = {
    val st = groups.get(groupId)
    if (st == null) 0L else st.synchronized(st.pendingRows)
  }

  /** Lowest pending batchId across EVERY ledger group — the payload-
    * retention floor. Computed over the LEDGER, not the registration
    * map: a WAL restart restores pending metas before (or without) the
    * caller re-registering their groups, and retention must never
    * reclaim a restored-but-unregistered group's payload batches.
    * Long.MaxValue when nothing is pending anywhere. */
  def minPendingBatchId: Long =
    groups.values.asScala.foldLeft(Long.MaxValue) { (m, st) =>
      st.synchronized {
        if (st.pending.isEmpty) m else math.min(m, st.pending.firstKey)
      }
    }

  /** Acked metas still resident (above the group's watermark) — the
    * out-of-order window, NOT the full history (evicted metas live on
    * only as payload parquet + the WAL watermark). */
  def ackedResident(groupId: String): Seq[ChunkMeta] = {
    val st = groups.get(groupId)
    if (st == null) Seq.empty
    else st.synchronized { st.ackedAbove.values.asScala.toVector }
  }

  def watermark(groupId: String): Long = {
    val st = groups.get(groupId)
    if (st == null) Long.MinValue else st.synchronized(st.wm)
  }

  def dropGroup(groupId: String): Unit = { groups.remove(groupId); () }

  /** (groups, pending metas, resident acked metas) — the probe/spec
    * surface for the driver-footprint bound. */
  def stats: (Int, Long, Long) = {
    var p = 0L; var a = 0L
    groups.values.asScala.foreach { st =>
      st.synchronized { p += st.pending.size; a += st.ackedAbove.size }
    }
    (groups.size, p, a)
  }

  /** Per-group watermarks (the compaction input). */
  def watermarks: Map[String, Long] =
    groups.asScala.map { case (k, st) => k -> st.synchronized(st.wm) }
      .filter(_._2 > Long.MinValue).toMap

  /** Stuck-watermark observability (round-11 verdict task 6, the
    * ledger-footprint worst case BASELINE.md records, made operational): per group
    * with unacked chunks, `(ackedResident, blockerAgeMillis)` — the
    * out-of-order acked window held resident behind the lowest unacked
    * chunk, and that blocker's age. A consumer that stops acking ONE
    * chunk while later acks keep arriving makes ackedResident grow
    * without bound (+2.5 GB at 10k acked behind × 1k groups, measured
    * in BASELINE.md's ledger-footprint section) — this gauge is the
    * alert signal. Healthy groups (acks keeping up: empty pending, or
    * in-order acks leaving no resident window) report (0, age-of-backlog-head). */
  def stuckGauges(nowMillis: Long): Map[String, (Long, Long)] =
    groups.asScala.flatMap { case (k, st) =>
      st.synchronized {
        if (st.pending.isEmpty) None
        else {
          val blocker = st.pending.firstEntry.getValue
          Some(k -> ((st.ackedAbove.size.toLong,
            math.max(0L, nowMillis - blocker.deliveredAt.getTime))))
        }
      }
    }.toMap
}
