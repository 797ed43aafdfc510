package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.SparkSession

import graft.core._
import graft.streaming.MultiplexedDelivery

/** Many-groups delivery scale probe (round-10 verdict task 1) — the
  * reference's actual product promise is load-balanced FILTERED
  * consumers at scale (handler.rs:21-25, natsio.rs:150-186), and the
  * replay benches only ever exercised 5 groups. This probe measures
  * [[MultiplexedDelivery]] at 1k–10k registered stream groups with:
  *
  *  - **selective subscriptions**: group k watches collection subtree
  *    `c<k>` (groups past the fixture's uid range are idle — the
  *    realistic shape: most subscriptions match nothing most batches);
  *  - **competing consumers**: 2 sessions on each hot project-subtree
  *    group run a live pull → ack loop against the dispatcher while
  *    batches are flowing;
  *  - **group churn**: mid-run, a slice of groups is removed and fresh
  *    ones registered — subscription changes take effect on the next
  *    micro-batch without query restarts.
  *
  * Reported per group count: per-batch cost (median + max), total wall,
  * driver ledger footprint ([[MultiplexedDelivery.ledgerStats]]), used
  * heap, and the delivered-row accounting. Per-batch cost staying flat
  * (or sublinear) as G grows 10× is the scale claim.
  *
  * Usage: runMain graft.tools.GroupScaleProbe [sfDir] [G1,G2,...]
  */
object GroupScaleProbe {

  final case class Result(groups: Int, batches: Int, totalSec: Double,
                          batchMedianSec: Double, batchMaxSec: Double,
                          deliveredRows: Long, ackedChunks: Long,
                          pendingMetas: Long, ackedResident: Long,
                          usedHeapMb: Long,
                          phases: Map[String, Double] = Map.empty)

  /** One measured pass: `events` through a fresh mux with `g` groups.
    * Returns the metrics row (shared with the `mux_groups` bench row). */
  def run(spark: SparkSession, rows: Array[(Long, Long, String)], g: Int,
          nBatches: Int = 8, churn: Boolean = true): Result = {
    val mux = new MultiplexedDelivery(spark,
      org.apache.spark.sql.streaming.Trigger.ProcessingTime("250 milliseconds"),
      sourcePartitions = 8)
    // 5 hot project-subtree groups (the replay-bench shape) + (g-5)
    // selective collection-subtree groups, most idle by construction.
    (0 until 5).foreach(p => mux.addGroup(s"hot-p$p", ResourceType.Project, s"p$p",
      Hierarchy(projectId = s"p$p"), includeSubresources = true))
    (5 until g).foreach(k => addCollectionGroup(mux, k))
    mux.start()

    // competing consumers on the hot groups: 2 sessions each, live
    // pull → ack while delivery is running (the dispatcher path under
    // concurrent batches — not an after-the-fact drain)
    val ackedChunks = new AtomicLong(0L)
    val ackedRows = new AtomicLong(0L)
    @volatile var consume = true
    val consumers = (0 until 5).flatMap { p =>
      (0 until 2).map { _ =>
        val sid = mux.openSession(s"hot-p$p")
        val t = new Thread(() => {
          while (consume) {
            val claimed = mux.pull(s"hot-p$p", sid, max = 8)
            claimed.foreach { c =>
              if (mux.ack(c.groupId, c.chunkId)) {
                ackedChunks.incrementAndGet()
                ackedRows.addAndGet(c.resourceIds.size.toLong)
              }
            }
            if (claimed.isEmpty) Thread.sleep(20)
          }
        }, s"probe-consumer-p$p")
        t.setDaemon(true); t.start(); t
      }
    }

    val batchRows = math.max(1, rows.length / nBatches)
    val times = collection.mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    var batchNo = 0
    rows.grouped(batchRows).foreach { chunk =>
      // churn at mid-run: drop + re-register 10% of the selective
      // groups (ids shift by +g so re-adds are genuinely new groups)
      if (churn && batchNo == nBatches / 2 && g > 50) {
        val slice = (5 until g by 10)
        slice.foreach(k => mux.removeGroup(s"col-c$k"))
        slice.foreach(k => addCollectionGroup(mux, k, idSuffix = "-v2"))
      }
      val b0 = System.nanoTime()
      mux.emitAll(chunk.map { case (e, u, t) => graft.Bench.replayEvent(e, u, t) }.toSeq)
      mux.processAllAvailable()
      times += (System.nanoTime() - b0) / 1e9
      batchNo += 1
    }
    val total = (System.nanoTime() - t0) / 1e9
    // settle the consumers: drain whatever the hot groups still hold
    val drainDeadline = System.nanoTime() + 60L * 1000000000L
    while ((0 until 5).map(p => mux.pendingRowCount(s"hot-p$p")).sum > 0
           && System.nanoTime() < drainDeadline) Thread.sleep(50)
    consume = false
    consumers.foreach(_.join(2000))

    val hotDelivered = ackedRows.get()
    val coldPending = (5 until g).map(k => mux.pendingRowCount(s"col-c$k")).sum +
      (5 until g).map(k => mux.pendingRowCount(s"col-c$k-v2")).sum
    val (grp, pend, ackRes) = mux.ledgerStats
    val phases = mux.phaseProfile
    mux.stop()
    require(hotDelivered >= rows.length,
      s"hot subtree groups must see every event at least once ($hotDelivered < ${rows.length})")
    val sorted = times.sorted
    System.gc()
    val heap = (Runtime.getRuntime.totalMemory - Runtime.getRuntime.freeMemory) / (1 << 20)
    Result(g, times.size, total, sorted(sorted.size / 2), sorted.last,
      hotDelivered + coldPending, ackedChunks.get(), pend, ackRes, heap,
      phases)
  }

  private def addCollectionGroup(mux: MultiplexedDelivery, k: Int,
                                 idSuffix: String = ""): Unit = {
    val p = s"p${k % 5}"
    mux.addGroup(s"col-c$k$idSuffix", ResourceType.Collection, s"c$k",
      Hierarchy(projectId = p, collectionId = s"c$k"), includeSubresources = true)
    ()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val gs = args.lift(1).getOrElse("1000,3000,10000").split(',').map(_.trim.toInt)
    val spark = ToolConf.session()
    val rows = graft.sources.Tables.load(spark, sfDir, "events")
      .select("event_id", "user_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    println(f"${"G"}%7s ${"batches"}%7s ${"total_s"}%8s ${"batch_med"}%9s " +
      f"${"batch_max"}%9s ${"acked"}%8s ${"pending"}%9s ${"ack_res"}%7s ${"heap_mb"}%7s")
    gs.foreach { g =>
      val r = run(spark, rows, g)
      println(f"${r.groups}%7d ${r.batches}%7d ${r.totalSec}%8.1f ${r.batchMedianSec}%9.2f " +
        f"${r.batchMaxSec}%9.2f ${r.ackedChunks}%8d ${r.pendingMetas}%9d " +
        f"${r.ackedResident}%7d ${r.usedHeapMb}%7d")
      // Floor decomposition (verdict task 8): where foreachBatch wall
      // goes — payload write (the collect job plus the driver's file
      // writes) vs per-group count vs ledger vs plan residue —
      // plus the consumer-side pull hydration ("read", off the batch
      // path). "other" is trigger/source overhead outside the body.
      val p = r.phases
      def g2(k: String) = p.getOrElse(k, 0.0)
      val accounted = g2("write") + g2("count") + g2("ledger")
      println(f"        phases: batch=${g2("batch")}%.1fs write=${g2("write")}%.1fs " +
        f"count=${g2("count")}%.1fs ledger=${g2("ledger")}%.1fs " +
        f"plan-residue=${g2("batch") - accounted}%.1fs pull-read=${g2("read")}%.1fs " +
        f"(batches=${g2("batches")}%.0f)")
    }
    spark.stop()
  }
}
