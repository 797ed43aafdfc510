package graft.tools

import org.apache.spark.sql.SparkSession

/** Runs the bench's non-query rows (replay / redelivery soak / live
  * folds) against an arbitrary fixture dir — the 100× evidence runs
  * round-11 verdict tasks 3 and 5 ask for, without paying a full
  * bench suite at that scale. Each row is the SAME code path as the
  * `graft.Bench` row of that name; this just parameterizes the dir.
  * `wire` and `h2c` replay the stream over framed TCP and the HTTP/2
  * transport (`SPARK_GRAFT_WIRE_PRODUCERS` / `SPARK_GRAFT_REPLAY_*`
  * apply as in the bench). A row listed twice runs twice.
  *
  * Usage: sbt "runMain graft.tools.ScaleRowsProbe <sfDir> <row1,row2,...>"
  *   rows: stream | wire | h2c | redelivery | sketch | ann | cc | stuck
  */
object ScaleRowsProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/graft-sf10b")
    val rows = args.lift(1).getOrElse("redelivery").split(',').map(_.trim).toSeq
    val spark = ToolConf.session()
    rows.foreach { row =>
      System.gc()
      val sec = row match {
        case "stream" => graft.Bench.streamReplaySeconds(spark, sfDir)
        case "wire" => graft.Bench.wireReplaySeconds(spark, sfDir)
        case "h2c" => graft.Bench.h2cReplaySeconds(spark, sfDir)
        case "redelivery" => graft.Bench.redeliveryReplaySeconds(spark, sfDir)
        case "sketch" => graft.Bench.sketchFoldSeconds(spark, sfDir)
        case "ann" => graft.Bench.annFoldSeconds(spark, sfDir)
        case "cc" => graft.Bench.ccFoldSeconds(spark, sfDir)
        case "stuck" => stuckSoakSeconds(spark, sfDir)
        case other => sys.error(s"unknown row: $other")
      }
      println(f"[scale-row] $row%-12s $sec%.2f s  ($sfDir)")
    }
    spark.stop()
  }

  /** Stuck-watermark alert drilled OPERATIONALLY (round-12 verdict task
    * 6): the full event stream replays through the mux with one
    * deliberately stuck consumer — group p4's session acks every chunk
    * EXCEPT its first claim (the blocker), while p0–p3 drain normally.
    * Ingest uses small micro-batches so hundreds of acked chunks pile
    * up RESIDENT behind p4's blocker (the exact shape BASELINE.md's
    * "Driver chunk-ledger footprint at 10⁷ chunks" priced at +2.5 GB for
    * 10k-behind × 1k groups).
    * Verified live, not post-hoc: mid-soak the EngineMetrics alert
    * names exactly p4; the healthy draining groups stay silent at any
    * backlog depth; acking the blocker clears the alert and evicts the
    * resident window to 0. Printed gauges (ackedResident, blocker age,
    * per-meta arithmetic) are the BASELINE.md evidence row. */
  private def stuckSoakSeconds(spark: SparkSession, sfDir: String): Double = {
    import graft.core._
    import graft.streaming.{EngineMetrics, MultiplexedDelivery}
    val rows = graft.sources.Tables.load(spark, sfDir, "events")
      .select("event_id", "user_id", "event_type").collect()
    val mux = new MultiplexedDelivery(spark,
      org.apache.spark.sql.streaming.Trigger.ProcessingTime("250 milliseconds"),
      sourcePartitions = 8,
      ackWaitMillis = 3600000L) // no ack-wait redelivery inside the soak:
      // the blocker must stay THE blocker, not bounce between re-offers
    val metrics = EngineMetrics.attach(spark)
    metrics.watchLedger("mux", mux.chunkLedger)
    (0 until 5).foreach(p => mux.addGroup(s"sk-p$p", ResourceType.Project, s"p$p",
      Hierarchy(projectId = s"p$p"), includeSubresources = true))
    mux.start()
    val ackedRows = new java.util.concurrent.atomic.AtomicLong(0L)
    @volatile var blocker: String = null
    @volatile var consume = true
    val threads = (0 until 5).map { p =>
      val group = s"sk-p$p"
      val sid = mux.openSession(group)
      val t = new Thread(() => {
        while (consume) {
          val claimed = mux.pull(group, sid, max = 16)
          claimed.foreach { c =>
            // p4's first claim becomes the blocker: never acked until
            // the drill's release step
            if (p == 4 && blocker == null) blocker = c.chunkId
            else if (p != 4 || c.chunkId != blocker) {
              if (mux.ack(c.groupId, c.chunkId))
                ackedRows.addAndGet(c.resourceIds.size.toLong)
            }
          }
          if (claimed.isEmpty) Thread.sleep(10)
        }
      }, s"stuck-consumer-$group")
      t.setDaemon(true); t.start(); t
    }
    val t0 = System.nanoTime()
    // small batches ON PURPOSE: resident-meta growth needs many chunks
    // behind the blocker, so the soak trades replay throughput for
    // chunk count (50k rows/batch → ~200 chunks per group at 100×)
    val batchRows = sys.env.getOrElse("SPARK_GRAFT_STUCK_BATCH", "50000").toInt
    rows.grouped(batchRows).foreach { chunk =>
      mux.emitAll(chunk.map(r =>
        graft.Bench.replayEvent(r.getLong(0), r.getLong(1), r.getString(2))).toSeq)
      mux.processAllAvailable()
    }
    // drain: p0-p3 to zero pending; p4 to exactly the blocker
    val deadline = System.nanoTime() + 120L * 1000000000L
    while (((0 until 4).map(p => mux.pendingRowCount(s"sk-p$p")).sum > 0
             || mux.chunkLedger.pending("sk-p4").size > 1)
           && System.nanoTime() < deadline) Thread.sleep(50)
    val elapsed = (System.nanoTime() - t0) / 1e9

    // the alert, LIVE: exactly the stuck group, at hundreds resident
    val alerts = metrics.stuckGroups(minResident = 10, minAgeMillis = 0)
    require(alerts.map(_.group) == Seq("sk-p4"),
      s"alert must name exactly the stuck group: $alerts")
    val stuck = alerts.head
    val (grps, pend, ackRes) = mux.ledgerStats
    System.gc()
    val heapMb = (Runtime.getRuntime.totalMemory - Runtime.getRuntime.freeMemory) / (1 << 20)
    // per-meta arithmetic vs the measured ledger footprint (BASELINE.md,
    // "Driver chunk-ledger footprint at 10⁷ chunks"): resident metas
    // × ~250 B/meta extrapolates to 10k-behind × 1k groups = +2.5 GB
    System.err.println(f"[stuck-soak] alert: group=${stuck.group} " +
      f"ackedResident=${stuck.ackedResident} blockerAgeMs=${stuck.blockerAgeMillis} " +
      f"ledger(groups=$grps pending=$pend ackedResident=$ackRes) heapMb=$heapMb " +
      f"residentBytes~=${stuck.ackedResident * 250L} " +
      f"(at 10k-behind x 1k groups: ${250L * 10000 * 1000 / (1 << 20)} MB)")
    // release the blocker: alert clears, the resident window evicts
    require(blocker != null && mux.ack("sk-p4", blocker), "blocker must ack")
    val after = metrics.stuckGroups(minResident = 10, minAgeMillis = 0)
    require(after.isEmpty, s"acking the blocker must clear the alert: $after")
    val (_, _, ackRes2) = mux.ledgerStats
    require(ackRes2 == 0L,
      s"watermark must evict the whole resident window ($ackRes2 left)")
    consume = false
    threads.foreach(_.join(2000))
    mux.stop()
    System.err.println(f"[stuck-soak] rows=${rows.length} acked=${ackedRows.get} " +
      f"residentBeforeRelease=$ackRes residentAfter=$ackRes2")
    elapsed
  }
}
