package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.SparkSession

import graft.core._
import graft.streaming.MultiplexedDelivery

/** Bucketed-payload retention soak (round-13 verdict task 4): a
  * long-running many-groups deployment must hold its batch-dir count at
  * a STEADY STATE — the automated cadence
  * ([[graft.streaming.ConsumerHost.PayloadRetentionEvery]]) reaping fully-acked
  * batch dirs as consumers drain, with churn running (group removes do
  * NOT physically delete from bucketed files, so retention is the only
  * storage-reclaim path — DeliveryTable.drop scaladoc).
  *
  * Shape: G groups (bucketed layout), 2 competing live pull→ack
  * consumers per hot group draining continuously, 10% group churn every
  * 8 batches, events re-emitted round-robin for `batches` micro-batches
  * (default 480 ≈ a 2-minute 250 ms cadence per sample run; pass more
  * for a longer soak). Sampled every 16 batches: live batch-dir count,
  * reaped total, pending metas. The claim is the batch-dir curve going
  * FLAT (bounded by pending window + retention cadence), not growing
  * with batches processed.
  *
  * Usage: runMain graft.tools.RetentionSoakProbe [sfDir] [G] [batches]
  */
object RetentionSoakProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val g = args.lift(1).map(_.toInt).getOrElse(200)
    val nBatches = args.lift(2).map(_.toInt).getOrElse(480)
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val rows = graft.sources.Tables.load(spark, sfDir, "events")
      .select("event_id", "user_id", "event_type").limit(200000).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))

    val dir = java.nio.file.Files.createTempDirectory("graft-retention-soak").toString
    val mux = new MultiplexedDelivery(spark, ledgerDir = Some(dir),
      sourcePartitions = 8, payloadRetentionEvery = 16)
    (0 until 5).foreach(p => mux.addGroup(s"hot-p$p", ResourceType.Project, s"p$p",
      Hierarchy(projectId = s"p$p"), includeSubresources = true))
    (5 until g).foreach(k => addCol(mux, k, ""))
    mux.start()

    val acked = new AtomicLong(0L)
    @volatile var consume = true
    val consumers = (0 until 5).flatMap { p =>
      (0 until 2).map { _ =>
        val sid = mux.openSession(s"hot-p$p")
        val t = new Thread(() => {
          while (consume) {
            val claimed = mux.pull(s"hot-p$p", sid, max = 8)
            claimed.foreach { c =>
              if (mux.ack(c.groupId, c.chunkId)) { acked.incrementAndGet(); () }
            }
            if (claimed.isEmpty) Thread.sleep(20)
          }
        })
        t.setDaemon(true); t.start(); t
      }
    }
    // selective groups that never ack would pin the retention floor
    // forever (floor = min pending across ALL groups — the at-least-
    // once contract); a janitor plays the "slow consumer with finite
    // lag" persona for every cold group: metadata-level acks (no
    // payload hydration) of everything but each group's newest two
    // chunks, so the floor ADVANCES on a lag and retention has real
    // work each cadence instead of an idle pass
    val janitor = new Thread(() => {
      while (consume) {
        (5 until g).foreach { k =>
          Seq(s"col-c$k", s"col-c$k-v2").foreach { gid =>
            mux.chunkLedger.pending(gid).dropRight(2)
              .foreach(m => mux.ack(gid, m.chunkId))
          }
        }
        Thread.sleep(100)
      }
    })
    janitor.setDaemon(true); janitor.start()

    def batchDirCount: Int = {
      val f = new java.io.File(s"$dir/deliveries/batches").listFiles()
      if (f == null) 0 else f.count(_.getName.startsWith("batch="))
    }

    println(f"${"batch"}%6s ${"dirs"}%5s ${"reaped"}%7s ${"pendMeta"}%9s ${"ackedHot"}%9s")
    val batchRows = math.max(1, rows.length / 32)
    var i = 0
    var maxDirs = 0
    val t0 = System.nanoTime()
    while (i < nBatches) {
      val slice = rows.slice((i % 32) * batchRows, ((i % 32) + 1) * batchRows)
      if (i % 8 == 4) { // churn
        (5 until g by 10).foreach { k =>
          try mux.removeGroup(s"col-c$k") catch { case _: Exception => }
          addCol(mux, k, "-v2")
        }
        (5 until g by 10).foreach { k =>
          try mux.removeGroup(s"col-c$k-v2") catch { case _: Exception => }
          addCol(mux, k, "")
        }
      }
      mux.emitAll(slice.map { case (e, u, t) => graft.Bench.replayEvent(e, u, t) }.toSeq)
      mux.processAllAvailable()
      if (i % 16 == 15) {
        val d = batchDirCount
        maxDirs = math.max(maxDirs, d)
        val (_, pend, _) = mux.ledgerStats
        println(f"$i%6d $d%5d ${mux.reapedBatchDirs.get}%7d $pend%9d ${acked.get}%9d")
      }
      i += 1
    }
    val total = (System.nanoTime() - t0) / 1e9
    consume = false
    consumers.foreach(_.join(2000)); janitor.join(2000)
    val finalDirs = batchDirCount
    println(f"soak: batches=$nBatches totalSec=$total%.1f maxDirs=$maxDirs " +
      f"finalDirs=$finalDirs reaped=${mux.reapedBatchDirs.get} " +
      s"bounded=${maxDirs < nBatches / 2}")
    mux.stop()
    spark.stop()
  }

  private def addCol(mux: MultiplexedDelivery, k: Int, suffix: String): Unit = {
    try {
      mux.addGroup(s"col-c$k$suffix", ResourceType.Collection, s"c$k",
        Hierarchy(projectId = s"p${k % 5}", collectionId = s"c$k"),
        includeSubresources = true)
      ()
    } catch { case _: IllegalArgumentException => () }
  }
}
