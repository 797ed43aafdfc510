package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import graft.core._
import graft.streaming.MultiplexedDelivery

/** Isolates the INGEST half of the wire-replay scale gap (round-8
  * verdict task 4): times per-event `emit` (the serialized
  * MemoryStream.addData path every wire Emit frame takes) against
  * bulk `emitAll`, in-process — no sockets — at 1 and 8 emitter
  * threads. If per-event emit alone caps well below the wire replay's
  * event rate, the gap is the ingest lock, not framing; if it's fast,
  * the bottleneck is the socket RTT or the consumer/dispatcher side.
  *
  * Usage: sbt "runMain graft.tools.IngestProbe <sfDir>"
  */
object IngestProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val rows = graft.sources.Tables.load(spark, sfDir, "events")
      .select("event_id", "user_id", "event_type").collect()
    def event(i: Int): Event = {
      val r = rows(i)
      val (eventId, uid, et) = (r.getLong(0), r.getLong(1), r.getString(2))
      val project = s"p${uid % 5}"
      val ts = new java.sql.Timestamp(0L)
      et match {
        case "signup" => Event(ResourceType.Project, EventType.All, project, RelationCtx(), ts)
        case "purchase" => Event(ResourceType.Collection, EventType.All, s"c$uid",
          RelationCtx(project = project), ts)
        case _ => Event(ResourceType.Object, EventType.All, s"o$eventId",
          RelationCtx(project = project, collection = s"c$uid",
            sharedObject = s"s$eventId", objectGroups = Seq(s"g${uid % 3}")), ts)
      }
    }

    def run(label: String)(body: MultiplexedDelivery => Unit): Unit = {
      val mux = new MultiplexedDelivery(spark, Trigger.ProcessingTime("250 milliseconds"),
        sourcePartitions = 8)
      (0 until 5).foreach(p => mux.addGroup(s"probe-p$p", ResourceType.Project, s"p$p",
        Hierarchy(projectId = s"p$p"), includeSubresources = true))
      mux.start()
      val t0 = System.nanoTime()
      body(mux)
      val tEmit = (System.nanoTime() - t0) / 1e9
      mux.processAllAvailable()
      val tAll = (System.nanoTime() - t0) / 1e9
      val delivered = (0 until 5).map(p => mux.pendingRowCount(s"probe-p$p")).sum
      mux.stop()
      require(delivered >= rows.length, s"$label delivered $delivered < ${rows.length}")
      println(f"[ingest] $label%-24s emit=$tEmit%.1fs total=$tAll%.1fs " +
        f"(${rows.length / tEmit / 1000}%.0fk ev/s emit-side)")
    }

    run("emitAll 50k batches") { mux =>
      (0 until rows.length).grouped(math.max(50000, rows.length / 8)).foreach { idx =>
        mux.emitAll(idx.map(event))
        mux.processAllAvailable()
      }
    }
    run("per-event x1 thread") { mux =>
      var i = 0
      while (i < rows.length) { val e = event(i)
        mux.emit(ResourceType.fromName(e.resource), e.eventType, e.resourceId,
          RelationCtx(e.project, e.collection, e.sharedObject, e.objectGroups))
        i += 1 }
    }
    run("per-event x8 threads") { mux =>
      val n = 8
      val ts = (0 until n).map { t =>
        val th = new Thread(() => {
          var i = t
          while (i < rows.length) { val e = event(i)
            mux.emit(ResourceType.fromName(e.resource), e.eventType, e.resourceId,
              RelationCtx(e.project, e.collection, e.sharedObject, e.objectGroups))
            i += n }
        }, s"ingest-probe-$t")
        th.start(); th
      }
      ts.foreach(_.join())
    }
    spark.stop()
  }
}
