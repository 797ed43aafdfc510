package perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

/** What one benchmark process shares with its workload. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long, val seconds: Int,
                val cores: Int, val runDir: Path) {
  def traced: Boolean = tracer.enabled
  /** A fresh directory under this run's scratch space. */
  def dir(name: String): String = {
    val d = runDir.resolve(s"$name-${System.nanoTime()}")
    java.nio.file.Files.createDirectories(d)
    d.toString
  }
}

/** A workload's measured phase result. `e2e` holds the end-to-end
  * metrics the workload defines (Main adds set-up time and heap);
  * `layers` the per-layer metrics it measured; the window bounds the
  * timed phase on the span clock. */
final case class Outcome(attempted: Long, failed: Long, e2e: Map[String, Double],
                         layers: Map[String, Double], fromNs: Long, toNs: Long,
                         notes: Seq[String] = Nil)

/** One set-up of a workload: built by [[Workload.setup]], then either
  * discarded (the extra set-ups timed for `setup_s`) or run. */
trait Prepared {
  def run(): Outcome
  def close(): Unit
}

trait Workload {
  def setup(ctx: Ctx): Prepared
}

object Workload {
  /** Every workload's engine runs its micro-batches at a zero interval:
    * each starts when the previous one ends, so cycle time and latency
    * follow the processing time smoothly. At the 250 ms default a batch
    * starts on the next multiple of 250 ms, so a batch that takes a little
    * more than 250 ms waits for the one after: `live_grpc`'s trigger took
    * about 246 ms, and its median latency jumped between about 520 and
    * 750 ms from run to run, and a closed loop's iteration count in a run
    * between two values (`many_groups` made 10 or 12). */
  val trigger: Trigger = Trigger.ProcessingTime(0L)
}

/** Emission sequence → submission time on the nanoTime clock. */
final class SubmitTimes {
  private var a = new Array[Long](1 << 16)
  def set(seq: Long, ns: Long): Unit = synchronized {
    while (seq >= a.length) a = java.util.Arrays.copyOf(a, a.length * 2)
    a(seq.toInt) = ns
  }
  def apply(seq: Long): Long = synchronized(a(seq.toInt))
}

/** Samples `MultiplexedDelivery.ledgerStats` while a run is traced. */
final class LedgerSampler(stats: () => (Int, Long, Long), periodMs: Long) extends AutoCloseable {
  @volatile private var pending, acked = 0L
  @volatile private var running = true
  private val t = new Thread(() => {
    while (running) {
      val (_, p, a) = stats()
      pending = math.max(pending, p); acked = math.max(acked, a)
      Thread.sleep(periodMs)
    }
  }, "perfbench-ledger")
  t.setDaemon(true); t.start()
  def close(): Unit = { running = false; t.join() }
  def metrics: Map[String, Double] =
    Map("ChunkLedger.pending_peak" -> pending.toDouble, "ChunkLedger.acked_resident_peak" -> acked.toDouble)
}

object Dispatch {
  /** The `ChunkDispatcher.*` metrics from its public counters. */
  def metrics(d: graft.streaming.ChunkDispatcher): Map[String, Double] = {
    val (offers, redeliveries, failovers) = d.counters
    Map("ChunkDispatcher.offers" -> offers.toDouble,
      "ChunkDispatcher.redeliveries" -> redeliveries.toDouble,
      "ChunkDispatcher.failovers" -> failovers.toDouble,
      "ChunkDispatcher.redelivery_ratio" -> redeliveries.toDouble / math.max(1L, offers))
  }
}
