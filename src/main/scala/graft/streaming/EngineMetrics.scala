package graft.streaming

import java.util.UUID
import java.util.concurrent.ConcurrentHashMap
import scala.collection.concurrent
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Observability for the delivery queries — the SURVEY §2.1 R13 mapping
  * "errors ⇒ StreamingQueryListener" made concrete. The reference
  * surfaces failures through its in-stream error channel and log lines;
  * here every streaming query's lifecycle is captured once, engine-wide:
  *
  *  - progress: batches seen, cumulative input rows, latest
  *    rows/second and batch duration per query (the backpressure /
  *    throughput signals an operator watches at scale);
  *  - terminations: queries that died keep their exception string
  *    under their name, so a supervisor can restart the engine or
  *    alert.
  *
  * Listener callbacks arrive on Spark's listener bus (asynchronous);
  * readers see eventually-consistent snapshots.
  */
final class EngineMetrics extends StreamingQueryListener {

  final case class QueryStats(
      name: String,
      batches: Long,
      inputRows: Long,
      lastRowsPerSecond: Double,
      lastBatchMillis: Long,
      error: Option[String])

  private val stats: concurrent.Map[String, QueryStats] =
    new ConcurrentHashMap[String, QueryStats]().asScala
  /** Query id → name, from the started event: the terminated event
    * carries only the id. */
  private val names: concurrent.Map[UUID, String] =
    new ConcurrentHashMap[UUID, String]().asScala

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
    val name = Option(e.name).getOrElse(e.id.toString)
    names.put(e.id, name)
    stats.put(name, QueryStats(name, 0L, 0L, 0.0, 0L, None))
    ()
  }

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val name = Option(p.name).getOrElse(p.id.toString)
    val prev = stats.getOrElse(name, QueryStats(name, 0L, 0L, 0.0, 0L, None))
    stats.put(name, prev.copy(
      batches = prev.batches + 1,
      inputRows = prev.inputRows + p.numInputRows,
      lastRowsPerSecond = p.inputRowsPerSecond,
      lastBatchMillis =
        Option(p.durationMs.get("triggerExecution")).map(_.longValue()).getOrElse(0L)))
    ()
  }

  /** A failure is recorded under the query's name, next to its
    * progress (under the id when the listener missed the start). */
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
    val name = names.remove(e.id).getOrElse(e.id.toString)
    e.exception.foreach { err =>
      stats.put(name, stats.getOrElse(name,
        QueryStats(name, 0L, 0L, 0.0, 0L, None)).copy(error = Some(err)))
    }
    ()
  }

  /** Snapshot of every query seen so far (running or terminated). */
  def snapshot: Map[String, QueryStats] = stats.toMap

  /** Queries that terminated with an exception → its message. */
  def failures: Map[String, String] =
    stats.collect { case (k, s) if s.error.isDefined => k -> s.error.get }.toMap

  /** A group whose watermark is stuck: `ackedResident` metas held
    * behind one unacked chunk of `blockerAgeMillis` age. */
  final case class StuckGroup(ledger: String, group: String,
                              ackedResident: Long, blockerAgeMillis: Long)

  private val ledgers: concurrent.Map[String, ChunkLedger] =
    new ConcurrentHashMap[String, ChunkLedger]().asScala

  /** Register a delivery engine's chunk ledger for stuck-watermark
    * monitoring (round-11 verdict task 6 — BASELINE.md's "Driver
    * chunk-ledger footprint at 10⁷ chunks" measured the stuck case at
    * +2.5 GB, "the operational alert signal"; this makes it one). */
  def watchLedger(name: String, ledger: ChunkLedger): Unit = {
    ledgers.put(name, ledger); ()
  }

  /** Groups whose acked-resident window exceeds `minResident` AND whose
    * watermark-blocking chunk is older than `minAgeMillis` — the alert
    * condition. Healthy groups (acks keeping up, resident window 0)
    * never appear regardless of backlog depth: a deep-but-draining
    * backlog is load, not a stuck watermark. */
  def stuckGroups(minResident: Long = 1, minAgeMillis: Long = 0,
                  nowMillis: Long = System.currentTimeMillis()): Seq[StuckGroup] =
    ledgers.toSeq.flatMap { case (name, l) =>
      l.stuckGauges(nowMillis).collect {
        case (grp, (res, age)) if res >= minResident && age >= minAgeMillis =>
          StuckGroup(name, grp, res, age)
      }
    }
}

object EngineMetrics {
  /** Attach a fresh collector to the session's listener bus. */
  def attach(spark: SparkSession): EngineMetrics = {
    val m = new EngineMetrics
    spark.streams.addListener(m)
    m
  }
}
