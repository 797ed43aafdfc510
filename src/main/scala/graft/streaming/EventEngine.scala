package graft.streaming

import java.util.concurrent.ConcurrentHashMap
import scala.collection.concurrent
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.core._

/** The per-group streaming engine — the reference's full service
  * surface (SURVEY.md §2.1 R1–R15) on Structured Streaming, shaped like
  * its per-consumer model: every stream group runs its OWN filtered
  * delivery query with its own checkpoint (≙ one JetStream consumer).
  * Ingest, registry, ledger/WAL, dispatch, pull and ack are the shared
  * [[ConsumerHost]] core.
  *
  * Mapping:
  *  - emit (R1)            → [[ConsumerHost.emit]]
  *  - fan-out (R2,R4,R5)   → [[FanOut.explodeSubjects]] inside the plan
  *  - create group (R7,R8) → [[ConsumerHost.addGroup]]: compiles the
  *    filter subject (completing the reference's `todo!()` arms for
  *    Object/ObjectGroup, natsio.rs:171-173) and starts the group's
  *    filtered query
  *  - delete group (R14)   → [[ConsumerHost.removeGroup]] (the reference
  *    stubs it)
  *  - delivery (R10–R12)   → 250 ms micro-batches; each batch becomes an
  *    acknowledgeable chunk; unacked chunks stay pending (at-least-once)
  *  - session control (R13)→ [[close]] stops the group's query; a later
  *    attach resumes it
  *
  * Divergences from the reference, intentional (SURVEY.md §7.4):
  * publish errors propagate (vs. swallowed, natsio.rs:136-147), unknown
  * ack ids are ignored gracefully (vs. panic, public_event_server.rs:368),
  * sequence/timestamp are populated (vs. constant 0/None).
  *
  * Scale note: per-group queries are fine for O(100) groups; the
  * many-groups path is [[MultiplexedDelivery]] — one query joined
  * against the subscription snapshot.
  */
final class EventEngine(session: SparkSession,
                        trigger: Trigger = Trigger.ProcessingTime("250 milliseconds"),
                        security: EngineSecurity = EngineSecurity.Permissive,
                        deliveriesDir: Option[String] = None,
                        ackWaitMillis: Long = 30000L,
                        clock: () => Long = () => System.currentTimeMillis(),
                        ledgerDir: Option[String] = None)
    extends ConsumerHost(session, security, ackWaitMillis, clock, ledgerDir,
      deliveriesDir.orElse(ledgerDir.map(d => s"$d/deliveries"))
        .getOrElse(DeliveryTable.tempDir())) {

  /** Per-group running delivery query. */
  private val queries: concurrent.Map[String, StreamingQuery] =
    new ConcurrentHashMap[String, StreamingQuery]().asScala

  /** Per-incarnation checkpoint root for the per-group delivery queries:
    * a group query stopped on last-session-close and restarted by a
    * later attach RESUMES its offsets and batch ids instead of
    * reprocessing the memory source from scratch — without it, events
    * emitted while the group was closed would be re-bundled into batch
    * 0 and hide behind an already-journaled (possibly acked) chunk id:
    * an event-loss path, exercised by SessionFuzzSpec. */
  private val ckptRoot: String =
    java.nio.file.Files.createTempDirectory("graft-engine-ckpt").toString

  /** The fanned-out event log as a streaming DataFrame — R2/R4/R5. */
  def eventLog: DataFrame = FanOut.explodeSubjects(source.toDF())

  /** Added or attached: start the group's query unless it runs. */
  override protected def onGroupActive(g: StreamGroup): Unit = synchronized {
    if (!queries.contains(g.id)) start(g)
  }

  /** Removed or last session closed: stop the group's query. */
  override protected def onGroupIdle(groupId: String): Unit = close(groupId)

  private def start(group: StreamGroup): Unit = {
    // R10–R12: the delivery loop. Micro-batch ≙ pull window. The subject
    // predicate is "matches ANY filter subject" (one per hierarchy) — a
    // plain OR, so a message matching several passes exactly once.
    val filtered = eventLog.filter(
      group.filterSubjects.map(Subjects.matchesLit(col("subject"), _)).reduce(_ || _)
      && Subjects.eventTypeMatches(col("eventType"), lit(group.eventType)))
    val q = filtered.writeStream
      .queryName(s"delivery-${group.id}")
      .outputMode("append")
      .trigger(trigger)
      .option("checkpointLocation", s"$ckptRoot/${group.id}")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        deliverGroupBatch(group.id, chunkSeqBase + batchId, batch)
      }
      .start()
    queries.put(group.id, q)
  }

  /** R13 close: stop the group's delivery query (the `close` flag /
    * AtomicBool of public_event_server.rs:321-345). State is kept so a
    * later [[ConsumerHost.attach]] resumes delivery. */
  def close(groupId: String): Unit = synchronized {
    queries.remove(groupId).foreach(_.stop())
  }

  /** Drain all in-flight data through every running query (test/replay
    * helper; production runs on the 250 ms trigger). */
  def processAllAvailable(): Unit = queries.values.foreach(_.processAllAvailable())

  def stop(): Unit = {
    queries.values.foreach(_.stop())
    queries.clear()
  }
}
