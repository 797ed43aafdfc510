package graft.streaming

import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.core._

/** The in-memory engine: ONE streaming query over the shared
  * `MemoryStream` serves every stream group — the reference's one
  * stream with a durable consumer per group (natsio.rs:24, :150-186).
  *
  * The memory source drops what its reader commits and accepts commits
  * only in order, so it supports exactly one reader: a second query per
  * group over it would lose the batches another group's query already
  * committed, and die on a commit below them. The Structured Streaming
  * paper's model is the same — one query per replayable offset log. A
  * group that needs its full history uses the durable log instead,
  * whose shared query serves a joining group's history from the log
  * ([[DurableEventLog]]).
  *
  * Each micro-batch is joined once against the current subscription
  * snapshot ([[ConsumerHost.deliverSharedBatch]]): a hash equi-join on
  * candidate match keys, never an all-pairs nested loop, and
  * subscriptions added/removed between micro-batches take effect on the
  * next batch — dynamic groups without restarting the query, and a new
  * group is from-now-on: it gets the batches that run after it
  * registered, none committed before. Attach
  * and last-session close start and stop nothing: a group with no live
  * session keeps receiving chunks, and a re-attached session pulls the
  * ones emitted while it was away. Every batch writes its payload in the
  * bucketed layout ([[DeliveryTable.writeBucketed]]) whatever the group
  * count — one Spark job collects the matched rows and the driver writes
  * one file per non-empty bucket, not per matching group — and a group
  * delete is metadata, with storage reclaimed by the batch body's
  * retention cadence (`payloadRetentionEvery`).
  */
final class MultiplexedDelivery(session: SparkSession,
                                trigger: Trigger = Trigger.ProcessingTime("250 milliseconds"),
                                ledgerDir: Option[String] = None,
                                sourcePartitions: Int = 1,
                                security: EngineSecurity = EngineSecurity.Permissive,
                                ackWaitMillis: Long = 30000L,
                                clock: () => Long = () => System.currentTimeMillis(),
                                payloadRetentionEvery: Int = ConsumerHost.PayloadRetentionEvery)
    extends ConsumerHost(session, security, ackWaitMillis, clock, ledgerDir,
      ledgerDir.map(d => s"$d/deliveries").getOrElse(DeliveryTable.tempDir()),
      sourcePartitions, payloadRetentionEvery) {

  @volatile private var query: Option[StreamingQuery] = None

  /** Start the ONE delivery query. */
  def start(): Unit = synchronized {
    require(query.isEmpty, "already started")
    val q = FanOut.explodeSubjects(source.toDF())
      .writeStream
      .queryName("multiplexed-delivery")
      .outputMode("append")
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        deliverSharedBatch(batch, chunkSeqBase + batchId)
      }
      .start()
    query = Some(q)
  }

  def processAllAvailable(): Unit = query.foreach(_.processAllAvailable())

  /** Stop the query. Without a `ledgerDir` the payload dir is the
    * engine's own temp dir and nothing can serve it again, so it is
    * deleted too; a `ledgerDir` engine keeps its dirs for a restart. */
  def stop(): Unit = synchronized {
    query.foreach(_.stop())
    query = None
    if (ledgerDir.isEmpty) table.deleteAll()
  }
}
