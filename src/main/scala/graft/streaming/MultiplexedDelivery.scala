package graft.streaming

import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.core._

/** The many-groups scale path (SURVEY.md §7.4 risk 2): ONE streaming
  * query serves every stream group, instead of one query per group.
  *
  * Per-group queries ([[EventEngine]]) mirror the reference's JetStream
  * consumer model and are right for O(100) groups; at thousands of
  * groups they re-scan the stream N times and hold N checkpoints. Here
  * each micro-batch is joined once against the current subscription
  * snapshot ([[ConsumerHost.deliverSharedBatch]]): a hash equi-join on
  * candidate match keys, never an all-pairs nested loop, and
  * subscriptions added/removed between micro-batches take effect on the
  * next batch — dynamic groups without restarting the query. Attach
  * and last-session close start and stop nothing: the shared query
  * already serves every group. Every batch writes its payload in the
  * bucketed layout ([[DeliveryTable.writeBucketed]]) whatever the group
  * count — one file per bucket, not per matching group — and a group
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

  def stop(): Unit = synchronized {
    query.foreach(_.stop())
    query = None
  }
}
