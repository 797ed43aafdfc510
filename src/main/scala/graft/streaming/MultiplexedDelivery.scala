package graft.streaming

import java.util.concurrent.atomic.AtomicLong

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
  * already serves every group.
  */
final class MultiplexedDelivery(session: SparkSession,
                                trigger: Trigger = Trigger.ProcessingTime("250 milliseconds"),
                                ledgerDir: Option[String] = None,
                                sourcePartitions: Int = 1,
                                security: EngineSecurity = EngineSecurity.Permissive,
                                ackWaitMillis: Long = 30000L,
                                clock: () => Long = () => System.currentTimeMillis(),
                                bucketedMinGroups: Int = ConsumerHost.BucketedMinGroups,
                                payloadRetentionEvery: Int = ConsumerHost.PayloadRetentionEvery)
    extends ConsumerHost(session, security, ackWaitMillis, clock, ledgerDir,
      ledgerDir.map(d => s"$d/deliveries").getOrElse(DeliveryTable.tempDir()),
      sourcePartitions, bucketedMinGroups, payloadRetentionEvery) {

  @volatile private var query: Option[StreamingQuery] = None

  /** Emitted-event count at the previous micro-batch body — the delta
    * is a driver-side estimate of THIS batch's event count, used only
    * to size the write ([[ConsumerHost.writeWidth]]). Emits racing past
    * the batch cut inflate the estimate and land in the next batch —
    * harmless for a file-count hint. */
  private val lastBatchEventSeq = new AtomicLong(0L)

  /** Start the ONE delivery query. */
  def start(): Unit = synchronized {
    require(query.isEmpty, "already started")
    val q = FanOut.explodeSubjects(source.toDF())
      .writeStream
      .queryName("multiplexed-delivery")
      .outputMode("append")
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val seqNow = emittedEvents
        deliverSharedBatch(batch, chunkSeqBase + batchId,
          seqNow - lastBatchEventSeq.getAndSet(seqNow))
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
