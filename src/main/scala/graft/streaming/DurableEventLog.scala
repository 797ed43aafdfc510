package graft.streaming

import java.util.concurrent.ConcurrentHashMap
import scala.collection.concurrent
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.core._

/** The durable form of the event stream — what the reference's single
  * JetStream stream (`STORAGE_UPDATES`, natsio.rs:24) becomes at 100 TB:
  * a parquet event log PARTITIONED BY PROJECT, written by one ingest
  * query and read by per-group delivery queries that each own a
  * checkpoint (≙ a JetStream consumer's position), or by one shared
  * query for all groups ([[startMultiplexed]]). Ingest, registry,
  * ledger/WAL, dispatch, pull and ack are the shared [[ConsumerHost]]
  * core; this class is the log, its delivery queries and compaction.
  *
  * Why partition by project: the subject grammar scopes every query to
  * one project subtree (SURVEY.md §4 "hierarchical key space =
  * partition pruning"), so a delivery query's scan prunes to exactly
  * one partition directory — subtree subscriptions never touch other
  * projects' data, no matter how large the log grows.
  *
  * Restart semantics (SURVEY.md §7.4 risk 1): the file source +
  * checkpoint give exactly-once BATCH REPROCESSING (a restarted
  * delivery query resumes after the last committed batch, never
  * re-reading delivered files), while the ack ledger layered on top
  * gives at-least-once DELIVERY (unacked chunks stay pending across
  * restarts and are re-served to reconnecting clients).
  *
  * Small-files note for long-running deployments: a 250 ms trigger
  * appends one file per batch per touched partition. The production
  * remedies compose with this design without code changes here —
  * (a) lengthen the ingest trigger (delivery latency is governed by the
  * DELIVERY trigger, not ingest), (b) roll the log by time (new logDir
  * per day; readers union static compacted history with the live dir),
  * (c) compact closed partitions into an archive dir served to
  * backfilling (per-group) readers only — live mux readers never
  * re-read old batches, so compaction does not disturb them.
  * Strategy (c) is implemented: [[compactTo]] + [[archiveScan]].
  */
final class DurableEventLog(session: SparkSession, logDir: String, ckptRoot: String,
                            trigger: Trigger = Trigger.ProcessingTime("250 milliseconds"),
                            security: EngineSecurity = EngineSecurity.Permissive,
                            ackWaitMillis: Long = 30000L,
                            clock: () => Long = () => System.currentTimeMillis())
    extends ConsumerHost(session, security, ackWaitMillis, clock,
      Some(s"$ckptRoot/ledger"), s"$ckptRoot/deliveries") {

  @volatile private var ingestQuery: Option[StreamingQuery] = None
  /** Running delivery queries: per-group ones by group id, the shared
    * one under [[MuxQuery]]. */
  private val deliveries: concurrent.Map[String, StreamingQuery] =
    new ConcurrentHashMap[String, StreamingQuery]().asScala
  private val MuxQuery = "__mux__"

  /** Log row schema; `project` is the physical partition column.
    * `eventId`/`spos` are the content-derived message identity
    * ([[FanOut.explodeSubjects]]) — eventId restarts with each engine
    * incarnation (like `ts`), so cross-incarnation rows in ONE backfill
    * micro-batch can reuse ids; the mux dedup therefore also keys on
    * resourceId/eventType/ts, and within-chunk ORDER across
    * incarnations is per-incarnation emission order. */
  val logSchema: StructType = StructType(Seq(
    StructField("subject", StringType), StructField("payload", BinaryType),
    StructField("resource", StringType), StructField("eventType", StringType),
    StructField("resourceId", StringType), StructField("ts", TimestampType),
    StructField("eventId", LongType), StructField("spos", IntegerType),
    StructField("project", StringType)))

  /** Ingest: fan out and append to the partitioned log. The project
    * token (#3) exists in every publish subject, so it is derivable in
    * the plan — no extra state. */
  def startIngest(): Unit = synchronized {
    require(ingestQuery.isEmpty, "ingest already running")
    val q = FanOut.explodeSubjects(source.toDF())
      .withColumn("project", split(col("subject"), "\\.").getItem(3))
      .writeStream
      .queryName("event-log-ingest")
      .format("parquet")
      .option("path", logDir)
      .option("checkpointLocation", s"$ckptRoot/ingest")
      .partitionBy("project")
      .trigger(trigger)
      .start()
    ingestQuery = Some(q)
  }

  /** The delivery scan for one group: reads the log from the group's
    * own checkpointed position, pruned to the group's project partition
    * (PartitionFilters in the plan) plus the exact subject predicate.
    *
    * The partition-prune key is only applied when the filter's project
    * token (#3) is a LITERAL: a general NATS filter may carry `*` there
    * (Subjects.matchesLit handles it via rlike), in which case we fall
    * back to the full-log scan with the subject predicate alone —
    * correct, just unpruned. `maxFilesPerTrigger` bounds how much of a
    * backlog one micro-batch
    * ingests — THE knob that keeps a new group's full-history backfill
    * from materializing the whole log in a single batch. Unset, a
    * restart after long downtime (or a fresh per-group checkpoint over
    * a year of log) becomes one giant batch sized by the backlog, not
    * by memory. */
  def deliveryStream(filterSubject: String,
                     maxFilesPerTrigger: Option[Int] = None,
                     eventType: String = EventType.All): DataFrame =
    deliveryStreamMulti(Seq(filterSubject), maxFilesPerTrigger, eventType)

  /** Union form for multi-hierarchy groups: "matches ANY filter
    * subject" as an OR of per-subject predicates — a filter, so a
    * message matching several subjects still flows once. The partition
    * prune generalizes to `project IN (…)` when every filter's project
    * token is a literal. */
  def deliveryStreamMulti(filterSubjects: Seq[String],
                          maxFilesPerTrigger: Option[Int] = None,
                          eventType: String = EventType.All): DataFrame = {
    val reader = spark.readStream.schema(logSchema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    prunedSubjectScan(reader.parquet(logDir), filterSubjects)
      .filter(Subjects.eventTypeMatches(col("eventType"), lit(eventType)))
  }

  /** Shared prune: subject predicate (ANY of `filterSubjects`) + the
    * partition filter `project IN (…)` when every filter's project
    * token is a literal (a `*`/`>` token anywhere falls back to the
    * full-log scan with the subject predicate alone — correct, just
    * unpruned). Works for both the streaming log scan and batch
    * archive scans. */
  private def prunedSubjectScan(df: DataFrame, filterSubjects: Seq[String]): DataFrame = {
    require(filterSubjects.nonEmpty, "at least one filter subject required")
    val projects = filterSubjects.map { fs =>
      val tokens = fs.split('.')
      require(tokens.length >= 4,
        s"filter subject needs >=4 tokens (UPDATES.STORAGE._.<project>...): $fs")
      tokens(3)
    }
    val base = df.filter(
      filterSubjects.map(Subjects.matchesLit(col("subject"), _)).reduce(_ || _))
    if (projects.exists(p => p == "*" || p == ">")) base
    else base.filter(col("project").isin(projects.distinct: _*))
  }

  /** Start (or restart — same checkpoint) a group's delivery query.
    * `deliveryTrigger` defaults to the log's cadence; pass
    * `Trigger.AvailableNow()` for a drain-and-stop backfill run. */
  def startDelivery(groupId: String, filterSubject: String,
                    maxFilesPerTrigger: Option[Int] = None,
                    deliveryTrigger: Trigger = trigger,
                    eventType: String = EventType.All): Unit =
    startDeliveryMulti(groupId, Seq(filterSubject), maxFilesPerTrigger,
      deliveryTrigger, eventType)

  /** Union form for multi-hierarchy groups — see [[deliveryStreamMulti]]. */
  def startDeliveryMulti(groupId: String, filterSubjects: Seq[String],
                         maxFilesPerTrigger: Option[Int] = None,
                         deliveryTrigger: Trigger = trigger,
                         eventType: String = EventType.All): Unit = {
    require(!deliveries.contains(groupId), s"delivery for $groupId already running")
    val q = deliveryStreamMulti(filterSubjects, maxFilesPerTrigger, eventType).writeStream
      .queryName(s"durable-delivery-$groupId")
      .outputMode("append")
      .option("checkpointLocation", s"$ckptRoot/delivery-$groupId")
      .trigger(deliveryTrigger)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        // Checkpointed batch ids are stable across restarts, so the
        // chunk seq IS the batch id; a replayed batch whose chunk is
        // already known (possibly acked) is skipped before the write.
        deliverGroupBatch(groupId, batchId, batch)
      }
      .start()
    deliveries.put(groupId, q)
  }

  /** Synchronized with [[stop]]: a last-session close racing the
    * engine's stop has taken the query out of `deliveries` before
    * `stop` looks, so `stop` must wait for that query's stop. */
  def stopDelivery(groupId: String): Unit = synchronized {
    deliveries.remove(groupId).foreach(_.stop())
  }

  /** A per-group durable delivery runs while the group has a live
    * consumer: a session's attach starts it (a group added ahead of any
    * session, e.g. for [[startMultiplexed]], waits), and its per-group
    * checkpoint makes every stop/start resume exactly. Groups served by
    * the multiplexed query need no query of their own. */
  override protected def onGroupActive(g: StreamGroup): Unit =
    if (dispatcher.liveSessionCount(g.id) > 0 && !deliveries.contains(g.id)
        && !deliveries.contains(MuxQuery))
      startDeliveryMulti(g.id, g.filterSubjects, eventType = g.eventType)

  /** Removed or last session closed: stop the group's own delivery. */
  override protected def onGroupIdle(groupId: String): Unit = stopDelivery(groupId)

  /** One delivery query for ALL registered groups, reading the log from
    * a single shared checkpoint ([[ConsumerHost.deliverSharedBatch]],
    * the bucketed payload write MultiplexedDelivery runs).
    *
    * Semantics difference vs per-group mode, by design:
    *  - per-group [[startDelivery]] owns a fresh checkpoint → a new
    *    group BACKFILLS the whole log from the beginning;
    *  - multiplexed groups share the mux checkpoint → a group added
    *    later sees only batches committed AFTER it registered
    *    (from-now-on semantics). Pick per need; both are exposed.
    *
    * Each batch reads at most [[DurableEventLog.MuxFilesPerTrigger]] log
    * files: the shared write collects a batch's matched rows on the
    * driver ([[DeliveryTable.writeBucketed]]), so a restart after a
    * long stop drains its backlog in bounded batches instead of one
    * batch sized by the backlog — a batch too large for the driver
    * would fail again on every replay of the same offsets.
    */
  def startMultiplexed(): Unit = synchronized {
    require(!deliveries.contains(MuxQuery), "multiplexed delivery already running")
    val q = spark.readStream
      .schema(logSchema)
      .option("maxFilesPerTrigger", DurableEventLog.MuxFilesPerTrigger)
      .parquet(logDir)
      .writeStream
      .queryName("durable-mux-delivery")
      .outputMode("append")
      .option("checkpointLocation", s"$ckptRoot/mux")
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        // eventIds repeat across incarnations (logSchema scaladoc)
        deliverSharedBatch(batch, batchId, Seq("resourceId", "eventType", "ts"))
      }
      .start()
    deliveries.put(MuxQuery, q)
  }

  // ---- compaction (strategy (c) of the class doc) -------------------

  /** Compact the log into an archive directory: one coalesced file set
    * per project partition instead of one file per micro-batch. This is
    * the small-files remedy for long-running deployments.
    *
    * Why an ARCHIVE and not in-place: the ingest sink maintains a
    * `_spark_metadata` file-sink log that both batch and streaming
    * readers of `logDir` trust as the authoritative file listing —
    * rewriting data files in place would desynchronize it (compacted
    * files invisible, removed files still listed). The archive is a
    * plain partitioned parquet dataset read by BACKFILLING consumers
    * ([[archiveScan]]); live delivery queries keep reading the log from
    * their checkpoints and are never disturbed.
    *
    * `filesPerPartition` sizes the rewrite: 1 is right up to a few GB
    * per project; raise it so individual files stay near the HDFS/S3
    * sweet spot (~128 MB–1 GB) at scale. Returns rows archived. */
  def compactTo(archiveDir: String, filesPerPartition: Int = 1): Long = {
    val snap = spark.read.schema(logSchema).parquet(logDir)
    val n = snap.count()
    snap.repartition(filesPerPartition, col("project"))
      .write.mode("overwrite").partitionBy("project").parquet(archiveDir)
    n
  }

  /** Pruned batch scan of a compacted archive — what a backfilling
    * consumer reads BEFORE switching to the live log (from-now-on via
    * the multiplexed query). Same partition-prune + subject predicate
    * as [[deliveryStream]], so a subtree backfill touches exactly one
    * partition directory of the archive. */
  def archiveScan(archiveDir: String, filterSubject: String): DataFrame =
    prunedSubjectScan(spark.read.schema(logSchema).parquet(archiveDir), Seq(filterSubject))

  /** Serve a group's HISTORY from a compacted archive as ack-able
    * delivery chunks (the backfill half of the compaction story; the
    * live half is the from-now-on multiplexed query). Chunks are sliced
    * `chunkRows` at a time — the batch analog of the 250 ms micro-batch
    * window — under reserved negative batch ids so they sort before,
    * and never collide with, live chunks. Idempotent per (groupId,
    * chunkId): re-running a backfill re-serves nothing already in the
    * ledger (WAL rules apply — acked stays acked). Returns the number
    * of chunks created. */
  def backfillFromArchive(groupId: String, archiveDir: String, filterSubject: String,
                          chunkRows: Int = 10000): Int = {
    // Distributed slicing: zipWithIndex assigns contiguous scan-order
    // indices without a driver materialization (the RDD detour is the
    // one API that gives contiguous ids; this is a bulk admin path, not
    // a codegen-hot loop), then one partitioned write ships every
    // chunk's payload straight from the executors — one write TASK per
    // backfill chunk (DeliveryTable.writeMulti keys the shuffle on
    // (groupId, chunkId), so a million-row subtree backfill fans across
    // its chunks instead of collapsing onto one task; round-12 ADVICE).
    val base = archiveScan(archiveDir, filterSubject).select("subject", "resourceId")
    val n = base.count()
    if (n == 0) return 0
    val sliced = base.rdd.zipWithIndex.map { case (r, i) =>
      (s"$groupId-backfill-${i / chunkRows}", r.getString(0), r.getString(1), i)
    }
    // the zipWithIndex scan index doubles as the within-chunk delivery
    // order (`seq`) — content-derived, no monotonically_increasing_id
    table.writeMulti(spark.createDataFrame(sliced)
      .toDF("chunkId", "subject", "resourceId", "seq")
      .withColumn("groupId", lit(groupId)))
    val nChunks = ((n + chunkRows - 1) / chunkRows).toInt
    var created = 0
    (0 until nChunks).foreach { k =>
      val chunkId = s"$groupId-backfill-$k"
      // Idempotent per (groupId, chunkId): a re-run backfill re-serves
      // nothing already in the ledger (WAL rules — acked stays acked,
      // including acked history compacted into the watermark).
      if (recordChunk(groupId, chunkId, -(k + 1L),
          math.min(chunkRows.toLong, n - k.toLong * chunkRows)))
        created += 1
    }
    created
  }

  def processAllAvailable(): Unit = {
    ingestQuery.foreach(_.processAllAvailable())
    deliveries.values.foreach(_.processAllAvailable())
  }

  def stop(): Unit = synchronized {
    deliveries.values.foreach(_.stop()); deliveries.clear()
    ingestQuery.foreach(_.stop()); ingestQuery = None
  }
}

object DurableEventLog {
  /** Log files per batch of the shared query. The ingest query writes
    * one file per project it touched per ingest trigger (one source
    * partition), so one shared batch holds at most this many ingest
    * micro-batches' rows of one project each, and the shared query
    * keeps up while fewer projects than this are touched per trigger. */
  val MuxFilesPerTrigger = 128
}
