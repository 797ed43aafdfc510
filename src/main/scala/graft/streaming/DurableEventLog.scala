package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.OffsetSeqLog
import org.apache.spark.sql.execution.streaming.runtime.{FileStreamSourceLog, FileStreamSourceOffset, SerializedOffset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.core._

/** The durable form of the event stream — what the reference's single
  * JetStream stream (`STORAGE_UPDATES`, natsio.rs:24) becomes at 100 TB:
  * a parquet event log PARTITIONED BY PROJECT, written by one ingest
  * query and read by one shared query for every group
  * ([[startMultiplexed]]), whose checkpoint is the position all durable
  * consumers share. Two streaming queries, whatever the group count.
  * Ingest, registry, ledger/WAL, dispatch, pull and ack are the shared
  * [[ConsumerHost]] core; this class is the log, its two queries, a
  * joining group's history and compaction.
  *
  * One replayable log read by both a streaming and a batch query (the
  * Structured Streaming paper's model): a group gets full history, then
  * live delivery, like a JetStream consumer created over an existing
  * stream. The shared query's file source records every log file it
  * read with its log position (`<ckpt>/mux/sources/0`, a
  * `FileStreamSourceLog`, which keeps every file; the offset log keeps
  * only the last batches). Chunk seqs are built from that position:
  * the live chunk of a batch that read positions (s, e] has seq
  * `e * SeqStride`, so a group's coverage point is just the highest
  * seq its WAL state holds, or its drop floor. The first shared batch
  * whose registration snapshot holds a group serves that group's
  * history before recording its live chunk: one batch read of the log
  * files of positions after the coverage point up to s, pruned per
  * group ([[prunedSubjectScan]]), sliced into chunks of at most
  * [[DurableEventLog.HistoryChunkRows]] rows whose seqs rise and stay
  * below e * SeqStride, and written per group
  * ([[DeliveryTable.writeMulti]]). History after a restart, a late
  * registration or a same-id re-create is therefore exact: each event
  * once, nothing acked served again, no chunk id minted twice. The
  * history arrives with the next shared batch, i.e. once anything new
  * is logged after the registration.
  *
  * Why partition by project: the subject grammar scopes every query to
  * one project subtree (SURVEY.md §4 "hierarchical key space =
  * partition pruning"), so a history read prunes to exactly one
  * partition directory — subtree subscriptions never touch other
  * projects' data, no matter how large the log grows.
  *
  * Restart semantics (SURVEY.md §7.4 risk 1): the file source +
  * checkpoint give exactly-once BATCH REPROCESSING (a restarted shared
  * query resumes after the last committed batch, never re-reading
  * delivered files), while the ack ledger layered on top gives
  * at-least-once DELIVERY (unacked chunks stay pending across restarts
  * and are re-served to reconnecting clients).
  *
  * Migration: a ckptRoot written before the shared query served history
  * keeps orphaned `delivery-<id>` checkpoints and chunk seqs that are
  * query batch ids, not log positions; start a fresh ckptRoot over the
  * same log dir (every group then gets its full history once).
  *
  * Small-files note for long-running deployments: a 250 ms trigger
  * appends one file per batch per touched partition. The production
  * remedies compose with this design without code changes here —
  * (a) lengthen the trigger, (b) roll the log by time (new logDir per
  * day; readers union static compacted history with the live dir),
  * (c) compact closed partitions into an archive dir for batch readers
  * ([[compactTo]] + [[archiveScan]]): the shared query keeps reading
  * the log from its checkpoint and a joining group's history from the
  * files its source log lists, so compaction disturbs neither.
  */
final class DurableEventLog(session: SparkSession, logDir: String, ckptRoot: String,
                            trigger: Trigger = Trigger.ProcessingTime("250 milliseconds"),
                            security: EngineSecurity = EngineSecurity.Permissive,
                            ackWaitMillis: Long = 30000L,
                            clock: () => Long = () => System.currentTimeMillis())
    extends ConsumerHost(session, security, ackWaitMillis, clock,
      Some(s"$ckptRoot/ledger"), s"$ckptRoot/deliveries") {
  import DurableEventLog._
  import spark.implicits._

  @volatile private var ingestQuery: Option[StreamingQuery] = None
  @volatile private var sharedQuery: Option[StreamingQuery] = None

  /** Log row schema; `project` is the physical partition column.
    * `eventId`/`spos` are the content-derived message identity
    * ([[FanOut.explodeSubjects]]) — eventId restarts with each engine
    * incarnation (like `ts`), so cross-incarnation rows in ONE shared
    * micro-batch can reuse ids; the shared dedup therefore also keys on
    * resourceId/eventType/ts, and within-chunk ORDER across
    * incarnations is per-incarnation emission order. */
  val logSchema: StructType = StructType(Seq(
    StructField("subject", StringType), StructField("payload", BinaryType),
    StructField("resource", StringType), StructField("eventType", StringType),
    StructField("resourceId", StringType), StructField("ts", TimestampType),
    StructField("eventId", LongType), StructField("spos", IntegerType),
    StructField("project", StringType)))

  private val sourceLogDir = s"$ckptRoot/mux/sources/0"
  /** The shared source's file log (file → position), opened once the
    * shared query has created it. */
  private lazy val sourceLog =
    new FileStreamSourceLog(FileStreamSourceLog.VERSION, spark, sourceLogDir)
  private lazy val offsetLog = new OffsetSeqLog(spark, s"$ckptRoot/mux/offsets")

  // A removal before this incarnation's first shared batch floors at
  // what the checkpoint has read, not at the highest chunk seq.
  if (exists(sourceLogDir))
    sourceLog.getLatestBatchId().foreach(p => sharedBatchSeq = p * SeqStride)

  private def exists(dir: String): Boolean = {
    val p = new Path(dir)
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  /** Ingest: fan out and append to the partitioned log. The project
    * token (#3) exists in every publish subject, so it is derivable in
    * the plan — no extra state. */
  def startIngest(): Unit = synchronized {
    require(ingestQuery.isEmpty, "ingest already running")
    // The ingest checkpoint outlives the engine (the log's file sink
    // skips batch ids it has committed), but each engine's memory source
    // starts empty: advance it with empty batches to the last offset the
    // checkpoint planned, so the restarted query reads the next emit as
    // new data instead of comparing it with the old engine's offsets.
    val offsets = s"$ckptRoot/ingest/offsets"
    if (exists(offsets))
      new OffsetSeqLog(spark, offsets).getLatest().flatMap(_._2.offsets.head).foreach { o =>
        source.synchronized((0L to o.json.toLong).foreach(_ => source.addData(Nil)))
      }
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

  /** Shared prune: subject predicate (ANY of `filterSubjects`) + the
    * partition filter `project IN (…)` when every filter's project
    * token is a literal (a `*`/`>` token anywhere falls back to the
    * full-log scan with the subject predicate alone — correct, just
    * unpruned). Serves the history read and archive scans. */
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

  /** The ONE delivery query for all registered groups, reading the log
    * from a single shared checkpoint ([[ConsumerHost.deliverSharedBatch]],
    * the bucketed payload write MultiplexedDelivery runs), with a
    * joining group's history served first ([[serveHistory]]).
    *
    * Each batch reads at most [[DurableEventLog.MuxFilesPerTrigger]] log
    * files: the shared write collects a batch's matched rows on the
    * driver ([[DeliveryTable.writeBucketed]]), so a restart after a
    * long stop drains its backlog in bounded batches instead of one
    * batch sized by the backlog — a batch too large for the driver
    * would fail again on every replay of the same offsets.
    */
  def startMultiplexed(): Unit = synchronized {
    require(sharedQuery.isEmpty, "multiplexed delivery already running")
    var served = Map.empty[String, StreamGroup]
    val q = spark.readStream
      .schema(logSchema)
      .option("maxFilesPerTrigger", MuxFilesPerTrigger)
      .parquet(logDir)
      .writeStream
      .queryName("durable-mux-delivery")
      .outputMode("append")
      .option("checkpointLocation", s"$ckptRoot/mux")
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val start = logOffset(batchId - 1)
        // eventIds repeat across incarnations (logSchema scaladoc)
        deliverSharedBatch(batch, logOffset(batchId) * SeqStride,
          Seq("resourceId", "eventType", "ts"), { members =>
            serveHistory(start, members.values.filterNot(g => served.get(g.id).exists(_ eq g)).toSeq)
            served = members
          })
      }
      .start()
    sharedQuery = Some(q)
  }

  /** The shared source's log position a query batch read through
    * (-1 before the first batch). */
  private def logOffset(batchId: Long): Long =
    if (batchId < 0) -1L
    else offsetLog.get(batchId).flatMap(_.offsets.head)
      .map(o => FileStreamSourceOffset(SerializedOffset(o.json)).logOffset)
      .getOrElse(sys.error(s"no offsets for shared batch $batchId"))

  /** History for the groups that join with a shared batch whose start
    * position is `start`: per group, every matching row of the log files
    * at positions after its coverage point and up to `start`.
    *
    * A position's rows for a group, in (eventId, spos, file) order, are
    * cut into slices of [[HistoryChunkRows]]; slice k of position q owns
    * seq `q * SeqStride + 1 + k`. Slices at or below the group's coverage
    * point were served before (a replay, or a restart mid-history) and
    * are dropped; consecutive one-slice positions then merge into one
    * chunk while it stays within [[HistoryChunkRows]], and a chunk's seq
    * is the highest seq it owns. Chunks are recorded in seq order, so
    * the coverage point always ends on a served slice. */
  private def serveHistory(start: Long, joining: Seq[StreamGroup]): Unit = {
    val from = joining.map(g => (g, coverage(g.id))).filter { case (_, c) => firstPosition(c) <= start }
    if (from.isEmpty) return
    val entries = sourceLog.get(Some(from.map(p => firstPosition(p._2)).min), Some(start)).toSeq
      .flatMap { case (pos, es) => es.map(e => (e, pos)) }
    if (entries.isEmpty) return
    // a file is keyed by its partition dir + name, both url-encoded as
    // the source log and `_metadata.file_path` spell them
    val log = spark.read.schema(logSchema).option("basePath", logDir)
      .parquet(entries.map(_._1.sparkPath.toPath.toString): _*)
      .withColumn("file", regexp_extract(col("_metadata.file_path"), FileKey, 0))
      .join(broadcast(entries.map { case (e, pos) => (FileKey.r.findFirstIn(e.path).get, pos) }
        .toDF("file", "pos")), "file")
    val rows = from.map { case (g, c) =>
      prunedSubjectScan(log, g.filterSubjects)
        .filter(Subjects.eventTypeMatches(col("eventType"), lit(g.eventType))
          && col("pos") >= firstPosition(c))
        .select(lit(g.id).as("groupId"), col("pos"), col("subject"), col("resourceId"),
          FanOut.seqCol.as("eseq"), col("file"))
    }.reduce(_ unionByName _)
      .withColumn("idx", row_number().over(
        Window.partitionBy("groupId", "pos").orderBy("eseq", "file")) - 1)
      .withColumn("slice", least(floor(col("idx") / HistoryChunkRows), lit(SeqStride - 2)))
      .persist()
    try {
      val counts = rows.groupBy("groupId", "pos").count().as[(String, Long, Long)].collect()
        .groupBy(_._1)
      val chunks = from.flatMap { case (g, c) =>
        historyChunks(counts.getOrElse(g.id, Array.empty).map(r => (r._2, r._3)).sorted.toSeq, c)
          .map(ch => (g, ch))
      }
      if (chunks.nonEmpty) {
        val plan = chunks.flatMap { case (g, (seq, _, slices)) =>
          slices.map { case (pos, slice) => (g.id, pos, slice, seq) }
        }.toDF("groupId", "pos", "slice", "chunkSeq")
        table.writeMulti(rows.join(broadcast(plan), Seq("groupId", "pos", "slice"))
          .select(col("groupId"), concat(col("groupId"), lit("-"), col("chunkSeq")).as("chunkId"),
            col("subject"), col("resourceId"), (shiftleft(col("pos"), 32) + col("idx")).as("seq")))
        chunks.foreach { case (g, (seq, n, _)) => recordMember(g, seq, n) }
      }
    } finally rows.unpersist()
  }

  def processAllAvailable(): Unit = {
    ingestQuery.foreach(_.processAllAvailable())
    sharedQuery.foreach(_.processAllAvailable())
  }

  def stop(): Unit = synchronized {
    sharedQuery.foreach(_.stop()); sharedQuery = None
    ingestQuery.foreach(_.stop()); ingestQuery = None
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
    * files invisible, removed files still listed), and the shared
    * query's source log names the files a joining group's history
    * reads. The archive is a plain partitioned parquet dataset for
    * batch readers ([[archiveScan]]).
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

  /** Pruned batch scan of a compacted archive: the same partition prune
    * + subject predicate as a group's history read, so a subtree scan
    * touches exactly one partition directory of the archive. */
  def archiveScan(archiveDir: String, filterSubject: String): DataFrame =
    prunedSubjectScan(spark.read.schema(logSchema).parquet(archiveDir), Seq(filterSubject))
}

object DurableEventLog {
  /** Log files per batch of the shared query. The ingest query writes
    * one file per project it touched per ingest trigger (one source
    * partition), so one shared batch holds at most this many ingest
    * micro-batches' rows of one project each, and the shared query
    * keeps up while fewer projects than this are touched per trigger. */
  val MuxFilesPerTrigger = 128

  /** Chunk seqs per log position: the live chunk of a batch ending at
    * position e is `e * SeqStride`; history slices of position q take
    * `q * SeqStride + 1 …`, below the next position's live seq. */
  val SeqStride: Long = 1000000L

  /** Most rows in one history chunk. */
  val HistoryChunkRows = 10000

  /** The last two segments of a log file's path. */
  private val FileKey = "[^/]+/[^/]+$"

  /** First log position a group with coverage point `c` has not been
    * served in full: a live seq covers its position, a history slice
    * may leave the rest of its position to serve. */
  private def firstPosition(c: Long): Long =
    if (c == Long.MinValue) 0L
    else if (Math.floorMod(c, SeqStride) == 0L) Math.floorDiv(c, SeqStride) + 1
    else Math.floorDiv(c, SeqStride)

  /** One group's history chunks from its per-position row counts
    * `(pos, rows)` (ascending) and coverage point `c`: each
    * `(seq, rows, (pos, slice) members)`, in seq order (see
    * [[DurableEventLog.serveHistory]]). */
  private[streaming] def historyChunks(counts: Seq[(Long, Long)],
                                       c: Long): Seq[(Long, Long, Seq[(Long, Long)])] = {
    // (pos, slice, rows, whole position) of every slice not yet served
    val slices = counts.flatMap { case (pos, n) =>
      val k = math.min((n + HistoryChunkRows - 1) / HistoryChunkRows, SeqStride - 1)
      (0L until k).map(i => (pos, i, if (i < k - 1) HistoryChunkRows.toLong else n - i * HistoryChunkRows, k == 1))
    }.filter { case (pos, i, _, _) => pos * SeqStride + 1 + i > c }
    slices.foldLeft(Vector.empty[Vector[(Long, Long, Long, Boolean)]]) { (chunks, s) =>
      chunks.lastOption match {
        case Some(open) if s._4 && open.forall(_._4) && open.map(_._3).sum + s._3 <= HistoryChunkRows =>
          chunks.init :+ (open :+ s)
        case _ => chunks :+ Vector(s)
      }
    }.map(ch => (ch.last._1 * SeqStride + 1 + ch.last._2, ch.map(_._3).sum, ch.map(s => (s._1, s._2))))
  }
}
