package graft.streaming

import java.sql.Timestamp
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.core._

/** The one delivery core every engine is built on — what the
  * reference's broker layer is to its bidi loop: one consumer
  * infrastructure (natsio.rs:150-211 creates and pulls the JetStream
  * consumers) serving every stream group through one pull/ack loop
  * (public_event_server.rs:192-446). It owns everything between "a
  * micro-batch matched these rows" and "a client acked this chunk":
  *
  *  - ingest: the shared `MemoryStream` (the reference's single stream
  *    `STORAGE_UPDATES`, natsio.rs:24), the emission sequence, and
  *    validated [[emit]] / bulk [[emitAll]];
  *  - the group registry ([[addGroup]], [[removeGroup]], [[attach]])
  *    and its version-cached subscription snapshot;
  *  - the write side: chunk payloads in the distributed
  *    [[DeliveryTable]], chunk METADATA in the bounded [[ChunkLedger]],
  *    journaled to the optional [[LedgerStore]] WAL and restored from
  *    it on construction (ledger state plus dispatcher flights);
  *  - the read side: [[pull]] / [[ack]] through the [[ChunkDispatcher]]
  *    (ack-wait redelivery, competing consumers), hydration, history
  *    and backlog surfaces.
  *
  * An engine is then only its query wiring — one "micro-batch → chunks"
  * function over this state, as in the Structured Streaming paper's
  * idempotent-sink-plus-WAL design: [[EventEngine]] runs one filtered
  * query per group into [[deliverGroupBatch]], [[MultiplexedDelivery]]
  * one shared query into [[deliverSharedBatch]], and [[DurableEventLog]]
  * either form over its parquet log. Engine-specific lifecycle goes
  * through two hooks, [[onGroupActive]] and [[onGroupIdle]]; one
  * [[EventSession]] protocol and one wire server serve every engine.
  */
abstract class ConsumerHost(val spark: SparkSession,
                            security: EngineSecurity,
                            ackWaitMillis: Long,
                            clock: () => Long,
                            ledgerDir: Option[String],
                            deliveriesDir: String,
                            sourcePartitions: Int = 1,
                            bucketedMinGroups: Int = ConsumerHost.BucketedMinGroups,
                            payloadRetentionEvery: Int = ConsumerHost.PayloadRetentionEvery) {
  import spark.implicits._

  /** Consumer dispatch (ack-wait redelivery + competing consumers) —
    * the JetStream consumer semantics the reference gets from its
    * broker (handler.rs:21-25); see [[ChunkDispatcher]]. */
  val dispatcher = new ChunkDispatcher(ackWaitMillis, clock)

  /** Delivery ledger: METADATA ONLY, bounded. The reference's
    * `ack_chunks: Mutex<HashMap>` holds full message vectors
    * (public_event_server.rs:318-319); here payloads live in the
    * distributed [[DeliveryTable]], and the driver keeps ids+counts for
    * PENDING chunks only — acked history is evicted behind a per-group
    * watermark, so driver residency is O(unacked). */
  private val ledger = new ChunkLedger
  /** Metrics hook for [[EngineMetrics.watchLedger]] stuck-watermark
    * monitoring. */
  def chunkLedger: ChunkLedger = ledger

  /** Optional WAL: with a `ledgerDir`, chunk metadata, acks and offer
    * flights survive a process restart — a reconnecting client is
    * re-served exactly its unacked chunks with monotone delivery
    * counts. The restored flights' owning sessions died with the old
    * process, so every restored chunk is immediately offerable. */
  private val store: Option[LedgerStore] = ledgerDir.map(new LedgerStore(_))
  store.foreach { st =>
    ledger.beginLoad()
    val (metas, wms) = st.loadState()
    wms.foreach { case (g, w) => ledger.restoreWatermark(g, w) }
    metas.values.foreach { m =>
      if (m.acked) ledger.restoreAcked(m) else { ledger.record(m); () }
    }
    ledger.settleLoad()
    st.loadFlights().foreach { case ((g, c), (s, at, d)) =>
      dispatcher.restore(g, c, s, at, d)
    }
  }

  /** Chunk-sequence epoch for engines whose query restarts its batch
    * ids at 0 (memory source, fresh checkpoints): ids are
    * `group-(epoch + batchId)`, so a fresh incarnation over a restored
    * WAL never mints an id that collides with a journaled chunk (that
    * would overwrite its payload behind the stale meta, or hide events
    * behind an acked id). Survives acked-history eviction because the
    * ledger's maxBatchId also tracks compacted watermarks. */
  protected val chunkSeqBase: Long = {
    val m = ledger.maxBatchId
    if (m == Long.MinValue) 0L else m + 1L
  }

  protected val table = new DeliveryTable(spark, deliveriesDir)

  // ---- ingest ---------------------------------------------------------

  /** The shared ingest stream (R1). `sourcePartitions` > 1 spreads each
    * micro-batch over that many tasks (the replay/backfill path);
    * interactive use keeps 1 for deterministic batch order. */
  protected val source: MemoryStream[Event] =
    MemoryStream[Event](spark, numPartitions = sourcePartitions)

  /** Emission sequence → [[graft.core.Event.eventId]]: the content-
    * derived identity that delivery order and the multi-matcher dedup
    * key hang off. */
  private val eventSeq = new AtomicLong(0L)

  /** Events emitted so far — the source of batch-size estimates. */
  protected def emittedEvents: Long = eventSeq.get

  /** R1 `emit_event`: token gate, validate, then append to the stream.
    * The gate mirrors internal_event_server.rs:23-45 (missing header →
    * unauthenticated, mismatch → "bad token"). Unlike the reference
    * (which logs-and-drops publish failures) a bad event is rejected:
    * an id carrying a subject metacharacter would mint a subject that
    * foreign filters match, and ALL/UNSPECIFIED publish nothing. */
  def emit(resource: ResourceType, eventType: String, resourceId: String,
           relation: RelationCtx, token: Option[String] = None): Unit = {
    security.requireInternal(token)
    Subjects.requireValidId(resourceId, "resourceId")
    Seq(relation.project, relation.collection, relation.sharedObject)
      .filter(_.nonEmpty).foreach(Subjects.requireValidId(_, "relation id"))
    relation.objectGroups.foreach(Subjects.requireValidId(_, "object group id"))
    require(resource != ResourceType.Unspecified && resource != ResourceType.All,
      s"cannot publish events for resource type ${resource.name}")
    // MemoryStream.addData row-encodes through a serializer that reuses
    // one UnsafeRow buffer; only the batch append is internally locked.
    // Concurrent emitters (one thread per wire connection) must therefore
    // serialize the encode too, or rows arrive torn ("Invalid byte array
    // backed UnsafeRow" — found by the wire replay bench at 8 producers).
    source.synchronized {
      val n = eventSeq.incrementAndGet()
      source.addData(Event(resource, eventType, resourceId, relation,
        new Timestamp(n * 1000L)).copy(eventId = n))
    }
  }

  /** Bulk ingest — one offset per batch instead of per event (the
    * replay/backfill path; per-event addData serializes on the stream
    * lock and caps throughput on the driver). Unvalidated: the caller
    * owns the events' shape. Caller-supplied eventIds are overwritten:
    * uniqueness within the engine is this method's contract. */
  def emitAll(events: Iterable[Event]): Unit =
    source.synchronized {
      source.addData(events.map(_.copy(eventId = eventSeq.incrementAndGet())))
    }

  // ---- group registry -------------------------------------------------

  /** Registered stream groups (the reference's metadata-service state,
    * storage_endpoint_mock.rs:16-38). */
  private val groups: concurrent.Map[String, StreamGroup] =
    new ConcurrentHashMap[String, StreamGroup]().asScala
  /** Bumped AFTER every mutation of [[groups]] (bumping first could let
    * a concurrent snapshot cache pre-mutation state under the post-
    * mutation version — missed forever; this way a stale cache is
    * invalidated by the very next read). */
  private val groupsVersion = new AtomicLong(0L)
  /** (version, size, anyMulti, subs frame, subtree depths) — rebuilt
    * only when the registration map changed: at G=10k the O(G) driver
    * work (map copy + flatMap + local-relation conversion) otherwise
    * runs every trigger for an almost always identical snapshot. The
    * depths are the driver-side half of [[Subjects.matchKeysCol]]. */
  @volatile private var subsSnapshot: (Long, Int, Boolean, DataFrame, Seq[Int]) = null

  private def currentSubs(): (Int, Boolean, DataFrame, Seq[Int]) = {
    val v = groupsVersion.get
    val c = subsSnapshot
    if (c != null && c._1 == v) (c._2, c._3, c._4, c._5)
    else {
      val snapshot = groups.values.toSeq
      val anyMulti = snapshot.exists(_.extraFilterSubjects.nonEmpty)
      // ONE ROW PER (group, filter subject); only the join-relevant
      // columns, the group's event type aliased off the event's
      val df =
        if (snapshot.isEmpty) null
        else snapshot
          .flatMap(g => g.filterSubjects.map(fs => (g.id, fs, g.eventType)))
          .toDF("id", "joinKey", "subEventType")
      val depths = snapshot.flatMap(_.filterSubjects)
        .flatMap(Subjects.subtreeDepth).distinct.sorted
      subsSnapshot = (v, snapshot.size, anyMulti, df, depths)
      (snapshot.size, anyMulti, df, depths)
    }
  }

  /** R7/R8: register a stream group. `hierarchy` plays the storage
    * service's resolved-ancestors response (public_event_server.rs:
    * 102-121); `eventType` gates delivery (ALL = everything, else exact
    * match; storage_endpoint_mock.rs:32-38); `token` feeds the R8
    * authorize gate (public_event_server.rs:74-100). */
  def addGroup(groupId: String, resourceType: ResourceType, resourceId: String,
               hierarchy: Hierarchy, includeSubresources: Boolean,
               eventType: String = EventType.All,
               token: Option[String] = None): StreamGroup =
    addGroupMulti(groupId, resourceType, resourceId, Seq(hierarchy),
      includeSubresources, eventType, token)

  /** Multi-hierarchy registration: the reference subscribes
    * `hierarchies[0]` only and errors on empty (public_event_server.rs:
    * 145-152); here ONE group compiles ALL of the resource's ancestor
    * chains into a union of filter subjects — a message matching any of
    * them is delivered ONCE. */
  def addGroupMulti(groupId: String, resourceType: ResourceType, resourceId: String,
                    hierarchies: Seq[Hierarchy], includeSubresources: Boolean,
                    eventType: String = EventType.All,
                    token: Option[String] = None): StreamGroup = {
    require(hierarchies.nonEmpty,
      s"stream group $groupId needs at least one hierarchy (public_event_server.rs:145-152)")
    security.requireRead(token, resourceType, resourceId)
    val filters = hierarchies
      .map(Subjects.queryFor(resourceType, resourceId, _, includeSubresources))
      .distinct
    val g = StreamGroup(groupId, resourceType.name, resourceId, eventType,
      includeSubresources, filters.head, filters.tail)
    require(groups.putIfAbsent(groupId, g).isEmpty,
      s"stream group $groupId already exists")
    groupsVersion.incrementAndGet()
    onGroupActive(g)
    g
  }

  /** R14 delete (a `todo!()` in the reference): unregister, stop the
    * group's own delivery, and drop its ledger, flights and payloads —
    * a same-id re-create starts empty. Registration never touches the
    * payload table (a crash-restart re-registers groups over their
    * durable dirs and WAL). Known benign race: a shared-query batch in
    * flight at delete time can re-create a dropped dir; the orphan is
    * invisible to the ledger and dispatcher and is never re-served. */
  def removeGroup(groupId: String): Unit = {
    groups.remove(groupId)
    groupsVersion.incrementAndGet()
    onGroupIdle(groupId)
    ledger.dropGroup(groupId)
    dispatcher.dropGroup(groupId)
    table.drop(groupId)
  }

  def listGroups: Seq[StreamGroup] = groups.values.toSeq.sortBy(_.id)

  /** R9 attach: the group must exist and the caller must hold a Read
    * grant on its resource — the per-attach authz re-check
    * (public_event_server.rs:249-301). Throws on unknown group / denied
    * caller, the pre-session failure path. */
  def attach(groupId: String, token: Option[String] = None): StreamGroup = {
    val g = groups.getOrElse(groupId,
      throw new NoSuchElementException(s"unknown stream group $groupId"))
    security.requireRead(token, ResourceType.fromName(g.resourceType), g.resourceId)
    onGroupActive(g)
    g
  }

  /** The LAST live session on a group has closed (decided inside the
    * dispatcher's lock, so exactly one closer gets here). */
  def onLastSessionClosed(groupId: String): Unit = onGroupIdle(groupId)

  /** Engine hook: `g` was added or a consumer attached to it — an
    * engine with per-group delivery makes sure it runs. */
  protected def onGroupActive(g: StreamGroup): Unit = ()

  /** Engine hook: the group was removed or its last consumer left — an
    * engine with per-group delivery stops it (a removed group's state
    * is dropped by the core afterwards). */
  protected def onGroupIdle(groupId: String): Unit = ()

  /** Drain all in-flight data through the engine's running queries
    * (test/replay helper; production runs on the trigger). */
  def processAllAvailable(): Unit

  /** Stop the engine's queries. */
  def stop(): Unit

  /** Open a competing-consumer session on a group; returns its id. */
  def openSession(groupId: String): Long = {
    val id = dispatcher.newSessionId()
    dispatcher.openSession(groupId, id)
    id
  }

  /** Session death/disconnect: its unacked flights become immediately
    * offerable to surviving sessions (failover). */
  def closeSession(groupId: String, sessionId: Long): Unit = {
    dispatcher.closeSession(groupId, sessionId); ()
  }

  // ---- write side: micro-batch → chunks -------------------------------

  /** Ledger record + WAL append of one written chunk. `record` is the
    * replay guard: false when the chunk is already pending or acked
    * (possibly only as a compacted watermark) — never resurrect it, and
    * journal only what was inserted (WAL after payload). */
  protected def recordChunk(groupId: String, chunkId: String, seq: Long, rows: Long): Boolean = {
    val meta = ChunkMeta(groupId, chunkId, seq, rows,
      new Timestamp(System.currentTimeMillis()), acked = false)
    val fresh = ledger.record(meta)
    if (fresh) store.foreach(_.appendChunk(meta))
    fresh
  }

  /** One group's micro-batch (per-group queries) as chunk
    * `group-<seq>`. Write-first over ONE pass: writeCounted counts for
    * the ledger while writing, with the file split sized to the batch;
    * an empty batch writes nothing and records no meta; no event row
    * reaches the driver. A replayed batch whose chunk is already known
    * (possibly acked) is skipped before the write. */
  protected def deliverGroupBatch(groupId: String, seq: Long, batch: DataFrame): Unit = {
    val chunkId = s"$groupId-$seq"
    if (!ledger.isKnown(groupId, chunkId, seq)) {
      val n = table.writeCounted(groupId, chunkId,
        batch.select(col("subject"), col("resourceId"), FanOut.seqCol.as("seq")))
      if (n > 0L) { recordChunk(groupId, chunkId, seq, n); () }
    }
  }

  /** foreachBatch wall split (ns) of [[deliverSharedBatch]]: "batch" =
    * whole body; minus the table's write/count phases and "ledger"
    * leaves the join/plan residue. */
  private val batchNs = new AtomicLong
  private val ledgerNs = new AtomicLong
  private val sharedBatches = new AtomicLong
  /** Batch dirs reclaimed by the automated retention cadence. */
  val reapedBatchDirs = new AtomicLong

  /** Per-phase cumulative seconds of the shared-query batches so far:
    * batch total, payload write, count, ledger record, plus pull
    * hydration ("read"). */
  def phaseProfile: Map[String, Double] =
    table.phaseSeconds ++ Map(
      "batch" -> batchNs.get / 1e9,
      "ledger" -> ledgerNs.get / 1e9,
      "batches" -> sharedBatches.get.toDouble)

  /** One shared-query micro-batch for EVERY registered group, as chunks
    * `group-<seq>`. `batch` carries the fanned-out event columns;
    * `estBatchEvents` sizes the per-group write ([[writeWidth]]);
    * `dedupCols` extend the message identity (eventId, spos) for
    * sources whose eventIds can repeat within a batch.
    *
    * Match = PURE EQUI-JOIN on candidate match keys
    * ([[Subjects.matchKeysCol]]): each event row explodes into
    * |subtreeDepths|+1 keys and the broadcast hash join's output is
    * exactly the true matches — per-row cost independent of G (the
    * project-token equi + matchesCol residual it replaced left every
    * same-project subscription a candidate, BASELINE.md round-14).
    * With a multi-subject group registered, a message matching two of
    * its matchers joins twice: dedup on the CONTENT-derived identity
    * delivers it ONCE (the JetStream multi-filter-subject consumer
    * rule); never monotonically_increasing_id, which a retried task can
    * renumber (SPARK-23207 class). Two identical emitted events keep
    * distinct eventIds and deliver twice. The dedup shuffle is skipped
    * in the common all-single case.
    *
    * Write-first: ONE distributed pass (join → partitioned payload
    * write, counts observed on the write) serves every group; a
    * replayed batch rewrites its own partitions, and [[recordChunk]]
    * keeps an existing (possibly acked) meta intact. Layout regime:
    * from `bucketedMinGroups` registered groups the BUCKETED layout
    * writes O(shuffle-partitions) files per batch however many groups
    * matched (the per-group layout's one file + commit per matching
    * group was 4.8 s/batch at G=2000, BASELINE.md round-12). No
    * batch.isEmpty pre-check: it is a full extra pass on the common
    * path, and the observed counts gate the ledger anyway. */
  protected def deliverSharedBatch(batch: DataFrame, seq: Long, estBatchEvents: Long,
                                   dedupCols: Seq[String] = Nil): Unit = {
    val bodyT0 = System.nanoTime()
    val (nGroups, anyMulti, subs, subtreeDepths) = currentSubs()
    if (nGroups > 0) {
      val identity = ("eventId" +: "spos" +: dedupCols).distinct
      val joined = batch
        .select(("subject" +: "resourceId" +: "eventType" +: identity).distinct.map(col): _*)
        .withColumn("joinKey",
          explode(Subjects.matchKeysCol(col("subject"), subtreeDepths)))
        .join(broadcast(subs), "joinKey")
        .filter(Subjects.eventTypeMatches(col("eventType"), col("subEventType")))
      val matched = (if (anyMulti) joined.dropDuplicates("id" +: identity) else joined)
        .select(col("id").as("groupId"), col("subject"),
          col("resourceId"), FanOut.seqCol.as("seq"))
        .withColumn("chunkId", concat(col("groupId"), lit(s"-$seq")))
      val parts = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
      val counts =
        if (nGroups >= bucketedMinGroups) table.writeBucketed(matched, seq, parts)
        else {
          val (splits, width) = ConsumerHost.writeWidth(estBatchEvents, nGroups, parts)
          table.writeMultiWithCounts(matched, splits, width)
        }
      val ledgerT0 = System.nanoTime()
      counts.foreach { case (gid, n) => recordChunk(gid, s"$gid-$seq", seq, n) }
      ledgerNs.addAndGet(System.nanoTime() - ledgerT0)
      // Automated bucketed retention: a long-running many-groups
      // deployment otherwise accumulates batch dirs without bound.
      // Runs after this batch's metas are recorded (so its own dir is
      // never a candidate), every `payloadRetentionEvery` batches.
      if (payloadRetentionEvery > 0 && nGroups >= bucketedMinGroups
          && sharedBatches.get % payloadRetentionEvery == (payloadRetentionEvery - 1L)) {
        reapedBatchDirs.addAndGet(compactPayloads().toLong)
        ()
      }
    }
    batchNs.addAndGet(System.nanoTime() - bodyT0)
    sharedBatches.incrementAndGet()
    ()
  }

  /** WAL hygiene: rewrite the chunk/ack journal to minimal equivalent
    * state (no-op without a ledgerDir; see LedgerStore.compact). */
  def compactLedger(): Unit = store.foreach(_.compact())

  /** Bucketed-payload retention (the storage-reclaim half of the
    * bucketed layout's shared-file trade — see [[DeliveryTable.drop]]):
    * deletes batch dirs below every group's lowest PENDING chunk,
    * bounded by the ledger's highest minted seq so a batch whose
    * payload is written but whose meta is not yet recorded is never
    * reclaimed. Reclaimed batches leave [[DeliveryTable.listChunks]]
    * history. Returns batch dirs removed. */
  def compactPayloads(): Int = {
    // Floor over the LEDGER, not the registration map: a WAL restart
    // restores pending metas before their groups re-register. ORDER
    // MATTERS: maxBatchId is read BEFORE the O(groups) pending-floor
    // scan — the other way round, a batch recording its meta between
    // the two reads is invisible to an empty floor yet below the later
    // max+1 bound, and gets reclaimed under its own meta (TOCTOU).
    val maxMinted = ledger.maxBatchId
    val floor = ledger.minPendingBatchId
    val bound =
      if (maxMinted == Long.MinValue) Long.MinValue else maxMinted + 1
    table.dropBatchesBefore(math.min(floor, bound))
  }

  // ---- read side: pull / ack ------------------------------------------

  /** Hydrate metas into client-facing chunks: ONE driver-side read of
    * the deliveries table covering all requested chunks, each resolved
    * in whichever layout wrote it — it lists and reads only those
    * chunks' own dirs and files, and starts no Spark job
    * ([[DeliveryTable.readChunks]]). */
  private def hydrate(groupId: String, metas: Seq[ChunkMeta]): Seq[DeliveryChunk] = {
    if (metas.isEmpty) return Seq.empty
    val payload = table.readChunks(groupId, metas.map(m => (m.chunkId, m.batchId)))
    metas.map { m =>
      val (subjects, ids) = payload.getOrElse(m.chunkId, (Seq.empty, Seq.empty))
      DeliveryChunk(m.groupId, m.chunkId, m.batchId, subjects, ids, m.deliveredAt, m.acked)
    }
  }

  /** Chunks delivered to a group and not yet acked — what a reconnecting
    * client receives again (at-least-once). Monitoring/reconnect
    * surface: bypasses flight bookkeeping; live sessions use [[pull]]. */
  def pendingChunks(groupId: String): Seq[DeliveryChunk] =
    hydrate(groupId, ledger.pending(groupId))

  /** Consumer pull with JetStream semantics: of the group's unacked
    * chunks, return those offerable to THIS session — not in flight
    * elsewhere, or whose owner died, or whose ack-wait expired (the
    * silent-client redelivery, with the SAME chunkId). Claiming is
    * atomic per chunk, so competing sessions receive disjoint chunks;
    * each claim is journaled so the redelivery timer survives restart.
    * `max` mirrors the reference's bounded pull batch (natsio.rs:
    * 198-204). */
  def pull(groupId: String, sessionId: Long,
           max: Int = Int.MaxValue): Seq[DeliveryChunk] = {
    val metas = ledger.pending(groupId)
    val claimed =
      dispatcher.offer(groupId, sessionId, metas.map(_.chunkId), max).toSet
    for (st <- store; c <- claimed; f <- dispatcher.flight(groupId, c))
      st.appendOffer(groupId, c, f.sessionId, f.offeredAt, f.deliveries)
    hydrate(groupId, metas.filter(m => claimed.contains(m.chunkId)))
  }

  /** R12/R13 ack: mark a chunk consumed. Unknown ids and duplicate acks
    * return false (the reference panics — public_event_server.rs:368). */
  def ack(groupId: String, chunkId: String): Boolean =
    ledger.ack(groupId, chunkId) match {
      case Some(_) =>
        store.foreach(_.appendAck(groupId, chunkId))
        dispatcher.settle(groupId, chunkId)
        true
      case None => false
    }

  /** Pending row count from driver metadata alone (no payload read). */
  def pendingRowCount(groupId: String): Long = ledger.pendingRows(groupId)

  /** Driver-ledger footprint: (groups, pending metas, resident acked
    * metas). */
  def ledgerStats: (Int, Long, Long) = ledger.stats

  /** All chunks ever delivered to a group (acked + pending); acked
    * chunks evicted behind the watermark are re-listed from the durable
    * payload table (see [[ConsumerHost.historyMetas]]). */
  def deliveredChunks(groupId: String): Seq[DeliveryChunk] =
    hydrate(groupId, ConsumerHost.historyMetas(
      groupId, ledger.pending(groupId), ledger.ackedResident(groupId),
      table.listChunks(groupId)))
}

object ConsumerHost {
  /** Layout-regime threshold: at this many registered groups and above,
    * shared-query payloads are written in the BUCKETED layout (see
    * [[DeliveryTable.writeBucketed]]). Measured (round-13
    * GroupScaleProbe, both layouts forced at each G, sf0.1 batch
    * medians): G=16 1.05 vs 1.00 s, G=64 0.92 vs 0.92 s — a tie below
    * the write-parallelism width — then bucketed wins 1.53 vs 0.81 s at
    * G=256 and 3.4–3.9× at G=1k–10k (BASELINE.md round-13). The
    * threshold sits at the top of the tie band: below it the per-group
    * layout keeps its exact-own-dirs pulls and physical group deletes. */
  val BucketedMinGroups: Int = 64

  /** Automated bucketed-retention cadence: every this-many shared-query
    * micro-batches the batch body runs compactPayloads (0 disables).
    * 64 batches = ~16 s at the 250 ms trigger: the batch-dir count
    * stays within one retention window of the acked floor
    * (soak-measured, BASELINE.md round-14), and the listStatus + floor
    * scan is amortized noise. */
  val PayloadRetentionEvery: Int = 64

  /** Per-group-layout write sizing: (splits per chunk, exchange width)
    * for a batch of about `estBatchEvents` events over `nGroups`
    * registered groups and `parts` shuffle partitions. Splits grow with
    * the batch (~32k rows per file) up to `parts / nGroups`, so big
    * replays keep their write parallelism while steady small batches —
    * and an empty or unknown-small estimate (≤ 0) — write one file per
    * group: near-empty files cost ~0.2 s/batch in open+commit
    * (tools.MuxWriteProbe). `Long.MaxValue` sizes for the widest
    * batch. The exchange follows the key space (2× hash-collision
    * slack, capped at `parts`): nGroups×splits write keys cannot fill
    * more partitions. Only file COUNTS depend on it, never rows, so a
    * replay that re-estimates differently rewrites the same chunks. */
  def writeWidth(estBatchEvents: Long, nGroups: Int, parts: Int): (Int, Int) = {
    val g = math.max(1, nGroups)
    val splitCap = math.max(1, parts / g)
    val splits =
      if (estBatchEvents <= 0) 1
      else math.min(splitCap.toLong, 1L + estBatchEvents / g / 32768L).toInt
    (splits, math.min(parts, math.max(1, 2 * g * splits)))
  }

  /** Assemble the "all chunks ever" meta list for a group from the
    * bounded ledger + the durable payload table's chunk listing.
    * Resident metas win; chunk ids only present on disk (acked history
    * evicted behind the watermark) are synthesized with batchId parsed
    * from the trailing `-<seq>` (backfill ids surface their positive
    * slice index). */
  private[streaming] def historyMetas(groupId: String,
      pending: Seq[ChunkMeta], ackedResident: Seq[ChunkMeta],
      diskChunkIds: Seq[String]): Seq[ChunkMeta] = {
    val resident = pending ++ ackedResident
    val residentIds = resident.map(_.chunkId).toSet
    val evicted = diskChunkIds.filterNot(residentIds).map { cid =>
      val i = cid.lastIndexOf('-')
      val seq =
        try if (i < 0) 0L else cid.substring(i + 1).toLong
        catch { case _: NumberFormatException => 0L }
      ChunkMeta(groupId, cid, seq, 0L, new Timestamp(0L), acked = true)
    }
    (resident ++ evicted).sortBy(m => (m.batchId, m.chunkId))
  }
}
