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
  * idempotent-sink-plus-WAL design, and each `MemoryStream` has exactly
  * one reader: [[MultiplexedDelivery]] runs one shared query into
  * [[deliverSharedBatch]]; [[DurableEventLog]] runs its ingest query
  * over the source and one shared query over its replayable parquet
  * log, which also serves a joining group's history. Attach and session
  * close start and stop nothing: a group with no live session keeps
  * receiving chunks from the shared query. One [[EventSession]] protocol
  * and one wire server serve every engine.
  */
abstract class ConsumerHost(val spark: SparkSession,
                            security: EngineSecurity,
                            ackWaitMillis: Long,
                            clock: () => Long,
                            ledgerDir: Option[String],
                            deliveriesDir: String,
                            sourcePartitions: Int = 1,
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
  /** Per removed group: the highest batch seq whose shared-layout
    * payload may still hold the removed incarnation's rows. A same-id
    * re-create lists bucketed history only above it
    * ([[deliveredChunks]]). */
  private val historyFloors: concurrent.Map[String, Long] =
    new ConcurrentHashMap[String, Long]().asScala
  store.foreach { st =>
    val wal = st.replay()
    ledger.beginLoad()
    wal.wms.foreach { case (g, w) => ledger.restoreWatermark(g, w) }
    wal.metas.values.foreach { m =>
      if (m.acked) ledger.restoreAcked(m) else { ledger.record(m); () }
    }
    // a removed group's lines are forgotten, but its floor still
    // carries the epoch: the re-created id never re-mints an old chunk id
    wal.floors.foreach { case (g, f) =>
      ledger.restoreEpoch(f)
      historyFloors.put(g, f)
    }
    ledger.settleLoad()
    wal.flightsByChunk.foreach { case ((g, c), (s, at, d)) =>
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
  /** Where chunk payloads are written ([[DeliveryTable]]'s dir). */
  def payloadDir: String = table.dir

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
  /** (version, snapshot) — rebuilt only when the registration map
    * changed: at G=10k the O(G) driver work (map copy + flatMap +
    * local-relation conversion) otherwise runs every trigger for an
    * almost always identical snapshot. */
  @volatile private var subsSnapshot: (Long, ConsumerHost.Subs) = null

  private def currentSubs(): ConsumerHost.Subs = {
    val v = groupsVersion.get
    val c = subsSnapshot
    if (c != null && c._1 == v) c._2
    else {
      val snapshot = groups.values.toSeq
      // ONE ROW PER (group, filter subject); only the join-relevant
      // columns, the group's event type aliased off the event's
      val df =
        if (snapshot.isEmpty) null
        else snapshot
          .flatMap(g => g.filterSubjects.map(fs => (g.id, fs, g.eventType)))
          .toDF("id", "joinKey", "subEventType")
      val subs = ConsumerHost.Subs(snapshot.map(g => g.id -> g).toMap,
        snapshot.exists(_.extraFilterSubjects.nonEmpty), df,
        snapshot.flatMap(_.filterSubjects).flatMap(Subjects.subtreeDepth).distinct.sorted)
      subsSnapshot = (v, subs)
      subs
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
    g
  }

  /** R14 delete (a `todo!()` in the reference): unregister and drop the
    * group's ledger, flights and payloads — a same-id re-create starts
    * empty. The drop is journaled (a WAL `drop` record), so a restart
    * neither re-serves the removed group's pending chunks nor lets them
    * pin payload retention.
    *
    * Payloads: a per-group-layout dir is deleted here; shared-query
    * payloads sit in bucket files shared with other groups, so their
    * delete is metadata — the group's history floor (the highest batch
    * that may hold its rows, journaled with the drop) hides them from a
    * same-id re-create, and [[compactPayloads]] retention reclaims the
    * storage. A shared batch in flight at delete time records no chunk
    * for the removed group (see [[deliverSharedBatch]]). On a
    * [[DurableEventLog]] the floor is also the re-created group's
    * coverage point: its history starts after it, so it receives the
    * events logged since the removal under chunk ids the removed group
    * never used. Registration never touches the payload table (a
    * crash-restart re-registers groups over their durable dirs and
    * WAL). */
  def removeGroup(groupId: String): Unit = {
    groups.remove(groupId)
    groupsVersion.incrementAndGet()
    recordLock.synchronized {
      val floor = math.max(ledger.maxBatchId, sharedBatchSeq)
      ledger.dropGroup(groupId)
      dispatcher.dropGroup(groupId)
      store.foreach(_.appendDrop(groupId, floor))
      historyFloors.put(groupId, floor)
    }
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
    g
  }

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
    * offerable to surviving sessions (failover), so the arrival signal
    * wakes their pumps. */
  def closeSession(groupId: String, sessionId: Long): Unit = {
    dispatcher.closeSession(groupId, sessionId)
    signalArrival()
  }

  // ---- arrival signal -------------------------------------------------

  /** Engine-wide arrival version, bumped under [[arrivals]] whenever
    * something may have become offerable: a chunk recorded (after its
    * WAL append) or a session closed (its flights fail over). */
  private val arrivals = new Object
  @volatile private var arrivalVersion = 0L

  /** The current arrival version: read it BEFORE a pull and pass it to
    * [[awaitArrival]] after, and no arrival in between is missed. */
  def arrivalSeen: Long = arrivalVersion

  private def signalArrival(): Unit = arrivals.synchronized {
    arrivalVersion += 1L
    arrivals.notifyAll()
  }

  /** The bounded wait of the reference's pull (natsio.rs:198-207, at
    * most `expires` = 250 ms, returning as soon as messages arrive):
    * blocks until the arrival version moves past `seen`, `maxMillis`
    * passes, or the thread is interrupted (the interrupt flag is kept),
    * then returns the current version. */
  def awaitArrival(seen: Long, maxMillis: Long): Long = arrivals.synchronized {
    val deadline = System.nanoTime() + maxMillis * 1000000L
    try {
      var left = deadline - System.nanoTime()
      while (arrivalVersion == seen && left > 0L) {
        arrivals.wait(left / 1000000L, (left % 1000000L).toInt)
        left = deadline - System.nanoTime()
      }
    } catch { case _: InterruptedException => Thread.currentThread().interrupt() }
    arrivalVersion
  }

  // ---- write side: micro-batch → chunks -------------------------------

  /** Ledger record + WAL append of one written chunk, then the arrival
    * signal (after the append, so the pull it wakes finds the chunk
    * journaled). `record` is the replay guard: false when the chunk is
    * already pending or acked (possibly only as a compacted watermark)
    * — never resurrect it, and journal only what was inserted (WAL
    * after payload). */
  private def recordChunk(groupId: String, chunkId: String, seq: Long, rows: Long): Boolean = {
    val meta = ChunkMeta(groupId, chunkId, seq, rows,
      new Timestamp(System.currentTimeMillis()), acked = false)
    val fresh = ledger.record(meta)
    if (fresh) {
      store.foreach(_.appendChunk(meta))
      signalArrival()
    }
    fresh
  }

  /** Records chunk `group-<seq>` while `g` is still the registration a
    * shared batch's snapshot held (see [[deliverSharedBatch]]). */
  protected def recordMember(g: StreamGroup, seq: Long, rows: Long): Unit =
    recordLock.synchronized {
      if (groups.get(g.id).exists(_ eq g)) { recordChunk(g.id, s"${g.id}-$seq", seq, rows); () }
    }

  /** The highest seq a group's state covers: its highest pending, acked
    * or watermarked chunk, or its drop floor; Long.MinValue for a group
    * this ledger never held. */
  protected def coverage(groupId: String): Long =
    math.max(ledger.highestSeq(groupId), historyFloors.getOrElse(groupId, Long.MinValue))

  /** foreachBatch wall split (ns) of [[deliverSharedBatch]]: "batch" =
    * whole body; minus the table's write/count phases and "ledger"
    * leaves the join/plan residue. */
  private val batchNs = new AtomicLong
  private val ledgerNs = new AtomicLong
  private val sharedBatches = new AtomicLong
  /** Batch dirs reclaimed by the automated retention cadence. */
  val reapedBatchDirs = new AtomicLong

  /** Seq of the last shared batch that took a registration snapshot —
    * a group removed after that snapshot may have rows in that batch,
    * so its history floor covers it (volatile: written before the
    * snapshot is read, read after the group left the map). An engine
    * whose seqs continue a checkpoint sets it to the seq that checkpoint
    * has read through. */
  @volatile protected var sharedBatchSeq: Long = Long.MinValue
  /** Serializes a shared batch's ledger records against
    * [[removeGroup]]'s drop. */
  private val recordLock = new Object

  /** Per-phase cumulative seconds of the shared-query batches so far:
    * batch total, payload write (the collecting job plus the driver's
    * file writes), count, ledger record, plus pull hydration ("read"). */
  def phaseProfile: Map[String, Double] =
    table.phaseSeconds ++ Map(
      "batch" -> batchNs.get / 1e9,
      "ledger" -> ledgerNs.get / 1e9,
      "batches" -> sharedBatches.get.toDouble)

  /** One shared-query micro-batch for EVERY registered group, as chunks
    * `group-<seq>`. `batch` carries the fanned-out event columns;
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
    * Write-first: ONE Spark job (the join, collected) feeds a
    * driver-side payload write in the BUCKETED layout that counts per
    * group from the same rows and serves every group — one file per
    * non-empty bucket however many groups matched
    * ([[DeliveryTable.writeBucketed]]; the reference's one shared
    * stream, natsio.rs:24). A replayed batch rewrites its own batch
    * dir, and [[recordChunk]] keeps an existing (possibly acked) meta
    * intact. A group removed or re-created since this batch's snapshot
    * gets no chunk: its rows were matched for the old registration. No
    * batch.isEmpty pre-check: it is a full extra pass on the common
    * path, and the write's counts gate the ledger anyway.
    *
    * `history` runs first with the snapshot's members, so an engine
    * can record a joining group's older chunks ([[recordMember]])
    * before this batch records its live one. */
  protected def deliverSharedBatch(batch: DataFrame, seq: Long,
                                   dedupCols: Seq[String] = Nil,
                                   history: Map[String, StreamGroup] => Unit = _ => ()): Unit = {
    val bodyT0 = System.nanoTime()
    sharedBatchSeq = seq
    val subs = currentSubs()
    if (subs.members.nonEmpty) {
      history(subs.members)
      val identity = ("eventId" +: "spos" +: dedupCols).distinct
      val joined = batch
        .select(("subject" +: "resourceId" +: "eventType" +: identity).distinct.map(col): _*)
        .withColumn("joinKey",
          explode(Subjects.matchKeysCol(col("subject"), subs.depths)))
        .join(broadcast(subs.frame), "joinKey")
        .filter(Subjects.eventTypeMatches(col("eventType"), col("subEventType")))
      val matched = (if (subs.anyMulti) joined.dropDuplicates("id" +: identity) else joined)
        .select(col("id").as("groupId"), col("subject"),
          col("resourceId"), FanOut.seqCol.as("seq"))
        .withColumn("chunkId", concat(col("groupId"), lit(s"-$seq")))
      val counts = table.writeBucketed(matched, seq,
        spark.conf.get("spark.sql.shuffle.partitions", "32").toInt)
      val ledgerT0 = System.nanoTime()
      recordLock.synchronized {
        counts.foreach { case (gid, n) =>
          if (groups.get(gid).exists(_ eq subs.members(gid)))
            recordChunk(gid, s"$gid-$seq", seq, n)
        }
      }
      ledgerNs.addAndGet(System.nanoTime() - ledgerT0)
      // Automated retention: a long-running deployment otherwise
      // accumulates batch dirs without bound. Runs after this batch's
      // metas are recorded (so its own dir is never a candidate), every
      // `payloadRetentionEvery` batches.
      if (payloadRetentionEvery > 0
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

  /** Shared-payload retention (the storage-reclaim half of the
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
    * payload table (see [[ConsumerHost.historyMetas]]) — for a re-created
    * id, only from shared batches above its history floor. */
  def deliveredChunks(groupId: String): Seq[DeliveryChunk] =
    hydrate(groupId, ConsumerHost.historyMetas(
      groupId, ledger.pending(groupId), ledger.ackedResident(groupId),
      table.listChunks(groupId, historyFloors.getOrElse(groupId, Long.MinValue))))
}

object ConsumerHost {
  /** One registration snapshot for the shared query: the registered
    * groups by id, whether any is multi-subject, the subscription frame
    * and the subtree depths (the driver-side half of
    * [[Subjects.matchKeysCol]]). */
  private final case class Subs(members: Map[String, StreamGroup], anyMulti: Boolean,
                                frame: DataFrame, depths: Seq[Int])

  /** Automated payload-retention cadence: every this-many shared-query
    * micro-batches the batch body runs compactPayloads (0 disables).
    * 64 batches = ~16 s at the 250 ms trigger: the batch-dir count
    * stays within one retention window of the acked floor
    * (soak-measured, BASELINE.md round-14), and the listStatus + floor
    * scan is amortized noise. */
  val PayloadRetentionEvery: Int = 64

  /** Assemble the "all chunks ever" meta list for a group from the
    * bounded ledger + the durable payload table's chunk listing.
    * Resident metas win; chunk ids only present on disk (acked history
    * evicted behind the watermark) are synthesized with batchId parsed
    * from the trailing `-<seq>`. */
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
