package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.core._
import graft.streaming.{DurableEventLog, EventSession}

/** Durable log semantics: two streaming queries whatever the group
  * count, a joining group's full history then live delivery (exact
  * across the join seam, restarts and re-creates), partition pruning
  * for subtree scans, checkpointed restart without batch reprocessing,
  * and at-least-once ack state across the restart. */
class DurableEventLogSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("graft-durable-spec")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def tmp(): String = Files.createTempDirectory("graft-log").toString

  private def addP1(log: DurableEventLog, g: String): Unit = {
    log.addGroup(g, ResourceType.Project, "p1", Hierarchy(projectId = "p1"), true); ()
  }

  private def emitC(log: DurableEventLog, id: String, project: String = "p1"): Unit =
    log.emit(ResourceType.Collection, EventType.All, id, RelationCtx(project = project))

  test("delivery restart resumes after the committed batch; unacked chunks survive") {
    val (logDir, ckpt) = (tmp(), tmp())
    val log1 = new DurableEventLog(spark, logDir, ckpt)
    val first = try {
      log1.startIngest()
      log1.startMultiplexed()
      addP1(log1, "g")
      log1.emit(ResourceType.Project, EventType.All, "p1", RelationCtx())
      log1.processAllAvailable()
      val first = log1.pendingChunks("g")
      assert(first.map(_.resourceIds).flatten == Seq("p1"))
      first
    } finally log1.stop()

    // restart from the same dirs; the group re-registers and only the
    // NEW event is processed
    val log = new DurableEventLog(spark, logDir, ckpt)
    try {
      log.startIngest()
      addP1(log, "g")
      log.startMultiplexed()
      emitC(log, "c1")
      log.processAllAvailable()
      val after = log.pendingChunks("g")
      val deliveredIds = after.flatMap(_.resourceIds)
      assert(deliveredIds.sorted == Seq("c1", "p1"),
        s"exactly-once reprocessing: p1 once, c1 once — got $deliveredIds")
      // the pre-restart chunk is still pending (at-least-once until acked)
      assert(after.exists(_.chunkId == first.head.chunkId))
      assert(log.ack("g", first.head.chunkId))
    } finally log.stop()
  }

  test("shared durable query: restart resumes; a late group gets its history") {
    val (logDir, ckpt) = (tmp(), tmp())
    val log = new DurableEventLog(spark, logDir, ckpt)
    try {
      log.startIngest()
      addP1(log, "g1")
      log.startMultiplexed()
      log.emit(ResourceType.Project, EventType.All, "p1", RelationCtx())
      log.emit(ResourceType.Project, EventType.All, "p2", RelationCtx())
      log.processAllAvailable()
      assert(log.pendingChunks("g1").flatMap(_.resourceIds) == Seq("p1"))
      assert(log.pendingChunks("g2").isEmpty)

      // a group added later gets its full history first, then live
      log.addGroup("g2", ResourceType.Project, "p2", Hierarchy(projectId = "p2"), true)
      emitC(log, "c2", "p2")
      log.processAllAvailable()
      val g2 = log.pendingChunks("g2")
      assert(g2.flatMap(_.resourceIds) == Seq("p2", "c2"),
        s"a late durable group gets its history, then live: $g2")
      assert(g2.map(_.batchId) == g2.map(_.batchId).sorted.distinct)
    } finally log.stop()

    // restart over the same dirs: nothing re-delivered
    val log2 = new DurableEventLog(spark, logDir, ckpt)
    try {
      log2.startIngest()
      addP1(log2, "g1")
      log2.emit(ResourceType.Project, EventType.All, "p1", RelationCtx())
      log2.processAllAvailable()
      log2.startMultiplexed()
      log2.processAllAvailable()
      val g1 = log2.pendingChunks("g1").flatMap(_.resourceIds)
      assert(g1.sorted == Seq("p1", "p1"), s"one original + one post-restart, no dups: $g1")
    } finally log2.stop()
  }

  test("a durable log with three groups and live sessions runs two streaming queries") {
    val (logDir, ckpt) = (tmp(), tmp())
    val log = new DurableEventLog(spark, logDir, ckpt)
    try {
      log.startIngest()
      log.startMultiplexed()
      val groups = Seq("q1" -> "p1", "q2" -> "p2", "q3" -> "p3")
      groups.foreach { case (g, p) =>
        log.addGroup(g, ResourceType.Project, p, Hierarchy(projectId = p), true)
        new EventSession(log).handle(EventSession.Init(g))
      }
      groups.foreach { case (_, p) => emitC(log, s"c-$p", p) }
      log.processAllAvailable()
      groups.foreach { case (g, p) =>
        assert(log.pendingChunks(g).flatMap(_.resourceIds) == Seq(s"c-$p"), g)
      }
      assert(spark.streams.active.map(_.name).toSet == Set("event-log-ingest", "durable-mux-delivery"),
        s"queries: ${spark.streams.active.map(_.name).toSeq}")
    } finally log.stop()
  }

  test("join seam: history read before registration, then the unread batch, each event once") {
    // batch A is read by the shared query before the group registers;
    // batch B is committed to the log but not yet read at registration
    val (logDir, ckpt) = (tmp(), tmp())
    val log1 = new DurableEventLog(spark, logDir, ckpt)
    try {
      log1.startIngest()
      log1.startMultiplexed()
      emitC(log1, "a1"); emitC(log1, "a2")
      log1.processAllAvailable()
    } finally log1.stop()
    val log2 = new DurableEventLog(spark, logDir, ckpt)
    try {
      log2.startIngest()
      emitC(log2, "b1")
      log2.processAllAvailable() // ingest only: B is in the log, unread
      addP1(log2, "g")
      log2.startMultiplexed()
      log2.processAllAvailable()
      emitC(log2, "c1")
      log2.processAllAvailable()
      val chunks = log2.pendingChunks("g")
      assert(chunks.flatMap(_.resourceIds) == Seq("a1", "a2", "b1", "c1"),
        s"every matching event exactly once, history first: ${chunks.map(c => c.chunkId -> c.resourceIds)}")
      assert(chunks.head.resourceIds == Seq("a1", "a2"), "A arrives as one history chunk")
      assert(chunks.map(_.batchId) == chunks.map(_.batchId).sorted.distinct, "chunk seqs ascend")
    } finally log2.stop()
  }

  test("a long history arrives in bounded chunks, oldest first") {
    val (logDir, ckpt) = (tmp(), tmp())
    val log = new DurableEventLog(spark, logDir, ckpt)
    val n = DurableEventLog.HistoryChunkRows + 5
    try {
      log.startIngest()
      log.startMultiplexed()
      // one ingest batch larger than a chunk, then two one-event batches
      log.emitAll((0 until n).map(i => Event(ResourceType.Collection, EventType.All, f"b$i%05d",
        RelationCtx(project = "p1"), new java.sql.Timestamp(0L))))
      log.processAllAvailable()
      Seq("s1", "s2").foreach { id => emitC(log, id); log.processAllAvailable() }
      addP1(log, "g")
      emitC(log, "flush", "p9") // the next shared batch serves the history
      log.processAllAvailable()
      val session = log.openSession("g")
      val pulled = log.pull("g", session)
      assert(pulled.map(_.resourceIds.size) == Seq(DurableEventLog.HistoryChunkRows, 5, 2),
        s"bounded slices of the big batch, then the small batches merged: ${pulled.map(_.resourceIds.size)}")
      assert(pulled.flatMap(_.resourceIds) == (0 until n).map(i => f"b$i%05d") ++ Seq("s1", "s2"),
        "history pulls oldest first, each event once")
      pulled.foreach(c => assert(log.ack("g", c.chunkId)))
    } finally log.stop()

    // the group's coverage point is now a history slice (s1 + s2's
    // chunk); after a restart it re-registers once s3 was read without
    // it, and gets s3 alone: the served part of that position is dropped
    // before the rest merges into a chunk
    val log2 = new DurableEventLog(spark, logDir, ckpt)
    try {
      log2.startIngest()
      log2.startMultiplexed()
      emitC(log2, "s3")
      log2.processAllAvailable()
      addP1(log2, "g")
      emitC(log2, "flush2", "p9")
      log2.processAllAvailable()
      assert(log2.pendingChunks("g").flatMap(_.resourceIds) == Seq("s3"))
    } finally log2.stop()
  }

  test("a group re-registered after a restart gets every event it missed") {
    // g acks its live chunk, h leaves it pending; both are re-registered
    // after the restarted engine's shared query has read two batches
    // without them
    val (logDir, ckpt) = (tmp(), tmp())
    val log1 = new DurableEventLog(spark, logDir, ckpt)
    val (acked, kept) = try {
      log1.startIngest()
      log1.startMultiplexed()
      addP1(log1, "g"); addP1(log1, "h")
      emitC(log1, "x1")
      log1.processAllAvailable()
      val acked = log1.pendingChunks("g").map(_.chunkId)
      assert(acked.size == 1 && log1.ack("g", acked.head))
      (acked.head, log1.pendingChunks("h").map(_.chunkId))
    } finally log1.stop()
    val log2 = new DurableEventLog(spark, logDir, ckpt)
    try {
      log2.startIngest()
      log2.startMultiplexed()
      Seq("m1", "m2").foreach { id => emitC(log2, id); log2.processAllAvailable() }
      addP1(log2, "g"); addP1(log2, "h")
      emitC(log2, "m3")
      log2.processAllAvailable()
      val g = log2.pendingChunks("g")
      assert(g.flatMap(_.resourceIds) == Seq("m1", "m2", "m3"),
        s"g gets what it missed and nothing it acked: ${g.map(c => c.chunkId -> c.resourceIds)}")
      assert(!g.map(_.chunkId).contains(acked), "an acked chunk id is never minted again")
      val h = log2.pendingChunks("h")
      assert(h.flatMap(_.resourceIds) == Seq("x1", "m1", "m2", "m3"),
        s"h keeps its pending chunk and gets what it missed: ${h.map(c => c.chunkId -> c.resourceIds)}")
      assert(h.map(_.chunkId).take(1) == kept && h.map(_.chunkId).distinct.size == h.size)
    } finally log2.stop()
  }

  test("durable mux drains a backlog of more log files than one batch reads, in bounded batches") {
    // The shared write collects each batch's matched rows on the driver,
    // so the shared query reads at most MuxFilesPerTrigger log files per
    // batch: a backlog of one file per project, for more projects than
    // that, must drain in several batches, every row exactly once.
    val (logDir, ckpt) = (tmp(), tmp())
    val log = new DurableEventLog(spark, logDir, ckpt)
    val n = 2 * DurableEventLog.MuxFilesPerTrigger + 20
    try {
      log.startIngest()
      (0 until n).foreach { i =>
        log.addGroup(s"g$i", ResourceType.Project, s"p$i", Hierarchy(projectId = s"p$i"), true)
      }
      log.emitAll((0 until n).map(i =>
        Event(ResourceType.Project, EventType.All, s"p$i", RelationCtx(), new java.sql.Timestamp(0L))))
      log.processAllAvailable()
      val logFiles = java.nio.file.Files.walk(java.nio.file.Paths.get(logDir)).iterator().asScala
        .count(p => p.toString.endsWith(".parquet"))
      assert(logFiles >= n, s"one log file per project expected, got $logFiles")

      log.startMultiplexed()
      log.processAllAvailable()
      val chunks = (0 until n).map(i => log.pendingChunks(s"g$i"))
      (0 until n).foreach { i =>
        assert(chunks(i).flatMap(_.resourceIds) == Seq(s"p$i"), s"group g$i")
      }
      val batches = chunks.flatten.map(_.batchId).distinct.size
      assert(batches >= 3, s"$n files must take at least 3 bounded batches, took $batches")
    } finally log.stop()
  }

  test("durable mux at many groups runs the bucketed layout: delivery, multi-hierarchy union, retention") {
    // The durable mux writes the bucketed payload layout (the same
    // shared write MultiplexedDelivery runs) — exercised end-to-end here
    // at 72 groups, including a multi-hierarchy group and
    // compactPayloads retention.
    val (logDir, ckpt) = (tmp(), tmp())
    val log = new DurableEventLog(spark, logDir, ckpt)
    try {
      log.startIngest()
      log.addGroup("watch-p1", ResourceType.Project, "p1", Hierarchy(projectId = "p1"), true)
      log.addGroupMulti("multi", ResourceType.Collection, "c1",
        Seq(Hierarchy(projectId = "p1", collectionId = "c1"),
            Hierarchy(projectId = "p2", collectionId = "c1")), true)
      (0 until 70).foreach { i =>
        log.addGroup(s"col-$i", ResourceType.Collection, s"cx$i",
          Hierarchy(projectId = "p9", collectionId = s"cx$i"), true)
      }
      log.startMultiplexed()
      log.emit(ResourceType.Collection, EventType.All, "c1", RelationCtx(project = "p1"))
      log.emit(ResourceType.Collection, EventType.All, "c1", RelationCtx(project = "p2"))
      log.processAllAvailable()
      assert(new java.io.File(s"$ckpt/deliveries/batches").isDirectory,
        "72 groups must write the bucketed layout")
      assert(log.pendingChunks("multi").flatMap(_.subjects).toSet == Set(
        "UPDATES.STORAGE._.p1._.c1._", "UPDATES.STORAGE._.p2._.c1._"),
        "multi-hierarchy union through the durable mux")
      assert(log.pendingChunks("watch-p1").flatMap(_.resourceIds) == Seq("c1"))
      // retention: ack everything, reclaim, deliver again
      Seq("multi", "watch-p1").foreach { g =>
        log.pendingChunks(g).foreach(c => assert(log.ack(g, c.chunkId)))
      }
      assert(log.compactPayloads() >= 1)
      log.emit(ResourceType.Collection, EventType.All, "c1", RelationCtx(project = "p1"))
      log.processAllAvailable()
      assert(log.pendingChunks("multi").flatMap(_.resourceIds) == Seq("c1"))
    } finally log.stop()
  }

  test("removeGroup stops the group's delivery and drops its state; a same-id re-create starts empty") {
    val (logDir, ckpt) = (tmp(), tmp())
    val log = new DurableEventLog(spark, logDir, ckpt)
    try {
      log.startIngest()
      log.startMultiplexed()
      addP1(log, "g")
      new EventSession(log).handle(EventSession.Init("g"))
      log.emit(ResourceType.Project, EventType.All, "p1", RelationCtx())
      log.processAllAvailable()
      assert(log.pendingChunks("g").flatMap(_.resourceIds) == Seq("p1"))

      val removedIds = log.deliveredChunks("g").map(_.chunkId)
      log.removeGroup("g")
      emitC(log, "c1")
      log.processAllAvailable()
      assert(log.pendingChunks("g").isEmpty && log.deliveredChunks("g").isEmpty,
        "after removeGroup, emits produce no chunk")
      addP1(log, "g")
      assert(log.pendingChunks("g").isEmpty && log.deliveredChunks("g").isEmpty,
        "a re-created group must not re-serve the removed group's chunks")

      // the drop floor is the re-created group's coverage point: only
      // events logged since the removal arrive, under chunk ids the
      // removed group never used
      new EventSession(log).handle(EventSession.Init("g"))
      emitC(log, "c2")
      log.processAllAvailable()
      val resumed = log.pendingChunks("g")
      assert(resumed.flatMap(_.resourceIds).sorted == Seq("c1", "c2"),
        s"the re-created group must receive exactly the post-removal events: $resumed")
      assert(resumed.map(_.chunkId).intersect(removedIds).isEmpty,
        s"chunk ids must not collide with the removed group's: ${resumed.map(_.chunkId)} vs $removedIds")
    } finally log.stop()
  }

  test("a removal before a restarted engine's first shared batch floors at what the log was read to") {
    // the last read batch matched no group, so the highest chunk seq is
    // below the read position; a same-id re-create on another project
    // must still not get the pre-removal event as history
    val (logDir, ckpt) = (tmp(), tmp())
    val log1 = new DurableEventLog(spark, logDir, ckpt)
    try {
      log1.startIngest()
      log1.startMultiplexed()
      addP1(log1, "g")
      emitC(log1, "c1")
      log1.processAllAvailable()
      emitC(log1, "old9", "p9")
      log1.processAllAvailable()
    } finally log1.stop()
    val log2 = new DurableEventLog(spark, logDir, ckpt)
    try {
      log2.removeGroup("g")
      log2.addGroup("g", ResourceType.Project, "p9", Hierarchy(projectId = "p9"), true)
      log2.startIngest()
      log2.startMultiplexed()
      emitC(log2, "new9", "p9")
      log2.processAllAvailable()
      assert(log2.pendingChunks("g").flatMap(_.resourceIds) == Seq("new9"))
    } finally log2.stop()
  }

  test("WAL ledger: pending chunks and acks survive an engine restart") {
    val (logDir, ckpt) = (tmp(), tmp())
    val log1 = new DurableEventLog(spark, logDir, ckpt)
    try {
      log1.startIngest()
      log1.emit(ResourceType.Project, EventType.All, "p1", RelationCtx())
      emitC(log1, "c1")
      log1.processAllAvailable()
      addP1(log1, "g")
      log1.startMultiplexed()
      log1.processAllAvailable()
      val chunks = log1.pendingChunks("g")
      assert(chunks.size == 1 && chunks.head.resourceIds.toSet == Set("p1", "c1"))
    } finally log1.stop()

    // "restart": a brand-new engine over the same dirs. The shared
    // checkpoint has committed the batch, so WITHOUT the WAL the chunk
    // would be unrecoverable; the ledger replay must restore it.
    val log2 = new DurableEventLog(spark, logDir, ckpt)
    try {
      val restored = log2.deliveredChunks("g")
      assert(restored.size == 1, s"WAL must restore the chunk: $restored")
      assert(restored.head.resourceIds.toSet == Set("p1", "c1"))
    } finally log2.stop()
  }

  test("durable pull: disjoint competing claims, journaled flights restored after restart") {
    val (logDir, ckpt) = (tmp(), tmp())
    @volatile var now = 0L
    val log1 = new DurableEventLog(spark, logDir, ckpt,
      ackWaitMillis = 1000L, clock = () => now)
    val chunkId = try {
      log1.startIngest()
      log1.startMultiplexed()
      addP1(log1, "g")
      log1.emit(ResourceType.Project, EventType.All, "p1", RelationCtx())
      log1.processAllAvailable()
      val s1 = log1.dispatcher.newSessionId()
      val s2 = log1.dispatcher.newSessionId()
      log1.dispatcher.openSession("g", s1)
      log1.dispatcher.openSession("g", s2)
      val got = log1.pull("g", s1)
      assert(got.size == 1)
      assert(log1.pull("g", s2).isEmpty, "in-flight chunk offered to a competitor")
      got.head.chunkId
    } finally log1.stop()

    // restart: the journaled flight's owner is dead, so the chunk is
    // immediately offerable with the delivery count carried forward.
    val log2 = new DurableEventLog(spark, logDir, ckpt,
      ackWaitMillis = 1000L, clock = () => now)
    try {
      val s3 = log2.dispatcher.newSessionId()
      log2.dispatcher.openSession("g", s3)
      val re = log2.pull("g", s3)
      assert(re.map(_.chunkId) == Seq(chunkId))
      assert(log2.dispatcher.deliveries("g", chunkId) == 2,
        "delivery count must continue across the restart")
    } finally log2.stop()
  }

  test("WAL replay is ack-preserving on chunk re-append (batch retry after ack)") {
    // chunk → ack → chunk (foreachBatch retry re-running a batch whose
    // chunk the client already acked) must NOT resurrect the chunk as
    // pending (round-1 advice).
    val dir = tmp()
    val store = new graft.streaming.LedgerStore(dir)
    val chunk = ChunkMeta("g", "g-0", 0L, 1L,
      new java.sql.Timestamp(0L), acked = false)
    store.appendChunk(chunk)
    store.appendAck("g", "g-0")
    store.appendChunk(chunk) // replayed batch re-appends the same chunk
    val state = store.load()
    assert(state(("g", "g-0")).acked,
      "acked chunk must stay acked across a re-append")
  }

  test("WAL compaction rewrites to minimal equivalent state, atomically") {
    val dir = tmp()
    val store = new graft.streaming.LedgerStore(dir)
    val c1 = ChunkMeta("g", "g-0", 0L, 1L,
      new java.sql.Timestamp(0L), acked = false)
    val c2 = ChunkMeta("g", "g-1", 1L, 1L,
      new java.sql.Timestamp(0L), acked = false)
    // churn: retries re-append, acks accumulate — 6 lines for 2 chunks
    store.appendChunk(c1); store.appendChunk(c1); store.appendAck("g", "g-0")
    store.appendChunk(c1); store.appendChunk(c2); store.appendAck("g", "g-0")
    val before = store.load()
    store.compact()
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(dir, "ledger.jsonl"))
    // acked history compacts into a watermark: 1 wm line + the pending
    // chunk — the acked meta is evicted from the WAL (its idempotence
    // now lives in the watermark), so post-compaction size is
    // O(pending + groups), not O(all-time chunks)
    assert(lines.size == 2, s"1 watermark + 1 pending chunk expected, got:\n${lines}")
    val (metas, wms) = store.loadState()
    assert(wms("g") == 0L, "the acked prefix becomes the watermark")
    assert(metas == before.filterNot(_._2.acked),
      "compaction must preserve the pending state exactly")
    // the compacted WAL still accepts appends and keeps idempotence:
    // a replayed chunk line at/below the watermark loads as ACKED
    store.appendChunk(c1) // replay after compaction
    assert(store.load()(("g", "g-0")).acked, "acked survives re-append post-compaction")
  }

  test("delivery filter validation: wildcard project skips pruning; short filters rejected") {
    val (logDir, ckpt, archive) = (tmp(), tmp(), tmp() + "/archive")
    val log = new DurableEventLog(spark, logDir, ckpt)
    try {
      log.startIngest()
      log.emit(ResourceType.Project, EventType.All, "p1", RelationCtx())
      log.emit(ResourceType.Project, EventType.All, "p2", RelationCtx())
      log.processAllAvailable()
      log.compactTo(archive)
      intercept[IllegalArgumentException] { log.archiveScan(archive, "UPDATES.STORAGE._") }
      // a general NATS filter with '*' in the project position must fall
      // back to the full scan (round 1 delivered NOTHING: the plan
      // filtered project === "*").
      val star = log.archiveScan(archive, "UPDATES.STORAGE._.*.>")
      val got = star.select("resourceId").collect().map(_.getString(0)).sorted.toSeq
      assert(got == Seq("p1", "p2"), s"wildcard-project filter must match all projects: $got")
      assert(star.queryExecution.executedPlan.toString.contains("PartitionFilters: []"),
        "a wildcard project must not prune partitions")
    } finally log.stop()
  }

  test("compaction: many micro-batch files archive to one file per partition; backfill scan prunes") {
    val (logDir, ckpt, archive) = (tmp(), tmp(), tmp() + "/archive")
    val log = new DurableEventLog(spark, logDir, ckpt)
    try {
      log.startIngest()
      // several micro-batches → several small files per partition
      (1 to 4).foreach { i =>
        emitC(log, s"c$i")
        emitC(log, s"d$i", "p2")
        log.processAllAvailable()
      }
      def parquets(dir: String): Int = {
        val d = new java.io.File(dir)
        if (!d.exists()) 0 else d.listFiles().count(_.getName.endsWith(".parquet"))
      }
      assert(parquets(s"$logDir/project=p1") >= 4, "precondition: one file per batch")

      val archived = log.compactTo(archive)
      assert(archived == 8, s"all rows archived: $archived")
      assert(parquets(s"$archive/project=p1") == 1 && parquets(s"$archive/project=p2") == 1,
        "compaction must leave one file per project partition")

      // the pruned archive scan sees exactly the subtree's rows, and the
      // plan prunes to the one partition directory
      val filter = graft.core.Subjects.projectQuery("p1", includeSub = true)
      val scan = log.archiveScan(archive, filter)
      assert(scan.select("resourceId").collect().map(_.getString(0)).sorted.toSeq
        == Seq("c1", "c2", "c3", "c4"))
      val plan = scan.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") && plan.contains("p1"),
        s"archive scan must prune to the project partition:\n${plan.take(1200)}")
    } finally log.stop()
  }

  test("subtree delivery scan prunes to the project partition") {
    val (logDir, ckpt) = (tmp(), tmp())
    val log = new DurableEventLog(spark, logDir, ckpt)
    try {
      log.startIngest()
      log.emit(ResourceType.Project, EventType.All, "p1", RelationCtx())
      log.emit(ResourceType.Project, EventType.All, "p2", RelationCtx())
      log.processAllAvailable()

      // the same scan shape, as a batch read (streaming plans don't
      // expose PartitionFilters pre-execution)
      val filter = graft.core.Subjects.projectQuery("p1", includeSub = true)
      val project = filter.split('.')(3)
      val scan = spark.read.schema(log.logSchema).parquet(logDir)
        .filter(col("project") === project
          && graft.core.Subjects.matchesLit(col("subject"), filter))
      val plan = scan.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") && plan.contains("p1"),
        s"project partition must prune:\n${plan.take(1200)}")
      assert(scan.select("resourceId").collect().map(_.getString(0)).toSeq == Seq("p1"))

      // physical layout really is partitioned by project
      val dirs = new java.io.File(logDir).listFiles().filter(_.isDirectory).map(_.getName)
      assert(dirs.toSet.contains("project=p1") && dirs.toSet.contains("project=p2"))
    } finally log.stop()
  }
}
