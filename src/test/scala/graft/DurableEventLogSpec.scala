package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.core._
import graft.streaming.DurableEventLog

/** Durable log semantics: partition pruning for subtree subscriptions,
  * checkpointed restart without batch reprocessing, and at-least-once
  * ack state across the restart. */
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

  test("delivery restart resumes after the committed batch; unacked chunks survive") {
    val (logDir, ckpt) = (tmp(), tmp())
    val log = new DurableEventLog(spark, logDir, ckpt)
    try {
      log.startIngest()
      log.emit(ResourceType.Project, EventType.All, "p1", RelationCtx())
      log.processAllAvailable()

      val filter = graft.core.Subjects.projectQuery("p1", includeSub = true)
      log.startDelivery("g", filter)
      log.processAllAvailable()
      val first = log.pendingChunks("g")
      assert(first.map(_.resourceIds).flatten == Seq("p1"))

      // stop the consumer; more events land in the log meanwhile
      log.stopDelivery("g")
      log.emit(ResourceType.Collection, EventType.All, "c1", RelationCtx(project = "p1"))
      log.processAllAvailable()

      // restart from the same checkpoint: only the NEW event is processed
      log.startDelivery("g", filter)
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

  test("multiplexed durable delivery: one checkpointed query, restart resumes, from-now-on groups") {
    val (logDir, ckpt) = (tmp(), tmp())
    val log = new DurableEventLog(spark, logDir, ckpt)
    try {
      log.startIngest()
      log.addGroup("g1", ResourceType.Project, "p1", Hierarchy(projectId = "p1"), true)
      log.startMultiplexed()
      log.emit(ResourceType.Project, EventType.All, "p1", RelationCtx())
      log.emit(ResourceType.Project, EventType.All, "p2", RelationCtx())
      log.processAllAvailable()
      assert(log.pendingChunks("g1").flatMap(_.resourceIds) == Seq("p1"))
      assert(log.pendingChunks("g2").isEmpty)

      // group added later shares the mux checkpoint: from-now-on semantics
      log.addGroup("g2", ResourceType.Project, "p2", Hierarchy(projectId = "p2"), true)
      log.emit(ResourceType.Collection, EventType.All, "c2", RelationCtx(project = "p2"))
      log.processAllAvailable()
      assert(log.pendingChunks("g2").flatMap(_.resourceIds) == Seq("c2"),
        "late mux group must not see pre-registration batches")

      // restart the mux query from its checkpoint: nothing re-delivered
      log.stopDelivery("__mux__")
      log.emit(ResourceType.Project, EventType.All, "p1", RelationCtx())
      log.processAllAvailable()
      log.startMultiplexed()
      log.processAllAvailable()
      val g1 = log.pendingChunks("g1").flatMap(_.resourceIds)
      assert(g1.sorted == Seq("p1", "p1"), s"one original + one post-restart, no dups: $g1")
    } finally log.stop()
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
    def deliveryActive = spark.streams.active.exists(_.name == "durable-delivery-g")
    try {
      log.startIngest()
      log.addGroup("g", ResourceType.Project, "p1", Hierarchy(projectId = "p1"), true)
      // a session's attach starts the group's checkpointed delivery
      val session = new graft.streaming.EventSession(log)
      session.handle(graft.streaming.EventSession.Init("g"))
      log.emit(ResourceType.Project, EventType.All, "p1", RelationCtx())
      log.processAllAvailable()
      assert(deliveryActive)
      assert(log.pendingChunks("g").flatMap(_.resourceIds) == Seq("p1"))

      val removedIds = log.deliveredChunks("g").map(_.chunkId)
      log.removeGroup("g")
      log.emit(ResourceType.Collection, EventType.All, "c1", RelationCtx(project = "p1"))
      log.processAllAvailable()
      assert(!deliveryActive, "a removed group's delivery query must stop")
      log.addGroup("g", ResourceType.Project, "p1", Hierarchy(projectId = "p1"), true)
      assert(log.pendingChunks("g").isEmpty && log.deliveredChunks("g").isEmpty,
        "a re-created group must not re-serve the removed group's chunks")

      // the kept `delivery-g` checkpoint: an attach resumes after the
      // removed group's last batch — only events emitted since arrive,
      // under chunk ids the removed group never used
      new graft.streaming.EventSession(log).handle(graft.streaming.EventSession.Init("g"))
      log.emit(ResourceType.Collection, EventType.All, "c2", RelationCtx(project = "p1"))
      log.processAllAvailable()
      val resumed = log.pendingChunks("g")
      assert(resumed.flatMap(_.resourceIds).sorted == Seq("c1", "c2"),
        s"the re-created group must receive exactly the post-removal events: $resumed")
      assert(resumed.map(_.chunkId).intersect(removedIds).isEmpty,
        s"chunk ids must not collide with the removed group's: ${resumed.map(_.chunkId)} vs $removedIds")
    } finally log.stop()
  }

  test("WAL ledger: pending chunks and acks survive an engine restart") {
    val (logDir, ckpt) = (tmp(), tmp())
    val log1 = new DurableEventLog(spark, logDir, ckpt)
    try {
      log1.startIngest()
      log1.emit(ResourceType.Project, EventType.All, "p1", RelationCtx())
      log1.emit(ResourceType.Collection, EventType.All, "c1", RelationCtx(project = "p1"))
      log1.processAllAvailable()
      val filter = graft.core.Subjects.projectQuery("p1", includeSub = true)
      log1.startDelivery("g", filter)
      log1.processAllAvailable()
      val chunks = log1.pendingChunks("g")
      assert(chunks.size == 1 && chunks.head.resourceIds.toSet == Set("p1", "c1"))
      assert(log1.ack("g", chunks.head.chunkId) || true) // ack nothing yet — keep pending
    } finally log1.stop()

    // "restart": a brand-new engine over the same dirs. The delivery
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
      log1.emit(ResourceType.Project, EventType.All, "p1", RelationCtx())
      log1.processAllAvailable()
      log1.startDelivery("g", graft.core.Subjects.projectQuery("p1", includeSub = true))
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
    val (logDir, ckpt) = (tmp(), tmp())
    val log = new DurableEventLog(spark, logDir, ckpt)
    try {
      log.startIngest()
      log.emit(ResourceType.Project, EventType.All, "p1", RelationCtx())
      log.emit(ResourceType.Project, EventType.All, "p2", RelationCtx())
      log.processAllAvailable()
      // a general NATS filter with '*' in the project position must fall
      // back to the full-log scan (round 1 delivered NOTHING: the plan
      // filtered project === "*").
      intercept[IllegalArgumentException] { log.deliveryStream("UPDATES.STORAGE._") }
      log.startDelivery("gstar", "UPDATES.STORAGE._.*.>")
      log.processAllAvailable()
      val got = log.pendingChunks("gstar").flatMap(_.resourceIds).sorted
      assert(got == Seq("p1", "p2"), s"wildcard-project filter must match all projects: $got")
    } finally log.stop()
  }

  test("compaction: many micro-batch files archive to one file per partition; backfill scan prunes") {
    val (logDir, ckpt, archive) = (tmp(), tmp(), tmp() + "/archive")
    val log = new DurableEventLog(spark, logDir, ckpt)
    try {
      log.startIngest()
      // several micro-batches → several small files per partition
      (1 to 4).foreach { i =>
        log.emit(ResourceType.Collection, EventType.All, s"c$i", RelationCtx(project = "p1"))
        log.emit(ResourceType.Collection, EventType.All, s"d$i", RelationCtx(project = "p2"))
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

      // backfill: the pruned archive scan sees exactly the subtree's rows,
      // and the plan prunes to the one partition directory
      val filter = graft.core.Subjects.projectQuery("p1", includeSub = true)
      val scan = log.archiveScan(archive, filter)
      assert(scan.select("resourceId").collect().map(_.getString(0)).sorted.toSeq
        == Seq("c1", "c2", "c3", "c4"))
      val plan = scan.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") && plan.contains("p1"),
        s"archive backfill must prune to the project partition:\n${plan.take(1200)}")

      // backfill delivery: history arrives as ack-able chunks (sliced),
      // idempotent on re-run, and live chunk ids are never touched
      val n = log.backfillFromArchive("bf", archive, filter, chunkRows = 3)
      assert(n == 2, s"4 rows at 3/chunk = 2 chunks, got $n")
      val pend = log.pendingChunks("bf")
      assert(pend.flatMap(_.resourceIds).sorted == Seq("c1", "c2", "c3", "c4"))
      assert(pend.forall(_.batchId < 0), "backfill chunks use reserved negative batch ids")
      assert(log.ack("bf", pend.head.chunkId))
      assert(log.backfillFromArchive("bf", archive, filter, chunkRows = 3) == 0,
        "re-running a backfill must not recreate or resurrect chunks")
      assert(log.pendingChunks("bf").size == 1, "acked backfill chunk stays acked")
    } finally log.stop()
  }

  test("bounded backfill: maxFilesPerTrigger splits a backlog into multiple chunks; AvailableNow drains and stops") {
    val (logDir, ckpt) = (tmp(), tmp())
    val log = new DurableEventLog(spark, logDir, ckpt)
    try {
      log.startIngest()
      (1 to 3).foreach { i =>
        log.emit(ResourceType.Collection, EventType.All, s"c$i", RelationCtx(project = "p1"))
        log.processAllAvailable()
      }
      // 3 committed micro-batches → >= 3 log files; a 1-file trigger cap
      // must split the backfill into multiple delivery batches, and
      // AvailableNow drains the backlog then stops on its own (the
      // batch-backfill trigger, vs ProcessingTime's run-forever cadence)
      log.startDelivery("g", graft.core.Subjects.projectQuery("p1", includeSub = true),
        maxFilesPerTrigger = Some(1),
        deliveryTrigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
      val deadline = System.currentTimeMillis() + 20000
      while (log.pendingChunks("g").flatMap(_.resourceIds).size < 3
        && System.currentTimeMillis() < deadline) Thread.sleep(100)
      val chunks = log.pendingChunks("g")
      assert(chunks.flatMap(_.resourceIds).sorted == Seq("c1", "c2", "c3"),
        s"backfill must deliver everything: $chunks")
      assert(chunks.size >= 3,
        s"1-file batches must split the backlog into multiple chunks, got ${chunks.size}")
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
