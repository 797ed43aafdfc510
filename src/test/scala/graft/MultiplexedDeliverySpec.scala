package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.SparkSession
import graft.core._
import graft.streaming.{ConsumerHost, DeliveryTable, DurableEventLog, LedgerStore, MultiplexedDelivery}

/** The multiplexed (one-query-for-all-groups) delivery path: per-group
  * filtered delivery, dynamic group add/remove without query restarts. */
class MultiplexedDeliverySpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("graft-mux-spec")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("one query serves many groups with per-group filtered delivery") {
    val mux = new MultiplexedDelivery(spark)
    try {
      mux.addGroup("p1-tree", ResourceType.Project, "p1", Hierarchy(projectId = "p1"), true)
      mux.addGroup("p1-exact", ResourceType.Project, "p1", Hierarchy(projectId = "p1"), false)
      mux.addGroup("p2-tree", ResourceType.Project, "p2", Hierarchy(projectId = "p2"), true)
      mux.addGroup("c1-watch", ResourceType.Collection, "c1",
        Hierarchy(projectId = "p1", collectionId = "c1"), false)
      mux.start()

      mux.emit(ResourceType.Project, EventType.All, "p1", RelationCtx())
      mux.emit(ResourceType.Collection, EventType.All, "c1", RelationCtx(project = "p1"))
      mux.emit(ResourceType.Project, EventType.All, "p2", RelationCtx())
      mux.emit(ResourceType.Object, EventType.All, "o1",
        RelationCtx(project = "p2", collection = "c9", sharedObject = "s1",
          objectGroups = Seq("g1")))
      mux.processAllAvailable()

      def got(g: String): Set[String] = mux.pendingChunks(g).flatMap(_.resourceIds).toSet
      assert(got("p1-tree") == Set("p1", "c1"))
      assert(got("p1-exact") == Set("p1"))
      assert(got("p2-tree") == Set("p2", "o1"), "subtree sees the object event (both subjects)")
      assert(got("c1-watch") == Set("c1"))
    } finally mux.stop()
  }

  test("groups added after start take effect on the next micro-batch; acks work") {
    val mux = new MultiplexedDelivery(spark)
    try {
      mux.addGroup("early", ResourceType.Project, "p", Hierarchy(projectId = "p"), true)
      mux.start()
      mux.emit(ResourceType.Project, EventType.All, "p", RelationCtx())
      mux.processAllAvailable()
      assert(mux.pendingChunks("early").size == 1)
      assert(mux.pendingChunks("late").isEmpty)

      // dynamic subscription — no restart
      mux.addGroup("late", ResourceType.Project, "p", Hierarchy(projectId = "p"), true)
      mux.emit(ResourceType.Project, EventType.All, "p", RelationCtx())
      mux.processAllAvailable()
      assert(mux.pendingChunks("late").size == 1, "late group must see post-registration events")
      assert(mux.pendingChunks("early").size == 2)

      val chunk = mux.pendingChunks("late").head
      assert(mux.ack("late", chunk.chunkId))
      assert(mux.pendingChunks("late").isEmpty)
      assert(!mux.ack("late", "bogus"))

      mux.removeGroup("late")
      mux.emit(ResourceType.Project, EventType.All, "p", RelationCtx())
      mux.processAllAvailable()
      assert(mux.pendingChunks("late").isEmpty, "removed group receives nothing")
    } finally mux.stop()
  }

  test("competing consumers on the mux: disjoint delivery, ack-wait redelivery, dead-session failover") {
    @volatile var now = 0L
    val mux = new MultiplexedDelivery(spark, ackWaitMillis = 1000L, clock = () => now)
    try {
      mux.addGroup("g", ResourceType.Project, "p", Hierarchy(projectId = "p"), true)
      mux.start()
      mux.emit(ResourceType.Project, EventType.All, "p", RelationCtx())
      mux.processAllAvailable()

      val s1 = mux.openSession("g")
      val s2 = mux.openSession("g")
      val a = mux.pull("g", s1)
      assert(a.size == 1)
      assert(mux.pull("g", s2).isEmpty, "chunk in flight to s1 offered to s2")

      mux.emit(ResourceType.Collection, EventType.All, "c", RelationCtx(project = "p"))
      mux.processAllAvailable()
      val b = mux.pull("g", s2)
      assert(b.size == 1 && b.head.chunkId != a.head.chunkId,
        "competing sessions must receive disjoint chunks")
      assert(mux.pull("g", s1).isEmpty)

      // silent past the ack-wait: both flights expire and redeliver with
      // the same chunkIds — under fair dispatch the next puller claims
      // its SHARE (1 of 2 with two live sessions), holds it, and gets
      // the second only after settling the first (JetStream's rough
      // round-robin rather than first-puller-takes-all)
      now += 1500L
      val r1 = mux.pull("g", s2).map(_.chunkId)
      assert(r1 == Seq(a.head.chunkId),
        s"expected the oldest expired flight first, got $r1")
      assert(mux.pull("g", s2).isEmpty,
        "a session holding its fair share must not claim the rest")
      assert(mux.ack("g", r1.head))
      val r2 = mux.pull("g", s2).map(_.chunkId)
      assert(r2 == Seq(b.head.chunkId),
        s"second expired flight must arrive on the next round-trip, got $r2")

      // s2 dies holding the unacked chunk: failover to a fresh session
      // without any clock advance
      mux.closeSession("g", s2)
      val s3 = mux.openSession("g")
      assert(mux.pull("g", s3).map(_.chunkId) == Seq(b.head.chunkId),
        "dead session's unacked chunk must fail over immediately")
      assert(mux.dispatcher.deliveries("g", b.head.chunkId) == 3)
    } finally mux.stop()
  }

  test("the bidi session protocol runs unchanged over the multiplexed scale path") {
    import graft.streaming.EventSession
    import graft.streaming.EventSession._
    val mux = new MultiplexedDelivery(spark)
    val s1 = new EventSession(mux)
    val s2 = new EventSession(mux)
    try {
      mux.addGroup("g", ResourceType.Project, "p", Hierarchy(projectId = "p"), true)
      mux.start()
      mux.emit(ResourceType.Project, EventType.All, "p", RelationCtx())
      mux.processAllAvailable()

      // unknown group still fails pre-session
      intercept[NoSuchElementException] { new EventSession(mux).handle(Init("nope")) }

      val got = s1.handle(Init("g")).collect { case n: Notification => n }
      assert(got.size == 1)
      // competing session sees nothing while the chunk is in flight
      assert(s2.handle(Init("g")).isEmpty)
      // acks settle through the same protocol path
      assert(s1.handle(Ack(got.map(_.chunk.chunkId))).isEmpty)
      // closing s1 must NOT stop the shared query: s2 still receives
      s1.handle(Close)
      mux.emit(ResourceType.Collection, EventType.All, "c", RelationCtx(project = "p"))
      mux.processAllAvailable()
      val later = s2.handle(Ack(Seq.empty)).collect { case n: Notification => n }
      assert(later.size == 1,
        "the shared multiplexed query must keep serving surviving sessions")
    } finally mux.stop()
  }

  test("WAL replay preserves the redelivery timer state (flights + delivery counts)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mux-flights").toString
    @volatile var now = 0L
    val mux1 = new MultiplexedDelivery(spark, ledgerDir = Some(dir),
      ackWaitMillis = 1000L, clock = () => now)
    try {
      mux1.addGroup("g", ResourceType.Project, "p", Hierarchy(projectId = "p"), true)
      mux1.start()
      mux1.emit(ResourceType.Project, EventType.All, "p", RelationCtx())
      mux1.processAllAvailable()
      val s1 = mux1.openSession("g")
      assert(mux1.pull("g", s1).size == 1)
      mux1.compactLedger() // compaction must retain the journaled flight
    } finally mux1.stop()

    // "restart": the flight's owner is from the dead process, so the
    // chunk is immediately offerable (restart failover) — and the
    // delivery count continues from the journaled value, not from 1.
    val mux2 = new MultiplexedDelivery(spark, ledgerDir = Some(dir),
      ackWaitMillis = 1000L, clock = () => now)
    val s2 = mux2.openSession("g")
    val chunks = mux2.pull("g", s2)
    assert(chunks.size == 1, s"unacked chunk must be offerable after restart: $chunks")
    assert(mux2.dispatcher.deliveries("g", chunks.head.chunkId) == 2,
      "delivery count must survive the restart via the WAL")
  }

  test("WAL-backed mux: pending and acked chunks survive an engine restart") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mux-wal").toString
    val mux1 = new MultiplexedDelivery(spark, ledgerDir = Some(dir))
    try {
      mux1.addGroup("g", ResourceType.Project, "p", Hierarchy(projectId = "p"), true)
      mux1.start()
      mux1.emit(ResourceType.Project, EventType.All, "p", RelationCtx())
      mux1.processAllAvailable()
      mux1.emit(ResourceType.Collection, EventType.All, "c", RelationCtx(project = "p"))
      mux1.processAllAvailable()
      val pend = mux1.pendingChunks("g")
      assert(pend.size == 2)
      assert(mux1.ack("g", pend.head.chunkId))
    } finally mux1.stop()

    // "restart": a fresh mux over the same WAL dir — the unacked chunk is
    // re-served as pending, the acked one stays acked.
    val mux2 = new MultiplexedDelivery(spark, ledgerDir = Some(dir))
    val pending = mux2.pendingChunks("g")
    assert(pending.size == 1 && pending.head.resourceIds == Seq("c"),
      s"only the unacked chunk is pending after restart: $pending")
  }

  test("stop deletes the payload dir the engine created; an engine given a ledgerDir keeps it") {
    def run(mux: MultiplexedDelivery): String = {
      try {
        mux.addGroup("g", ResourceType.Project, "p", Hierarchy(projectId = "p"), true)
        mux.start()
        mux.emit(ResourceType.Project, EventType.All, "p", RelationCtx())
        mux.processAllAvailable()
        assert(mux.pendingChunks("g").flatMap(_.resourceIds) == Seq("p"))
        assert(new java.io.File(mux.payloadDir).list().nonEmpty, "test wiring: no payload written")
      } finally mux.stop()
      mux.payloadDir
    }
    val own = run(new MultiplexedDelivery(spark))
    assert(!new java.io.File(own).exists, s"the engine's own temp dir must be gone after stop: $own")

    val dir = java.nio.file.Files.createTempDirectory("graft-mux-keep").toString
    val kept = run(new MultiplexedDelivery(spark, ledgerDir = Some(dir)))
    assert(kept.startsWith(dir) && new java.io.File(kept).exists, s"a ledgerDir engine keeps $kept")
    val again = new MultiplexedDelivery(spark, ledgerDir = Some(dir))
    assert(again.pendingChunks("g").flatMap(_.resourceIds) == Seq("p"),
      "a restart over the kept dirs still hydrates the pending chunk")
  }

  test("many-groups churn: create/delete between batches with competing consumers stays correct") {
    // 71 groups, most idle: the shared bucketed write end-to-end at a
    // group count where most subscriptions match nothing.
    val mux = new MultiplexedDelivery(spark)
    try {
      mux.addGroup("hot", ResourceType.Project, "p0", Hierarchy(projectId = "p0"), true)
      (0 until 70).foreach { i =>
        mux.addGroup(s"col-c$i", ResourceType.Collection, s"c$i",
          Hierarchy(projectId = "p0", collectionId = s"c$i"), true)
      }
      mux.start()
      (0 until 10).foreach { i =>
        mux.emit(ResourceType.Collection, EventType.All, s"c$i", RelationCtx(project = "p0"))
      }
      mux.processAllAvailable()
      (0 until 10).foreach(i => assert(mux.pendingRowCount(s"col-c$i") == 1L,
        s"col-c$i must hold its event"))
      (10 until 70).foreach(i => assert(mux.pendingRowCount(s"col-c$i") == 0L))
      assert(mux.pendingRowCount("hot") == 10L)

      // churn between micro-batches: no query restart
      (0 until 5).foreach(i => mux.removeGroup(s"col-c$i"))
      mux.addGroup("late-c0", ResourceType.Collection, "c0",
        Hierarchy(projectId = "p0", collectionId = "c0"), true)
      (0 until 5).foreach { i =>
        mux.emit(ResourceType.Collection, EventType.All, s"c$i", RelationCtx(project = "p0"))
      }
      mux.processAllAvailable()
      (0 until 5).foreach(i => assert(mux.pendingRowCount(s"col-c$i") == 0L,
        s"deleted col-c$i must receive nothing"))
      assert(mux.pendingRowCount("late-c0") == 1L,
        "a group registered mid-stream sees exactly the post-registration events")
      assert(mux.pendingRowCount("hot") == 15L)

      // competing consumers drain the hot group disjointly; the ledger
      // evicts the acked history as they go
      val s1 = mux.openSession("hot")
      val s2 = mux.openSession("hot")
      val c1 = mux.pull("hot", s1)
      val c2 = mux.pull("hot", s2)
      assert(c1.map(_.chunkId).toSet.intersect(c2.map(_.chunkId).toSet).isEmpty)
      (c1 ++ c2).foreach(c => assert(mux.ack("hot", c.chunkId)))
      // fair dispatch splits the first round; later round-trips reclaim
      var guard = 0
      while (mux.pendingRowCount("hot") > 0 && guard < 10) {
        mux.pull("hot", s1).foreach(c => mux.ack("hot", c.chunkId))
        guard += 1
      }
      assert(mux.pendingRowCount("hot") == 0L)
      val (_, _, ackedResident) = mux.ledgerStats
      assert(ackedResident == 0L,
        "fully-acked groups must leave no acked metas resident (watermark eviction)")
    } finally mux.stop()
  }

  test("multi-hierarchy group through the mux join: union of matchers, once-per-message dedup path") {
    val mux = new MultiplexedDelivery(spark)
    try {
      intercept[IllegalArgumentException](
        mux.addGroupMulti("empty", ResourceType.Collection, "cX", Seq.empty, true))
      val g = mux.addGroupMulti("multi", ResourceType.Collection, "c1",
        Seq(Hierarchy(projectId = "p1", collectionId = "c1"),
            Hierarchy(projectId = "p2", collectionId = "c1")),
        includeSubresources = true)
      assert(g.filterSubjects == Seq(
        "UPDATES.STORAGE._.p1._.c1.>", "UPDATES.STORAGE._.p2._.c1.>"))
      // a single-subject group delivered through the SAME batches: the
      // dedup branch (active whenever any multi group is registered)
      // must not disturb it
      mux.addGroup("plain", ResourceType.Project, "p1", Hierarchy(projectId = "p1"), true)
      mux.start()
      mux.emit(ResourceType.Collection, EventType.All, "c1", RelationCtx(project = "p1"))
      mux.emit(ResourceType.Collection, EventType.All, "c1", RelationCtx(project = "p2"))
      mux.emit(ResourceType.Collection, EventType.All, "c9", RelationCtx(project = "p1"))
      mux.processAllAvailable()
      val got = mux.pendingChunks("multi").flatMap(_.subjects)
      assert(got.toSet == Set(
        "UPDATES.STORAGE._.p1._.c1._", "UPDATES.STORAGE._.p2._.c1._") && got.size == 2,
        s"union must see both hierarchies, each message once: $got")
      assert(mux.pendingChunks("plain").flatMap(_.resourceIds).toSet == Set("c1", "c9"))
    } finally mux.stop()
  }

  test("content-derived message identity: duplicate events deliver twice, chunk order is emission order") {
    // Round-13 verdict task 6: `seq` and the multi-matcher dedup key
    // derive from driver-assigned eventId + fan-out position, not
    // monotonically_increasing_id. Pins the two observable contracts:
    // (a) two IDENTICAL emitted events keep distinct identities — a
    //     multi-hierarchy group receives BOTH (two published messages;
    //     a content-hash key would collapse them);
    // (b) within-chunk delivery order is emission order even though the
    //     payload write shuffles (repartition) before writing.
    val mux = new MultiplexedDelivery(spark)
    try {
      mux.addGroupMulti("union2", ResourceType.Collection, "c1",
        Seq(Hierarchy(projectId = "p1", collectionId = "c1"),
            Hierarchy(projectId = "p2", collectionId = "c1")),
        includeSubresources = true)
      mux.addGroup("ordered", ResourceType.Project, "p1", Hierarchy(projectId = "p1"), true)
      mux.start()
      // two byte-identical events (same resource, id, relation, default ts)
      mux.emit(ResourceType.Collection, EventType.All, "c1", RelationCtx(project = "p1"))
      mux.emit(ResourceType.Collection, EventType.All, "c1", RelationCtx(project = "p1"))
      // an ordered tail for (b)
      (0 until 20).foreach(i =>
        mux.emit(ResourceType.Object, EventType.All, f"o$i%02d",
          RelationCtx(project = "p1", collection = "c1", sharedObject = "so")))
      mux.processAllAvailable()
      val dup = mux.pendingChunks("union2").flatMap(_.resourceIds).filter(_ == "c1")
      assert(dup.size == 2,
        s"identical events are distinct published messages — expected 2 deliveries, got $dup")
      val ordered = mux.pendingChunks("ordered").sortBy(_.batchId)
        .flatMap(_.resourceIds).filter(_.startsWith("o"))
      assert(ordered == ordered.sorted,
        s"within-chunk order must be emission order: $ordered")
    } finally mux.stop()
  }

  test("bucketed layout end-to-end: delivery, acks, churn, and WAL restart (round-13 task 1)") {
    // The shared query writes the bucketed layout at any group count —
    // two groups here. The full engine surface runs over it: filtered
    // delivery, pull/ack, mid-stream churn, and a WAL restart whose
    // restored metas hydrate from the bucketed batch dirs.
    val dir = java.nio.file.Files.createTempDirectory("graft-mux-bucketed").toString
    val mux1 = new MultiplexedDelivery(spark, ledgerDir = Some(dir))
    try {
      mux1.addGroup("p1-tree", ResourceType.Project, "p1", Hierarchy(projectId = "p1"), true)
      mux1.addGroup("c1-watch", ResourceType.Collection, "c1",
        Hierarchy(projectId = "p1", collectionId = "c1"), false)
      mux1.start()
      mux1.emit(ResourceType.Project, EventType.All, "p1", RelationCtx())
      mux1.emit(ResourceType.Collection, EventType.All, "c1", RelationCtx(project = "p1"))
      mux1.processAllAvailable()
      assert(mux1.pendingChunks("p1-tree").flatMap(_.resourceIds).toSet == Set("p1", "c1"))
      assert(mux1.pendingChunks("c1-watch").flatMap(_.resourceIds).toSet == Set("c1"))

      // layout on disk: the chunk landed under batches/, not groupId=
      assert(new java.io.File(s"$dir/deliveries/batches").isDirectory,
        "bucketed layout must write under batches/")
      assert(!new java.io.File(s"$dir/deliveries").listFiles()
        .exists(_.getName.startsWith("groupId=")),
        "no per-group dirs from the shared query")

      // ack one chunk; churn a group mid-stream
      val first = mux1.pendingChunks("p1-tree").head
      assert(mux1.ack("p1-tree", first.chunkId))
      mux1.removeGroup("c1-watch")
      mux1.addGroup("late", ResourceType.Project, "p1", Hierarchy(projectId = "p1"), true)
      mux1.emit(ResourceType.Collection, EventType.All, "c1", RelationCtx(project = "p1"))
      mux1.processAllAvailable()
      assert(mux1.pendingChunks("c1-watch").isEmpty, "removed group receives nothing")
      assert(mux1.pendingChunks("late").flatMap(_.resourceIds) == Seq("c1"))
    } finally mux1.stop()

    // restart: restored WAL metas must hydrate from the bucketed dirs
    val mux2 = new MultiplexedDelivery(spark, ledgerDir = Some(dir))
    val pending = mux2.pendingChunks("p1-tree")
    assert(pending.size == 1 && pending.head.resourceIds == Seq("c1"),
      s"unacked bucketed chunk must survive restart: $pending")
    assert(mux2.pendingChunks("late").flatMap(_.resourceIds) == Seq("c1"))
  }

  test("automated retention: the batch body reaps acked batch dirs on its own cadence") {
    // Round-13 verdict task 4: nothing used to INVOKE compactPayloads —
    // a long-running many-groups deployment accumulated batch dirs
    // without bound. Pins: (a) the cadence fires inside the batch body
    // and reclaims fully-acked dirs; (b) a group's pending chunks and
    // their payloads survive every firing.
    val dir = java.nio.file.Files.createTempDirectory("graft-mux-autoret").toString
    val mux = new MultiplexedDelivery(spark, ledgerDir = Some(dir),
      payloadRetentionEvery = 2)
    try {
      mux.addGroup("acker", ResourceType.Project, "p1", Hierarchy(projectId = "p1"), true)
      mux.addGroup("lagger", ResourceType.Project, "p1", Hierarchy(projectId = "p1"), true)
      mux.start()
      (0 until 6).foreach { i =>
        mux.emit(ResourceType.Collection, EventType.All, s"c$i", RelationCtx(project = "p1"))
        mux.processAllAvailable()
        // acker keeps up; lagger acks nothing
        mux.pendingChunks("acker").foreach(c => mux.ack(c.groupId, c.chunkId))
      }
      // with a non-acking group registered the floor is its oldest
      // pending chunk: nothing may be reaped
      assert(mux.reapedBatchDirs.get == 0L,
        "pending chunks of the lagging group must pin every batch dir")
      val laggerBefore = mux.pendingChunks("lagger")
      assert(laggerBefore.nonEmpty && laggerBefore.forall(_.resourceIds.nonEmpty),
        "lagging group's payloads must hydrate while retention is active")
      // lagger catches up; subsequent cadence firings reclaim the tail
      laggerBefore.foreach(c => mux.ack(c.groupId, c.chunkId))
      (6 until 12).foreach { i =>
        mux.emit(ResourceType.Collection, EventType.All, s"c$i", RelationCtx(project = "p1"))
        mux.processAllAvailable()
        mux.pendingChunks("acker").foreach(c => mux.ack(c.groupId, c.chunkId))
        mux.pendingChunks("lagger").foreach(c => mux.ack(c.groupId, c.chunkId))
      }
      assert(mux.reapedBatchDirs.get > 0L,
        "the cadence must have reclaimed fully-acked batch dirs")
      val batchDirs = new java.io.File(s"$dir/deliveries/batches").listFiles()
      val remaining = if (batchDirs == null) 0
        else batchDirs.count(_.getName.startsWith("batch="))
      assert(remaining <= 4,
        s"steady-state batch-dir count must stay within one retention window, got $remaining")
    } finally mux.stop()
  }

  test("compactPayloads reclaims only fully-acked batch dirs; pending chunks survive") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mux-retain").toString
    val mux = new MultiplexedDelivery(spark, ledgerDir = Some(dir))
    try {
      mux.addGroup("a", ResourceType.Project, "p1", Hierarchy(projectId = "p1"), true)
      mux.addGroup("b", ResourceType.Project, "p2", Hierarchy(projectId = "p2"), true)
      mux.start()
      // batch 0: both groups; batch 1: only a's project
      mux.emit(ResourceType.Project, EventType.All, "p1", RelationCtx())
      mux.emit(ResourceType.Project, EventType.All, "p2", RelationCtx())
      mux.processAllAvailable()
      mux.emit(ResourceType.Project, EventType.All, "p1", RelationCtx())
      mux.processAllAvailable()
      def batchDirs: Set[String] = {
        val f = new java.io.File(s"$dir/deliveries/batches")
        if (!f.isDirectory) Set.empty
        else f.listFiles().filter(_.isDirectory).map(_.getName).toSet
      }
      assert(batchDirs == Set("batch=0", "batch=1"))
      // nothing acked: nothing reclaimable
      assert(mux.compactPayloads() == 0)
      // ack batch 0 everywhere; batch 1 (a's second chunk) stays pending
      mux.ack("a", mux.pendingChunks("a").head.chunkId)
      mux.ack("b", mux.pendingChunks("b").head.chunkId)
      assert(mux.compactPayloads() == 1, "exactly batch=0 is below every pending floor")
      assert(batchDirs == Set("batch=1"))
      val left = mux.pendingChunks("a")
      assert(left.size == 1 && left.head.resourceIds == Seq("p1"),
        "the pending chunk must still hydrate after retention")
      // ack the rest: the whole history is reclaimable, new batches still deliver
      mux.ack("a", left.head.chunkId)
      assert(mux.compactPayloads() == 1)
      assert(batchDirs.isEmpty)
      mux.emit(ResourceType.Project, EventType.All, "p2", RelationCtx())
      mux.processAllAvailable()
      assert(mux.pendingChunks("b").flatMap(_.resourceIds) == Seq("p2"))
    } finally mux.stop()
  }

  test("upgrade: per-group-layout chunks still pending hydrate after a restart onto the bucketed-only mux") {
    // Before the shared query wrote only the bucketed layout, a few-groups
    // mux (and the per-group in-memory engine) wrote `groupId=…/chunkId=…`
    // dirs. The per-group writer over the same ledger dir leaves exactly
    // that state behind: journaled metas whose payloads sit in per-group
    // dirs, one acked and one pending.
    val dir = java.nio.file.Files.createTempDirectory("graft-mux-upgrade").toString
    val oldTable = new DeliveryTable(spark, s"$dir/deliveries")
    val oldWal = new LedgerStore(dir)
    val s = spark
    import s.implicits._
    def oldChunk(seq: Long, subject: String, resourceId: String): String = {
      val chunkId = s"g-$seq"
      oldTable.writeMulti(Seq(("g", chunkId, subject, resourceId))
        .toDF("groupId", "chunkId", "subject", "resourceId"))
      oldWal.appendChunk(ChunkMeta("g", chunkId, seq, 1L,
        new java.sql.Timestamp(System.currentTimeMillis()), acked = false))
      chunkId
    }
    val acked = oldChunk(0L, "UPDATES.STORAGE._.p1._", "p1")
    oldChunk(1L, "UPDATES.STORAGE._.p1._.c1._", "c1")
    oldWal.appendAck("g", acked)
    assert(new java.io.File(s"$dir/deliveries/groupId=g").isDirectory,
      "test wiring: the pre-upgrade chunks must sit in the per-group layout")

    val mux = new MultiplexedDelivery(spark, ledgerDir = Some(dir))
    try {
      val restored = mux.pendingChunks("g")
      assert(restored.map(_.resourceIds) == Seq(Seq("c1")),
        s"the pending per-group chunk must hydrate after the restart: $restored")
      mux.addGroup("g", ResourceType.Project, "p1", Hierarchy(projectId = "p1"), true)
      mux.start()
      mux.emit(ResourceType.Collection, EventType.All, "c2", RelationCtx(project = "p1"))
      mux.processAllAvailable()
      assert(new java.io.File(s"$dir/deliveries/batches").isDirectory)
      val pending = mux.pendingChunks("g")
      assert(pending.map(_.resourceIds) == Seq(Seq("c1"), Seq("c2")),
        s"old per-group and new bucketed chunks must both hydrate, in batch order: $pending")
      assert(!pending.map(_.chunkId).contains(acked), "the acked chunk stays acked")
      assert(mux.deliveredChunks("g").map(_.chunkId).toSet ==
        (pending.map(_.chunkId) :+ acked).toSet,
        "history spans both layouts")
    } finally mux.stop()
  }

  test("a removed group's drop is journaled: after a restart its pending chunks are gone, retention reclaims, ids never repeat") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mux-drop").toString
    val mux1 = new MultiplexedDelivery(spark, ledgerDir = Some(dir))
    val oldIds = try {
      mux1.addGroup("a", ResourceType.Project, "p1", Hierarchy(projectId = "p1"), true)
      mux1.addGroup("g", ResourceType.Project, "p2", Hierarchy(projectId = "p2"), true)
      mux1.start()
      // batch 0 feeds both groups, batch 1 only g: g holds the highest id
      mux1.emit(ResourceType.Project, EventType.All, "p1", RelationCtx())
      mux1.emit(ResourceType.Project, EventType.All, "p2", RelationCtx())
      mux1.processAllAvailable()
      mux1.emit(ResourceType.Collection, EventType.All, "c2", RelationCtx(project = "p2"))
      mux1.processAllAvailable()
      mux1.pendingChunks("a").foreach(c => assert(mux1.ack("a", c.chunkId)))
      val ids = mux1.pendingChunks("g").map(_.chunkId)
      assert(ids.size == 2)
      mux1.removeGroup("g")
      ids
    } finally mux1.stop()

    def restartAndCheck(): MultiplexedDelivery = {
      val mux = new MultiplexedDelivery(spark, ledgerDir = Some(dir))
      assert(mux.pendingChunks("g").isEmpty,
        "a removed group's pending chunks must not come back after a restart")
      assert(mux.ledgerStats._2 == 0L, "nothing may stay pending")
      mux
    }
    val mux2 = restartAndCheck()
    assert(mux2.compactPayloads() == 2,
      "with the removed group forgotten, retention reclaims both batch dirs")
    mux2.compactLedger()
    val mux3 = restartAndCheck()
    try {
      // the floor keeps the epoch: a same-id re-create mints fresh ids
      mux3.addGroup("g", ResourceType.Project, "p2", Hierarchy(projectId = "p2"), true)
      mux3.start()
      mux3.emit(ResourceType.Collection, EventType.All, "c3", RelationCtx(project = "p2"))
      mux3.processAllAvailable()
      val fresh = mux3.pendingChunks("g")
      assert(fresh.map(_.resourceIds) == Seq(Seq("c3")))
      assert(fresh.map(_.chunkId).intersect(oldIds).isEmpty,
        s"a re-created group must not re-mint an old chunk id: ${fresh.map(_.chunkId)} vs $oldIds")
    } finally mux3.stop()
  }

  test("a same-id re-create does not see the removed group's history in the shared bucket files") {
    val mux = new MultiplexedDelivery(spark)
    try {
      mux.addGroup("g", ResourceType.Project, "p1", Hierarchy(projectId = "p1"), true)
      (0 until 70).foreach { i =>
        mux.addGroup(s"idle-$i", ResourceType.Collection, s"cx$i",
          Hierarchy(projectId = "p9", collectionId = s"cx$i"), true)
      }
      mux.start()
      mux.emit(ResourceType.Project, EventType.All, "p1", RelationCtx())
      mux.processAllAvailable()
      mux.pendingChunks("g").foreach(c => assert(mux.ack("g", c.chunkId)))
      assert(mux.deliveredChunks("g").flatMap(_.resourceIds) == Seq("p1"))

      mux.removeGroup("g")
      mux.addGroup("g", ResourceType.Project, "p1", Hierarchy(projectId = "p1"), true)
      assert(mux.deliveredChunks("g").isEmpty,
        "a re-created group must not list the removed group's chunks")
      mux.emit(ResourceType.Collection, EventType.All, "c1", RelationCtx(project = "p1"))
      mux.processAllAvailable()
      mux.pendingChunks("g").foreach(c => assert(mux.ack("g", c.chunkId)))
      assert(mux.deliveredChunks("g").flatMap(_.resourceIds) == Seq("c1"),
        "its own acked history still lists")
    } finally mux.stop()
  }

  /** Runs `body` in a fresh job group on this thread and counts the
    * Spark jobs it started. Listener events arrive in posting order, so
    * once a fence job submitted AFTER the body shows up, every job the
    * body started has been counted. */
  private def jobsStartedBy[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"pull-probe-${System.nanoTime()}"
    val started = new java.util.concurrent.atomic.AtomicInteger
    val fenced = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => started.incrementAndGet(); ()
          case Some(g) if g == s"$group-fence" => fenced.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "pull")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-fence", "fence")
      try spark.range(1).count() finally sc.clearJobGroup()
      assert(fenced.await(60, java.util.concurrent.TimeUnit.SECONDS), "fence job never reported")
      (out, started.get)
    } finally sc.removeSparkListener(listener)
  }

  test("a steady-state shared micro-batch runs no shuffle, the broadcast plus one job, and one file per bucket") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
    val dir = java.nio.file.Files.createTempDirectory("graft-mux-jobs").toString
    val mux = new MultiplexedDelivery(spark, ledgerDir = Some(dir))
    val sc = spark.sparkContext
    val fence = s"mux-fence-${System.nanoTime()}"
    val fenced = new java.util.concurrent.CountDownLatch(1)
    val jobsByBatch = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val batchStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val shuffleWrites = new java.util.concurrent.atomic.AtomicLong
    // micro-batch jobs carry their batch id as a local property; the
    // fence job, submitted after the batches, flushes the listener bus
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        if (props.exists(_.getProperty("spark.jobGroup.id") == fence)) fenced.countDown()
        else props.flatMap(p => Option(p.getProperty("streaming.sql.batchId"))).foreach { b =>
          jobsByBatch.merge(b, 1, (x, y) => x + y)
          e.stageIds.foreach(batchStages.add)
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (batchStages.contains(e.stageInfo.stageId))
          shuffleWrites.addAndGet(e.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten)
    }
    try {
      (0 until 8).foreach(i =>
        mux.addGroup(s"p$i", ResourceType.Project, s"p$i", Hierarchy(projectId = s"p$i"), true))
      mux.start()
      // the first trigger's one-off setup is not the steady state
      mux.emit(ResourceType.Project, EventType.All, "p0", RelationCtx())
      mux.processAllAvailable()
      sc.addSparkListener(listener)
      for (i <- 0 until 8; c <- 0 until 5)
        mux.emit(ResourceType.Collection, EventType.All, s"c$i-$c", RelationCtx(project = s"p$i"))
      mux.processAllAvailable()
      sc.setJobGroup(fence, "fence")
      try spark.range(1).count() finally sc.clearJobGroup()
      assert(fenced.await(60, java.util.concurrent.TimeUnit.SECONDS), "fence job never reported")
      (0 until 8).foreach(i => assert(mux.pendingChunks(s"p$i").flatMap(_.resourceIds).size ==
        (if (i == 0) 6 else 5), s"group p$i must receive its events"))

      import scala.jdk.CollectionConverters._
      val perBatch = jobsByBatch.asScala.toMap
      assert(perBatch.nonEmpty, "test wiring: no micro-batch job observed")
      assert(perBatch.values.forall(_ <= 2),
        s"a micro-batch may run the broadcast job plus one job, ran $perBatch")
      assert(shuffleWrites.get == 0, s"a micro-batch must not shuffle: ${shuffleWrites.get} records written")
      val bucketDirs = new java.io.File(s"$dir/deliveries/batches").listFiles()
        .filter(_.getName.startsWith("batch=")).flatMap(_.listFiles())
      assert(bucketDirs.nonEmpty && bucketDirs.forall(_.getName.startsWith("bucket=")))
      bucketDirs.foreach { b =>
        val files = b.listFiles().map(_.getName).filterNot(_.startsWith("."))
        assert(files.toSeq == Seq("part-00000.parquet"),
          s"${b.getName} must hold exactly one published parquet file: ${files.toSeq}")
      }
    } finally {
      sc.removeSparkListener(listener)
      mux.stop()
    }
  }

  test("a pull hydrates on the driver: no Spark job, in the per-group and the bucketed layout") {
    // the durable log writes a joining group's history in the per-group
    // layout, every shared batch the bucketed one
    for (bucketed <- Seq(false, true)) {
      val dir = java.nio.file.Files.createTempDirectory("graft-mux-nojob").toString
      val engine: ConsumerHost =
        if (bucketed) new MultiplexedDelivery(spark, ledgerDir = Some(dir))
        else new DurableEventLog(spark, s"$dir/log", dir)
      def register(): Unit = Seq("a", "b").foreach { g =>
        engine.addGroup(g, ResourceType.Project, "p1", Hierarchy(projectId = "p1"), true); ()
      }
      try {
        engine match {
          case mux: MultiplexedDelivery => register(); mux.start()
          case log: DurableEventLog => log.startIngest(); log.startMultiplexed()
        }
        engine.emit(ResourceType.Project, EventType.All, "p1", RelationCtx())
        engine.emit(ResourceType.Collection, EventType.All, "c1", RelationCtx(project = "p1"))
        engine.processAllAvailable()
        if (!bucketed) {
          // groups joining after the events get them as history with the
          // next shared batch
          register()
          engine.emit(ResourceType.Project, EventType.All, "p9", RelationCtx())
          engine.processAllAvailable()
        }
        val session = engine.openSession("a")
        assert(new java.io.File(s"$dir/deliveries/groupId=a").isDirectory != bucketed,
          s"test wiring: bucketed layout expected = $bucketed")
        val (pulled, jobs) = jobsStartedBy(engine.pull("a", session))
        assert(pulled.flatMap(_.resourceIds).toSet == Set("p1", "c1"),
          s"the pull must hydrate its payloads: $pulled")
        assert(jobs == 0, s"a pull must not run a Spark job (bucketed = $bucketed), ran $jobs")
      } finally engine.stop()
    }
  }
}
