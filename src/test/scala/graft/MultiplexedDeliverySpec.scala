package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.SparkSession
import graft.core._
import graft.streaming.MultiplexedDelivery

/** The multiplexed (one-query-for-all-groups) delivery path: same
  * semantics as the per-group engine, dynamic group add/remove without
  * query restarts. */
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

  test("many-groups churn: create/delete between batches with competing consumers stays correct") {
    // 71 groups: past the bucketed-layout threshold, so this also
    // exercises the bucketed write end-to-end, not just its unit test.
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

  test("writeWidth: per-group write splits and exchange width track the batch estimate") {
    import graft.streaming.ConsumerHost.writeWidth
    // empty or unknown-small estimate: one file per group, never the cap
    assert(writeWidth(0L, 4, 32) == ((1, 8)))
    assert(writeWidth(-5L, 4, 32) == ((1, 8)))
    // small delta: one split; exchange = 2 × groups × splits
    assert(writeWidth(1000L, 4, 32) == ((1, 8)))
    // large delta: ~32k rows per file per group, under the cap
    assert(writeWidth(4L * 3 * 32768L, 4, 32) == ((4, 32)))
    assert(writeWidth(2L * 32768L, 2, 64) == ((2, 8)))
    // capped: splits never exceed parts / groups, width never parts
    assert(writeWidth(Long.MaxValue, 4, 32) == ((8, 32)))
    assert(writeWidth(Long.MaxValue, 5, 4) == ((1, 4)))
    // no groups counts as one; more groups than partitions → 1 split
    assert(writeWidth(Long.MaxValue, 0, 4) == ((4, 4)))
    assert(writeWidth(10000000L, 100, 8) == ((1, 8)))
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
    // Force the bucketed layout at ANY group count (bucketedMinGroups=1)
    // and run the full engine surface over it: filtered delivery, pull/
    // ack, mid-stream churn, and a WAL restart whose restored metas
    // hydrate from the bucketed batch dirs.
    val dir = java.nio.file.Files.createTempDirectory("graft-mux-bucketed").toString
    val mux1 = new MultiplexedDelivery(spark, ledgerDir = Some(dir),
      bucketedMinGroups = 1)
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
        "no per-group dirs in the bucketed regime")

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
    val mux2 = new MultiplexedDelivery(spark, ledgerDir = Some(dir),
      bucketedMinGroups = 1)
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
      bucketedMinGroups = 1, payloadRetentionEvery = 2)
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
    val mux = new MultiplexedDelivery(spark, ledgerDir = Some(dir),
      bucketedMinGroups = 1)
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

  test("layout regimes deliver identical chunks, and a regime switch mid-stream stays readable") {
    def runWith(threshold: Int): Map[String, Seq[(String, Long)]] = {
      val mux = new MultiplexedDelivery(spark, bucketedMinGroups = threshold)
      try {
        mux.addGroup("t1", ResourceType.Project, "p1", Hierarchy(projectId = "p1"), true)
        mux.addGroup("t2", ResourceType.Collection, "c1",
          Hierarchy(projectId = "p1", collectionId = "c1"), true)
        mux.start()
        mux.emit(ResourceType.Project, EventType.All, "p1", RelationCtx())
        mux.emit(ResourceType.Collection, EventType.All, "c1", RelationCtx(project = "p1"))
        mux.processAllAvailable()
        mux.emit(ResourceType.Object, EventType.All, "o1",
          RelationCtx(project = "p1", collection = "c1", sharedObject = "s1",
            objectGroups = Seq("g1")))
        mux.processAllAvailable()
        Seq("t1", "t2").map { g =>
          g -> mux.pendingChunks(g).map(c => (c.resourceIds.sorted.mkString(","),
            c.resourceIds.size.toLong))
        }.toMap
      } finally mux.stop()
    }
    assert(runWith(Int.MaxValue) == runWith(1),
      "per-group and bucketed layouts must deliver identical chunks")

    // regime switch mid-stream: start under the threshold (per-group
    // layout), register groups past it (bucketed layout) — chunks from
    // BOTH must keep hydrating for the same group.
    val mux = new MultiplexedDelivery(spark, bucketedMinGroups = 3)
    try {
      mux.addGroup("g0", ResourceType.Project, "p1", Hierarchy(projectId = "p1"), true)
      mux.start()
      mux.emit(ResourceType.Project, EventType.All, "p1", RelationCtx())
      mux.processAllAvailable() // per-group layout (1 group < 3)
      mux.addGroup("g1", ResourceType.Project, "p1", Hierarchy(projectId = "p1"), true)
      mux.addGroup("g2", ResourceType.Project, "p1", Hierarchy(projectId = "p1"), true)
      mux.emit(ResourceType.Collection, EventType.All, "c7", RelationCtx(project = "p1"))
      mux.processAllAvailable() // bucketed layout (3 groups >= 3)
      val got = mux.pendingChunks("g0")
      assert(got.size == 2 &&
        got.flatMap(_.resourceIds).toSet == Set("p1", "c7"),
        s"chunks across the layout switch must all hydrate: $got")
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

  test("a pull hydrates on the driver: no Spark job, in the per-group and the bucketed layout") {
    // threshold MaxValue keeps the per-group layout; 2 groups >= 2 puts
    // every batch in the bucketed layout
    for ((threshold, bucketed) <- Seq((Int.MaxValue, false), (2, true))) {
      val dir = java.nio.file.Files.createTempDirectory("graft-mux-nojob").toString
      val mux = new MultiplexedDelivery(spark, ledgerDir = Some(dir),
        bucketedMinGroups = threshold)
      try {
        mux.addGroup("a", ResourceType.Project, "p1", Hierarchy(projectId = "p1"), true)
        mux.addGroup("b", ResourceType.Project, "p1", Hierarchy(projectId = "p1"), true)
        mux.start()
        mux.emit(ResourceType.Project, EventType.All, "p1", RelationCtx())
        mux.emit(ResourceType.Collection, EventType.All, "c1", RelationCtx(project = "p1"))
        mux.processAllAvailable()
        assert(new java.io.File(s"$dir/deliveries/batches").isDirectory == bucketed,
          s"test wiring: bucketed layout expected = $bucketed")
        val session = mux.openSession("a")
        val (pulled, jobs) = jobsStartedBy(mux.pull("a", session))
        assert(pulled.flatMap(_.resourceIds).toSet == Set("p1", "c1"),
          s"the pull must hydrate its payloads: $pulled")
        assert(jobs == 0, s"a pull must not run a Spark job (bucketed = $bucketed), ran $jobs")
      } finally mux.stop()
    }
  }
}
