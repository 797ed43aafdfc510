package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import graft.core._
import graft.streaming.{ConsumerHost, DurableEventLog, EngineMetrics, EventSession, MultiplexedDelivery}

/** End-to-end streaming flow, mirroring the reference's own integration
  * test (`/root/reference/src/e2e/tests.rs:108-277`): emit → subscribe →
  * deliver → ack, plus the arms the reference never tested (object
  * fan-out to groups, delete, at-least-once redelivery), on the
  * in-memory engine. MemoryStream + processAllAvailable stand in for
  * the live NATS broker. */
class EventEngineSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("graft-engine-spec")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def newEngine(security: EngineSecurity = EngineSecurity.Permissive) = {
    val engine = new MultiplexedDelivery(spark,
      trigger = Trigger.ProcessingTime("250 milliseconds"), security = security)
    engine.start()
    engine
  }

  test("e2e: project emit -> subtree subscription -> delivery -> ack (tests.rs:108-277)") {
    val engine = newEngine()
    try {
      // tests.rs:179-184 — group at project scope, include_subresource=true
      val g = engine.addGroup("group-1", ResourceType.Project, "project_id",
        Hierarchy(projectId = "project_id"), includeSubresources = true)
      assert(g.filterSubject == "UPDATES.STORAGE._.project_id.>")

      // tests.rs:154-161 — emit a Project event with empty relation
      engine.emit(ResourceType.Project, EventType.All, "project_id", RelationCtx())
      engine.processAllAvailable()

      val pending = engine.pendingChunks("group-1")
      assert(pending.nonEmpty, "at least one message must round-trip (tests.rs:274-276)")
      assert(pending.head.subjects == Seq("UPDATES.STORAGE._.project_id._"))
      assert(pending.head.resourceIds == Seq("project_id"))

      // ack clears the chunk (tests.rs:250-272)
      assert(engine.ack("group-1", pending.head.chunkId))
      assert(engine.pendingChunks("group-1").isEmpty)
    } finally engine.stop()
  }

  test("subject filtering isolates projects; exact groups ignore descendants") {
    val engine = newEngine()
    try {
      engine.addGroup("sub-p1", ResourceType.Project, "p1",
        Hierarchy(projectId = "p1"), includeSubresources = true)
      engine.addGroup("exact-p1", ResourceType.Project, "p1",
        Hierarchy(projectId = "p1"), includeSubresources = false)
      engine.addGroup("sub-p2", ResourceType.Project, "p2",
        Hierarchy(projectId = "p2"), includeSubresources = true)

      engine.emit(ResourceType.Project, EventType.All, "p1", RelationCtx())
      engine.emit(ResourceType.Collection, EventType.All, "c1", RelationCtx(project = "p1"))
      engine.emit(ResourceType.Project, EventType.All, "p2", RelationCtx())
      engine.processAllAvailable()

      def delivered(g: String): Seq[String] =
        engine.pendingChunks(g).flatMap(_.resourceIds)
      assert(delivered("sub-p1").toSet == Set("p1", "c1")) // subtree: project + its collection
      assert(delivered("exact-p1").toSet == Set("p1"))     // exact: project only
      assert(delivered("sub-p2").toSet == Set("p2"))       // isolation across projects
    } finally engine.stop()
  }

  test("object events fan out to object-group subscribers plus own subject (natsio.rs:104-127)") {
    val engine = newEngine()
    try {
      // group-scope subscription over object-group og1
      engine.addGroup("og-watchers", ResourceType.ObjectGroup, "og1",
        Hierarchy(projectId = "p", collectionId = "c", sharedObjectGroupId = "sg1"),
        includeSubresources = true)
      // object-scope subscription over the object itself
      engine.addGroup("obj-watcher", ResourceType.Object, "o1",
        Hierarchy(projectId = "p", collectionId = "c", sharedObjectId = "so1"),
        includeSubresources = false)

      engine.emit(ResourceType.Object, EventType.All, "o1",
        RelationCtx(project = "p", collection = "c", sharedObject = "so1",
          objectGroups = Seq("sg1")))
      engine.processAllAvailable()

      val ogSeen = engine.pendingChunks("og-watchers").flatMap(_.subjects)
      val objSeen = engine.pendingChunks("obj-watcher").flatMap(_.subjects)
      assert(ogSeen == Seq("UPDATES.STORAGE._.p._.c._.OBJECTGROUP._.sg1._.o1._"),
        "object event must reach its object-group's subscribers")
      assert(objSeen == Seq("UPDATES.STORAGE._.p._.c._.OBJECT._.so1._.o1._"),
        "object event must also reach its own subject")
    } finally engine.stop()
  }

  test("event-type gate: CREATED-only group ignores UPDATED events; ALL sees both") {
    val engine = newEngine()
    try {
      engine.addGroup("created-only", ResourceType.Project, "p",
        Hierarchy(projectId = "p"), includeSubresources = true,
        eventType = EventType.Created)
      engine.addGroup("all-events", ResourceType.Project, "p",
        Hierarchy(projectId = "p"), includeSubresources = true)

      engine.emit(ResourceType.Project, EventType.Created, "p", RelationCtx())
      engine.emit(ResourceType.Project, EventType.Updated, "p", RelationCtx())
      engine.processAllAvailable()

      // both events share subject UPDATES.STORAGE._.p._ — the gate is the
      // only thing separating the two groups, so delivery COUNT is the signal
      def nDelivered(g: String): Int =
        engine.pendingChunks(g).map(_.subjects.size).sum
      assert(nDelivered("created-only") == 1,
        "a CREATED-only group must never see UPDATED events")
      assert(nDelivered("all-events") == 2,
        "an ALL group sees every event type")
    } finally engine.stop()
  }

  test("authz: emit is token-gated like internal_event_server.rs:23-45") {
    val engine = newEngine(EngineSecurity(internalToken = Some("secret")))
    try {
      // missing header → unauthenticated (reference returns that status)
      intercept[UnauthenticatedException] {
        engine.emit(ResourceType.Project, EventType.All, "p", RelationCtx())
      }
      // wrong token → "bad token" permission denied
      intercept[PermissionDeniedException] {
        engine.emit(ResourceType.Project, EventType.All, "p", RelationCtx(),
          token = Some("wrong"))
      }
      // right token → accepted
      engine.emit(ResourceType.Project, EventType.All, "p", RelationCtx(),
        token = Some("secret"))
    } finally engine.stop()
  }

  test("authz: subscribe/attach require a Read grant (public_event_server.rs:74-100)") {
    // grants dimension: alice may read project p1 (and anything via the
    // wildcard row for the admin token); bob holds no grants
    val grants = spark.createDataFrame(Seq(
      ("alice-token", "PROJECT", "p1", "READ"),
      ("admin-token", "ALL", "*", "READ")))
      .toDF("token", "resource_type", "resource_id", "action")
    val engine = newEngine(EngineSecurity(authz = Some(AuthzProvider.fromGrants(grants))))
    try {
      // no token at all → unauthenticated, before any authz lookup
      intercept[UnauthenticatedException] {
        engine.addGroup("g0", ResourceType.Project, "p1",
          Hierarchy(projectId = "p1"), includeSubresources = true)
      }
      // bob: authenticated but no grant → permission denied
      intercept[PermissionDeniedException] {
        engine.addGroup("g0", ResourceType.Project, "p1",
          Hierarchy(projectId = "p1"), includeSubresources = true,
          token = Some("bob-token"))
      }
      assert(engine.listGroups.isEmpty, "denied subscribe must not register a group")
      // alice: direct grant; admin: wildcard grant on another project
      engine.addGroup("g1", ResourceType.Project, "p1",
        Hierarchy(projectId = "p1"), includeSubresources = true,
        token = Some("alice-token"))
      engine.addGroup("g2", ResourceType.Project, "p2",
        Hierarchy(projectId = "p2"), includeSubresources = true,
        token = Some("admin-token"))
      // attach re-authorizes (public_event_server.rs:249-301): alice has
      // no grant on p2, so attaching to g2 is denied even though it exists
      intercept[PermissionDeniedException] {
        engine.attach("g2", token = Some("alice-token"))
      }
      assert(engine.attach("g1", token = Some("alice-token")).id == "g1")
      // the gated flow still delivers end-to-end
      engine.emit(ResourceType.Project, EventType.All, "p1", RelationCtx())
      engine.processAllAvailable()
      assert(engine.pendingChunks("g1").flatMap(_.resourceIds) == Seq("p1"))
    } finally engine.stop()
  }

  test("at-least-once: unacked chunks stay pending; unknown acks are graceful") {
    val engine = newEngine()
    try {
      engine.addGroup("g", ResourceType.Project, "p",
        Hierarchy(projectId = "p"), includeSubresources = true)
      engine.emit(ResourceType.Project, EventType.All, "p", RelationCtx())
      engine.processAllAvailable()

      val before = engine.pendingChunks("g")
      assert(before.size == 1)
      // unknown ack id: reference panics (public_event_server.rs:368); we return false
      assert(!engine.ack("g", "no-such-chunk"))
      assert(engine.pendingChunks("g").size == 1, "unacked chunk must remain pending")
      // double-ack is idempotent
      assert(engine.ack("g", before.head.chunkId))
      assert(!engine.ack("g", before.head.chunkId))
    } finally engine.stop()
  }

  test("close stops delivery; attach resumes from the shared stream") {
    val engine = newEngine()
    try {
      engine.addGroup("g", ResourceType.Project, "p",
        Hierarchy(projectId = "p"), includeSubresources = true)
      engine.emit(ResourceType.Project, EventType.All, "p", RelationCtx())
      engine.processAllAvailable()
      assert(engine.deliveredChunks("g").size == 1)

      // R13 close flag: the group's last session leaves
      val session = new EventSession(engine)
      session.handle(EventSession.Init("g"))
      session.handle(EventSession.Close)
      assert(!session.isOpen)
      engine.attach("g") // R9 re-attach
      engine.emit(ResourceType.Project, EventType.All, "p", RelationCtx())
      engine.processAllAvailable()
      assert(engine.deliveredChunks("g").flatMap(_.resourceIds).size >= 2,
        "delivery resumes after re-attach")
    } finally engine.stop()
  }

  test("a re-attached group gets the events emitted while it had no session; no query dies") {
    // The reference's consumer keeps its position while no client is
    // attached (natsio.rs:150-186). A per-group query over the shared
    // memory source loses this: the other group's commits trim the
    // source, and the restarted query dies with "Offsets committed out
    // of order".
    val metrics = EngineMetrics.attach(spark)
    val engine = newEngine()
    try {
      engine.addGroup("g1", ResourceType.Project, "p1",
        Hierarchy(projectId = "p1"), includeSubresources = true)
      engine.addGroup("g2", ResourceType.Project, "p2",
        Hierarchy(projectId = "p2"), includeSubresources = true)
      val first = new EventSession(engine)
      first.handle(EventSession.Init("g2"))
      first.handle(EventSession.Close) // the last session on g2 leaves

      engine.emit(ResourceType.Collection, EventType.All, "lost1", RelationCtx(project = "p2"))
      (1 to 3).foreach { i =>
        engine.emit(ResourceType.Collection, EventType.All, s"h$i", RelationCtx(project = "p1"))
        engine.processAllAvailable()
      }
      val back = new EventSession(engine)
      val onInit = back.handle(EventSession.Init("g2"))
      assert(onInit.collect { case n: EventSession.Notification => n }
        .flatMap(_.chunk.resourceIds) == Seq("lost1"),
        s"the re-attached session must receive what was emitted while g2 was closed: $onInit")
      engine.emit(ResourceType.Collection, EventType.All, "after", RelationCtx(project = "p2"))
      engine.processAllAvailable()
      assert(engine.deliveredChunks("g2").flatMap(_.resourceIds) == Seq("lost1", "after"))
      assert(engine.deliveredChunks("g1").flatMap(_.resourceIds) == Seq("h1", "h2", "h3"))
      assert(spark.streams.active.map(_.name).toSeq == Seq("multiplexed-delivery"),
        "the one delivery query must still run")
      assert(spark.streams.active.forall(_.exception.isEmpty))
      assert(metrics.failures.isEmpty, s"no query may have died: ${metrics.failures}")
    } finally {
      engine.stop()
      spark.streams.removeListener(metrics)
    }
  }

  test("a group added after processed batches is from-now-on: exactly the events emitted after it registered") {
    val engine = newEngine()
    try {
      engine.addGroup("g1", ResourceType.Project, "p1",
        Hierarchy(projectId = "p1"), includeSubresources = true)
      (1 to 3).foreach { i =>
        engine.emit(ResourceType.Collection, EventType.All, s"h$i", RelationCtx(project = "p1"))
        engine.processAllAvailable()
      }
      engine.addGroup("late", ResourceType.Project, "p1",
        Hierarchy(projectId = "p1"), includeSubresources = true)
      engine.emit(ResourceType.Collection, EventType.All, "n1", RelationCtx(project = "p1"))
      engine.processAllAvailable()
      assert(engine.deliveredChunks("late").flatMap(_.resourceIds) == Seq("n1"),
        "a late group gets neither the history before it nor a trimmed part of it")
      assert(engine.deliveredChunks("g1").flatMap(_.resourceIds) == Seq("h1", "h2", "h3", "n1"))
    } finally engine.stop()
  }

  test("delete removes group, query and ledger (R14 — reference left it todo!())") {
    val engine = newEngine()
    try {
      engine.addGroup("g", ResourceType.Project, "p",
        Hierarchy(projectId = "p"), includeSubresources = false)
      engine.emit(ResourceType.Project, EventType.All, "p", RelationCtx())
      engine.processAllAvailable()
      engine.removeGroup("g")
      assert(engine.listGroups.isEmpty)
      assert(engine.deliveredChunks("g").isEmpty)
      intercept[NoSuchElementException](engine.attach("g"))
    } finally engine.stop()
  }

  test("multi-hierarchy group: union of matchers, a doubly-matched message delivers once (R7 completion)") {
    // The reference truncates to hierarchies[0] and errors on empty
    // (public_event_server.rs:145-152); the completed arm compiles one
    // filter subject PER hierarchy. A collection that sits under a
    // project ALSO watched by the same group (overlapping matchers)
    // must still deliver each message exactly once.
    val engine = newEngine()
    try {
      intercept[IllegalArgumentException](
        engine.addGroupMulti("empty", ResourceType.Collection, "cX",
          Seq.empty, includeSubresources = true))
      val g = engine.addGroupMulti("multi", ResourceType.Collection, "c1",
        Seq(Hierarchy(projectId = "p1", collectionId = "c1"),
            Hierarchy(projectId = "p2", collectionId = "c1")),
        includeSubresources = true)
      assert(g.filterSubjects == Seq(
        "UPDATES.STORAGE._.p1._.c1.>", "UPDATES.STORAGE._.p2._.c1.>"))

      // one event under each hierarchy + one unrelated
      engine.emit(ResourceType.Collection, EventType.All, "c1", RelationCtx(project = "p1"))
      engine.emit(ResourceType.Collection, EventType.All, "c1", RelationCtx(project = "p2"))
      engine.emit(ResourceType.Collection, EventType.All, "c9", RelationCtx(project = "p3"))
      engine.processAllAvailable()
      val got = engine.pendingChunks("multi").flatMap(_.subjects)
      assert(got.toSet == Set(
        "UPDATES.STORAGE._.p1._.c1._", "UPDATES.STORAGE._.p2._.c1._"),
        s"the union must see both hierarchies and nothing else: $got")
      assert(got.size == 2, "no duplicate delivery across matchers")

      // overlapping matchers: project subtree ⊇ collection subtree —
      // a message matching BOTH still delivers once (the OR filter)
      val o = engine.addGroupMulti("overlap", ResourceType.Project, "p1",
        Seq(Hierarchy(projectId = "p1")), includeSubresources = true)
      engine.attach("overlap")
      val g2 = engine.addGroupMulti("overlap2", ResourceType.Collection, "c2",
        Seq(Hierarchy(projectId = "p1", collectionId = "c2"),
            Hierarchy(projectId = "p1", collectionId = "c2")), // duplicate chain
        includeSubresources = true)
      assert(g2.filterSubjects.size == 1, "duplicate hierarchies collapse")
      assert(o.filterSubjects.size == 1)
      engine.emit(ResourceType.Collection, EventType.All, "c2", RelationCtx(project = "p1"))
      engine.processAllAvailable()
      val ov = engine.pendingChunks("overlap2").flatMap(_.resourceIds)
      assert(ov == Seq("c2"), s"once, not per-matcher: $ov")
    } finally engine.stop()
  }

  test("emit validation: empty ids and unpublishable resource types are rejected") {
    // one shared validation in the core: every engine rejects the same
    // events (ALL/UNSPECIFIED publish nothing; a relation id carrying a
    // subject metacharacter would mint a subject foreign filters match)
    val tmp = java.nio.file.Files.createTempDirectory("graft-emit-validation")
    val engines: Seq[(String, ConsumerHost)] = Seq(
      "multiplexed" -> newEngine(),
      "durable" -> new DurableEventLog(spark, s"$tmp/log", s"$tmp/ckpt"))
    val rejected: Seq[(ResourceType, String, RelationCtx)] = Seq(
      (ResourceType.Project, "", RelationCtx()),
      (ResourceType.All, "x", RelationCtx()),
      (ResourceType.Unspecified, "x", RelationCtx()),
      (ResourceType.Collection, "c1", RelationCtx(project = "p2.x")),
      (ResourceType.Collection, "c1", RelationCtx(project = "p*")),
      (ResourceType.Object, "o1", RelationCtx(project = "p", collection = "c>")),
      (ResourceType.Object, "o1", RelationCtx(project = "p", collection = "c",
        objectGroups = Seq("g.1"))))
    try engines.foreach { case (name, engine) =>
      rejected.foreach { case (rt, id, rel) =>
        withClue(s"$name engine, $rt '$id' $rel: ") {
          intercept[IllegalArgumentException](engine.emit(rt, EventType.All, id, rel))
        }
      }
      engine.emit(ResourceType.Collection, EventType.All, "c1", RelationCtx(project = "p2"))
    } finally engines.foreach(_._2.stop())
  }
}
