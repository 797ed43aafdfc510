package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import graft.core._
import graft.streaming.{EventSession, MultiplexedDelivery}
import graft.streaming.EventSession._

/** The R13 bidi protocol (public_event_server.rs:192-446): init-first
  * enforcement, ack round-trips with pending re-delivery, the error
  * channel, close/re-attach, and the attach-time authz re-check. */
class EventSessionSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("graft-session-spec")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def newEngine(security: EngineSecurity = EngineSecurity.Permissive,
                        ackWaitMillis: Long = 30000L,
                        clock: () => Long = () => System.currentTimeMillis(),
                        ledgerDir: Option[String] = None) = {
    val engine = new MultiplexedDelivery(spark, Trigger.ProcessingTime("250 milliseconds"),
      ledgerDir = ledgerDir, security = security, ackWaitMillis = ackWaitMillis, clock = clock)
    engine.start()
    engine
  }

  test("protocol: ack before init is rejected; init binds; acks settle; close stops") {
    val engine = newEngine()
    val session = new EventSession(engine)
    try {
      engine.addGroup("g", ResourceType.Project, "p",
        Hierarchy(projectId = "p"), includeSubresources = true)
      engine.emit(ResourceType.Project, EventType.All, "p", RelationCtx())
      engine.processAllAvailable()

      // reference: "an init message needs to be send before any ack message"
      intercept[IllegalStateException] { session.handle(Ack(Seq("x"))) }
      // init on an unknown group fails pre-session (reference :249-270)
      intercept[NoSuchElementException] {
        new EventSession(engine).handle(Init("nope"))
      }

      val onInit = session.handle(Init("g"))
      val notes = onInit.collect { case n: Notification => n }
      assert(notes.size == 1, s"init must replay pending chunks, got $onInit")

      // ack the chunk: nothing pending afterwards
      val afterAck = session.handle(Ack(notes.map(_.chunk.chunkId)))
      assert(afterAck.isEmpty)

      // double-ack flows through the ERROR CHANNEL, not an exception
      val errs = session.handle(Ack(notes.map(_.chunk.chunkId)))
      assert(errs.collect { case e: SessionError => e }.size == 1)

      session.handle(Close)
      assert(!session.isOpen)
      // a fresh session re-attaches and resumes (close kept state)
      val s2 = new EventSession(engine)
      assert(s2.handle(Init("g")).isEmpty, "acked chunk must not be re-served")
    } finally engine.stop()
  }

  test("ack-wait: in-flight chunk is not re-offered until the deadline, then redelivers with the same chunkId") {
    // manual clock: the spec drives the ack-wait deadline deterministically
    @volatile var now = 0L
    val engine = newEngine(ackWaitMillis = 1000L, clock = () => now)
    val session = new EventSession(engine)
    try {
      engine.addGroup("g", ResourceType.Project, "p",
        Hierarchy(projectId = "p"), includeSubresources = true)
      engine.emit(ResourceType.Project, EventType.All, "p", RelationCtx())
      engine.processAllAvailable()

      val first = session.handle(Init("g")).collect { case n: Notification => n }
      assert(first.size == 1)
      val chunkId = first.head.chunk.chunkId

      // silent client: an empty ack is a pull — within the ack-wait the
      // chunk is in flight and must NOT be re-offered
      assert(session.handle(Ack(Seq.empty)).isEmpty,
        "in-flight chunk re-offered before its ack-wait expired")

      // clock advance past the deadline: same chunk, same chunkId, no
      // restart — JetStream's automatic redelivery (handler.rs:21-25)
      now += 1500L
      val again = session.handle(Ack(Seq.empty)).collect { case n: Notification => n }
      assert(again.map(_.chunk.chunkId) == Seq(chunkId),
        s"expected redelivery of $chunkId, got $again")
      assert(engine.dispatcher.deliveries("g", chunkId) == 2,
        "delivery count must be monotone across redeliveries")

      // a real ack settles it: no redelivery however long the clock runs
      assert(session.handle(Ack(Seq(chunkId))).isEmpty)
      now += 60000L
      assert(session.handle(Ack(Seq.empty)).isEmpty)
    } finally engine.stop()
  }

  test("competing consumers: sessions on one group get disjoint chunks; a dead session's chunk fails over") {
    val engine = newEngine()
    val s1 = new EventSession(engine)
    val s2 = new EventSession(engine)
    try {
      engine.addGroup("g", ResourceType.Project, "p",
        Hierarchy(projectId = "p"), includeSubresources = true)
      engine.emit(ResourceType.Project, EventType.All, "p", RelationCtx())
      engine.processAllAvailable()

      val got1 = s1.handle(Init("g")).collect { case n: Notification => n }
      assert(got1.size == 1)
      // chunk is in flight to s1: the second consumer must NOT see it
      assert(s2.handle(Init("g")).isEmpty,
        "a chunk in flight to a live session was offered to a second session")

      // next chunk goes to whoever pulls first — s2 here; s1 must not
      // also receive it (disjoint delivery)
      engine.emit(ResourceType.Project, EventType.All, "p", RelationCtx())
      engine.processAllAvailable()
      val got2 = s2.handle(Ack(Seq.empty)).collect { case n: Notification => n }
      assert(got2.size == 1)
      assert(got2.map(_.chunk.chunkId) != got1.map(_.chunk.chunkId))
      assert(s1.handle(Ack(Seq.empty)).isEmpty, "chunk claimed by s2 re-offered to s1")

      // s1 dies without acking: its chunk fails over to the survivor,
      // same chunkId — and the shared query keeps running for s2
      s1.handle(Close)
      val failedOver = s2.handle(Ack(Seq.empty)).collect { case n: Notification => n }
      assert(failedOver.map(_.chunk.chunkId) == got1.map(_.chunk.chunkId),
        s"dead session's unacked chunk must fail over, got $failedOver")
      assert(s2.isOpen)
    } finally engine.stop()
  }

  test("session pull batch: maxBatch bounds each reply; the remainder arrives on the next round-trip") {
    val engine = newEngine()
    val session = new EventSession(engine, maxBatch = 1)
    try {
      engine.addGroup("g", ResourceType.Project, "p",
        Hierarchy(projectId = "p"), includeSubresources = true)
      (1 to 2).foreach { _ =>
        engine.emit(ResourceType.Project, EventType.All, "p", RelationCtx())
        engine.processAllAvailable()
      }
      val first = session.handle(Init("g")).collect { case n: Notification => n }
      assert(first.size == 1, s"maxBatch=1 must bound the init reply: $first")
      val second = session.handle(Ack(first.map(_.chunk.chunkId)))
        .collect { case n: Notification => n }
      assert(second.size == 1 && second.head.chunk.chunkId != first.head.chunk.chunkId)
    } finally engine.stop()
  }

  test("WAL-backed engine: pending chunks, acks, and flight counts survive a restart") {
    val dir = java.nio.file.Files.createTempDirectory("graft-engine-wal").toString
    @volatile var now = 0L
    val e1 = newEngine(ackWaitMillis = 1000L, clock = () => now, ledgerDir = Some(dir))
    try {
      e1.addGroup("g", ResourceType.Project, "p",
        Hierarchy(projectId = "p"), includeSubresources = true)
      e1.emit(ResourceType.Project, EventType.All, "p", RelationCtx())
      e1.processAllAvailable()
      e1.emit(ResourceType.Collection, EventType.All, "c", RelationCtx(project = "p"))
      e1.processAllAvailable()
      val pend = e1.pendingChunks("g")
      assert(pend.size == 2)
      // offer one chunk to a session (journals the flight), ack the other
      val s1 = e1.dispatcher.newSessionId()
      e1.dispatcher.openSession("g", s1)
      val got = e1.pull("g", s1, max = 1)
      assert(got.size == 1)
      val other = pend.map(_.chunkId).filterNot(_ == got.head.chunkId).head
      assert(e1.ack("g", other))
    } finally e1.stop()

    // restart over the same WAL: acked stays acked; the offered-but-
    // unacked chunk is immediately offerable (dead owner) and its
    // delivery count continues from the journaled flight.
    val e2 = newEngine(ackWaitMillis = 1000L, clock = () => now, ledgerDir = Some(dir))
    try {
      val s2 = e2.dispatcher.newSessionId()
      e2.dispatcher.openSession("g", s2)
      val re = e2.pull("g", s2)
      assert(re.size == 1, s"only the unacked chunk must survive: $re")
      assert(e2.dispatcher.deliveries("g", re.head.chunkId) == 2,
        "delivery count must continue across the restart")
    } finally e2.stop()
  }

  test("pull batch bound: max chunks per pull, remainder left for competing sessions") {
    val engine = newEngine()
    try {
      engine.addGroup("g", ResourceType.Project, "p",
        Hierarchy(projectId = "p"), includeSubresources = true)
      (1 to 3).foreach { _ =>
        engine.emit(ResourceType.Project, EventType.All, "p", RelationCtx())
        engine.processAllAvailable() // one chunk per drained micro-batch
      }
      assert(engine.pendingChunks("g").size == 3)
      val (s1, s2) = (engine.dispatcher.newSessionId(), engine.dispatcher.newSessionId())
      engine.dispatcher.openSession("g", s1)
      engine.dispatcher.openSession("g", s2)
      val a = engine.pull("g", s1, max = 2)
      val b = engine.pull("g", s2, max = 2)
      assert(a.size == 2 && b.size == 1, s"batch bound must split 3 chunks 2+1: ${(a, b)}")
      assert((a.map(_.chunkId).toSet & b.map(_.chunkId).toSet).isEmpty)
    } finally engine.stop()
  }

  test("ack ownership: a session cannot settle a chunk in valid flight to a competitor") {
    val engine = newEngine()
    val s1 = new EventSession(engine)
    val s2 = new EventSession(engine)
    try {
      engine.addGroup("g", ResourceType.Project, "p",
        Hierarchy(projectId = "p"), includeSubresources = true)
      engine.emit(ResourceType.Project, EventType.All, "p", RelationCtx())
      engine.processAllAvailable()

      val got = s1.handle(Init("g")).collect { case n: Notification => n }
      assert(got.size == 1)
      val chunkId = got.head.chunk.chunkId
      assert(s2.handle(Init("g")).isEmpty)

      // JetStream rejects acks for deliveries a client does not hold:
      // the foreign ack flows through the error channel and must NOT
      // settle the holder's flight
      val errs = s2.handle(Ack(Seq(chunkId))).collect { case e: SessionError => e }
      assert(errs.size == 1 && errs.head.message.contains("in flight to another session"))
      assert(engine.dispatcher.flight("g", chunkId).isDefined,
        "foreign ack must not settle the holder's flight")

      // the holder's own ack still settles normally
      assert(s1.handle(Ack(Seq(chunkId))).isEmpty)
      assert(engine.dispatcher.flight("g", chunkId).isEmpty)
    } finally engine.stop()
  }

  test("attach-time authz re-check applies inside the session protocol") {
    val grants = spark.createDataFrame(Seq(("alice", "PROJECT", "p", "READ")))
      .toDF("token", "resource_type", "resource_id", "action")
    val engine = newEngine(EngineSecurity(authz = Some(AuthzProvider.fromGrants(grants))))
    val session = new EventSession(engine)
    try {
      engine.addGroup("g", ResourceType.Project, "p",
        Hierarchy(projectId = "p"), includeSubresources = true,
        token = Some("alice"))
      intercept[PermissionDeniedException] {
        session.handle(Init("g", token = Some("mallory")))
      }
      assert(!session.isOpen)
      assert(session.handle(Init("g", token = Some("alice"))).isEmpty)
      assert(session.isOpen)
    } finally engine.stop()
  }
}
