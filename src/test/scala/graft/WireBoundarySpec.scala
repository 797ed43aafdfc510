package graft

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import graft.core._
import graft.streaming.{MultiplexedDelivery, WireClient, WireServer}
import graft.streaming.WireProtocol
import graft.streaming.WireProtocol._

/** The wire-facing boundary (WireServer/WireClient/WireProtocol):
  * golden proto3 bytes, codec round-trips, and the reference's e2e flow
  * (e2e/tests.rs:108-277) driven over REAL localhost sockets — create
  * group, emit, pull-notify, ack, competing consumers, client-drop
  * failover, and the pre-session error paths the reference returns as
  * gRPC statuses (public_event_server.rs:249-270). */
class WireBoundarySpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("graft-wire-spec")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  // ---- codec layer --------------------------------------------------

  test("golden bytes: Init encodes as prost would (oneof arm 1, nested strings)") {
    // WireRequest{ init: Init{ stream_group_id: "g1", token: "tok" } }
    // inner: 0x0A 0x02 'g' '1'  |  0x12 0x03 't' 'o' 'k'   (9 bytes)
    // outer: 0x0A 0x09 <inner>
    val expected = Array[Byte](0x0A, 0x09, 0x0A, 0x02) ++
      "g1".getBytes("UTF-8") ++ Array[Byte](0x12, 0x03) ++ "tok".getBytes("UTF-8")
    assert(encodeRequest(Init("g1", Some("tok"))).sameElements(expected))
  }

  test("golden bytes: empty oneof arms keep presence as tag + length 0") {
    assert(encodeRequest(Close).sameElements(Array[Byte](0x1A, 0x00)))  // field 3
    assert(encodeRequest(Poll).sameElements(Array[Byte](0x3A, 0x00)))   // field 7
    assert(encodeResponse(Ok).sameElements(Array[Byte](0x1A, 0x00)))    // field 3
  }

  test("request and response codecs round-trip every arm") {
    val reqs: Seq[WireRequest] = Seq(
      Init("group-1"), Init("group-1", Some("secret")),
      Ack(Seq.empty), Ack(Seq("c1", "c2", "c3")),
      Close, Poll,
      CreateGroup("g", "PROJECT", "p1",
        Hierarchy(projectId = "p1", collectionId = "c1", objectId = "o1"),
        includeSub = true, "ALL", Some("tok")),
      CreateGroup("g2", "OBJECT", "o9", Hierarchy(), includeSub = false, ""),
      // repeated hierarchies (the reference request's plural field):
      // every extra element is one more field-4 occurrence
      CreateGroup("g3", "COLLECTION", "c1",
        Hierarchy(projectId = "p1", collectionId = "c1"), includeSub = true, "ALL",
        None, Seq(Hierarchy(projectId = "p2", collectionId = "c1"))),
      DeleteGroup("g"),
      Emit("PROJECT", "CREATED", "p1",
        RelationCtx(project = "p1", objectGroups = Seq("og1", "og2")), Some("t")))
    reqs.foreach(r => assert(decodeRequest(encodeRequest(r)) == r, s"round-trip $r"))

    val resps: Seq[WireResponse] = Seq(
      Notification("g", "chunk-0", 3L, Seq("s1", "s2"), Seq("r1", "r2")),
      Notification("g", "c", 0L, Seq.empty, Seq.empty),
      WireError("boom"), Ok)
    resps.foreach(r => assert(decodeResponse(encodeResponse(r)) == r, s"round-trip $r"))
  }

  test("frames round-trip over a stream boundary") {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    WireProtocol.writeFrame(out, encodeRequest(Init("g")))
    WireProtocol.writeFrame(out, encodeRequest(Poll))
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bos.toByteArray))
    assert(decodeRequest(WireProtocol.readFrame(in).get) == Init("g"))
    assert(decodeRequest(WireProtocol.readFrame(in).get) == Poll)
    assert(WireProtocol.readFrame(in).isEmpty, "clean EOF at a frame boundary is None")
  }

  // ---- live socket layer --------------------------------------------

  private def newEngine(security: EngineSecurity = EngineSecurity.Permissive) = {
    val engine = new MultiplexedDelivery(spark,
      trigger = Trigger.ProcessingTime("250 milliseconds"), security = security)
    engine.start()
    engine
  }

  private def withServer(f: (MultiplexedDelivery, WireServer) => Unit): Unit = {
    val engine = newEngine()
    val server = WireServer(engine)
    try f(engine, server)
    finally { server.stop(); engine.stop() }
  }

  private def connect(server: WireServer) = new WireClient("127.0.0.1", server.boundPort)

  private def pollUntil(c: WireClient, engine: MultiplexedDelivery,
                        atLeast: Int = 1, tries: Int = 40): Seq[Notification] = {
    var got = Seq.empty[Notification]
    var n = 0
    while (got.size < atLeast && n < tries) {
      engine.processAllAvailable()
      got = got ++ c.notifications(c.call(Poll))
      if (got.size < atLeast) Thread.sleep(50)
      n += 1
    }
    got
  }

  test("e2e over sockets: create -> emit -> notify -> ack (tests.rs:108-277 shape)") {
    withServer { (engine, server) =>
      val c = connect(server)
      try {
        assert(c.call(CreateGroup("group-1", "PROJECT", "project_id",
          Hierarchy(projectId = "project_id"), includeSub = true, "ALL")).isEmpty)
        assert(c.call(Emit("PROJECT", "ALL", "project_id", RelationCtx())).isEmpty)
        // an init reply may already carry chunks (they then sit in
        // flight to this session and will NOT be re-offered on polls)
        val onInit = c.notifications(c.call(Init("group-1")))
        val chunks = if (onInit.nonEmpty) onInit else pollUntil(c, engine)
        assert(chunks.nonEmpty, "at least one notification must round-trip the wire")
        assert(chunks.head.subjects == Seq("UPDATES.STORAGE._.project_id._"))
        assert(chunks.head.resourceIds == Seq("project_id"))
        // ack settles; subsequent polls stay empty
        assert(c.errors(c.call(Ack(chunks.map(_.chunkId)))).isEmpty)
        engine.processAllAvailable()
        assert(c.notifications(c.call(Poll)).isEmpty)
        assert(c.call(WireProtocol.Close).isEmpty)
      } finally c.disconnect()
    }
  }

  test("e2e: a multi-hierarchy create over the wire delivers the union once per message") {
    withServer { (engine, server) =>
      val c = connect(server)
      try {
        // two ancestor chains -> two filter subjects through ONE group
        // (the arm the reference truncates to hierarchies[0])
        assert(c.call(CreateGroup("mh", "COLLECTION", "c1",
          Hierarchy(projectId = "p1", collectionId = "c1"), includeSub = true, "ALL",
          None, Seq(Hierarchy(projectId = "p2", collectionId = "c1")))).isEmpty)
        assert(c.call(Emit("COLLECTION", "ALL", "c1", RelationCtx(project = "p1"))).isEmpty)
        assert(c.call(Emit("COLLECTION", "ALL", "c1", RelationCtx(project = "p2"))).isEmpty)
        assert(c.call(Emit("COLLECTION", "ALL", "c9", RelationCtx(project = "p3"))).isEmpty)
        val onInit = c.notifications(c.call(Init("mh")))
        val chunks = if (onInit.nonEmpty) onInit else pollUntil(c, engine)
        val subjects = chunks.flatMap(_.subjects)
        assert(subjects.toSet == Set(
          "UPDATES.STORAGE._.p1._.c1._", "UPDATES.STORAGE._.p2._.c1._")
          && subjects.size == 2,
          s"both hierarchies, each message once, nothing else: $subjects")
        assert(c.call(WireProtocol.Close).isEmpty)
      } finally c.disconnect()
    }
  }

  test("pre-session failures arrive as error frames, connection stays usable") {
    withServer { (engine, server) =>
      val c = connect(server)
      try {
        // ack before init — the reference's invalid_argument status
        val e1 = c.errors(c.call(Ack(Seq("c0"))))
        assert(e1.exists(_.contains("init message")), s"got $e1")
        // init on an unknown group — pre-session throw becomes an error frame
        val e2 = c.errors(c.call(Init("nope")))
        assert(e2.nonEmpty)
        // the same connection can still init a real group afterwards
        c.call(CreateGroup("g2", "PROJECT", "p9",
          Hierarchy(projectId = "p9"), includeSub = false, "ALL"))
        assert(c.errors(c.call(Init("g2"))).isEmpty)
      } finally c.disconnect()
    }
  }

  test("token gates hold over the wire: internal emit + public attach (R1/R8)") {
    // the reference splits these across its internal and public servers
    // (internal_event_server.rs:23-45; public_event_server.rs:56-100) —
    // same gates, same engine, exercised through socket frames, token
    // in-message (transport divergence documented in WireProtocol)
    val engine = newEngine(EngineSecurity(internalToken = Some("secret"),
      authz = Some(AuthzProvider.AllowAll)))
    val server = WireServer(engine)
    try {
      val c = connect(server)
      try {
        // create needs a token under AllowAll (missing token rejected)
        val e0 = c.errors(c.call(CreateGroup("tg", "PROJECT", "p1",
          Hierarchy(projectId = "p1"), includeSub = true, "ALL")))
        assert(e0.exists(_.contains("authentication header")), s"got $e0")
        assert(c.errors(c.call(CreateGroup("tg", "PROJECT", "p1",
          Hierarchy(projectId = "p1"), includeSub = true, "ALL", Some("any")))).isEmpty)
        // emit: wrong token -> bad token; right token -> accepted
        val e1 = c.errors(c.call(Emit("PROJECT", "ALL", "p1", RelationCtx(), Some("wrong"))))
        assert(e1.exists(_.contains("bad token")), s"got $e1")
        val e2 = c.errors(c.call(Emit("PROJECT", "ALL", "p1", RelationCtx())))
        assert(e2.exists(_.contains("authentication header")), s"got $e2")
        assert(c.errors(c.call(Emit("PROJECT", "ALL", "p1", RelationCtx(), Some("secret")))).isEmpty)
        // attach re-authorizes: missing token rejected, token accepted
        val e3 = c.errors(c.call(Init("tg")))
        assert(e3.exists(_.contains("authentication header")), s"got $e3")
        val onInit = c.notifications(c.call(Init("tg", Some("any"))))
        val chunks = if (onInit.nonEmpty) onInit else pollUntil(c, engine)
        assert(chunks.nonEmpty, "the authorized emit must be delivered")
      } finally c.disconnect()
    } finally { server.stop(); engine.stop() }
  }

  test("malformed frames: garbage bodies answer with error frames, transport garbage drops the connection") {
    withServer { (engine, server) =>
      val sock = new java.net.Socket("127.0.0.1", server.boundPort)
      val out = new java.io.DataOutputStream(sock.getOutputStream)
      val in = new java.io.DataInputStream(sock.getInputStream)
      try {
        // a well-framed but meaningless body -> WireError + Ok, connection lives
        WireProtocol.writeFrame(out, Array[Byte](0x7F, 0x01, 0x00)) // unknown field, varint
        val r1 = decodeResponse(WireProtocol.readFrame(in).get)
        assert(r1.isInstanceOf[WireError], s"got $r1")
        assert(decodeResponse(WireProtocol.readFrame(in).get) == Ok)
        // the connection still serves real requests afterwards
        WireProtocol.writeFrame(out, encodeRequest(Poll))
        val r2 = decodeResponse(WireProtocol.readFrame(in).get)
        assert(r2.isInstanceOf[WireError], "poll before init is an in-stream error")
        assert(decodeResponse(WireProtocol.readFrame(in).get) == Ok)
        // an insane length prefix is transport garbage -> server drops us
        out.writeInt(Int.MaxValue); out.flush()
        assert(WireProtocol.readFrame(in).isEmpty, "server must close on framing garbage")
      } finally sock.close()
    }
  }

  test("the same wire server fronts the multiplexed engine (one query, many groups)") {
    val mux = new MultiplexedDelivery(spark)
    val server = WireServer(mux)
    try {
      val c = connect(server)
      try {
        c.call(CreateGroup("w-p1", "PROJECT", "p1",
          Hierarchy(projectId = "p1"), includeSub = true, "ALL"))
        c.call(CreateGroup("w-p2", "PROJECT", "p2",
          Hierarchy(projectId = "p2"), includeSub = true, "ALL"))
        mux.start() // engine lifecycle stays host-side, as in its spec
        c.call(Emit("PROJECT", "ALL", "p1", RelationCtx()))
        c.call(Emit("PROJECT", "ALL", "p2", RelationCtx()))
        mux.processAllAvailable()
        val c2 = connect(server)
        try {
          val on1 = c.notifications(c.call(Init("w-p1")))
          val on2 = c2.notifications(c2.call(Init("w-p2")))
          def drain(cl: WireClient, seed: Seq[Notification]): Seq[Notification] = {
            var got = seed; var n = 0
            while (got.isEmpty && n < 40) {
              mux.processAllAvailable()
              got = got ++ cl.notifications(cl.call(Poll)); n += 1
              if (got.isEmpty) Thread.sleep(50)
            }
            got
          }
          val g1 = drain(c, on1); val g2 = drain(c2, on2)
          assert(g1.flatMap(_.resourceIds).toSet == Set("p1"),
            "group filtering must hold through the wire on the shared query")
          assert(g2.flatMap(_.resourceIds).toSet == Set("p2"))
          assert(c.errors(c.call(Ack(g1.map(_.chunkId)))).isEmpty)
          assert(c2.errors(c2.call(Ack(g2.map(_.chunkId)))).isEmpty)
        } finally c2.disconnect()
      } finally c.disconnect()
    } finally { server.stop(); mux.stop() }
  }

  test("the same wire server fronts the durable engine (parquet log + checkpointed delivery)") {
    import graft.streaming.DurableEventLog
    val tmp = java.nio.file.Files.createTempDirectory("graft-wire-durable")
    val log = new DurableEventLog(spark, s"$tmp/log", s"$tmp/ckpt")
    val server = WireServer(log)
    try {
      log.startIngest()
      log.startMultiplexed()
      val c = connect(server)
      try {
        c.call(CreateGroup("dg", "PROJECT", "p1",
          Hierarchy(projectId = "p1"), includeSub = true, "ALL"))
        assert(c.call(Emit("PROJECT", "ALL", "p1", RelationCtx())).isEmpty)
        log.processAllAvailable()
        // the shared query delivers the logged event to the group
        val onInit = c.notifications(c.call(Init("dg")))
        var got = onInit; var n = 0
        while (got.isEmpty && n < 40) {
          log.processAllAvailable()
          got = got ++ c.notifications(c.call(Poll)); n += 1
          if (got.isEmpty) Thread.sleep(50)
        }
        assert(got.flatMap(_.resourceIds).contains("p1"),
          "the durable delivery must round-trip the wire")
        assert(c.errors(c.call(Ack(got.map(_.chunkId)))).isEmpty)
        assert(c.call(WireProtocol.Close).isEmpty)
      } finally c.disconnect()
    } finally { server.stop(); log.stop() }
  }

  test("two wire clients compete: disjoint chunks, drop fails over") {
    withServer { (engine, server) =>
      val admin = connect(server)
      try {
        admin.call(CreateGroup("cg", "PROJECT", "p1",
          Hierarchy(projectId = "p1"), includeSub = true, "ALL"))
        // several deliveries -> several chunks (one per micro-batch)
        (1 to 3).foreach { i =>
          admin.call(Emit("PROJECT", "ALL", "p1", RelationCtx()))
          engine.processAllAvailable()
        }
        val c1 = connect(server); val c2 = connect(server)
        val init1 = c1.notifications(c1.call(Init("cg")))
        val init2 = c2.notifications(c2.call(Init("cg")))
        val got1 = if (init1.nonEmpty) init1 else pollUntil(c1, engine, atLeast = 1)
        val got2 = init2 ++ c2.notifications(c2.call(Poll))
        val ids1 = got1.map(_.chunkId).toSet
        val ids2 = got2.map(_.chunkId).toSet
        assert((ids1 & ids2).isEmpty, "in-flight chunks must go to exactly one session")
        // c2 may not ack a chunk in flight to c1
        if (ids1.nonEmpty) {
          val e = c2.errors(c2.call(Ack(Seq(ids1.head))))
          assert(e.exists(_.contains("another session")), s"got $e")
        }
        // drop c1 without acking: its flights fail over to c2 once the
        // server notices the dead connection and closes the session
        c1.disconnect()
        val recovered = pollUntil(c2, engine, atLeast = ids1.size, tries = 100)
        assert(ids1.subsetOf(recovered.map(_.chunkId).toSet),
          "a dropped client's unacked chunks must be re-offered to survivors")
        c2.call(WireProtocol.Close)
        c2.disconnect()
      } finally admin.disconnect()
    }
  }
}
