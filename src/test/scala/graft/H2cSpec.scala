package graft

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import graft.core._
import graft.streaming._
import graft.streaming.WireProtocol.{Notification => WireNotification, _}

/** The h2c gRPC boundary ([[Hpack]]/[[H2c]]/[[GrpcServer]]): HPACK
  * pinned by RFC 7541's own Appendix C golden vectors (integers,
  * literal and Huffman-coded header blocks, dynamic-table evolution),
  * Huffman codec round-trips, and the reference's method paths driven
  * END-TO-END over real sockets with real HTTP/2 frames — unary
  * create/delete/emit with the token in `api-token` METADATA (the
  * reference's TOKEN_METADATA_NAME, server.rs:18 — the gap the
  * length-prefixed transport could not close), bidi
  * ReadStreamGroupMessages with server-pushed notifications, and gRPC
  * status trailers. */
class H2cSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("graft-h2c-spec")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def hex(s: String): Array[Byte] =
    s.replaceAll("\\s", "").grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  // ---- HPACK: RFC 7541 Appendix C golden vectors ---------------------

  test("C.3.1: literal header block without Huffman decodes (first request)") {
    val h = new Hpack
    val block = hex("8286 8441 0f77 7777 2e65 7861 6d70 6c65 2e63 6f6d")
    assert(h.decode(block) == Seq(
      (":method", "GET"), (":scheme", "http"), (":path", "/"),
      (":authority", "www.example.com")))
  }

  test("C.3: the dynamic table carries across header blocks on one connection") {
    val h = new Hpack
    h.decode(hex("8286 8441 0f77 7777 2e65 7861 6d70 6c65 2e63 6f6d"))
    // second request references the :authority entry as dynamic index 62 (0xbe)
    val second = h.decode(hex("8286 84be 5808 6e6f 2d63 6163 6865"))
    assert(second == Seq(
      (":method", "GET"), (":scheme", "http"), (":path", "/"),
      (":authority", "www.example.com"), ("cache-control", "no-cache")))
  }

  test("C.4.1/C.4.2: Huffman-coded request header blocks decode") {
    val h = new Hpack
    val first = h.decode(hex("8286 8441 8cf1 e3c2 e5f2 3a6b a0ab 90f4 ff"))
    assert(first == Seq(
      (":method", "GET"), (":scheme", "http"), (":path", "/"),
      (":authority", "www.example.com")))
    val second = h.decode(hex("8286 84be 5886 a8eb 1064 9cbf"))
    assert(second.last == ("cache-control", "no-cache"))
  }

  test("C.6.1: Huffman-coded response block decodes (incl. date/location strings)") {
    val h = new Hpack
    val block = hex(
      "4882 6402 5885 aec3 771a 4b61 96d0 7abe 9410 54d4 44a8 2005 9504 0b81" +
      "66e0 82a6 2d1b ff6e 919d 29ad 1718 63c7 8f0b 97c8 e9ae 82ae 43d3")
    assert(h.decode(block) == Seq(
      (":status", "302"), ("cache-control", "private"),
      ("date", "Mon, 21 Oct 2013 20:13:21 GMT"),
      ("location", "https://www.example.com")))
  }

  test("Huffman encode matches the RFC's own example and round-trips") {
    assert(Hpack.huffmanEncode("www.example.com".getBytes("ISO-8859-1"))
      .sameElements(hex("f1e3 c2e5 f23a 6ba0 ab90 f4ff")))
    assert(Hpack.huffmanEncode("no-cache".getBytes("ISO-8859-1"))
      .sameElements(hex("a8eb 1064 9cbf")))
    // round-trip every single-byte symbol and a spread of strings
    (0 until 256).foreach { b =>
      val s = new String(Array(b.toByte), "ISO-8859-1")
      assert(Hpack.huffmanDecode(Hpack.huffmanEncode(s.getBytes("ISO-8859-1"))) == s)
    }
    val rnd = new scala.util.Random(7)
    (0 until 200).foreach { _ =>
      val bytes = Array.fill(rnd.nextInt(40) + 1)(rnd.nextInt(256).toByte)
      val s = new String(bytes, "ISO-8859-1")
      assert(Hpack.huffmanDecode(Hpack.huffmanEncode(bytes)) == s)
    }
  }

  test("C.1: prefixed-integer edges decode (5-bit 10, 5-bit 1337, 8-bit 42)") {
    val h = new Hpack
    // 10 with a 5-bit prefix inside a literal-without-indexing name
    // index is exercised implicitly everywhere; pin the multi-byte
    // continuation form directly: a 1337-char value length would be
    // unwieldy, so pin via a dynamic table size update of 1337
    // (0x3f 0x9a 0x0a under the 5-bit 001 prefix: 31 + 26 + 10·128)
    // followed by an indexed field — the update must not emit a header
    // or corrupt the stream position.
    val block = Array[Byte](0x3f.toByte, 0x9a.toByte, 0x0a.toByte, 0x82.toByte)
    assert(h.decode(block) == Seq((":method", "GET")))
  }

  test("dynamic table size update 0 evicts entries (RFC 7541 §4.2/§6.3)") {
    val h = new Hpack
    h.decode(hex("8286 8441 0f77 7777 2e65 7861 6d70 6c65 2e63 6f6d"))
    // :authority www.example.com is dynamic index 62 now
    assert(h.decode(hex("be")) == Seq((":authority", "www.example.com")))
    // size update to 0 must evict it; referencing 62 afterwards is an error
    h.decode(Array[Byte](0x20))
    intercept[IllegalArgumentException] { h.decode(hex("be")) }
  }

  test("encode/decode round-trips a gRPC request header list, both modes") {
    val headers = Seq((":method", "POST"), (":scheme", "http"),
      (":path", GrpcServer.CreatePath), (":authority", "localhost:1"),
      ("content-type", "application/grpc"), ("te", "trailers"),
      ("api-token", "secret-token"))
    Seq(false, true).foreach { huff =>
      val enc = new Hpack
      val dec = new Hpack
      assert(dec.decode(enc.encode(headers, huff)) == headers, s"huffman=$huff")
    }
  }

  // ---- live h2c sockets ---------------------------------------------

  private def withServer(security: EngineSecurity = EngineSecurity(),
                         pumpMillis: Long = 250L, ackWaitMillis: Long = 30000L)(
      f: (MultiplexedDelivery, GrpcServer) => Unit): Unit = {
    val engine = new MultiplexedDelivery(spark,
      trigger = Trigger.ProcessingTime("250 milliseconds"), security = security,
      ackWaitMillis = ackWaitMillis)
    engine.start()
    val server = new GrpcServer(engine, pumpMillis = pumpMillis)
    try f(engine, server)
    finally { server.stop(); engine.stop() }
  }

  private def createBody(groupId: String, projectId: String): Array[Byte] =
    H2c.unwrapArm(encodeRequest(CreateGroup(groupId, "PROJECT", projectId,
      Hierarchy(projectId = projectId), includeSub = true, "ALL")))

  test("e2e over h2c: create -> emit -> bidi notify (pushed) -> ack -> close") {
    withServer() { (engine, server) =>
      // huffman=true: the client compresses every header string, so the
      // server decodes the same shape a stock tonic client sends
      val c = new GrpcClient("127.0.0.1", server.boundPort, huffman = true)
      try {
        val (st0, _) = c.unary(GrpcServer.CreatePath, createBody("g1", "p1"))
        assert(st0 == 0, "create must return grpc-status 0")
        val (st1, _) = c.unary(GrpcServer.EmitPath,
          H2c.unwrapArm(encodeRequest(Emit("PROJECT", "ALL", "p1",
            RelationCtx(project = "p1")))))
        assert(st1 == 0, "emit must return grpc-status 0")

        val stream = c.bidi(GrpcServer.ReadMessagesPath)
        stream.sendMessage(encodeRequest(Init("g1")))
        // the server PUSHES pending chunks from its pump — drive
        // the engine and wait without sending another client message
        var got = Seq.empty[Array[Byte]]
        val deadline = System.nanoTime() + 30L * 1000000000L
        while (got.isEmpty && System.nanoTime() < deadline) {
          engine.processAllAvailable()
          got = stream.messages(1, timeoutMillis = 500)
        }
        assert(got.nonEmpty, "a notification must arrive without a client poll")
        val n = decodeResponse(got.head).asInstanceOf[WireNotification]
        assert(n.groupId == "g1" && n.resourceIds == Seq("p1"))
        assert(n.subjects == Seq("UPDATES.STORAGE._.p1._"))

        stream.sendMessage(encodeRequest(Ack(Seq(n.chunkId))))
        stream.sendMessage(encodeRequest(Close))
        var status = -1
        var done = false
        val dl2 = System.nanoTime() + 30L * 1000000000L
        while (!done && System.nanoTime() < dl2) stream.next(1000) match {
          case c.Trailers(hs) => status = hs("grpc-status").toInt; done = true
          case _ => ()
        }
        assert(status == 0, "clean close must trail grpc-status 0")
      } finally c.disconnect()
    }
  }

  test("api-token METADATA reaches the engine's gates (reference TOKEN_METADATA_NAME)") {
    val sec = EngineSecurity(internalToken = Some("secret"),
      authz = Some(AuthzProvider.AllowAll))
    withServer(sec) { (_, server) =>
      val c = new GrpcClient("127.0.0.1", server.boundPort)
      try {
        // no metadata, no in-message token -> the engine's missing-header error
        val (stA, _) = c.unary(GrpcServer.CreatePath, createBody("tg", "p1"))
        assert(stA == 2, "create without token must fail")
        // token ONLY in metadata — the path the TCP transport cannot offer
        val (stB, _) = c.unary(GrpcServer.CreatePath, createBody("tg", "p1"),
          metadata = Seq(("api-token", "any")))
        assert(stB == 0, "metadata token must authorize create")
        val emitBody = H2c.unwrapArm(encodeRequest(
          Emit("PROJECT", "ALL", "p1", RelationCtx(project = "p1"))))
        val (stC, _) = c.unary(GrpcServer.EmitPath, emitBody,
          metadata = Seq(("api-token", "wrong")))
        assert(stC == 2, "wrong metadata token must be rejected")
        val (stD, _) = c.unary(GrpcServer.EmitPath, emitBody,
          metadata = Seq(("api-token", "secret")))
        assert(stD == 0, "internal token via metadata must authorize emit")
      } finally c.disconnect()
    }
  }

  test("HEADERS split across CONTINUATION frames reassemble server-side (RFC 7540 §6.10)") {
    withServer() { (_, server) =>
      val sock = new java.net.Socket("127.0.0.1", server.boundPort)
      sock.setTcpNoDelay(true); sock.setSoTimeout(120000) // liveness backstop, not a latency assertion (in-suite CPU steal)
      val in = new java.io.DataInputStream(
        new java.io.BufferedInputStream(sock.getInputStream))
      val out = new java.io.DataOutputStream(
        new java.io.BufferedOutputStream(sock.getOutputStream))
      try {
        out.write(H2c.Preface); out.flush()
        H2c.writeFrame(out, H2c.Frame(H2c.SETTINGS, 0, 0, Array.emptyByteArray))
        val enc = new Hpack
        val block = enc.encode(Seq((":method", "POST"), (":scheme", "http"),
          (":path", GrpcServer.CreatePath), ("content-type", "application/grpc"),
          ("te", "trailers")))
        val cut = block.length / 2
        // first fragment WITHOUT END_HEADERS, remainder via CONTINUATION
        H2c.writeFrame(out, H2c.Frame(H2c.HEADERS, 0, 1, block.take(cut)))
        H2c.writeFrame(out, H2c.Frame(H2c.CONTINUATION, H2c.END_HEADERS, 1,
          block.drop(cut)))
        H2c.writeFrame(out, H2c.Frame(H2c.DATA, H2c.END_STREAM, 1,
          H2c.grpcFrame(createBody("gc", "p7"))))
        // read until the trailers HEADERS with grpc-status arrives
        val dec = new Hpack
        var status = -1
        val deadline = System.nanoTime() + 30L * 1000000000L
        while (status < 0 && System.nanoTime() < deadline) {
          val f = H2c.readFrame(in)
          if (f.tpe == H2c.SETTINGS && (f.flags & H2c.ACK) == 0)
            H2c.writeFrame(out, H2c.Frame(H2c.SETTINGS, H2c.ACK, 0, Array.emptyByteArray))
          if (f.tpe == H2c.HEADERS) {
            val hs = dec.decode(H2c.headersFragment(f.flags, f.payload)).toMap
            hs.get("grpc-status").foreach(s => status = s.toInt)
          }
        }
        assert(status == 0, "create through split headers must succeed")
      } finally sock.close()
    }
  }

  test("unaryAll pipelines a window of multiplexed streams; statuses arrive in call order") {
    withServer() { (_, server) =>
      val c = new GrpcClient("127.0.0.1", server.boundPort)
      try {
        val (st0, _) = c.unary(GrpcServer.CreatePath, createBody("gp", "p1"))
        assert(st0 == 0)
        // a window of 32 emits in one pipelined burst — every stream is
        // open before the first trailer is read (the replay-bench shape)
        val bodies = (0 until 32).map { i =>
          H2c.unwrapArm(encodeRequest(Emit("OBJECT", "ALL", s"o$i",
            RelationCtx(project = "p1", collection = "c1", sharedObject = s"s$i"))))
        }
        assert(c.unaryAll(GrpcServer.EmitPath, bodies) == Seq.fill(32)(0))
        // a malformed call mid-window fails alone: its neighbours' streams
        // are untouched (per-stream isolation under multiplexing)
        val mixed = Seq(bodies(0), Array[Byte](0x7f, 0x7f, 0x7f), bodies(1))
        val sts = c.unaryAll(GrpcServer.EmitPath, mixed)
        assert(sts(0) == 0 && sts(2) == 0, s"healthy neighbours must succeed: $sts")
        assert(sts(1) != 0, "the malformed call must carry its own error status")
      } finally c.disconnect()
    }
  }

  test("unknown method paths answer grpc-status 12 UNIMPLEMENTED; delete works") {
    withServer() { (_, server) =>
      val c = new GrpcClient("127.0.0.1", server.boundPort)
      try {
        val (st0, _) = c.unary(GrpcServer.CreatePath, createBody("gd", "p2"))
        assert(st0 == 0)
        val (st1, _) = c.unary(GrpcServer.DeletePath,
          H2c.unwrapArm(encodeRequest(DeleteGroup("gd"))))
        assert(st1 == 0, "delete must return grpc-status 0")
        val (st2, _) = c.unary(
          "/aruna.api.notification.services.v1.UpdateNotificationService/Nope",
          Array.emptyByteArray)
        assert(st2 == 12, "unknown methods must answer UNIMPLEMENTED")
      } finally c.disconnect()
    }
  }

  // ---- the pump's wait: woken by arrivals, bounded by pumpMillis -----

  private def emitBody(resourceId: String, project: String): Array[Byte] =
    H2c.unwrapArm(encodeRequest(Emit("OBJECT", "ALL", resourceId,
      RelationCtx(project = project, collection = "c1", sharedObject = resourceId))))

  /** The first notification a stream receives within `millis`. */
  private def firstPush(stream: GrpcClient#Bidi, millis: Long): Option[WireNotification] =
    stream.messages(1, timeoutMillis = millis).headOption.map(decodeResponse(_)).collect {
      case n: WireNotification => n
    }

  test("a push leaves when its chunk is recorded, not when the pump's wait expires") {
    // a 10 s wait: only the arrival signal can push within 1 s
    withServer(pumpMillis = 10000L) { (engine, server) =>
      val c = new GrpcClient("127.0.0.1", server.boundPort)
      try {
        assert(c.unary(GrpcServer.CreatePath, createBody("gw", "p1"))._1 == 0)
        val stream = c.bidi(GrpcServer.ReadMessagesPath)
        stream.sendMessage(encodeRequest(Init("gw")))
        assert(c.unary(GrpcServer.EmitPath, emitBody("o1", "p1"))._1 == 0)
        engine.processAllAvailable()
        val n = firstPush(stream, 1000L)
        assert(n.exists(_.resourceIds == Seq("o1")),
          s"the push must arrive within 1 s of its chunk's record: $n")
      } finally c.disconnect()
    }
  }

  test("closing the session that holds a chunk wakes the survivor's pump: same chunk within 1 s") {
    withServer(pumpMillis = 10000L) { (engine, server) =>
      val c = new GrpcClient("127.0.0.1", server.boundPort)
      try {
        assert(c.unary(GrpcServer.CreatePath, createBody("gf", "p1"))._1 == 0)
        val streams = Seq.fill(2)(c.bidi(GrpcServer.ReadMessagesPath))
        streams.foreach(_.sendMessage(encodeRequest(Init("gf"))))
        assert(c.unary(GrpcServer.EmitPath, emitBody("o1", "p1"))._1 == 0)
        engine.processAllAvailable()
        // competing sessions get disjoint chunks: exactly one holds it
        val held = streams.map(s => s -> firstPush(s, 1000L))
          .collectFirst { case (s, Some(n)) => (s, n) }
        assert(held.isDefined, "one of the two sessions must receive the chunk")
        val (holder, n) = held.get
        val survivor = streams.filterNot(_ eq holder).head
        holder.sendMessage(encodeRequest(Close)) // unacked: its flight fails over
        val again = firstPush(survivor, 1000L)
        assert(again.map(_.chunkId).contains(n.chunkId),
          s"the survivor must receive ${n.chunkId} within 1 s of the close: $again")
      } finally c.disconnect()
    }
  }

  test("an unacked chunk is pushed again, same id, after its ack wait with no new emit") {
    withServer(ackWaitMillis = 1000L) { (engine, server) =>
      val c = new GrpcClient("127.0.0.1", server.boundPort)
      try {
        assert(c.unary(GrpcServer.CreatePath, createBody("gr", "p1"))._1 == 0)
        val stream = c.bidi(GrpcServer.ReadMessagesPath)
        stream.sendMessage(encodeRequest(Init("gr")))
        assert(c.unary(GrpcServer.EmitPath, emitBody("o1", "p1"))._1 == 0)
        engine.processAllAvailable()
        val first = firstPush(stream, 5000L)
        assert(first.isDefined, "the chunk must be pushed")
        // ack wait (1 s) plus at most one pump wait (250 ms), plus slack
        val t0 = System.nanoTime()
        val again = firstPush(stream, 2000L)
        val ms = (System.nanoTime() - t0) / 1000000L
        assert(again.map(_.chunkId) == first.map(_.chunkId),
          s"the unacked chunk must be redelivered with its id: $first then $again")
        assert(ms <= 1600L, s"redelivery took $ms ms after the first push")
      } finally c.disconnect()
    }
  }
}
