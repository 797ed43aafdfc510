package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.core._
import graft.streaming.{MultiplexedDelivery, WireServer}
import graft.streaming.WireProtocol
import graft.streaming.WireProtocol._

/** SOCKET-LEVEL lifecycle fuzz (round-7 verdict item #6): the
  * SessionFuzzSpec generator driven through the REAL wire boundary —
  * every op is proto3 frames over a localhost TCP connection, with the
  * adversarial transport behaviors only sockets can exhibit:
  *
  *  - every request frame is written in RANDOM SPLITS across multiple
  *    TCP writes (flushed between), so the server's framing layer is
  *    continuously exercised on partial reads;
  *  - abrupt disconnects — mid-frame (a torn length-prefixed frame) and
  *    post-request (reply racing a closed socket) — must close the
  *    server-side session and re-offer its chunks, never wedge the
  *    server;
  *  - garbage BODIES (valid frame, undecodable proto) must come back as
  *    error frames on a connection that stays usable;
  *  - a concurrent churn thread creates/emits-into/deletes side groups
  *    on the same engine throughout (the create/delete race the
  *    reference serves on its unary surface).
  *
  * Invariants (the in-process fuzz's, inherited by the wire path):
  * NO-DOUBLE-SERVE — a chunk is only served to a connection if unacked
  * and not held by another LIVE connection inside its ack-wait;
  * AT-LEAST-ONCE — after closing every connection and draining through
  * a fresh one, every emitted event was served and everything pending
  * is acked; and the server survives every seed (a final fresh
  * connection always completes a full init/poll cycle). */
class WireFuzzSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("graft-wire-fuzz")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val ACK_WAIT = 1000L

  /** A wire client that fragments every frame across random TCP writes
    * and can tear a frame mid-write — the transport adversary the
    * plain WireClient never exhibits. */
  private final class SplittingClient(port: Int, rnd: scala.util.Random) {
    private val sock = new java.net.Socket("127.0.0.1", port)
    sock.setTcpNoDelay(true)
    // Generous read timeout: this is a liveness backstop, not a latency
    // assertion — in-suite runs share the host with 48 other Spark
    // suites and the box shows 2–3.8× CPU-steal windows (BASELINE.md
    // round-12 measurement notes); 20 s flaked once in-suite at
    // round 14 while the same seed passed standalone.
    sock.setSoTimeout(120000)
    private val in = new java.io.DataInputStream(
      new java.io.BufferedInputStream(sock.getInputStream))
    private val raw = sock.getOutputStream

    private def writeSplit(bytes: Array[Byte]): Unit = {
      var i = 0
      while (i < bytes.length) {
        val k = 1 + rnd.nextInt(math.max(1, bytes.length - i))
        raw.write(bytes, i, k)
        raw.flush()
        i += k
      }
    }

    private def framed(body: Array[Byte]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val dos = new java.io.DataOutputStream(bos)
      WireProtocol.writeFrame(dos, body)
      bos.toByteArray
    }

    def call(req: WireRequest): Seq[WireResponse] = callRaw(encodeRequest(req))

    /** Send arbitrary frame BODY bytes (garbage injection), read the
      * reply through its Ok terminator. */
    def callRaw(body: Array[Byte]): Seq[WireResponse] = {
      writeSplit(framed(body))
      val replies = Seq.newBuilder[WireResponse]
      var done = false
      while (!done) WireProtocol.readFrame(in) match {
        case Some(frame) => decodeResponse(frame) match {
          case Ok => done = true
          case r => replies += r
        }
        case None => throw new java.io.EOFException("server closed mid-reply")
      }
      replies.result()
    }

    /** Abrupt drop: optionally tear a frame (write a strict prefix),
      * then close without reading any reply. */
    def drop(tearFrame: Boolean): Unit = {
      try {
        if (tearFrame) {
          val f = framed(encodeRequest(Poll))
          raw.write(f, 0, 1 + rnd.nextInt(f.length - 1))
          raw.flush()
        } else writeSplit(framed(encodeRequest(Poll))) // reply races the close
      } catch { case _: java.io.IOException => () }
      close()
    }

    def close(): Unit = { try sock.close() catch { case _: Throwable => () } }
  }

  test("wire lifecycle fuzz: split frames, drops, garbage, churn (25 seeds)") {
    (1 to 25).foreach { seedNo =>
      val rnd = new scala.util.Random(7000L + seedNo)
      @volatile var now = 0L
      val engine = new MultiplexedDelivery(spark, Trigger.ProcessingTime("250 milliseconds"),
        ackWaitMillis = ACK_WAIT, clock = () => now)
      engine.start()
      engine.addGroup("g", ResourceType.Project, "p",
        Hierarchy(projectId = "p"), includeSubresources = true)
      val server = WireServer(engine)

      // concurrent create/emit/delete churn on side groups for the whole
      // seed — must never disturb group g (its events live in project q)
      @volatile var churnFailure: Throwable = null
      val churn = new Thread(() => {
        try {
          val c = new SplittingClient(server.boundPort, new scala.util.Random(seedNo))
          (0 until 2).foreach { i =>
            val gid = s"churn-$seedNo-$i"
            assert(c.call(CreateGroup(gid, "PROJECT", "q",
              Hierarchy(projectId = "q"), includeSub = true, "ALL")).isEmpty)
            assert(c.call(Emit("COLLECTION", "ALL", s"qc$i",
              RelationCtx(project = "q"))).isEmpty)
            assert(c.call(DeleteGroup(gid)).isEmpty)
          }
          c.close()
        } catch { case t: Throwable => churnFailure = t }
      }, s"wire-fuzz-churn-$seedNo")
      churn.start()

      // model state (uid = connection identity)
      var uidNext = 0
      var open = Map.empty[Int, SplittingClient]
      var acked = Set.empty[String]
      var flights = Map.empty[String, (Int, Long)]
      var emitted = Set.empty[String]
      var servedIds = Set.empty[String]
      var emits = 0

      def offerableTo(uid: Int, c: String): Boolean =
        !acked.contains(c) && (flights.get(c) match {
          case None => true
          case Some((owner, at)) =>
            owner == uid || !open.contains(owner) || now >= at + ACK_WAIT
        })

      def recordServed(uid: Int, rs: Seq[WireResponse], ctx: String): Seq[String] = {
        val notes = rs.collect { case n: Notification => n }
        notes.foreach { n =>
          assert(n.groupId == "g",
            s"seed $seedNo [$ctx]: foreign group ${n.groupId} chunk on g's session")
          assert(offerableTo(uid, n.chunkId),
            s"seed $seedNo [$ctx]: chunk ${n.chunkId} served to conn $uid while not " +
              s"offerable (acked=${acked.contains(n.chunkId)} " +
              s"flight=${flights.get(n.chunkId)} now=$now)")
          flights += n.chunkId -> (uid, now)
          servedIds ++= n.resourceIds
        }
        notes.map(_.chunkId)
      }

      def connect(ctx: String): Int = {
        val c = new SplittingClient(server.boundPort, rnd)
        val uid = { uidNext += 1; uidNext }
        open += uid -> c
        recordServed(uid, c.call(Init("g")), ctx)
        uid
      }

      val admin = new SplittingClient(server.boundPort, rnd)

      val opGen: Gen[Int] = Gen.chooseNum(0, 99)
      var seed = Seed(seedNo.toLong)
      (1 to 16).foreach { step =>
        val op = opGen.apply(Gen.Parameters.default, seed).getOrElse(0)
        seed = seed.next
        op match {
          case o if o < 15 => // emit over the wire
            if (emits < 4) {
              val rid = s"c$seedNo-$emits"
              assert(admin.call(Emit("COLLECTION", "ALL", rid,
                RelationCtx(project = "p"))).isEmpty)
              engine.processAllAvailable()
              emitted += rid; emits += 1
            }
          case o if o < 30 => // open a competing connection
            if (open.size < 3) { connect(s"init@$step"); () }
          case o if o < 50 => // poll on a random live connection
            open.toSeq.sortBy(_._1).lift(o % 3).foreach { case (uid, c) =>
              recordServed(uid, c.call(Poll), s"poll@$step"); ()
            }
          case o if o < 62 => // holder acks one of its valid flights
            flights.toSeq.sortBy(_._1).collectFirst {
              case (ch, (owner, at)) if open.contains(owner) &&
                now < at + ACK_WAIT && !acked.contains(ch) => (ch, owner)
            }.foreach { case (ch, owner) =>
              val rs = open(owner).call(Ack(Seq(ch)))
              assert(!rs.exists(_.isInstanceOf[WireError]),
                s"seed $seedNo: own ack of $ch errored: $rs")
              acked += ch; flights -= ch
              recordServed(owner, rs, s"ack@$step"); ()
            }
          case o if o < 70 => // foreign ack comes back as an error frame
            (for {
              (ch, (owner, at)) <- flights.toSeq.sortBy(_._1)
              if open.contains(owner) && now < at + ACK_WAIT && !acked.contains(ch)
              (uid, c) <- open.toSeq.sortBy(_._1) if uid != owner
            } yield (ch, uid, c)).headOption.foreach { case (ch, uid, c) =>
              val rs = c.call(Ack(Seq(ch)))
              assert(rs.collect { case WireError(m) => m }
                .exists(_.contains("in flight to another session")),
                s"seed $seedNo: foreign ack of $ch not rejected over the wire: $rs")
              recordServed(uid, rs, s"foreignAck@$step"); ()
            }
          case o if o < 78 => // graceful close (Close frame, then socket)
            open.toSeq.sortBy(_._1).lift(o % 3).foreach { case (uid, c) =>
              c.call(Close); c.close(); open -= uid
            }
          case o if o < 86 => // abrupt drop, sometimes tearing a frame
            open.toSeq.sortBy(_._1).lift(o % 3).foreach { case (uid, c) =>
              c.drop(tearFrame = o % 2 == 0); open -= uid
            }
          case o if o < 92 => // clock advance (maybe past ack-wait)
            now += (if (o % 2 == 0) ACK_WAIT + 500 else ACK_WAIT / 3)
          case _ => // garbage body: error frame, connection stays usable
            open.toSeq.sortBy(_._1).headOption.foreach { case (uid, c) =>
              val junk = Array.fill(4 + rnd.nextInt(12))(rnd.nextInt(256).toByte)
              val rs = c.callRaw(junk)
              assert(rs.forall(_.isInstanceOf[WireError]),
                s"seed $seedNo: garbage body produced non-error output: $rs")
              recordServed(uid, c.call(Poll), s"postGarbage@$step"); ()
            }
        }
      }

      churn.join(30000)
      assert(churnFailure == null, s"seed $seedNo: churn thread failed: $churnFailure")

      // close every surviving connection, then drain through a fresh one
      open.foreach { case (_, c) => c.call(Close); c.close() }
      open = Map.empty
      val drainUid = connect("drain-init")
      val drain = open(drainUid)
      var toAck = recordServed(drainUid, drain.call(Poll), "drain-first")
      var rounds = 0
      while ((engine.pendingChunks("g").nonEmpty || toAck.nonEmpty) && rounds < 40) {
        val rs = drain.call(Ack(toAck))
        toAck.foreach { ch => acked += ch; flights -= ch }
        toAck = recordServed(drainUid, rs, s"drain$rounds")
        if (toAck.isEmpty && engine.pendingChunks("g").nonEmpty) {
          now += ACK_WAIT + 500
          engine.processAllAvailable()
        }
        rounds += 1
      }
      assert(engine.pendingChunks("g").isEmpty,
        s"seed $seedNo: drain left pending ${engine.pendingChunks("g").map(_.chunkId)}")
      assert(emitted.subsetOf(servedIds),
        s"seed $seedNo: events lost over the wire: ${emitted -- servedIds}")

      // the server must have survived the seed: a fresh connection
      // completes a full init/poll cycle
      val probe = new SplittingClient(server.boundPort, rnd)
      probe.call(Init("g"))
      probe.call(Poll)
      probe.call(Close)
      probe.close()

      admin.close()
      drain.call(Close); drain.close()
      server.stop()
      engine.stop()
    }
  }
}
