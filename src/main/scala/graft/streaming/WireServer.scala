package graft.streaming

import java.io.{DataInputStream, DataOutputStream}
import java.net.{ServerSocket, Socket, SocketException}
import java.util.concurrent.ConcurrentHashMap
import scala.util.control.NonFatal
import graft.core.ResourceType
import WireProtocol._

/** The WIRE-FACING server boundary — the repo's stand-in for the
  * reference's tonic gRPC servers (public_event_server.rs:52 unary
  * create/delete + :192 bidi read_stream_group_messages;
  * internal_event_server.rs:18 emit): real sockets, real bytes, the
  * [[WireProtocol]] proto3 message layer, one [[EventSession]] per
  * connection driving the SAME engine/dispatcher/authz stack the
  * in-process facade uses. Length-prefixed TCP replaces gRPC/HTTP-2
  * (offline sandbox, no codegen — the documented transport divergence).
  *
  * Protocol: every request frame is answered by zero or more
  * Notification / WireError frames followed by exactly one Ok frame
  * (the reply terminator), so a blocking client can drive the
  * request/reply loop without framing ambiguity. In-session failures
  * travel as WireError STREAM ELEMENTS (the reference's error channel,
  * public_event_server.rs:325,395-401); only transport-level garbage
  * closes the connection. A connection that disconnects with a live
  * session is closed server-side (the reference's client-drop path) —
  * competing sessions keep the group's delivery running.
  *
  * Scale role: this is the CONTROL plane (subscriptions, acks,
  * chunk-id notification batches) — bounded metadata. The DATA plane
  * (payload hydration) stays in Spark's distributed tables
  * ([[DeliveryTable]]); a production deployment terminates many such
  * connections against the driver exactly like the reference's server
  * fronts NATS, and the per-connection thread model is sized for that
  * control-plane load, not for bulk data. */
final class WireServer(host: ConsumerHost, port: Int = 0, maxBatch: Int = Int.MaxValue) {

  private val server = new ServerSocket(port)
  private val conns = ConcurrentHashMap.newKeySet[Socket]()
  @volatile private var running = true

  /** The bound port (useful with the ephemeral default). */
  def boundPort: Int = server.getLocalPort

  private val acceptor = new Thread(() => {
    while (running) {
      try {
        val sock = server.accept()
        conns.add(sock)
        val t = new Thread(() => serve(sock), s"graft-wire-conn-${sock.getPort}")
        t.setDaemon(true)
        t.start()
      } catch {
        case _: SocketException => () // closed in stop()
        case NonFatal(_) => ()
      }
    }
  }, "graft-wire-accept")
  acceptor.setDaemon(true)
  acceptor.start()

  private def serve(sock: Socket): Unit = {
    // RPC socket hygiene: buffer both directions so a frame is one
    // syscall (DataOutputStream.writeInt alone is four one-byte writes
    // on a raw socket stream), and disable Nagle so the per-frame flush
    // goes out immediately instead of waiting on the peer's delayed ACK
    // (~40 ms per unary call otherwise — measured 530 ev/s vs 30k+ ev/s
    // by the wire replay bench).
    sock.setTcpNoDelay(true)
    val in = new DataInputStream(new java.io.BufferedInputStream(sock.getInputStream))
    val out = new DataOutputStream(new java.io.BufferedOutputStream(sock.getOutputStream))
    val session = new EventSession(host, maxBatch)
    def send(rs: Seq[WireResponse]): Unit =
      (rs :+ Ok).foreach(r => writeFrame(out, encodeResponse(r)))
    def outbound(os: Seq[EventSession.Outbound]): Seq[WireResponse] = os.map {
      case EventSession.Notification(chunk) => toNotification(chunk)
      case EventSession.SessionError(m) => WireError(m)
    }
    try {
      var open = true
      while (open) readFrame(in) match {
        case None => open = false // client went away
        case Some(frame) =>
          val reply: Seq[WireResponse] =
            try {
              decodeRequest(frame) match {
                case Init(id, token) =>
                  outbound(session.handle(EventSession.Init(id, token)))
                case Ack(ids) =>
                  outbound(session.handle(EventSession.Ack(ids)))
                case Poll =>
                  // the pull analog of the reference's push loop: an
                  // empty ack settles nothing and returns what is
                  // pending for THIS session (bounded by maxBatch)
                  outbound(session.handle(EventSession.Ack(Seq.empty)))
                case Close =>
                  outbound(session.handle(EventSession.Close))
                case cg @ CreateGroup(id, rt, rid, _, sub, et, token, _) =>
                  host.addGroupMulti(id, ResourceType.fromName(rt), rid,
                    cg.hierarchies, sub,
                    if (et.isEmpty) graft.core.EventType.All else et, token)
                  Seq.empty
                case DeleteGroup(id) =>
                  host.removeGroup(id); Seq.empty
                case Emit(rt, et, rid, rel, token) =>
                  host.emit(ResourceType.fromName(rt), et, rid, rel, token)
                  Seq.empty
              }
            } catch {
              // pre-session/unary failures: the reference returns a
              // status instead of stream output — here the status is an
              // error frame and the connection stays usable
              case NonFatal(e) => Seq(WireError(Option(e.getMessage).getOrElse(e.toString)))
            }
          send(reply)
      }
    } catch {
      case _: SocketException => () // reset mid-frame: treat as drop
      case _: java.io.EOFException => () // torn frame on drop
    } finally {
      if (session.isOpen) session.handle(EventSession.Close)
      conns.remove(sock)
      try sock.close() catch { case NonFatal(_) => () }
    }
  }

  def stop(): Unit = {
    running = false
    try server.close() catch { case NonFatal(_) => () }
    conns.forEach(s => try s.close() catch { case NonFatal(_) => () })
  }
}

object WireServer {
  def apply(host: ConsumerHost, port: Int = 0, maxBatch: Int = Int.MaxValue): WireServer =
    new WireServer(host, port, maxBatch)
}

/** Minimal blocking client for [[WireServer]] — one socket, one
  * request/reply loop (the reference's clients are tonic-generated;
  * this is the equivalent hand-rolled stub). `soTimeoutMillis` > 0
  * bounds each blocking read (a reply that never comes surfaces as
  * SocketTimeoutException instead of a hang — harnesses that must not
  * wedge a driver, like the wire replay bench, set it). */
final class WireClient(host: String, port: Int, soTimeoutMillis: Int = 0) {
  private val sock = new Socket(host, port)
  sock.setTcpNoDelay(true) // see serve(): unary calls stall on Nagle otherwise
  if (soTimeoutMillis > 0) sock.setSoTimeout(soTimeoutMillis)
  private val in = new DataInputStream(new java.io.BufferedInputStream(sock.getInputStream))
  private val out = new DataOutputStream(new java.io.BufferedOutputStream(sock.getOutputStream))

  /** Sends one request, reads frames through the Ok terminator. */
  def call(req: WireRequest): Seq[WireResponse] = {
    writeFrame(out, encodeRequest(req))
    readReply()
  }

  /** PIPELINED unary calls: writes every request frame back-to-back
    * (one flush), then reads the replies in order — the protocol
    * guarantees exactly one Ok terminator per request, so ordering is
    * unambiguous. This removes the per-request round-trip wait that
    * pins a synchronous producer at ~1/RTT events per connection
    * (the round-9 wire-replay profile: produce-side RTT bound,
    * scale-invariant ~100k ev/s at 8 connections), exactly what
    * HTTP/2 stream multiplexing buys a tonic client on the
    * reference's ingest path. */
  def callAll(reqs: Seq[WireRequest]): Seq[Seq[WireResponse]] = {
    reqs.foreach { r => // write without per-frame flush
      val bytes = encodeRequest(r)
      out.writeInt(bytes.length)
      out.write(bytes)
    }
    out.flush()
    reqs.map(_ => readReply())
  }

  private def readReply(): Seq[WireResponse] = {
    val replies = Seq.newBuilder[WireResponse]
    var done = false
    while (!done) readFrame(in) match {
      case Some(frame) => decodeResponse(frame) match {
        case Ok => done = true
        case r => replies += r
      }
      case None => throw new java.io.EOFException("server closed mid-reply")
    }
    replies.result()
  }

  def notifications(rs: Seq[WireResponse]): Seq[Notification] =
    rs.collect { case n: Notification => n }

  def errors(rs: Seq[WireResponse]): Seq[String] =
    rs.collect { case WireError(m) => m }

  def disconnect(): Unit = sock.close()
}
