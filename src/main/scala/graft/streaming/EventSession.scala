package graft.streaming

import graft.core._

/** R13 — the bidi session protocol of
  * `read_stream_group_messages` (public_event_server.rs:192-446),
  * re-expressed as a synchronous protocol object over the one delivery
  * core ([[ConsumerHost]]), so every engine serves the same protocol:
  *
  *  - the FIRST inbound message must be `Init{stream_group_id}`; an Ack
  *    before Init is rejected ("an init message needs to be send before
  *    any ack message", :234-240), as is a missing group (:249-270) or
  *    a caller without a Read grant on the group's resource (the authz
  *    re-check of :273-301 — [[ConsumerHost.attach]] performs it);
  *  - later `Ack{ack_chunk_id[]}` messages settle delivered chunks and
  *    the session answers with whatever is pending (the pull analog of
  *    the reference's push loop — micro-batch delivery fills the
  *    ledger, the session drains it);
  *  - `close` releases the session; the group keeps its position and
  *    keeps receiving chunks, so a new session can re-attach and resume
  *    (:321-345);
  *  - failures inside an established session surface as
  *    [[EventSession.SessionError]] values on the outbound stream — the
  *    reference's error CHANNEL feeding the output loop (:325,395-401)
  *    — rather than as thrown exceptions; only pre-session failures
  *    (bad init) throw, exactly where the reference returns a gRPC
  *    error status instead of opening the stream.
  */
final class EventSession(engine: ConsumerHost,
                         maxBatch: Int = Int.MaxValue) {
  import EventSession._

  /** This session's consumer identity for the dispatcher: chunks it is
    * offered are in flight to it until acked or ack-wait expiry, and
    * competing sessions on the same group receive disjoint chunks. */
  val sessionId: Long = engine.dispatcher.newSessionId()

  @volatile private var groupId: Option[String] = None

  def isOpen: Boolean = groupId.isDefined

  /** One protocol step: feed an inbound message, receive the outbound
    * elements it produces. */
  def handle(msg: Inbound): Seq[Outbound] = msg match {
    case Init(id, token) =>
      if (groupId.isDefined)
        Seq(SessionError("session already initialized"))
      else {
        // pre-session failures throw — the reference returns a status
        // before any output stream exists (:249-270, :273-301)
        engine.attach(id, token)
        engine.dispatcher.openSession(id, sessionId)
        groupId = Some(id)
        pendingNotifications(id)
      }
    case Ack(ids) => groupId match {
      case None =>
        throw new IllegalStateException(
          "an init message needs to be send before any ack message")
      case Some(id) =>
        // JetStream rejects an ack for a delivery the client does not
        // hold: a chunk in valid flight to a COMPETING session must not
        // be settled out from under its holder (ADVICE r5); unheld,
        // expired, or own-flight chunks ack normally.
        val (foreign, own) =
          ids.partition(engine.dispatcher.heldByOther(id, _, sessionId))
        val errors =
          foreign.map(c => SessionError(s"chunk in flight to another session: $c")) ++
            own.filterNot(engine.ack(id, _))
              .map(c => SessionError(s"unknown or already-acked chunk: $c"))
        errors ++ pendingNotifications(id)
    }
    case Close => groupId match {
      case None =>
        throw new IllegalStateException(
          "an init message needs to be send before close")
      case Some(id) =>
        // the session's flights fail over to the survivors; the group
        // keeps receiving chunks (each reference bidi stream is one
        // client of a shared JetStream consumer, :321-345)
        engine.closeSession(id, sessionId)
        groupId = None
        Seq.empty
    }
  }

  /** The pull analog of the reference's push loop, now through the
    * dispatcher: in-flight chunks are NOT re-offered until their
    * ack-wait deadline passes or their owning session dies. `maxBatch`
    * bounds each reply (the reference's bounded JetStream pull batch,
    * natsio.rs:198-204); the remainder stays claimable — by this
    * session's next ack round-trip or by a competing session. */
  private def pendingNotifications(id: String): Seq[Outbound] =
    engine.pull(id, sessionId, maxBatch).map(Notification.apply)
}

object EventSession {
  sealed trait Inbound
  /** First message: bind the session to a stream group (+ caller token
    * for the attach-time authz re-check). */
  final case class Init(streamGroupId: String, token: Option[String] = None) extends Inbound
  /** Settle chunks; the reply carries what is still pending. */
  final case class Ack(ackChunkIds: Seq[String]) extends Inbound
  /** The `close: bool` flag (reference AtomicBool, :321-323). */
  case object Close extends Inbound

  sealed trait Outbound
  /** One deliverable chunk (the reference's notification batch). */
  final case class Notification(chunk: DeliveryChunk) extends Outbound
  /** In-session failure as a stream element (reference error channel). */
  final case class SessionError(message: String) extends Outbound
}
