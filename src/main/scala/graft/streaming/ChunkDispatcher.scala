package graft.streaming

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent
import scala.jdk.CollectionConverters._

/** JetStream-parity consumer dispatch over a delivery-chunk ledger:
  * ack-wait redelivery and competing consumers.
  *
  * The reference inherits both semantics from its broker's consumer
  * (`/root/reference/src/stream_handler/handler.rs:21-25` declares the
  * JetStream consumer; the ack loop is public_event_server.rs:363-384):
  *  - a message delivered but not acked within the consumer's ack-wait
  *    is redelivered automatically — no client restart required;
  *  - N clients pulling one consumer split messages: each message is in
  *    flight to exactly ONE client at a time, and an unacked message
  *    from a dead client fails over to the survivors.
  *
  * Here the unit of delivery is the chunk (micro-batch), and this class
  * is the single bookkeeping point both engines ([[MultiplexedDelivery]],
  * [[DurableEventLog]]) consult at pull time:
  *
  *  - a chunk is OFFERABLE to session S when it is unacked and
  *    (never offered) ∨ (its flight's owner is no longer live)
  *    ∨ (its flight's ack-wait deadline has passed — including S's own
  *    flight: the silent-client redelivery);
  *  - offering atomically re-flights the chunk to S ([[offer]] runs the
  *    check-and-claim per chunk under the flight map's compute lock, so
  *    two concurrently pulling sessions can never both claim one chunk);
  *  - [[settle]] (on ack) clears the flight;
  *  - flights carry a delivery COUNT (JetStream `num_delivered`):
  *    monotone across redeliveries and, via [[restore]], across process
  *    restarts when the owning engine journals offers to its WAL.
  *
  * Time is injected (`clock`) so specs drive the ack-wait deadline
  * deterministically; production uses `System.currentTimeMillis`.
  *
  * Driver-side state, like the ledger it guards: O(pending chunks),
  * independent of event volume — the same scale as the reference's
  * in-server ack map.
  */
final class ChunkDispatcher(ackWaitMillis: Long,
                            clock: () => Long = () => System.currentTimeMillis()) {
  import ChunkDispatcher.Flight

  private val flights = new ConcurrentHashMap[(String, String), Flight]()
  private val live: concurrent.Map[(String, Long), Unit] =
    new ConcurrentHashMap[(String, Long), Unit]().asScala
  private val sessionIds = new AtomicLong(0L)

  // observability (JetStream surfaces num_redelivered per consumer;
  // these are the engine-wide equivalents an operator dashboards)
  private val offersTotal = new AtomicLong(0L)
  private val redeliveriesTotal = new AtomicLong(0L)
  private val failoversTotal = new AtomicLong(0L)

  /** Fresh session id (unique per dispatcher lifetime). */
  def newSessionId(): Long = sessionIds.incrementAndGet()

  def openSession(groupId: String, sessionId: Long): Unit = synchronized {
    live.put((groupId, sessionId), ()); ()
  }

  /** Session death/close: its flights stay recorded (delivery counts
    * survive) but become immediately offerable to any live session. */
  def closeSession(groupId: String, sessionId: Long): Unit = synchronized {
    live.remove((groupId, sessionId)); ()
  }

  def isLive(groupId: String, sessionId: Long): Boolean =
    live.contains((groupId, sessionId))

  def liveSessionCount(groupId: String): Int =
    live.keys.count(_._1 == groupId)

  /** Filter `chunkIds` to the ones offerable to `sessionId` NOW, and
    * claim each one atomically (per-key compute: concurrent pulls from
    * two sessions partition the chunks, never double-claim). Returns
    * the claimed ids in input order. `max` is the JetStream pull-batch
    * bound (`batch(n)`): claiming stops after `max` chunks, leaving the
    * rest unclaimed for competing sessions.
    *
    * FAIR DISPATCH (JetStream load-balances a consumer group's clients
    * roughly round-robin — handler.rs:21-25): when the group has ≥2
    * live sessions, a pull additionally claims at most the session's
    * DEFICIT share `ceil(pending / liveSessions) − alreadyInFlight`, so
    * an unbounded first puller takes only its share and concurrent
    * pulls split the pending set with imbalance ≤ 1 chunk. A lone
    * session still drains everything (no artificial starvation), and a
    * session whose competitors go idle reclaims the remainder across
    * its subsequent pull round-trips — liveness is unchanged, only the
    * per-pull distribution is. Failover/redelivery claim conditions are
    * untouched. */
  def offer(groupId: String, sessionId: Long, chunkIds: Seq[String],
            max: Int = Int.MaxValue): Seq[String] = {
    val now = clock()
    val liveN = liveSessionCount(groupId)
    val fairCap =
      if (liveN <= 1) Int.MaxValue
      else {
        val held = flights.asScala.count { case ((g, _), f) =>
          g == groupId && f.sessionId == sessionId &&
            isLive(groupId, f.sessionId) && now < f.offeredAt + ackWaitMillis
        }
        math.max(0, (chunkIds.size + liveN - 1) / liveN - held)
      }
    var left = math.min(max, fairCap)
    chunkIds.filter { c =>
      left > 0 && {
        var claimed = false
        flights.compute((groupId, c), (_, f) => {
          val ownerDead = f != null && !isLive(groupId, f.sessionId)
          val expired = f != null && now >= f.offeredAt + ackWaitMillis
          if (f == null || ownerDead || expired) {
            claimed = true
            offersTotal.incrementAndGet()
            if (ownerDead) failoversTotal.incrementAndGet()
            else if (expired) redeliveriesTotal.incrementAndGet()
            Flight(sessionId, now, (if (f == null) 0 else f.deliveries) + 1)
          } else f
        })
        if (claimed) left -= 1
        claimed
      }
    }
  }

  /** Engine-wide dispatch counters since construction:
    * (total offers, ack-wait redeliveries, dead-session failovers). */
  def counters: (Long, Long, Long) =
    (offersTotal.get(), redeliveriesTotal.get(), failoversTotal.get())

  /** Ack settles the chunk: flight bookkeeping ends. */
  def settle(groupId: String, chunkId: String): Unit =
    flights.remove((groupId, chunkId))

  /** True when the chunk is currently held by a DIFFERENT session whose
    * claim is still valid (owner live, ack-wait not expired). JetStream
    * rejects acks for deliveries the acking client does not hold; the
    * protocol layer consults this before settling so a competing
    * session cannot ack a chunk out from under its holder. A dead or
    * expired holder does NOT block the ack (the payload already reached
    * the acking client via an earlier claim — settling is then the
    * correct at-least-once outcome). */
  def heldByOther(groupId: String, chunkId: String, sessionId: Long): Boolean = {
    val f = flights.get((groupId, chunkId))
    f != null && f.sessionId != sessionId &&
      isLive(groupId, f.sessionId) && clock() < f.offeredAt + ackWaitMillis
  }

  /** JetStream-style `num_delivered` for a chunk, with one documented
    * divergence: counts exist only while the chunk is UNSETTLED (0 =
    * never offered, or already acked/dropped — [[settle]] and
    * [[dropGroup]] erase the flight record that carries the count).
    * JetStream's num_delivered survives ack; here the engines' ledgers
    * are the post-ack history, and keeping a settled-count map forever
    * would grow without bound on the driver. While a chunk is pending
    * the count is monotone across redeliveries and restarts. */
  def deliveries(groupId: String, chunkId: String): Int =
    Option(flights.get((groupId, chunkId))).map(_.deliveries).getOrElse(0)

  /** Current flight for a chunk, if any (exact offeredAt/count — what
    * a WAL-backed engine journals after a successful [[offer]]). */
  def flight(groupId: String, chunkId: String): Option[Flight] =
    Option(flights.get((groupId, chunkId)))

  /** WAL replay: restore a flight (offeredAt + count) from a journaled
    * offer record. The owning session is from a previous process and is
    * not live, so the chunk is immediately offerable — what restart
    * failover should do — while the delivery count stays monotone.
    * The id counter advances past every restored id so a session opened
    * AFTER replay can never collide with (and accidentally "own") a
    * dead process's flight. */
  def restore(groupId: String, chunkId: String, sessionId: Long,
              offeredAt: Long, deliveries: Int): Unit = {
    sessionIds.updateAndGet(cur => math.max(cur, sessionId))
    flights.put((groupId, chunkId), Flight(sessionId, offeredAt, deliveries))
  }

  def dropGroup(groupId: String): Unit = {
    flights.keySet.asScala.filter(_._1 == groupId)
      .foreach(flights.remove)
    live.keys.filter(_._1 == groupId).foreach(live.remove)
  }
}

object ChunkDispatcher {
  /** One in-flight delivery: who holds the chunk, since when, and how
    * many times it has been offered in total. */
  final case class Flight(sessionId: Long, offeredAt: Long, deliveries: Int)
}
