package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.core._
import graft.streaming.{DurableEventLog, EventSession, MultiplexedDelivery}
import graft.streaming.EventSession._

/** Lifecycle fuzz of the FULL consumer stack — EventSession protocol +
  * MultiplexedDelivery + ChunkDispatcher + LedgerStore WAL — extending the
  * dispatcher model check to the engine the way the reference's e2e
  * flow exercises its server (e2e/tests.rs:108-277: create group, emit,
  * read, ack, close, re-read). Random interleavings of
  * emit/init/pull/ack/foreign-ack/close/clock-advance/crash-restart,
  * with TWO invariants asserted on every delivered notification and at
  * the end of every seed:
  *
  *  - NO-DOUBLE-SERVE: a served chunk was offerable at that instant —
  *    never acked, and any prior flight belonged to the receiving
  *    session, a dead session, or had passed its ack-wait;
  *  - AT-LEAST-ONCE: after a final drain, every event that reached a
  *    chunk is delivered and every chunk acked — across crashes, WAL
  *    replay, competing sessions, and rejected foreign acks.
  *
  * Emits go into a group's project whether or not the group has a live
  * session — a group whose last session closed keeps its position, as
  * a JetStream consumer does. Each emit is drained into a chunk before
  * a potential crash (the memory source stands in for the reference's
  * durable NATS stream; durability here begins at the chunk WAL).
  *
  * The same invariants run on a [[DurableEventLog]], with two more ops:
  * remove + re-create of the group, and a restart that re-registers the
  * group after the new engine's queries have started — both served by
  * the shared query's history read, which must also keep every event
  * in exactly one chunk id with stable content. */
class SessionFuzzSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("graft-session-fuzz")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val ACK_WAIT = 1000L

  test("random session lifecycles preserve no-double-serve and at-least-once over the WAL (50 seeds)") {
    (1 to 50).foreach { seedNo =>
      val dir = java.nio.file.Files.createTempDirectory("graft-fuzz-wal").toString
      @volatile var now = 0L
      def mkEngine() = {
        val e = new MultiplexedDelivery(spark, Trigger.ProcessingTime("250 milliseconds"),
          ledgerDir = Some(dir), ackWaitMillis = ACK_WAIT, clock = () => now)
        e.start()
        e
      }

      var engine = mkEngine()
      engine.addGroup("g", ResourceType.Project, "p",
        Hierarchy(projectId = "p"), includeSubresources = true)

      // model state
      var uidNext = 0
      var open = Map.empty[Int, EventSession]   // uid -> live session
      var acked = Set.empty[String]             // settled chunk ids
      var flights = Map.empty[String, (Int, Long)] // chunk -> (uid, offeredAt)
      var emitted = Set.empty[String]           // collection ids sent to chunks
      var servedIds = Set.empty[String]         // resource ids seen in notifications
      var emits = 0
      var restarted = false

      def offerableTo(uid: Int, c: String): Boolean =
        !acked.contains(c) && (flights.get(c) match {
          case None => true
          case Some((owner, at)) =>
            owner == uid || !open.contains(owner) || now >= at + ACK_WAIT
        })

      def recordServed(uid: Int, outs: Seq[Outbound], ctx: String): Seq[String] = {
        val notes = outs.collect { case n: Notification => n }
        notes.foreach { n =>
          val c = n.chunk.chunkId
          assert(offerableTo(uid, c),
            s"seed $seedNo [$ctx]: chunk $c served to $uid while not offerable " +
              s"(acked=${acked.contains(c)} flight=${flights.get(c)} now=$now)")
          flights += c -> (uid, now)
          servedIds ++= n.chunk.resourceIds
        }
        notes.map(_.chunk.chunkId)
      }

      def initSession(ctx: String): Int = {
        val s = new EventSession(engine)
        val uid = { uidNext += 1; uidNext }
        open += uid -> s
        recordServed(uid, s.handle(Init("g")), ctx)
        uid
      }

      val opGen: Gen[Int] = Gen.chooseNum(0, 99)
      var seed = Seed(seedNo.toLong)
      (1 to 16).foreach { step =>
        val op = opGen.apply(Gen.Parameters.default, seed).getOrElse(0)
        seed = seed.next
        op match {
          case o if o < 22 => // emit a fresh collection event
            if (emits < 4) {
              val rid = s"c$seedNo-$emits"
              engine.emit(ResourceType.Collection, EventType.All, rid,
                RelationCtx(project = "p"))
              engine.processAllAvailable()
              emitted += rid; emits += 1
            }
          case o if o < 37 => // open a new competing session
            if (open.size < 3) { initSession(s"init@$step"); () }
          case o if o < 55 => // empty-ack pull on a random open session
            open.toSeq.sortBy(_._1).lift(o % 3).foreach { case (uid, s) =>
              recordServed(uid, s.handle(Ack(Seq.empty)), s"pull@$step"); ()
            }
          case o if o < 67 => // holder acks one of its valid flights
            flights.toSeq.sortBy(_._1).collectFirst {
              case (c, (owner, at)) if open.contains(owner) &&
                now < at + ACK_WAIT && !acked.contains(c) => (c, owner)
            }.foreach { case (c, owner) =>
              val outs = open(owner).handle(Ack(Seq(c)))
              assert(!outs.exists(_.isInstanceOf[SessionError]),
                s"seed $seedNo: own ack of $c errored: $outs")
              acked += c; flights -= c
              recordServed(owner, outs, s"ack@$step"); ()
            }
          case o if o < 74 => // foreign ack must be rejected, not settled
            (for {
              (c, (owner, at)) <- flights.toSeq.sortBy(_._1)
              if open.contains(owner) && now < at + ACK_WAIT && !acked.contains(c)
              (uid, s) <- open.toSeq.sortBy(_._1) if uid != owner
            } yield (c, uid, s)).headOption.foreach { case (c, uid, s) =>
              val outs = s.handle(Ack(Seq(c)))
              assert(outs.collect { case e: SessionError => e }
                .exists(_.message.contains("in flight to another session")),
                s"seed $seedNo: foreign ack of $c was not rejected")
              assert(engine.dispatcher.flight("g", c).isDefined,
                s"seed $seedNo: foreign ack settled $c out from under its holder")
              recordServed(uid, outs, s"foreignAck@$step"); ()
            }
          case o if o < 82 => // close a random session
            open.toSeq.sortBy(_._1).lift(o % 3).foreach { case (uid, s) =>
              s.handle(Close); open -= uid
            }
          case o if o < 92 => // clock advance (maybe past ack-wait)
            now += (if (o % 2 == 0) ACK_WAIT + 500 else ACK_WAIT / 3)
          case _ => // crash + restart over the same WAL (once per seed)
            if (!restarted && step > 6) {
              restarted = true
              engine.stop()
              open = Map.empty // every session died with the process
              engine = mkEngine()
              engine.addGroup("g", ResourceType.Project, "p",
                Hierarchy(projectId = "p"), includeSubresources = true)
            }
        }
      }

      // final drain: one surviving session pulls-and-acks to empty.
      // Chunks it already holds re-offer after an ack-wait expiry bump.
      open.toSeq.sortBy(_._1).drop(1).foreach { case (uid, s) =>
        s.handle(Close); open -= uid
      }
      val drainUid = open.keys.headOption.getOrElse(initSession("drain-init"))
      val drain = open(drainUid)
      var toAck = Seq.empty[String]
      var rounds = 0
      while ((engine.pendingChunks("g").nonEmpty || toAck.nonEmpty) && rounds < 40) {
        val outs = drain.handle(Ack(toAck))
        toAck.foreach { c => acked += c; flights -= c }
        toAck = recordServed(drainUid, outs, s"drain$rounds")
        if (toAck.isEmpty && engine.pendingChunks("g").nonEmpty) now += ACK_WAIT + 500
        rounds += 1
      }
      assert(engine.pendingChunks("g").isEmpty,
        s"seed $seedNo: drain left pending chunks ${engine.pendingChunks("g").map(_.chunkId)}")
      assert(emitted.subsetOf(servedIds),
        s"seed $seedNo: events lost (at-least-once violated): ${emitted -- servedIds}")
      engine.stop()
    }
  }

  test("multi-group lifecycles: isolation + at-least-once per group over the WAL (25 seeds)") {
    // Two groups on one engine/WAL: everything the single-group fuzz
    // asserts, plus the ISOLATION invariants a shared ledger could
    // break — a session only ever sees its own group's chunks, a
    // cross-group ack never settles the other group's chunk, and a
    // crash-restart replays each group's pending set independently.
    val GROUPS = Seq("fg1" -> "pa", "fg2" -> "pb")
    (1 to 25).foreach { seedNo =>
      val dir = java.nio.file.Files.createTempDirectory("graft-fuzz-wal2").toString
      @volatile var now = 0L
      def mkEngine() = {
        val e = new MultiplexedDelivery(spark, Trigger.ProcessingTime("250 milliseconds"),
          ledgerDir = Some(dir), ackWaitMillis = ACK_WAIT, clock = () => now)
        e.start()
        GROUPS.foreach { case (g, p) =>
          e.addGroup(g, ResourceType.Project, p,
            Hierarchy(projectId = p), includeSubresources = true)
        }
        e
      }
      var engine = mkEngine()

      var uidNext = 0
      var open = Map.empty[Int, (String, EventSession)] // uid -> (group, session)
      var acked = Set.empty[String]
      var flights = Map.empty[String, (Int, Long)]
      var emitted = Map("fg1" -> Set.empty[String], "fg2" -> Set.empty[String])
      var served = Map("fg1" -> Set.empty[String], "fg2" -> Set.empty[String])
      var emits = 0
      var restarted = false

      def offerableTo(uid: Int, c: String): Boolean =
        !acked.contains(c) && (flights.get(c) match {
          case None => true
          case Some((owner, at)) =>
            owner == uid || !open.contains(owner) || now >= at + ACK_WAIT
        })

      def recordServed(uid: Int, g: String, outs: Seq[Outbound], ctx: String): Seq[String] = {
        val notes = outs.collect { case n: Notification => n }
        notes.foreach { n =>
          assert(n.chunk.groupId == g,
            s"seed $seedNo [$ctx]: session on $g served ${n.chunk.groupId}'s chunk " +
              n.chunk.chunkId + " — group isolation violated")
          val c = n.chunk.chunkId
          assert(offerableTo(uid, c),
            s"seed $seedNo [$ctx]: chunk $c served to $uid while not offerable")
          flights += c -> (uid, now)
          served += g -> (served(g) ++ n.chunk.resourceIds)
        }
        notes.map(_.chunk.chunkId)
      }

      def initSession(g: String, ctx: String): Int = {
        val s = new EventSession(engine)
        val uid = { uidNext += 1; uidNext }
        open += uid -> (g, s)
        recordServed(uid, g, s.handle(Init(g)), ctx)
        uid
      }

      def groupOf(c: String): String = GROUPS.map(_._1).find(g => c.startsWith(g)).get

      val opGen: Gen[Int] = Gen.chooseNum(0, 99)
      var seed = Seed(1000L + seedNo.toLong)
      (1 to 18).foreach { step =>
        val op = opGen.apply(Gen.Parameters.default, seed).getOrElse(0)
        seed = seed.next
        val (g, p) = GROUPS(op % 2)
        op match {
          case o if o < 24 => // emit into one group's project, session or not
            if (emits < 6) {
              val rid = s"c$seedNo-$emits"
              engine.emit(ResourceType.Collection, EventType.All, rid,
                RelationCtx(project = p))
              engine.processAllAvailable()
              emitted += g -> (emitted(g) + rid); emits += 1
            }
          case o if o < 38 => // open a session on one group
            if (open.count(_._2._1 == g) < 2) { initSession(g, s"init@$step"); () }
          case o if o < 56 => // pull on a random session
            open.toSeq.sortBy(_._1).lift(o % 4).foreach { case (uid, (sg, s)) =>
              recordServed(uid, sg, s.handle(Ack(Seq.empty)), s"pull@$step"); ()
            }
          case o if o < 68 => // holder acks a valid flight
            flights.toSeq.sortBy(_._1).collectFirst {
              case (c, (owner, at)) if open.contains(owner) &&
                now < at + ACK_WAIT && !acked.contains(c) => (c, owner)
            }.foreach { case (c, owner) =>
              val (sg, s) = open(owner)
              val outs = s.handle(Ack(Seq(c)))
              assert(!outs.exists(_.isInstanceOf[SessionError]),
                s"seed $seedNo: own ack of $c errored: $outs")
              acked += c; flights -= c
              recordServed(owner, sg, outs, s"ack@$step"); ()
            }
          case o if o < 76 => // CROSS-GROUP ack: must not settle the chunk
            (for {
              (c, (owner, at)) <- flights.toSeq.sortBy(_._1)
              if now < at + ACK_WAIT && !acked.contains(c)
              (uid, (sg, s)) <- open.toSeq.sortBy(_._1)
              if sg != groupOf(c)
            } yield (c, uid, sg, s)).headOption.foreach { case (c, uid, sg, s) =>
              val outs = s.handle(Ack(Seq(c)))
              assert(outs.collect { case e: SessionError => e }.nonEmpty,
                s"seed $seedNo: cross-group ack of $c by a $sg session did not error")
              assert(engine.dispatcher.flight(groupOf(c), c).isDefined
                  || !open.contains(flights(c)._1),
                s"seed $seedNo: cross-group ack settled $c")
              recordServed(uid, sg, outs, s"xack@$step"); ()
            }
          case o if o < 84 => // close a random session
            open.toSeq.sortBy(_._1).lift(o % 4).foreach { case (uid, (_, s)) =>
              s.handle(Close); open -= uid
            }
          case o if o < 92 => // clock advance
            now += (if (o % 2 == 0) ACK_WAIT + 500 else ACK_WAIT / 3)
          case _ => // crash + restart over the same WAL
            if (!restarted && step > 6) {
              restarted = true
              engine.stop()
              open = Map.empty
              engine = mkEngine()
            }
        }
      }

      // drain each group independently; per-group at-least-once
      GROUPS.foreach { case (g, _) =>
        open.toSeq.sortBy(_._1).filter(_._2._1 == g).drop(1).foreach { case (uid, (_, s)) =>
          s.handle(Close); open -= uid
        }
        val drainUid = open.find(_._2._1 == g).map(_._1)
          .getOrElse(initSession(g, "drain-init"))
        val (_, drain) = open(drainUid)
        var toAck = Seq.empty[String]
        var rounds = 0
        while ((engine.pendingChunks(g).nonEmpty || toAck.nonEmpty) && rounds < 40) {
          val outs = drain.handle(Ack(toAck))
          toAck.foreach { c => acked += c; flights -= c }
          toAck = recordServed(drainUid, g, outs, s"drain-$g-$rounds")
          if (toAck.isEmpty && engine.pendingChunks(g).nonEmpty) now += ACK_WAIT + 500
          rounds += 1
        }
        assert(engine.pendingChunks(g).isEmpty,
          s"seed $seedNo: drain left pending chunks in $g")
        assert(emitted(g).subsetOf(served(g)),
          s"seed $seedNo: $g lost events (at-least-once): ${emitted(g) -- served(g)}")
        assert((served(g) -- emitted(g)).isEmpty,
          s"seed $seedNo: $g served foreign events (isolation): ${served(g) -- emitted(g)}")
      }
      engine.stop()
    }
  }

  test("durable log lifecycles: remove/re-create and restart re-registration keep the invariants (4 seeds)") {
    var (restarts, recreates) = (0, 0)
    (1 to 4).foreach { seedNo =>
      val dir = java.nio.file.Files.createTempDirectory("graft-fuzz-durable").toString
      @volatile var now = 0L
      def mkEngine() = {
        val e = new DurableEventLog(spark, s"$dir/log", s"$dir/ckpt",
          Trigger.ProcessingTime("250 milliseconds"), ackWaitMillis = ACK_WAIT, clock = () => now)
        e.startIngest()
        e.startMultiplexed()
        e
      }
      def register(e: DurableEventLog): Unit = {
        e.addGroup("g", ResourceType.Project, "p", Hierarchy(projectId = "p"), includeSubresources = true); ()
      }
      def emit(e: DurableEventLog, rid: String, project: String): Unit = {
        e.emit(ResourceType.Collection, EventType.All, rid, RelationCtx(project = project))
        e.processAllAvailable()
      }

      var engine = mkEngine()
      register(engine)
      var uidNext = 0
      var open = Map.empty[Int, EventSession]
      var acked = Set.empty[String]
      var flights = Map.empty[String, (Int, Long)]
      var expected = Set.empty[String] // emitted since the group's latest creation
      var servedIds = Set.empty[String]
      var content = Map.empty[String, Seq[String]] // chunk id -> resource ids, whole seed
      var chunkOf = Map.empty[String, String]      // resource id -> chunk id, whole seed
      var emits = 0
      var restarted = false
      var recreated = false

      def offerableTo(uid: Int, c: String): Boolean =
        !acked.contains(c) && (flights.get(c) match {
          case None => true
          case Some((owner, at)) =>
            owner == uid || !open.contains(owner) || now >= at + ACK_WAIT
        })

      def recordServed(uid: Int, outs: Seq[Outbound], ctx: String): Seq[String] = {
        val notes = outs.collect { case n: Notification => n }
        notes.foreach { n =>
          val c = n.chunk.chunkId
          assert(offerableTo(uid, c), s"seed $seedNo [$ctx]: chunk $c served to $uid while not offerable")
          assert(content.getOrElse(c, n.chunk.resourceIds) == n.chunk.resourceIds,
            s"seed $seedNo [$ctx]: chunk id $c served with new content ${n.chunk.resourceIds}, was ${content.get(c)}")
          content += c -> n.chunk.resourceIds
          n.chunk.resourceIds.foreach { r =>
            assert(chunkOf.getOrElse(r, c) == c,
              s"seed $seedNo [$ctx]: event $r served in ${chunkOf.get(r)} and again in $c")
            chunkOf += r -> c
          }
          flights += c -> (uid, now)
          servedIds ++= n.chunk.resourceIds
        }
        notes.map(_.chunk.chunkId)
      }

      def initSession(ctx: String): Int = {
        val s = new EventSession(engine)
        val uid = { uidNext += 1; uidNext }
        open += uid -> s
        recordServed(uid, s.handle(Init("g")), ctx)
        uid
      }

      def nextEmit(): String = { val rid = s"d$seedNo-$emits"; emits += 1; rid }

      val opGen: Gen[Int] = Gen.chooseNum(0, 99)
      var seed = Seed(2000L + seedNo.toLong)
      (1 to 14).foreach { step =>
        val op = opGen.apply(Gen.Parameters.default, seed).getOrElse(0)
        seed = seed.next
        op match {
          case o if o < 24 => // emit into the group's project
            if (emits < 5) { val rid = nextEmit(); emit(engine, rid, "p"); expected += rid }
          case o if o < 38 =>
            if (open.size < 2) { initSession(s"init@$step"); () }
          case o if o < 54 =>
            open.toSeq.sortBy(_._1).lift(o % 2).foreach { case (uid, s) =>
              recordServed(uid, s.handle(Ack(Seq.empty)), s"pull@$step"); ()
            }
          case o if o < 66 => // holder acks one of its valid flights
            flights.toSeq.sortBy(_._1).collectFirst {
              case (c, (owner, at)) if open.contains(owner) &&
                now < at + ACK_WAIT && !acked.contains(c) => (c, owner)
            }.foreach { case (c, owner) =>
              val outs = open(owner).handle(Ack(Seq(c)))
              assert(!outs.exists(_.isInstanceOf[SessionError]), s"seed $seedNo: own ack of $c errored: $outs")
              acked += c; flights -= c
              recordServed(owner, outs, s"ack@$step"); ()
            }
          case o if o < 72 => // close a session
            open.toSeq.sortBy(_._1).lift(o % 2).foreach { case (uid, s) => s.handle(Close); open -= uid }
          case o if o < 80 =>
            now += (if (o % 2 == 0) ACK_WAIT + 500 else ACK_WAIT / 3)
          case o if o < 90 => // remove + re-create, with an emit in between (once per seed)
            if (!recreated && step > 3) {
              recreated = true; recreates += 1
              open.values.foreach(_.handle(Close)); open = Map.empty
              engine.removeGroup("g")
              expected = Set.empty; flights = Map.empty
              val rid = nextEmit(); emit(engine, rid, "p"); expected += rid
              register(engine)
            }
          case _ => // crash + restart; the group re-registers after a batch without it
            if (!restarted && step > 3) {
              restarted = true; restarts += 1
              engine.stop()
              open = Map.empty
              engine = mkEngine()
              val rid = nextEmit(); emit(engine, rid, "p"); expected += rid
              register(engine)
            }
        }
      }

      // a history is served by the next shared batch: log one event
      // outside the group's project, then drain with one session
      emit(engine, s"flush$seedNo", "q")
      open.toSeq.sortBy(_._1).drop(1).foreach { case (uid, s) => s.handle(Close); open -= uid }
      val drainUid = open.keys.headOption.getOrElse(initSession("drain-init"))
      val drain = open(drainUid)
      var toAck = Seq.empty[String]
      var rounds = 0
      while ((engine.pendingChunks("g").nonEmpty || toAck.nonEmpty) && rounds < 40) {
        val outs = drain.handle(Ack(toAck))
        toAck.foreach { c => acked += c; flights -= c }
        toAck = recordServed(drainUid, outs, s"drain$rounds")
        if (toAck.isEmpty && engine.pendingChunks("g").nonEmpty) now += ACK_WAIT + 500
        rounds += 1
      }
      assert(engine.pendingChunks("g").isEmpty,
        s"seed $seedNo: drain left pending chunks ${engine.pendingChunks("g").map(_.chunkId)}")
      assert(expected.subsetOf(servedIds),
        s"seed $seedNo: events lost (at-least-once violated): ${expected -- servedIds}")
      engine.stop()
    }
    assert(restarts > 0 && recreates > 0, s"the seeds must run both ops: $restarts restarts, $recreates re-creates")
  }
}
