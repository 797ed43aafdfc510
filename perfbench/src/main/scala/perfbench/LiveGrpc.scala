package perfbench

import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import java.util.concurrent.locks.LockSupport

import graft.streaming.{GrpcClient, GrpcServer, H2c, MultiplexedDelivery}
import graft.streaming.WireProtocol._

/** `live_grpc`: an open loop of `SendEvent` unary calls at a fixed rate
  * over one h2c connection (the producer), and one
  * `ReadStreamGroupMessages` bidi stream per group over a second one (the
  * consumer); every push is acked. Producer and consumer are separate
  * clients, as in a deployment, so emits do not queue behind pushes.
  *
  * Threads: one sender, one receiver, two connections. Each event is
  * timed from its scheduled send time, so a stall also delays the
  * events scheduled behind it. */
object LiveGrpc extends Workload {
  /** Offered rate, events/s: about a sixtieth of what `bulk_backfill`
    * drains on 4 cores, so rows never queue; the trigger loop is busy
    * anyway, because one trigger's fixed cost (about 200 ms on 4 cores)
    * dominates. So 400/s costs no more CPU than 200/s did, and gives
    * twice the latency samples. */
  val Rate = 400.0
  /** p99 delivery latency limit, ms (about three times the whole-run p99
    * measured on 4 cores); a run above it is invalid. */
  val P99LimitMs = 2500.0
  /** Traffic each set-up sends and drains before the run: the JIT keeps
    * compiling well into the first seconds of load. */
  val WarmupEvents = 800
  /** One project-subtree group per project, plus an exact-match group on
    * each project's hottest collection: 8 groups. */
  val shape = Shape(projects = 4)

  def setup(ctx: Ctx): Prepared = new Live(ctx)

  private final class Live(ctx: Ctx) extends Prepared {
    private val tr = ctx.tracer
    private val gen = new EventGen(ctx.seed, shape)
    private val groups = (0 until 4).map(GroupSpec.projectTree) ++
      (0 until 4).map(p => GroupSpec.collection(p, gen.hotCollection(p), subtree = false))
    private val submit = new SubmitTimes
    private val checker = new Checker(submit(_))
    groups.foreach(checker.track(_))
    private val mux = new MultiplexedDelivery(ctx.spark, Workload.trigger)
    private val server = GrpcServer(mux)
    private val producer = new GrpcClient("127.0.0.1", server.boundPort)
    private val consumer = new GrpcClient("127.0.0.1", server.boundPort)

    // counters, always on: they cost an increment
    private val emitCalls, rejected, wireErrors, acksSent, pushMsgs, bytesOut, bytesIn = new AtomicLong
    private val deliver = new Latencies
    private val emitLat, emitWindow, late, pushGap, enc, dec = new Samples
    @volatile private var timing = false

    private def encode(r: WireRequest): Array[Byte] = {
      val t0 = System.nanoTime()
      val b = tr.call("WireProtocol", "encode")(encodeRequest(r))
      if (timing) enc.add((System.nanoTime() - t0) / 1e3)
      bytesOut.addAndGet(b.length + 5L)
      b
    }

    groups.foreach { g =>
      val (st, _) = producer.unary(GrpcServer.CreatePath, H2c.unwrapArm(encode(
        CreateGroup(g.id, g.rt.name, g.resourceId, g.h, g.includeSub, "ALL"))))
      require(st == 0, s"CreateEventStreamingGroup ${g.id} failed: grpc-status $st")
    }
    mux.start()
    private val streams = groups.map { g =>
      val b = consumer.bidi(GrpcServer.ReadMessagesPath)
      b.sendMessage(encode(Init(g.id)))
      g.id -> b
    }
    private val stop = new AtomicBoolean(false)
    private val lastPush = new java.util.HashMap[String, java.lang.Long]()
    private val receiver = new Thread(() => {
      while (!stop.get) {
        streams.foreach { case (gid, b) =>
          val r0 = System.nanoTime()
          val msgs = b.messages(64, timeoutMillis = 1)
          if (msgs.nonEmpty) {
            val now = System.nanoTime()
            val decoded = msgs.map { m =>
              bytesIn.addAndGet(m.length + 5L)
              pushMsgs.incrementAndGet()
              val t0 = System.nanoTime()
              val resp = tr.call("WireProtocol", "decode")(decodeResponse(m))
              if (timing) dec.add((System.nanoTime() - t0) / 1e3)
              resp
            }
            // the receive call that returned a push; empty polls are idle
            // waiting and get no span
            tr.record("H2c", "push", r0, now, link = decoded.collectFirst { case n: Notification => n.batchId }
              .getOrElse(-1L))
            val acks = decoded.flatMap {
              case n: Notification =>
                tr.call("gen", "check") {
                  val lat = checker.receive(gid, n.chunkId, n.resourceIds, n.subjects, now)
                  if (timing) lat.foreach(deliver.add(now, _))
                }
                Some(n.chunkId)
              case _ => wireErrors.incrementAndGet(); None
            }
            Option(lastPush.put(gid, now)).foreach(p => if (timing) pushGap.add((now - p) / 1e6))
            if (acks.nonEmpty) tr.call("H2c", "ack") {
              b.sendMessage(encode(Ack(acks))); acksSent.addAndGet(acks.size.toLong)
            }
          }
        }
      }
    }, "perfbench-receiver")
    receiver.setDaemon(true)
    receiver.start()

    /** Sends `n` events on the open-loop schedule; returns the wall span
      * from the first scheduled send to the last call's completion. */
    private def send(n: Int): (Long, Long) = {
      val interval = (1e9 / Rate).toLong
      val t0 = System.nanoTime() + 20000000L
      var end = t0
      for (i <- 0 until n) {
        val due = t0 + i * interval
        var now = System.nanoTime()
        while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
        if (timing) late.add((now - due) / 1e6)
        val e = gen.next()
        submit.set(e.seq, due)
        checker.expect(e)
        val ev = e.event
        val st = tr.call("gen", "emit") {
          val body = H2c.unwrapArm(encode(Emit(ev.resource, ev.eventType, ev.resourceId,
            graft.core.RelationCtx(ev.project, ev.collection, ev.sharedObject, ev.objectGroups))))
          val c0 = System.nanoTime()
          val (s, _) = tr.call("H2c", "emit")(producer.unary(GrpcServer.EmitPath, body))
          end = System.nanoTime()
          if (timing) { emitWindow.add((end - c0) / 1e6); emitLat.add((end - due) / 1e6) }
          s
        }
        emitCalls.incrementAndGet()
        if (st != 0) rejected.incrementAndGet()
      }
      (t0, end)
    }

    /** Waits until every expected delivery arrived and the ledger holds
      * nothing pending, or `timeoutMs` passes. */
    private def drain(timeoutMs: Long): Unit = {
      val deadline = System.currentTimeMillis() + timeoutMs
      def done = checker.delivered == checker.expectedDeliveries.get &&
        groups.forall(g => mux.pendingRowCount(g.id) == 0)
      while (!done && System.currentTimeMillis() < deadline) Thread.sleep(5)
    }

    send(WarmupEvents)
    drain(10000)

    def run(): Outcome = {
      Seq(emitCalls, rejected, wireErrors, acksSent, pushMsgs, bytesOut, bytesIn).foreach(_.set(0L))
      timing = true
      val base = checker.expectedDeliveries.get
      val ledger = if (ctx.traced) Some(new LedgerSampler(() => mux.ledgerStats, 50)) else None
      val cpu0 = Jvm.cpuSeconds
      val n = (Rate * ctx.seconds).toInt
      val (t0, tSent) = send(n)
      drain(15000)
      val t1 = System.nanoTime()
      val cpu = Jvm.cpuSeconds - cpu0
      ledger.foreach(_.close())
      stop.set(true); receiver.join()
      timing = false
      val missing = checker.finish()
      val pendingLeft = groups.map(g => mux.pendingChunks(g.id).size.toLong).sum
      val expectedRun = checker.expectedDeliveries.get - base
      val deliveredShare = 1.0 - missing.toDouble / math.max(1L, expectedRun)
      val eps = n * deliveredShare / ((tSent - t0) / 1e9)
      val d = deliver.values
      // validity: the p99 limit holds and the backlog does not grow (the
      // second half's median latency stays near the first half's)
      val half = d.size / 2
      val growing = d.size > 20 &&
        Stats.median(d.drop(half)) > 1.5 * Stats.median(d.take(half)) + 100.0
      val invalid = (if (Stats.pct(d, 99) > P99LimitMs) 1L else 0L) + (if (growing) 1L else 0L) +
        (if (math.abs(eps / Rate - 1.0) > 0.01) 1L else 0L)
      val failed = rejected.get + wireErrors.get + checker.violations.get + pendingLeft + invalid
      val attempted = emitCalls.get + expectedRun + acksSent.get
      Outcome(attempted, failed,
        e2e = Map(
          "deliver_p50_ms" -> Stats.median(d), "deliver_p99_ms" -> deliver.windowedP99,
          "emit_p50_ms" -> Stats.median(emitLat.values), "emit_p99_ms" -> Stats.pct(emitLat.values, 99),
          "delivered_eps" -> eps,
          "cpu_us_per_event" -> cpu * 1e6 / n,
          "queries_per_s" -> emitCalls.get / ((tSent - t0) / 1e9)),
        layers = ledger.map(_.metrics).getOrElse(Map.empty) ++ Dispatch.metrics(mux.dispatcher) ++ Map(
          "H2c.emit_calls" -> emitCalls.get.toDouble,
          "H2c.emit_window_ms_p50" -> Stats.median(emitWindow.values),
          "H2c.push_msgs" -> pushMsgs.get.toDouble,
          "H2c.push_gap_ms_p50" -> Stats.median(pushGap.values),
          "H2c.bytes_out" -> bytesOut.get.toDouble, "H2c.bytes_in" -> bytesIn.get.toDouble,
          "WireProtocol.encode_us" -> Stats.median(enc.values),
          "WireProtocol.decode_us" -> Stats.median(dec.values),
          "gen.late_p99_ms" -> Stats.pct(late.values, 99), "gen.sent" -> n.toDouble),
        fromNs = t0, toNs = t1,
        notes = Seq(s"deliver samples=${d.size} emit samples=${emitLat.size} rate=$Rate/s " +
          s"p99 limit=${P99LimitMs}ms invalid=$invalid",
          "deliver p50 by quarter of the run: " +
            d.grouped(math.max(1, d.size / 4)).map(q => f"${Stats.median(q)}%.0f").mkString("/") + " ms", deliver.note))
    }

    def close(): Unit = {
      stop.set(true); receiver.join()
      streams.foreach { case (_, b) => try b.sendMessage(encodeRequest(Close)) catch { case _: Throwable => () } }
      producer.disconnect(); consumer.disconnect(); server.stop(); mux.stop()
    }
  }
}
