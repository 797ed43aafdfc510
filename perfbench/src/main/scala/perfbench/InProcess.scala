package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import graft.streaming.MultiplexedDelivery

/** Consumer threads that pull and ack in-process, each over its own
  * shard of (group, session) pairs, until stopped. A pair is pulled only
  * when the ledger reports pending rows for the group; a pull that then
  * returns nothing (the chunks are in flight to another session, or
  * waiting out their ack wait) counts as a miss.
  *
  * A rejected ack is expected, not a failure, when its chunk was
  * delivered twice: once its ack wait expired, the chunk went to a
  * competing session too, and the later of the two acks is refused. */
final class Consumers(mux: MultiplexedDelivery, checker: Checker, tr: Tracer,
                      shards: Seq[Seq[(String, Long)]], latency: Latencies,
                      skipAckOnce: String => Boolean = _ => false) {
  val pulls, hits, acks, rejectedAcks, duplicateAcks = new AtomicLong
  /** pull and ack call times in the timed phase, ms */
  val pullMs, ackMs = new Samples
  @volatile var timing = false
  private val stop = new AtomicBoolean(false)
  private val skipped = ConcurrentHashMap.newKeySet[String]()
  /** Pairs to close after their next non-empty pull, leaving that pull unacked. */
  private val closing = ConcurrentHashMap.newKeySet[(String, Long)]()
  private val closed = ConcurrentHashMap.newKeySet[(String, Long)]()

  def closeAfterNextPull(group: String, session: Long): Unit = { closing.add((group, session)); () }

  /** Starts the timed phase: counts and timings from here on. */
  def startTiming(): Unit = {
    Seq(pulls, hits, acks, rejectedAcks, duplicateAcks).foreach(_.set(0L))
    timing = true
  }

  private def serve(shard: Seq[(String, Long)]): Unit = {
    var live = shard
    while (!stop.get) {
      var busy = false
      live.foreach { case pair @ (g, s) =>
        if (mux.pendingRowCount(g) > 0) {
          val t0 = System.nanoTime()
          val chunks = tr.call("MultiplexedDelivery", "pull") {
            if (tr.enabled) { mux.spark.sparkContext.setJobGroup(s"pull-$g", g); tr.tag(s"pull-$g") }
            mux.pull(g, s)
          }
          val now = System.nanoTime()
          pulls.incrementAndGet()
          if (timing) pullMs.add((now - t0) / 1e6)
          if (chunks.nonEmpty) { hits.incrementAndGet(); busy = true }
          chunks.foreach { c =>
            val lat = checker.receive(g, c.chunkId, c.resourceIds, c.subjects, now)
            if (timing) lat.foreach(latency.add(now, _))
          }
          if (chunks.nonEmpty && closing.remove(pair)) {
            mux.closeSession(g, s); closed.add(pair)
          } else chunks.foreach { c =>
            if (!(skipAckOnce(c.chunkId) && skipped.add(c.chunkId))) {
              acks.incrementAndGet()
              val a0 = System.nanoTime()
              val accepted = tr.call("MultiplexedDelivery", "ack")(mux.ack(g, c.chunkId))
              if (timing) ackMs.add((System.nanoTime() - a0) / 1e6)
              if (!accepted) {
                if (checker.wasRedelivered(c.chunkId)) duplicateAcks.incrementAndGet()
                else {
                  rejectedAcks.incrementAndGet()
                  System.err.println(s"[perfbench] ack rejected: $g ${c.chunkId}")
                }
              }
            }
          }
        }
      }
      live = live.filterNot(closed.contains)
      if (!busy) Thread.sleep(2)
    }
  }

  private val threads = shards.zipWithIndex.map { case (sh, i) =>
    val t = new Thread(() => serve(sh), s"perfbench-consumer-$i")
    t.setDaemon(true); t.start(); t
  }

  def close(): Unit = { stop.set(true); threads.foreach(_.join()) }

  def metrics: Map[String, Double] = Map(
    "MultiplexedDelivery.pull_s" -> pullMs.values.sum / 1e3,
    "MultiplexedDelivery.pull_calls" -> pulls.get.toDouble,
    // 60–900 pulls in a run: too few for a p99 with 10 samples beyond it
    "MultiplexedDelivery.pull_ms_max" -> pullMs.values.maxOption.getOrElse(0.0),
    "MultiplexedDelivery.pull_hit_ratio" -> hits.get.toDouble / math.max(1L, pulls.get),
    "MultiplexedDelivery.ack_s" -> ackMs.values.sum / 1e3,
    "MultiplexedDelivery.ack_calls" -> acks.get.toDouble,
    "MultiplexedDelivery.ack_rejected" -> (rejectedAcks.get + duplicateAcks.get).toDouble)
}

/** The closed-loop in-process delivery workloads: each iteration emits a
  * seeded batch with `emitAll` and waits in `processAllAvailable`, while
  * consumer threads pull and ack; after `--seconds` the ledger is
  * drained and every delivery checked. */
abstract class InProcess extends Workload {
  def shape: Shape
  def batchEvents: Int
  def consumerThreads: Int
  def durable: Boolean
  def ackWaitMillis: Long = 30000L
  /** Events in each warm-up batch, and the batches each set-up emits and
    * drains before the run. */
  def warmupEvents: Int
  def warmupBatches: Int = 1
  /** Wait for the consumers to drain each batch before emitting the
    * next, instead of letting them run behind the emitter. */
  def drainEachBatch: Boolean = false

  /** Groups checked for completeness, and how many sessions each gets. */
  def groups(gen: EventGen): Seq[(GroupSpec, Int)]

  /** Extra work between iterations (group churn, session close). */
  def between(run: Running, iteration: Int, elapsedShare: Double): Unit = ()
  def finishExtra(run: Running): Unit = ()
  def skipAckOnce(chunkId: String): Boolean = false

  def setup(ctx: Ctx): Prepared = new Running(ctx)

  final class Running(val ctx: Ctx) extends Prepared {
    val tr: Tracer = ctx.tracer
    val gen = new EventGen(ctx.seed, shape)
    val submit = new SubmitTimes
    val checker = new Checker(submit(_))
    val ledgerDir: Option[String] = if (durable) Some(ctx.dir("ledger")) else None
    val mux = new MultiplexedDelivery(ctx.spark, Workload.trigger,
      ledgerDir = ledgerDir, sourcePartitions = ctx.cores, ackWaitMillis = ackWaitMillis)
    val specs: Seq[(GroupSpec, Int)] = groups(gen)
    val addGroupMs = new Samples
    def add(g: GroupSpec, complete: Boolean = true): Unit = {
      checker.track(g, complete)
      val t0 = System.nanoTime()
      tr.call("MultiplexedDelivery", "add_group")(mux.addGroup(g.id, g.rt, g.resourceId, g.h, g.includeSub))
      addGroupMs.add((System.nanoTime() - t0) / 1e6)
    }
    val removeGroupMs = new Samples
    def remove(id: String): Unit = {
      val t0 = System.nanoTime()
      tr.call("MultiplexedDelivery", "remove_group")(mux.removeGroup(id))
      removeGroupMs.add((System.nanoTime() - t0) / 1e6)
      checker.untrack(id)
    }
    specs.foreach { case (g, _) => add(g) }
    mux.start()
    val pairs: Seq[(String, Long)] = specs.flatMap { case (g, n) => Seq.fill(n)(g.id -> mux.openSession(g.id)) }
    val deliver = new Latencies
    val consumers = new Consumers(mux, checker, tr,
      pairs.zipWithIndex.groupBy(_._2 % consumerThreads).toSeq.sortBy(_._1).map(_._2.map(_._1)),
      deliver, skipAckOnce)
    var events = 0L
    /** emitAll call times, ms */
    val emitMs = new Samples

    /** One iteration; returns the time from emitAll to the batch processed
      * (its chunks recorded and pullable), and the time after that until it
      * was drained (with drainEachBatch), in ms. */
    def iterate(n: Int = batchEvents): (Double, Double) = {
      val batch = tr.call("gen", "batch") {
        val b = Vector.fill(n)(gen.next())
        b.foreach(checker.expect)
        b
      }
      val t0 = System.nanoTime()
      batch.foreach(e => submit.set(e.seq, t0))
      tr.call("MultiplexedDelivery", "emit")(mux.emitAll(batch.map(_.event)))
      emitMs.add((System.nanoTime() - t0) / 1e6)
      tr.call("MultiplexedDelivery", "process")(mux.processAllAvailable())
      val t1 = System.nanoTime()
      if (drainEachBatch) tr.call("gen", "drain")(drain(60000))
      events += n
      ((t1 - t0) / 1e6, (System.nanoTime() - t1) / 1e6)
    }

    /** Waits until every expected delivery arrived and nothing is pending. */
    def drain(timeoutMs: Long): Unit = {
      val deadline = System.currentTimeMillis() + timeoutMs
      def done = checker.delivered == checker.expectedDeliveries.get &&
        pairs.forall(p => mux.pendingRowCount(p._1) == 0)
      while (!done && System.currentTimeMillis() < deadline) Thread.sleep(5)
    }

    (1 to warmupBatches).foreach(_ => iterate(warmupEvents))
    drain(60000)

    def run(): Outcome = {
      val base = checker.expectedDeliveries.get
      val events0 = events
      consumers.startTiming()
      val ledger = if (ctx.traced) Some(new LedgerSampler(() => mux.ledgerStats, 50)) else None
      val cpu0 = Jvm.cpuSeconds
      val t0 = System.nanoTime()
      val tEnd = t0 + ctx.seconds * 1000000000L
      val ingestRun, drainRun = new Samples
      val emitCalls0 = emitMs.size
      var i = 0
      while (System.nanoTime() < tEnd) {
        val (e, p) = iterate()
        ingestRun.add(e); drainRun.add(p)
        between(this, i, (System.nanoTime() - t0).toDouble / (tEnd - t0))
        i += 1
      }
      val tDrain = System.nanoTime()
      tr.call("gen", "drain")(drain(120000))
      finishExtra(this)
      val t1 = System.nanoTime()
      val cpu = Jvm.cpuSeconds - cpu0
      ledger.foreach(_.close())
      consumers.close()
      val n = events - events0
      val missing = checker.finish()
      val pendingLeft = pairs.map(_._1).distinct.count(g => mux.pendingRowCount(g) > 0).toLong
      val expectedRun = checker.expectedDeliveries.get - base
      val eps = n * (1.0 - missing.toDouble / math.max(1L, expectedRun)) / ((t1 - t0) / 1e9)
      val d = deliver.values
      val failed = checker.violations.get + consumers.rejectedAcks.get + pendingLeft
      val attempted = n + expectedRun + consumers.acks.get
      Outcome(attempted, failed,
        e2e = Map(
          "deliver_p50_ms" -> Stats.median(d), "deliver_p99_ms" -> deliver.windowedP99,
          "delivered_eps" -> eps,
          "cpu_us_per_event" -> cpu * 1e6 / n,
          "queries_per_s" -> consumers.hits.get / ((t1 - t0) / 1e9)),
        layers = consumers.metrics ++ Dispatch.metrics(mux.dispatcher) ++
          ledger.map(_.metrics).getOrElse(Map.empty) ++ ledgerDir.map(files(_, n)).getOrElse(Map.empty) ++ Map(
          "MultiplexedDelivery.emit_s" -> emitMs.values.drop(emitCalls0).sum / 1e3,
          "MultiplexedDelivery.emit_calls" -> (emitMs.size - emitCalls0).toDouble,
          "MultiplexedDelivery.drain_wait_s" -> (drainRun.values.sum / 1e3 + (t1 - tDrain) / 1e9),
          "MultiplexedDelivery.add_group_s" -> addGroupMs.values.sum / 1e3,
          "MultiplexedDelivery.remove_group_s" -> removeGroupMs.values.sum / 1e3),
        fromNs = t0, toNs = t1,
        notes = Seq("batch cycle by quarter of the run: " +
          ingestRun.values.zip(drainRun.values).map(x => x._1 + x._2)
            .grouped(math.max(1, ingestRun.size / 4)).map(q => f"${Stats.median(q)}%.0f").mkString("/") + " ms",
          s"events=$n batches=${ingestRun.size} deliver samples=${d.size} pull samples=${consumers.pullMs.size} " +
          s"duplicate chunks=${checker.duplicateChunks.get} missing=$missing pending groups=$pendingLeft", deliver.note))
    }

    def close(): Unit = { consumers.close(); mux.stop() }
  }

  /** `DeliveryTable.*` and `LedgerStore.*` from the files the engine wrote. */
  private def files(dir: String, events: Long): Map[String, Double] = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    def walk(p: java.nio.file.Path) =
      if (Files.exists(p)) Files.walk(p).iterator().asScala.toVector else Vector.empty
    val payload = walk(Paths.get(dir, "deliveries"))
    val dataFiles = payload.filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
    val wal = Paths.get(dir, "ledger.jsonl")
    val walBytes = if (Files.exists(wal)) Files.size(wal).toDouble else 0.0
    val walRecords = if (Files.exists(wal)) Files.lines(wal).count().toDouble else 0.0
    Map(
      "DeliveryTable.files" -> dataFiles.size.toDouble,
      "DeliveryTable.bytes" -> dataFiles.map(Files.size(_)).sum.toDouble,
      "DeliveryTable.batch_dirs" -> payload.count(p => Files.isDirectory(p) &&
        p.getFileName.toString.startsWith("batch=")).toDouble,
      "LedgerStore.wal_bytes" -> walBytes, "LedgerStore.wal_records" -> walRecords,
      "LedgerStore.bytes_per_event" -> walBytes / math.max(1L, events))
  }
}

/** `bulk_backfill`: large seeded batches into 5 project-subtree groups,
  * drained by 3 consumer threads; the per-row Spark dataflow dominates. */
object BulkBackfill extends InProcess {
  /** One project per group. */
  val shape = Shape(projects = 5)
  val batchEvents = 20000
  /** The JIT compiles for about the first dozen 20,000-event batches (the
    * compiler's time per batch falls from about 2 s to 0.4 s), so the
    * three set-ups drain twelve between them before the run. */
  val warmupEvents = 20000
  override val warmupBatches = 4
  val consumerThreads = 3
  val durable = false
  override val drainEachBatch = true
  def groups(gen: EventGen): Seq[(GroupSpec, Int)] = (0 until 5).map(p => GroupSpec.projectTree(p) -> 1)
}

/** `many_groups`: thousands of selective collection-subtree groups (the
  * bucketed payload layout) plus two hot project groups with two
  * competing sessions each, on a durable ledger. Adds group churn, one
  * session closed mid-run, and a share of chunks left unacked once so
  * they return by ack-wait expiry. */
object ManyGroups extends InProcess {
  val Projects = 8
  val CollectionsPerProject = 250
  /** One group per collection. Skew 1.5 instead of the shared 1.0 puts
    * most events in a few collections, so most groups are selective (they
    * match a small share of the events) and many see none in a batch. */
  val shape = Shape(projects = Projects, collections = CollectionsPerProject, zipf = 1.5)
  val batchEvents = 300
  val warmupEvents = 100
  val consumerThreads = 3
  val durable = true
  override val ackWaitMillis = 1000L
  /** One chunk in 50 is left unacked on its first delivery. */
  override def skipAckOnce(chunkId: String): Boolean = math.floorMod(chunkId.hashCode, 50) == 0
  /** Churn: every 4th iteration one churn group is retired and one added. */
  val ChurnEvery = 4
  val ChurnLive = 4

  def groups(gen: EventGen): Seq[(GroupSpec, Int)] =
    (0 until 2).map(p => GroupSpec.projectTree(p) -> 2) ++
      (for (p <- 0 until Projects; c <- 0 until CollectionsPerProject)
        yield GroupSpec.collection(p, c, subtree = true) -> 1)

  private val churn = new ConcurrentHashMap[Running, java.util.ArrayDeque[(String, Long)]]()
  private val closedOne = ConcurrentHashMap.newKeySet[Running]()

  override def between(run: Running, iteration: Int, elapsedShare: Double): Unit = {
    val q = churn.computeIfAbsent(run, _ => new java.util.ArrayDeque[(String, Long)]())
    if (iteration % ChurnEvery == ChurnEvery - 1) {
      if (q.size >= ChurnLive) retire(run, q.poll())
      val rnd = new java.util.SplittableRandom(run.ctx.seed * 31 + iteration)
      val g = GroupSpec.collection(rnd.nextInt(Projects), rnd.nextInt(CollectionsPerProject),
        subtree = true, tag = s"churn$iteration")
      run.add(g, complete = false)
      q.add(g.id -> run.mux.openSession(g.id))
    }
    if (elapsedShare >= 0.5 && closedOne.add(run)) {
      val (g, s) = run.pairs.filter(_._1 == GroupSpec.projectTree(0).id).last
      run.consumers.closeAfterNextPull(g, s)
    }
  }

  /** Pulls, checks and acks a churn group's pending chunks, then removes it. */
  private def retire(run: Running, gs: (String, Long)): Unit = {
    val (g, s) = gs
    val now = System.nanoTime()
    run.mux.pull(g, s).foreach { c =>
      run.checker.receive(g, c.chunkId, c.resourceIds, c.subjects, now)
      run.mux.ack(g, c.chunkId)
    }
    run.remove(g)
  }

  override def finishExtra(run: Running): Unit = {
    Option(churn.remove(run)).foreach(q => while (!q.isEmpty) retire(run, q.poll()))
    closedOne.remove(run); ()
  }
}
