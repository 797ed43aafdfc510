package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.scalatest.concurrent.Eventually
import org.scalatest.time.{Millis, Seconds, Span}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import graft.core._
import graft.streaming.{EngineMetrics, MultiplexedDelivery}

/** The listener-bus observability layer: delivery progress shows up per
  * query, and a dying query keeps its exception for supervision. */
class EngineMetricsSpec extends AnyFunSuite with BeforeAndAfterAll with Eventually {

  implicit override val patienceConfig: PatienceConfig =
    PatienceConfig(timeout = Span(30, Seconds), interval = Span(200, Millis))

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("graft-metrics-spec")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("delivery progress is observable per query; rows are counted") {
    val metrics = EngineMetrics.attach(spark)
    val engine = new MultiplexedDelivery(spark, Trigger.ProcessingTime("250 milliseconds"))
    engine.start()
    try {
      engine.addGroup("mg", ResourceType.Project, "p",
        Hierarchy(projectId = "p"), includeSubresources = true)
      engine.emit(ResourceType.Project, EventType.All, "p", RelationCtx())
      engine.processAllAvailable()
      // listener events are asynchronous — poll the snapshot
      eventually {
        val s = metrics.snapshot.get("multiplexed-delivery")
        assert(s.exists(q => q.batches >= 1 && q.inputRows >= 1),
          s"expected progress for multiplexed-delivery, got ${metrics.snapshot.keySet}")
      }
      assert(metrics.failures.isEmpty)
    } finally engine.stop()
  }

  test("a query that dies keeps its exception in the failure map") {
    val metrics = EngineMetrics.attach(spark)
    val s = spark
    import s.implicits._
    val source =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Int](spark, numPartitions = 1)
    val q = source.toDF().writeStream
      .queryName("doomed")
      .outputMode("append")
      .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) =>
        throw new RuntimeException("boom: simulated sink failure")
      }
      .start()
    source.addData(1)
    intercept[Exception] { q.processAllAvailable() }
    eventually {
      assert(metrics.failures.get("doomed").exists(_.contains("boom")),
        s"the doomed query's exception must be retained under its name, got ${metrics.failures}")
    }
  }

  test("a stuck watermark trips the ledger gauge; healthy groups stay silent") {
    // Pure-ledger wiring (no Spark needed): the gauge is the
    // operational alert for the ledger worst case BASELINE.md measured — one
    // never-acked chunk holding an unbounded acked window resident.
    import graft.core.ChunkMeta
    import graft.streaming.ChunkLedger
    val metrics = new EngineMetrics
    val ledger = new ChunkLedger
    metrics.watchLedger("mux", ledger)
    val t0 = new java.sql.Timestamp(1000L)
    def meta(g: String, b: Long) =
      ChunkMeta(g, s"$g-$b", b, 1L, t0, acked = false)

    // healthy-drained: everything acked in order → watermark advanced,
    // nothing pending, nothing resident
    (0L to 4L).foreach { b => ledger.record(meta("drained", b)); ledger.ack("drained", s"drained-$b") }
    // healthy-backlog: deep pending queue but zero out-of-order acks —
    // load, not a stuck watermark
    (0L to 9L).foreach(b => ledger.record(meta("backlog", b)))
    // stuck: chunk 0 never acked while 1..10 ack behind it — the
    // resident window grows with every ack
    (0L to 10L).foreach(b => ledger.record(meta("stuck", b)))
    (1L to 10L).foreach(b => ledger.ack("stuck", s"stuck-$b"))

    val now = 61000L // blocker minted at t=1s, "now" 60s later
    val alerts = metrics.stuckGroups(minResident = 1, minAgeMillis = 30000L, nowMillis = now)
    assert(alerts.map(a => (a.ledger, a.group, a.ackedResident)) ==
      Seq(("mux", "stuck", 10L)),
      s"only the stuck group may alert, got $alerts")
    assert(alerts.head.blockerAgeMillis == 60000L)
    // acking the blocker advances the watermark, evicts the window,
    // and clears the alert
    assert(ledger.ack("stuck", "stuck-0").isDefined)
    assert(metrics.stuckGroups(minResident = 1, nowMillis = now).isEmpty)
    assert(ledger.ackedResident("stuck").isEmpty,
      "watermark advance must evict the resident window")
  }
}
