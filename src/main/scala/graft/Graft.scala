package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import graft.sources.Tables
import graft.core.EngineSecurity
import graft.streaming.{ConsumerHost, DurableEventLog, EventSession, MultiplexedDelivery, WireServer}

/** User-facing entry point — what a user of the reference switches to.
  *
  * {{{
  * val spark  = Graft.session()                  // configured SparkSession
  * val tables = Graft.analytics(spark, dataDir)  // registered views + DataFrames
  * spark.sql("SELECT graft_dot(a.embedding, b.embedding) ...")
  *
  * val mux    = Graft.multiplexed(spark)         // one query, many groups
  * mux.start()
  * val log    = Graft.durableLog(spark, dir, ck) // parquet log + checkpoints
  * log.startIngest(); log.startMultiplexed()
  * }}}
  *
  * Both engines are one [[graft.streaming.ConsumerHost]] delivery core
  * — the same emit / addGroup / removeGroup / pull / ack surface,
  * session protocol and wire servers — differing only in their query
  * wiring.
  */
object Graft {
  /** A session configured the way the engine expects: partition counts
    * sized to cores (not the 200 default), AQE on for runtime re-plan /
    * skew handling, UTC, and the native functions registered. */
  def session(master: String = s"local[${Runtime.getRuntime.availableProcessors()}]",
              appName: String = "graft"): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    GraftExtensions.register(spark) // idempotent; covers pre-existing sessions
    spark
  }

  /** Register the analytic tables as temp views and return them. */
  def analytics(spark: SparkSession, dir: String): Map[String, DataFrame] = {
    Tables.registerAll(spark, dir)
    Tables.all.map(n => n -> spark.table(n)).toMap
  }

  /** An R13 bidi session (Init/Ack/Close protocol) over any engine. */
  def session(engine: ConsumerHost): EventSession = new EventSession(engine)

  /** The network boundary: a TCP server speaking the proto3-encoded
    * [[graft.streaming.WireProtocol]] message layer (the reference's
    * gRPC service surface over length-prefixed frames) — one
    * [[EventSession]] per connection against any engine. Port 0 binds
    * an ephemeral port; read it from `boundPort`. */
  def wireServer(engine: ConsumerHost, port: Int = 0): WireServer =
    WireServer(engine, port)

  /** The in-memory engine: one streaming query for all groups, run
    * once `start()` is called. `security` adds the reference's token /
    * authz gates; the permissive default matches in-process embedding.
    * Pass `ledgerDir` to make pending/acked chunk state survive a
    * process restart (WAL); `sourcePartitions` > 1 parallelizes bulk
    * replay/backfill ingest. */
  def multiplexed(spark: SparkSession,
                  trigger: Trigger = Trigger.ProcessingTime("250 milliseconds"),
                  ledgerDir: Option[String] = None,
                  sourcePartitions: Int = 1,
                  security: EngineSecurity = EngineSecurity.Permissive): MultiplexedDelivery =
    new MultiplexedDelivery(spark, trigger, ledgerDir, sourcePartitions, security)

  /** The durable path: partitioned parquet event log read by one
    * checkpointed shared query for every group, a new group getting its
    * full history first. Starts no query: call `startIngest()` and
    * `startMultiplexed()`. */
  def durableLog(spark: SparkSession, logDir: String, checkpointRoot: String,
                 trigger: Trigger = Trigger.ProcessingTime("250 milliseconds"),
                 security: EngineSecurity = EngineSecurity.Permissive): DurableEventLog =
    new DurableEventLog(spark, logDir, checkpointRoot, trigger, security)
}
