package graft.tools

import org.apache.spark.sql.SparkSession

/** Replay-throughput probe: runs the bench's streaming replay N times
  * under the current SPARK_GRAFT_REPLAY_* env knobs and prints each
  * sample — for tuning batch size / source partitions without paying a
  * full bench pass. Usage:
  *   SPARK_GRAFT_REPLAY_BATCH=50000 SPARK_GRAFT_REPLAY_PARTS=16 \
  *     sbt "runMain graft.tools.ReplayProbe /root/testdata/sf0.1 3"
  */
object ReplayProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val n = if (args.length > 1) args(1).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // experiment confs, same contract as TimeQ (bench-only, never Verify)
    val spark = ToolConf.withEnvConf(b).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val wire = args.length > 2 && args(2) == "wire"
    val phases = args.length > 2 && args(2) == "phases"
    (1 to n).foreach { i =>
      System.gc()
      val sec = if (wire) graft.Bench.wireReplaySeconds(spark, sfDir)
                else if (phases) phasedReplay(spark, sfDir)
                else graft.Bench.streamReplaySeconds(spark, sfDir)
      println(f"[replay-probe] run $i: $sec%.2f s")
    }
    spark.stop()
  }

  /** The bench's streamReplaySeconds with the engine's per-phase wall
    * decomposition printed after each run (write / count / ledger /
    * whole-batch-body seconds, cumulative over the run's micro-batches)
    * — diagnosis only; the bench row itself stays in Bench.scala. */
  private def phasedReplay(spark: SparkSession, sfDir: String): Double = {
    import graft.core._
    import graft.streaming.MultiplexedDelivery
    val rows = graft.sources.Tables.load(spark, sfDir, "events")
      .select("event_id", "user_id", "event_type").collect()
    val mux = new MultiplexedDelivery(spark,
      org.apache.spark.sql.streaming.Trigger.ProcessingTime("250 milliseconds"),
      sourcePartitions = sys.env.getOrElse("SPARK_GRAFT_REPLAY_PARTS", "8").toInt)
    (0 until 5).foreach(p => mux.addGroup(s"bench-p$p", ResourceType.Project, s"p$p",
      Hierarchy(projectId = s"p$p"), includeSubresources = true))
    mux.start()
    val t0 = System.nanoTime()
    val batchRows = sys.env.get("SPARK_GRAFT_REPLAY_BATCH").map(_.toInt)
      .getOrElse(math.max(50000, rows.length / 8))
    rows.grouped(batchRows).foreach { chunk =>
      mux.emitAll(chunk.map(r => graft.Bench.replayEvent(
        r.getLong(0), r.getLong(1), r.getString(2))).toSeq)
      mux.processAllAvailable()
    }
    val elapsed = (System.nanoTime() - t0) / 1e9
    val prof = mux.phaseProfile
    println(prof.toSeq.sortBy(_._1)
      .map { case (k, v) => f"$k=$v%.2f" }
      .mkString("[replay-probe] phases: ", " ", ""))
    mux.stop()
    elapsed
  }
}
