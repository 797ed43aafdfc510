package perfbench

import java.nio.file.Paths

import org.apache.spark.sql.SparkSession

/** Benchmark process: one workload, one seed, one run.
  *
  * {{{
  * Main --workload NAME --seed N --seconds S --trace 0|1 --run-dir DIR
  * }}}
  *
  * Prints one JSON object as its last stdout line with `correct`,
  * `attempted`, `failed` and `metrics` (every end-to-end and per-layer
  * metric it measured, `name → value`); exits 1 when any check failed.
  * perfbench/run.py builds the program, starts this main and selects the
  * metrics BENCHMARK.json names. */
object Main {
  val Workloads: Map[String, Workload] = Map(
    "live_grpc" -> LiveGrpc, "bulk_backfill" -> BulkBackfill, "many_groups" -> ManyGroups)
  /** Set-ups made per run; `setup_s` reports their median. */
  val SetupRepeats = 3

  /** Every per-layer metric, so each traced run names all of them; a
    * layer the workload does not exercise reads 0. */
  def perLayerNames: Seq[String] =
    Seq("H2c.emit_calls", "H2c.emit_window_ms_p50", "H2c.push_msgs", "H2c.push_gap_ms_p50",
      "H2c.bytes_out", "H2c.bytes_in", "WireProtocol.encode_us", "WireProtocol.decode_us",
      "MultiplexedDelivery.emit_s", "MultiplexedDelivery.emit_calls", "MultiplexedDelivery.pull_s",
      "MultiplexedDelivery.pull_calls", "MultiplexedDelivery.pull_ms_max",
      "MultiplexedDelivery.pull_hit_ratio", "MultiplexedDelivery.ack_s", "MultiplexedDelivery.ack_calls",
      "MultiplexedDelivery.ack_rejected", "MultiplexedDelivery.drain_wait_s",
      "MultiplexedDelivery.add_group_s", "MultiplexedDelivery.remove_group_s",
      "microbatch.count", "microbatch.rows_p50", "microbatch.trigger_ms_p50", "microbatch.trigger_ms_max",
      "microbatch.add_batch_ms_p50", "microbatch.planning_ms_sum", "microbatch.wal_commit_ms_sum",
      "microbatch.busy_ratio", "microbatch.empty_ratio",
      "spark.jobs", "spark.stages", "spark.tasks", "spark.task_run_s", "spark.task_cpu_s",
      "spark.sched_delay_s", "spark.gc_s", "spark.shuffle_write_mb", "spark.shuffle_read_mb",
      "spark.spill_mb", "spark.output_mb", "spark.empty_task_ratio",
      "DeliveryTable.files", "DeliveryTable.bytes", "DeliveryTable.batch_dirs",
      "ChunkDispatcher.offers", "ChunkDispatcher.redeliveries", "ChunkDispatcher.failovers",
      "ChunkDispatcher.redelivery_ratio", "ChunkLedger.pending_peak", "ChunkLedger.acked_resident_peak",
      "LedgerStore.wal_bytes", "LedgerStore.wal_records", "LedgerStore.bytes_per_event",
      "jvm.gc_s", "jvm.gc_count", "jvm.cpu_s", "jvm.heap_peak_mb",
      "gen.late_p99_ms", "gen.sent", "emit_p50_ms", "emit_p99_ms", "failed_ratio") ++
      TraceLayers.map(l => s"trace.$l.self_s") :+ "trace.uncovered_ratio"
  /** Layers whose self time the traced run reports. */
  val TraceLayers = Seq("gen", "H2c", "WireProtocol", "MultiplexedDelivery", "microbatch",
    "spark.job", "spark.stage")

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val processSetupS = (System.currentTimeMillis() - Jvm.startMillis) / 1e3
    val code =
      try run(spark, a, cores, processSetupS)
      catch {
        case e: Throwable => e.printStackTrace(); 2
      } finally spark.stop()
    System.exit(code)
  }

  private def run(spark: SparkSession, a: Map[String, String], cores: Int, processSetupS: Double): Int = {
    val name = a("workload")
    val workload = Workloads.getOrElse(name, throw new IllegalArgumentException(s"unknown workload $name"))
    val traced = a("trace") == "1"
    val tracer = new Tracer(traced)
    val ctx = new Ctx(spark, tracer, a("seed").toLong, a("seconds").toInt, cores,
      Paths.get(a("run-dir")))
    val maxHeapMb = Runtime.getRuntime.maxMemory / 1048576
    System.err.println(s"[perfbench] workload=$name seed=${ctx.seed} seconds=${ctx.seconds} trace=${a("trace")} " +
      s"cores=$cores heap_max_mb=$maxHeapMb java=${sys.props("java.version")}")
    val layers = new SparkLayers
    val batches = new MicroBatches(layers)
    if (traced) { spark.sparkContext.addSparkListener(layers); spark.streams.addListener(batches) }
    val heap = if (traced) Some(new HeapSampler(50)) else None

    val setups = (1 to SetupRepeats).map { k =>
      val t0 = System.nanoTime()
      val p = workload.setup(ctx)
      val s = (System.nanoTime() - t0) / 1e9
      if (k < SetupRepeats) { p.close(); None -> s } else Some(p) -> s
    }
    val prepared = setups.last._1.get
    val setupS = processSetupS + Stats.median(setups.map(_._2))

    val spark0 = layers.snapshot()
    val (gc0, gcn0) = Jvm.gc
    val cpu0 = Jvm.cpuSeconds
    val out = prepared.run()
    val (gc1, gcn1) = Jvm.gc
    val cpu = Jvm.cpuSeconds - cpu0
    prepared.close()
    val sparkM = layers.metrics(spark0, layers.snapshot())
    val retained = Jvm.retainedHeapMb

    val traceM =
      if (!traced) Map.empty[String, Double]
      else {
        val batchSpan = batches.addSpans(tracer)
        layers.addSpans(tracer, (key, at) =>
          if (key.startsWith("batch-")) batchSpan.getOrElse(key.stripPrefix("batch-").toLong, 0L)
          else tracer.parentFor(key, at))
        val (self, uncovered) = tracer.selfTimes(out.fromNs, out.toNs)
        val file = ctx.runDir.resolve(s"trace-$name-seed${ctx.seed}.jsonl")
        tracer.write(file)
        System.err.println(s"[perfbench] spans: ${tracer.all.size} written to $file")
        TraceLayers.map(l => s"trace.$l.self_s" -> self.getOrElse(l, 0.0)).toMap +
          ("trace.uncovered_ratio" -> uncovered)
      }
    val batchM = if (traced) batches.metrics(out.fromNs, out.toNs) else Map.empty[String, Double]
    val measured = out.e2e ++ out.layers ++ sparkM ++ traceM ++ batchM ++ Map(
      "setup_s" -> setupS,
      "retained_heap_mb" -> retained,
      "failed_ratio" -> out.failed.toDouble / math.max(1L, out.attempted),
      "jvm.gc_s" -> (gc1 - gc0), "jvm.gc_count" -> (gcn1 - gcn0).toDouble, "jvm.cpu_s" -> cpu,
      "jvm.heap_peak_mb" -> heap.map { h => h.close(); h.peakMb }.getOrElse(0.0))
    val all = perLayerNames.map(n => n -> 0.0).toMap ++ measured
    (out.notes ++ batchM.get("microbatch.count").map(c => f"microbatch samples=$c%.0f") :+
      f"setup: process ${processSetupS}%.3f s, set-ups ${setups.map(_._2).map(s => f"$s%.3f").mkString("/")} s")
      .foreach(n => System.err.println(s"[perfbench] $n"))
    println(Json.render(Map("correct" -> (out.failed == 0), "attempted" -> out.attempted,
      "failed" -> out.failed, "metrics" -> all)))
    if (out.failed == 0) 0 else 1
  }
}
