package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs every registered query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line
  * {"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}.
  *
  * Config mirrors the target deployment shape scaled to one node:
  * local[32] with 32 shuffle partitions (one per core — the 200 default
  * is a cluster setting), AQE on so skew/coalesce behave as they would
  * on a real cluster.
  */
object Bench {
  /** Name of the query currently inside its timed region — read by the
    * SPARK_GRAFT_STAGEPROF listener to tag stage lines. */
  @volatile private var currentQuery = ""

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // CALIBRATION row (round-10 verdict task 6): a fixed synthetic
    // no-I/O workload timed FIRST in every run — 10⁸ xxhash64 rows
    // reduced to two longs, pure codegen CPU across all 32 slots, zero
    // disk/shuffle. Its value measures the HOST (CPU steal, frequency,
    // co-tenancy), not the engine, so cross-round suite deltas can be
    // normalized by the calib ratio instead of burning an analysis
    // round proving a uniform 1.3× was the machine (as round 10 did).
    // One untimed run warms the generated class; median of 3 timed.
    val calib = if (sys.env.get("SPARK_GRAFT_CALIB").contains("0")) 0.0 else {
      import org.apache.spark.sql.functions.{col, lit, xxhash64, expr, count}
      def run(): Double = {
        val t0 = System.nanoTime()
        spark.range(0L, 100000000L, 1L, 32)
          .select(xxhash64(col("id")).as("h"))
          // bit_xor, not sum: a SUM of 2^63-scale hashes overflows under
          // ANSI (the GraphOps.probe lesson)
          .agg(expr("bit_xor(h)"), count(lit(1))).collect()
        (System.nanoTime() - t0) / 1e9
      }
      run() // warm codegen off the clock
      val ts = (1 to 3).map(_ => run()).sorted
      ts(ts.size / 2)
    }
    System.err.println(f"[bench-runs] calib $calib%.2f")
    // Steady-state measurement (JMH-style): run every query once
    // UNTIMED at the target scale factor so codegen compilation and JIT
    // warm up off the clock. Warming at the TARGET dir matters: AQE and
    // stats-driven join choices differ across scale factors, so a
    // small-fixture warmup compiles the wrong generated classes and the
    // first timed pass still pays the 10-20s Janino+interpreter cliff
    // on wide stages (q45 measured 10s cold vs 0.9s warm at sf0.1).
    // Cold-start costs are per-JVM one-offs; the number that predicts
    // cluster throughput at 100 TB is the warm one. Disable with
    // SPARK_GRAFT_WARMUP=0 to measure cold-start instead.
    // (defined early: the warmup must honor the same debug subset, or an
    // SPARK_GRAFT_ONLY experiment at 100× pays a full-surface warmup)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').map(_.trim).toSet)
    val warmupDir = sys.env.getOrElse("SPARK_GRAFT_WARMUP", sfDir)
    if (warmupDir != "0" && new java.io.File(warmupDir).isDirectory) {
      SparkEntry.queries.foreach { case (name, fn) =>
        if (only.forall(_.contains(name)))
          try fn(spark, warmupDir).count() catch { case _: Throwable => () }
      }
      spark.catalog.clearCache() // drop warmup-scale cached tables
    }
    spark.read.parquet(s"$sfDir/nation.parquet").count()
    // A failed query must be VISIBLE in the bench line, not a plausible
    // timing: its value is emitted negative and its name is listed in
    // "failed" (round-1 advice — the old form swallowed errors).
    var failed = List.empty[String]
    // Per-query MEDIAN of N runs (default 3): BASELINE.md documents ±25%
    // single-run variance, which masked real regressions in round 2.
    // Every run ends with clearCache() so a query's cached intermediates
    // (the dedup family caches its signature tables) never pollute the
    // next measurement — round 2's q44 "regression" was exactly this
    // cross-query cache pressure, not the query itself.
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt
    // With the heap pre-committed (-Xms=-Xmx) the JVM may not GC for many
    // minutes, so ContextCleaner's weak-ref cleanup of shuffle state /
    // broadcasts / checkpoint blocks never fires and accumulated debris
    // degrades late queries 2-20x (q68 measured 1.2s on a young heap vs
    // 26.6s after 67 queries of debris). A periodic-GC timer fixes that
    // but drops full-GC pauses into whichever query is mid-flight
    // (stream_replay took +4s from stray pauses). Instead: explicit
    // System.gc() every few queries, OUTSIDE the timed region, so
    // cleanup is deterministic and never lands on the clock.
    var sinceGc = 0
    def maybeGc(): Unit = { sinceGc += 1; if (sinceGc >= 8) { sinceGc = 0; System.gc() } }
    // INTERLEAVED rounds (suite pass 1, pass 2, pass 3) rather than
    // back-to-back triples per query: the host occasionally stalls this
    // VM for tens of seconds (CPU-steal bursts — GC logs show <1s total
    // pause while wall time jumps 20s, and the spiked queries change
    // every run). Back-to-back triples let one such window poison all
    // three samples of a query (q45 measured 24/17/37s vs 0.5s warm
    // isolated); interleaving spaces a query's samples minutes apart so
    // a localized window costs at most one sample, which the median
    // discards.
    // Debug-only knobs (never set by the driver, so the contract run is
    // unchanged): SPARK_GRAFT_ONLY=q201,q199 restricts the suite to a
    // subset WITH the exact bench hygiene (interleaving, clearCache, gc
    // cadence) — the lever that separates "in-suite" from "isolated"
    // when an entry inflates only inside the full run; and
    // SPARK_GRAFT_STAGEPROF=1 prints per-stage run/GC/shuffle/spill so
    // the inflated run names its mechanism instead of its total.
    if (sys.env.get("SPARK_GRAFT_STAGEPROF").contains("1")) {
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val si = sc.stageInfo
          val m = si.taskMetrics
          System.err.println(f"[stage] q=$currentQuery stage=${si.stageId} " +
            f"tasks=${si.numTasks} run=${m.executorRunTime / 1e3}%.1fs " +
            f"gc=${m.jvmGCTime / 1e3}%.1fs cpu=${m.executorCpuTime / 1e9}%.1fs " +
            f"shR=${m.shuffleReadMetrics.totalBytesRead / 1e6}%.0fMB " +
            f"shW=${m.shuffleWriteMetrics.bytesWritten / 1e6}%.0fMB " +
            f"spillM=${m.memoryBytesSpilled / 1e6}%.0fMB " +
            f"spillD=${m.diskBytesSpilled / 1e6}%.0fMB ${si.name.take(60)}")
        }
      })
    }
    val qdefs = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val samples = collection.mutable.Map.empty[String, List[Double]].withDefaultValue(Nil)
    (1 to runs).foreach { _ =>
      qdefs.foreach { case (name, fn) =>
        // progress marker BEFORE the timed run (stderr, untimed): a
        // crashed suite names the query that killed it — the 100×
        // whole-suite rehearsal's first OOM was only locatable by
        // stage number without this
        System.err.println(s"[bench-q] $name")
        currentQuery = name
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true }
                 catch { case _: Throwable => failed ::= name; false }
        spark.catalog.clearCache()
        val sec = (System.nanoTime() - t0) / 1e9
        if (ok) samples(name) = sec :: samples(name)
        maybeGc()
      }
    }
    val results = qdefs.map { case (name, _) =>
      val secs = samples(name)
      val median =
        if (secs.isEmpty) -1.0
        else secs.sorted.apply(secs.size / 2)
      // All run times on stderr (not just the median): a spike's shape —
      // one slow run vs all-slow — distinguishes a stray pause from a
      // systemic slowdown when diagnosing driver-recorded regressions.
      System.err.println(s"[bench-runs] $name ${secs.reverse.map(x => f"$x%.2f").mkString(" ")}")
      name -> median
    }
    failed = failed.distinct
    // Median of N for the replay too — a single sample is as exposed to a
    // host-steal window as any query, and this row IS the headline
    // streaming-throughput number.
    // Under SPARK_GRAFT_ONLY (debug subset runs) the replay/pressure/
    // fold rows are skipped — the knob exists to time a few queries
    // with suite hygiene, not to pay three 10M-event replays per
    // experiment. The contract run (no env) is unchanged.
    val extras = only.isEmpty
    def extraSamples(name: String)(f: => Double): Seq[Double] = {
      if (!extras) return Seq(0.0)
      val ss = (1 to runs).map { _ => System.gc(); f }
      System.err.println(
        s"[bench-runs] $name ${ss.map(x => f"$x%.2f").mkString(" ")}")
      ss
    }
    val replaySamples = extraSamples("stream_replay")(streamReplaySeconds(spark, sfDir))
    val replay = replaySamples.sorted.apply(replaySamples.size / 2)
    val wireSamples = extraSamples("wire_replay")(wireReplaySeconds(spark, sfDir))
    val wire = wireSamples.sorted.apply(wireSamples.size / 2)
    val h2cSamples = extraSamples("h2c_replay")(h2cReplaySeconds(spark, sfDir))
    val h2c = h2cSamples.sorted.apply(h2cSamples.size / 2)
    // Pressure rows (round-10 verdict tasks 1-2), one sample each: the
    // redelivery soak ends on a full at-least-once drain (self-asserting,
    // so a plausible-but-wrong fast time cannot happen), and the
    // many-groups row runs the 2000-group churn probe — per-batch cost
    // vs group count has its full curve in GroupScaleProbe/BASELINE.md.
    def extraOne(name: String)(f: => Double): Double = {
      if (!extras) return 0.0
      System.gc()
      val v = f
      System.err.println(f"[bench-runs] $name $v%.2f")
      v
    }
    val redelivery = extraOne("redelivery_replay")(redeliveryReplaySeconds(spark, sfDir))
    val muxGroups = extraOne("mux_groups") {
      val rows = graft.sources.Tables.load(spark, sfDir, "events")
        .select("event_id", "user_id", "event_type").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      graft.tools.GroupScaleProbe.run(spark, rows, 2000).totalSec
    }
    // Live-maintenance rows: each value is already a median of 3
    // tail-slice folds against a mature persisted state (see the
    // helpers), so one call per row suffices.
    val sketchFold = extraOne("sketch_fold")(sketchFoldSeconds(spark, sfDir))
    val annFold = extraOne("ann_fold")(annFoldSeconds(spark, sfDir))
    val ccFold = extraOne("cc_fold")(ccFoldSeconds(spark, sfDir))
    // Under SPARK_GRAFT_ONLY the extra rows never ran — OMIT them (a
    // 0.0 entry would read as "measured instantly" in the detail file)
    // rather than record zeros.
    val extraRows: Seq[(String, Double)] =
      if (!extras) Seq.empty
      else Seq("stream_replay" -> replay, "wire_replay" -> wire,
        "h2c_replay" -> h2c, "redelivery_replay" -> redelivery,
        "mux_groups" -> muxGroups, "sketch_fold" -> sketchFold,
        "ann_fold" -> annFold, "cc_fold" -> ccFold)
    val all = results ++ extraRows
    // PRESSURE rows (round-10 tasks 1-2) stress ack-expiry redelivery
    // and 2000-group fan-out — deliberately pathological workloads whose
    // cost tracks the scenario knobs, not engine speed. They live under
    // their own JSON keys, OUTSIDE the headline total, so round-over-
    // round totals compare the same work (round-11 verdict task 2: the
    // two rows were 71% of the r11 total and made it incomparable).
    val pressureKeys = Set("redelivery_replay", "mux_groups")
    def f(v: Double): String = "%.2f".formatLocal(java.util.Locale.ROOT, v)
    // 1-decimal, trailing zeros stripped ("0.52"→"0.5", "1.0"→"1") for
    // the compact stdout array — the full 2-decimal medians live in
    // BENCH_DETAIL.json and on stderr.
    def fj(v: Double): String = {
      val s = "%.1f".formatLocal(java.util.Locale.ROOT, v)
      if (s.contains('.')) s.reverse.dropWhile(_ == '0').dropWhile(_ == '.').reverse else s
    }
    def short(k: String): String = if (k.startsWith("q")) k.takeWhile(_ != '_') else k
    val total = all.filterNot(kv => pressureKeys(kv._1))
      .map(_._2).filter(_ > 0).sum
    all.foreach { case (k, v) => System.err.println(f"[bench] $k%-28s ${f(v)}%8s s") }
    // The driver parses the stdout JSON line out of a bounded ~2000-char
    // tail of the sbt output. Round 3's line (80 full-length names, 3
    // decimals) overflowed it; round 4 shortened keys to qNN; round 7's
    // 194-entry map overflowed AGAIN (~2.3 KB → "parsed": null, front
    // truncated). A per-query MAP cannot stay under the window as the
    // suite grows, so (round-7 verdict task 2) the stdout line now
    // carries the headline rows plus a POSITIONAL values array:
    //   "queries": the two replay rows (the throughput headlines),
    //   "qn":      entry count,
    //   "qv":      1-decimal medians in sorted-qname order (the same
    //              order as the [bench] stderr block),
    // ≈ 5 chars/entry → ~1 KB at 196 entries, headroom to ~400 entries.
    // The FULL machine-readable map — per-query 2-decimal medians, every
    // interleaved raw sample, the failures — is written to
    // BENCH_DETAIL.json in the working directory (the repo, under git)
    // so no bounded capture window can lose it again.
    val qv = all.map { case (_, v) => fj(v) }.mkString("[", ",", "]")
    // Under SPARK_GRAFT_ONLY the replay/pressure rows never ran — omit
    // their headline keys entirely (a 0.0 would read as "measured
    // instantly" in the line the driver parses, the same misread the
    // extraRows omission guards against in the detail file).
    val headline =
      if (!extras) s""""calib":${f(calib)}"""
      else
        s""""calib":${f(calib)},"stream_replay":${fj(replay)},""" +
        s""""wire_replay":${fj(wire)},"h2c_replay":${fj(h2c)},""" +
        s""""mux_groups":${fj(muxGroups)},"redelivery_replay":${fj(redelivery)}"""
    val failedJson = failed.sorted.map("\"" + short(_) + "\"").mkString("[", ",", "]")
    val failedField = if (failed.isEmpty) "" else s""","failed":$failedJson"""
    val sfName = new java.io.File(sfDir).getName
    val line =
      s"""{"metric":"total","value":${f(total)},"unit":"sec","queries":{$headline},""" +
      s""""qn":${all.size},"qv":$qv$failedField,"sf":"$sfName"}"""
    if (line.length > 1900)
      System.err.println(s"[bench] WARNING: JSON line is ${line.length} chars — " +
        "driver tail window is ~2000; shorten the qv encoding")
    // Drift guard (round-12 verdict task 8): compare this run's medians
    // against the PREVIOUS round's git-tracked detail file, so a uniform
    // host/day drift (round 12 measured a flat 1.13× that was only
    // diagnosable by hand) separates from a real per-query regression
    // mechanically. Emitted: the raw per-query ratio map, its median,
    // the calib ratio (CPU-speed normalizer), and the calib-normalized
    // median — a calib-normalized median ≈ 1 with a raw median ≫ 1 IS
    // the uniform-drift signature; a single query whose normalized
    // ratio stands off the median is a real regression.
    val drift: String = {
      val prevPath = java.nio.file.Paths.get("BENCH_DETAIL.json")
      if (only.nonEmpty || !java.nio.file.Files.exists(prevPath)) ""
      else {
        val prevTxt = new String(java.nio.file.Files.readAllBytes(prevPath), "UTF-8")
        def num(pat: String): Option[Double] =
          pat.r.findFirstMatchIn(prevTxt).map(_.group(1).toDouble)
        val prevCalib = num(""""calib":([0-9.]+)""")
        // the flat "queries" object we wrote last round: "name":value
        // pairs. A detail file WITHOUT that marker must yield no drift
        // at all — clamping indexOf's -1 to 0 would scan from the file
        // head and capture whatever object comes first (the pressure
        // block), attributing its values to query names (round-13
        // ADVICE).
        val qIdx = prevTxt.indexOf(""""queries":{""")
        val prevQ =
          if (qIdx < 0) Map.empty[String, Double]
          else """"(q[0-9]+[a-z0-9_]*|[a-z_]+)":([0-9.]+)""".r
            .findAllMatchIn(prevTxt.drop(qIdx).takeWhile(_ != '}'))
            .map(m => m.group(1) -> m.group(2).toDouble).toMap
        val ratios = all.flatMap { case (k, v) =>
          prevQ.get(k).filter(p => p > 0.05 && v > 0)
            .map(p => k -> v / p)
        }
        if (ratios.isEmpty) ""
        else {
          val sortedR = ratios.map(_._2).sorted
          val med = sortedR(sortedR.size / 2)
          val calibRatio = prevCalib.filter(_ > 0).map(calib / _).getOrElse(1.0)
          val rmap = ratios.map { case (k, r) => s""""$k":${f(r)}""" }
            .mkString("{", ",", "}")
          s""","drift":{"prevCalib":${prevCalib.map(f).getOrElse("null")},""" +
            s""""calibRatio":${f(calibRatio)},"ratioMedian":${f(med)},""" +
            s""""normalizedRatioMedian":${f(med / calibRatio)},"n":${ratios.size},""" +
            s""""ratios":$rmap}"""
        }
      }
    }
    val detail = {
      val qmap = all.map { case (k, v) => s""""$k":${f(v)}""" }.mkString("{", ",", "}")
      val extraSampleRows =
        if (!extras) Seq.empty[String]
        else Seq(
          s""""stream_replay":[${replaySamples.map(f).mkString(",")}]""",
          s""""wire_replay":[${wireSamples.map(f).mkString(",")}]""",
          s""""h2c_replay":[${h2cSamples.map(f).mkString(",")}]""",
          s""""redelivery_replay":[${f(redelivery)}]""",
          s""""mux_groups":[${f(muxGroups)}]""",
          s""""sketch_fold":[${f(sketchFold)}]""",
          s""""ann_fold":[${f(annFold)}]""",
          s""""cc_fold":[${f(ccFold)}]""")
      val smap = (results.map { case (k, _) =>
          s""""$k":[${samples(k).reverse.map(f).mkString(",")}]"""
        } ++ extraSampleRows).mkString("{", ",", "}")
      val pmap = all.filter(kv => pressureKeys(kv._1))
        .map { case (k, v) => s""""$k":${f(v)}""" }.mkString("{", ",", "}")
      s"""{"metric":"total","value":${f(total)},"unit":"sec","sf":"$sfName",""" +
      s""""runs":$runs,"calib":${f(calib)},"failed":$failedJson,""" +
      s""""pressure":$pmap,"queries":$qmap,"samples":$smap$drift}"""
    }
    // A SPARK_GRAFT_ONLY subset run writes to a sibling debug path: the
    // git-tracked detail file holds full-suite medians and must never be
    // clobbered by a mostly-empty experiment.
    val detailPath = java.nio.file.Paths.get(
      if (only.nonEmpty) "BENCH_DETAIL.debug.json" else "BENCH_DETAIL.json")
    java.nio.file.Files.write(detailPath, detail.getBytes("UTF-8"))
    System.err.println(s"[bench] full detail -> ${detailPath.toAbsolutePath}")
    println(line)
    spark.stop()
  }

  /** Streaming replay throughput (BASELINE.md "streaming replay" row):
    * every event in the sf `events` table is mapped onto the resource
    * hierarchy, pushed through ingest → fan-out → multiplexed filtered
    * delivery with one subtree subscription per project, and drained.
    * Returns elapsed seconds (events/s = rows ÷ this). */
  private[graft] def streamReplaySeconds(spark: org.apache.spark.sql.SparkSession,
                                         sfDir: String): Double = {
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
    // Ingest batch sizing: each micro-batch pays a fixed fan-out +
    // subscription-join + partitioned-payload-write round, so fewer,
    // larger batches raise throughput (BASELINE.md "Round-5 snapshot"
    // ingest-batch sweep, at sf0.1:
    // 12.5k → 6.2 s, 25k → 3.2 s, 50k → 2.3 s, 100k → 1.5 s; at the
    // sf1 rehearsal: 50k → 16.5 s, 100k → ~14 s, 125k → ~11.6 s,
    // 200k → ~9 s). Default is SCALE-AWARE — max(50k, rows/8) — so the
    // per-batch fixed cost amortizes at any input size while at least
    // ~8 micro-batches stay in flight (a single mega-batch would stop
    // exercising the streaming path at all).
    val batchRows = sys.env.get("SPARK_GRAFT_REPLAY_BATCH").map(_.toInt)
      .getOrElse(math.max(50000, rows.length / 8))
    rows.grouped(batchRows).foreach { chunk =>
      mux.emitAll(chunk.map(r => replayEvent(r.getLong(0), r.getLong(1), r.getString(2))).toSeq)
      mux.processAllAvailable()
    }
    val elapsed = (System.nanoTime() - t0) / 1e9
    // Accounting from chunk metadata only — the payload stays in the
    // distributed deliveries table; nothing is hydrated to the driver.
    val delivered = (0 until 5).map(p => mux.pendingRowCount(s"bench-p$p")).sum
    mux.stop()
    require(delivered >= rows.length,
      s"replay must deliver every event at least once ($delivered < ${rows.length})")
    elapsed
  }

  /** Redelivery-under-pressure replay (`redelivery_replay` row,
    * round-10 verdict task 2): the same event stream as
    * [[streamReplaySeconds]], but drained through the FULL consumer
    * dispatch path under induced failures — 2 competing sessions per
    * group pull and ack concurrently with ingest; 10% of chunks are
    * deliberately NOT acked on first claim (the silent-client shape:
    * they must come back via ack-wait expiry with the same chunkId);
    * and mid-run every group has one session killed (dead-owner
    * failover) and replaced. The run only ends when EVERY chunk is
    * acked — the at-least-once drain assertion at whatever scale the
    * bench dir holds (10M events at the 100× rehearsal). Elapsed
    * seconds returned; redelivery/failover counters on stderr quantify
    * the overhead vs the ack-free stream_replay row. */
  private[graft] def redeliveryReplaySeconds(spark: org.apache.spark.sql.SparkSession,
                                             sfDir: String): Double = {
    import graft.core._
    import graft.streaming.MultiplexedDelivery
    val rows = graft.sources.Tables.load(spark, sfDir, "events")
      .select("event_id", "user_id", "event_type").collect()
    val ackWait = sys.env.getOrElse("SPARK_GRAFT_ACK_WAIT_MS", "3000").toLong
    val mux = new MultiplexedDelivery(spark,
      org.apache.spark.sql.streaming.Trigger.ProcessingTime("250 milliseconds"),
      sourcePartitions = sys.env.getOrElse("SPARK_GRAFT_REPLAY_PARTS", "8").toInt,
      ackWaitMillis = ackWait)
    (0 until 5).foreach(p => mux.addGroup(s"rd-p$p", ResourceType.Project, s"p$p",
      Hierarchy(projectId = s"p$p"), includeSubresources = true))
    mux.start()
    val target = rows.length.toLong
    val ackedRows = new java.util.concurrent.atomic.AtomicLong(0L)
    // each chunk is dropped (left unacked past the ack-wait) AT MOST
    // once, by whichever session first claims it — deterministic 10%
    val droppedOnce = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    @volatile var consume = true
    final class Consumer(p: Int, idx: Int) {
      val group = s"rd-p$p"
      val sid: Long = mux.openSession(group)
      val dead = new java.util.concurrent.atomic.AtomicBoolean(false)
      val thread: Thread = new Thread(() => {
        while (consume && !dead.get) {
          val claimed = mux.pull(group, sid, max = 4)
          claimed.foreach { c =>
            if (!dead.get) {
              val unlucky = (c.chunkId.hashCode & 0x7fffffff) % 10 == 0
              if (unlucky && droppedOnce.add(c.chunkId)) ()
              else if (mux.ack(c.groupId, c.chunkId))
                ackedRows.addAndGet(c.resourceIds.size.toLong)
            }
          }
          if (claimed.isEmpty) Thread.sleep(20)
        }
      }, s"redelivery-consumer-$group-$idx")
      thread.setDaemon(true); thread.start()
      /** Abrupt death while possibly holding flights: stop acking,
        * close the session — its flights fail over to survivors. */
      def kill(): Unit = { dead.set(true); mux.closeSession(group, sid); () }
    }
    var sessions = (0 until 5).flatMap(p => (0 until 2).map(i => new Consumer(p, i)))
    val t0 = System.nanoTime()
    val batchRows = sys.env.get("SPARK_GRAFT_REPLAY_BATCH").map(_.toInt)
      .getOrElse(math.max(25000, rows.length / 12))
    var batchNo = 0
    val nBatches = (rows.length + batchRows - 1) / batchRows
    rows.grouped(batchRows).foreach { chunk =>
      if (batchNo == nBatches / 2) {
        // mid-run session kills: one session per group dies (possibly
        // holding flights) — failover must hand them to the survivor —
        // and a fresh session joins the competition
        sessions.zipWithIndex.filter(_._2 % 2 == 0).foreach(_._1.kill())
        sessions = sessions ++ (0 until 5).map(p => new Consumer(p, 2))
      }
      mux.emitAll(chunk.map(r => replayEvent(r.getLong(0), r.getLong(1), r.getString(2))).toSeq)
      mux.processAllAvailable()
      batchNo += 1
    }
    // at-least-once drain: EVERY chunk must end acked, through the
    // redelivery of the dropped tenth + the failed-over flights
    val deadline = System.nanoTime() + 600L * 1000000000L
    while ((0 until 5).map(p => mux.pendingRowCount(s"rd-p$p")).sum > 0
           && System.nanoTime() < deadline) Thread.sleep(50)
    val elapsed = (System.nanoTime() - t0) / 1e9
    consume = false
    sessions.foreach(_.thread.join(2000))
    val leftover = (0 until 5).map(p => mux.pendingRowCount(s"rd-p$p")).sum
    val (offers, redeliveries, failovers) = mux.dispatcher.counters
    val (_, pend, ackRes) = mux.ledgerStats
    mux.stop()
    require(leftover == 0L,
      s"redelivery replay must drain every chunk ($leftover rows still pending)")
    require(ackedRows.get >= target,
      s"at-least-once drain violated (${ackedRows.get} < $target acked rows)")
    System.err.println(f"[redelivery-replay] rows=$target acked=${ackedRows.get} " +
      f"offers=$offers redeliveries=$redeliveries failovers=$failovers " +
      f"dropped=${droppedOnce.size} ledger_pending=$pend ledger_acked_resident=$ackRes " +
      f"total=$elapsed%.1fs")
    elapsed
  }

  /** The sf-row → hierarchy-event mapping shared by the replays and
    * the many-groups scale probe ([[graft.tools.GroupScaleProbe]]). */
  private[graft] def replayEvent(eventId: Long, uid: Long, et: String): graft.core.Event = {
    import graft.core._
    val project = s"p${uid % 5}"
    val ts = new java.sql.Timestamp(0L)
    et match {
      case "signup" =>
        Event(ResourceType.Project, EventType.All, project, RelationCtx(), ts)
      case "purchase" =>
        Event(ResourceType.Collection, EventType.All, s"c$uid",
          RelationCtx(project = project), ts)
      case _ =>
        Event(ResourceType.Object, EventType.All, s"o$eventId",
          RelationCtx(project = project, collection = s"c$uid",
            sharedObject = s"s$eventId", objectGroups = Seq(s"g${uid % 3}")), ts)
    }
  }

  /** Wire-boundary replay throughput (BASELINE.md "wire replay" row,
    * round-7 verdict item #4): the SAME event stream as
    * [[streamReplaySeconds]], but driven END-TO-END through the TCP wire
    * boundary — producers emit proto3 `Emit` frames over sockets,
    * consumers hold one live [[graft.streaming.EventSession]] each over
    * their own connection and run the reference's notify → ack loop
    * (public_event_server.rs:192, 250 ms pull cadence scaled down to
    * keep the bench bounded). Returns elapsed seconds from first emit
    * until every event's delivery row has round-tripped a socket and
    * been acked. events/s = rows ÷ this.
    *
    * Scale shape: the wire is the CONTROL plane — frames carry chunk
    * ids + subjects, payloads stay in the distributed delivery table —
    * so the measured ceiling is per-event unary framing + the engine's
    * micro-batch cadence, exactly the bound a reference deployment hits
    * on its gRPC ingest path. */
  private[graft] def wireReplaySeconds(spark: org.apache.spark.sql.SparkSession,
                                       sfDir: String): Double = {
    import graft.streaming.{MultiplexedDelivery, WireClient, WireServer}
    import graft.streaming.WireProtocol._
    val rows = graft.sources.Tables.load(spark, sfDir, "events")
      .select("event_id", "user_id", "event_type").collect()
    val mux = new MultiplexedDelivery(spark,
      org.apache.spark.sql.streaming.Trigger.ProcessingTime("250 milliseconds"),
      sourcePartitions = sys.env.getOrElse("SPARK_GRAFT_REPLAY_PARTS", "8").toInt)
    val server = WireServer(mux)
    val admin = new WireClient("127.0.0.1", server.boundPort, soTimeoutMillis = 120000)
    (0 until 5).foreach { p =>
      val r = admin.call(CreateGroup(s"bench-p$p", "PROJECT", s"p$p",
        graft.core.Hierarchy(projectId = s"p$p"), includeSub = true, "ALL"))
      require(admin.errors(r).isEmpty, s"create failed: ${admin.errors(r)}")
    }
    mux.start()
    val target = rows.length.toLong
    val delivered = new java.util.concurrent.atomic.AtomicLong(0L)
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val t0 = System.nanoTime()
    // 5 consumers (one per group): Init, then the ack loop — each Ack
    // settles the previous batch AND returns what is now pending, so
    // one frame per iteration carries the whole notify→ack protocol.
    val consumers = (0 until 5).map { p =>
      val t = new Thread(() => {
        val c = new WireClient("127.0.0.1", server.boundPort, soTimeoutMillis = 120000)
        try {
          var held = c.notifications(c.call(Init(s"bench-p$p"))).map(_.chunkId)
          while (delivered.get < target && failure.get == null) {
            val ns = c.notifications(c.call(Ack(held)))
            held = ns.map(_.chunkId)
            delivered.addAndGet(ns.map(_.resourceIds.size.toLong).sum)
            if (ns.isEmpty) Thread.sleep(25)
          }
          if (held.nonEmpty) c.call(Ack(held))
          c.call(Close)
        } catch { case e: Throwable => failure.compareAndSet(null, e) }
        finally c.disconnect()
      }, s"wire-bench-consumer-$p")
      t.start(); t
    }
    // 8 producer connections, each replaying its shard as unary Emit
    // frames (the reference's internal_event_server.rs:18 ingest shape),
    // PIPELINED in windows of 64: one unary frame per event on the wire,
    // but the producer doesn't wait a full RTT per event — the round-9
    // profile showed the synchronous producer pinned at ~1/RTT per
    // connection (~100k ev/s at 8 conns, scale-invariant) while the
    // engine's ingest lock sustains 346k ev/s (BASELINE.md "Wire-replay
    // scale gap — profiled, fixed, inverted").
    val nProd = sys.env.getOrElse("SPARK_GRAFT_WIRE_PRODUCERS", "8").toInt
    val window = sys.env.getOrElse("SPARK_GRAFT_WIRE_PIPELINE", "64").toInt
    val producers = (0 until nProd).map { i =>
      val t = new Thread(() => {
        val c = new WireClient("127.0.0.1", server.boundPort, soTimeoutMillis = 120000)
        try {
          val mine = Iterator.range(i, rows.length, nProd)
          mine.grouped(window).foreach { idx =>
            if (failure.get == null) {
              val reqs = idx.map { j =>
                val r = rows(j)
                val e = replayEvent(r.getLong(0), r.getLong(1), r.getString(2))
                val rel = graft.core.RelationCtx(e.project, e.collection,
                  e.sharedObject, e.objectGroups)
                Emit(e.resource, e.eventType, e.resourceId, rel)
              }
              c.callAll(reqs).foreach { rs =>
                if (c.errors(rs).nonEmpty)
                  throw new IllegalStateException(s"emit rejected: ${c.errors(rs)}")
              }
            }
          }
        } catch { case e: Throwable => failure.compareAndSet(null, e) }
        finally c.disconnect()
      }, s"wire-bench-producer-$i")
      t.start(); t
    }
    producers.foreach(_.join())
    val tProduce = (System.nanoTime() - t0) / 1e9
    val deadline = System.nanoTime() + 300L * 1000000000L
    while (delivered.get < target && failure.get == null && System.nanoTime() < deadline) {
      mux.processAllAvailable()
      if (delivered.get < target) Thread.sleep(20)
    }
    val elapsed = (System.nanoTime() - t0) / 1e9
    // stage split on stderr (stdout carries only the bench JSON): if
    // produce ≈ elapsed the producers (framing RTT or the ingest lock)
    // bound the replay; a large drain means the engine's micro-batch
    // fan-out lags the wire
    System.err.println(f"[wire-replay] rows=${rows.length} produce=$tProduce%.1fs " +
      f"drain=${elapsed - tProduce}%.1fs total=$elapsed%.1fs producers=$nProd")
    consumers.foreach(_.join(10000))
    if (failure.get != null) { server.stop(); mux.stop(); throw failure.get }
    require(delivered.get >= target,
      s"wire replay must deliver every event (${delivered.get} < $target)")
    admin.disconnect()
    server.stop()
    mux.stop()
    elapsed
  }

  /** gRPC-transport replay throughput: the SAME event stream as
    * [[wireReplaySeconds]], but driven through the hand-rolled h2c
    * stack on the reference's own method paths — producers pipeline
    * unary `SendEvent` calls as multiplexed HTTP/2 streams
    * ([[graft.streaming.GrpcClient.unaryAll]]), consumers each hold one
    * `ReadStreamGroupMessages` bidi stream and run the push → ack loop.
    * This is the transport the reference actually serves (tonic h2c),
    * measured end-to-end: HPACK header coding, frame mux/demux, flow
    * control, and the gRPC message framing all on the timed path. */
  private[graft] def h2cReplaySeconds(spark: org.apache.spark.sql.SparkSession,
                                      sfDir: String): Double = {
    import graft.streaming.{GrpcClient, GrpcServer, H2c, MultiplexedDelivery}
    import graft.streaming.WireProtocol._
    val rows = graft.sources.Tables.load(spark, sfDir, "events")
      .select("event_id", "user_id", "event_type").collect()
    val mux = new MultiplexedDelivery(spark,
      org.apache.spark.sql.streaming.Trigger.ProcessingTime("250 milliseconds"),
      sourcePartitions = sys.env.getOrElse("SPARK_GRAFT_REPLAY_PARTS", "8").toInt)
    val server = GrpcServer(mux)
    val admin = new GrpcClient("127.0.0.1", server.boundPort, soTimeoutMillis = 120000)
    (0 until 5).foreach { p =>
      val (st, _) = admin.unary(GrpcServer.CreatePath,
        H2c.unwrapArm(encodeRequest(CreateGroup(s"bench-p$p", "PROJECT", s"p$p",
          graft.core.Hierarchy(projectId = s"p$p"), includeSub = true, "ALL"))))
      require(st == 0, s"h2c create failed: grpc-status $st")
    }
    mux.start()
    val target = rows.length.toLong
    val delivered = new java.util.concurrent.atomic.AtomicLong(0L)
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val t0 = System.nanoTime()
    // 5 consumers, one bidi stream per group: Init, then collect the
    // server's pushes (sent when a chunk is recorded, at most 250 ms
    // apart) and ack each batch.
    val consumers = (0 until 5).map { p =>
      val t = new Thread(() => {
        val c = new GrpcClient("127.0.0.1", server.boundPort,
          soTimeoutMillis = 120000)
        try {
          val stream = c.bidi(GrpcServer.ReadMessagesPath)
          stream.sendMessage(encodeRequest(Init(s"bench-p$p")))
          while (delivered.get < target && failure.get == null) {
            val msgs = stream.messages(64, timeoutMillis = 100)
            if (msgs.nonEmpty) {
              // surface server-side errors (e.g. an ack race after the
              // redelivery deadline) as their message, not a cast error
              val ns = msgs.map(decodeResponse(_)).map {
                case n: Notification => n
                case WireError(m) => throw new IllegalStateException(s"h2c session error: $m")
                case other => throw new IllegalStateException(
                  s"unexpected bidi response: ${other.getClass.getSimpleName}")
              }
              delivered.addAndGet(ns.map(_.resourceIds.size.toLong).sum)
              stream.sendMessage(encodeRequest(Ack(ns.map(_.chunkId))))
            }
          }
          stream.sendMessage(encodeRequest(Close))
        } catch { case e: Throwable => failure.compareAndSet(null, e) }
        finally c.disconnect()
      }, s"h2c-bench-consumer-$p")
      t.start(); t
    }
    val nProd = sys.env.getOrElse("SPARK_GRAFT_WIRE_PRODUCERS", "8").toInt
    val window = sys.env.getOrElse("SPARK_GRAFT_WIRE_PIPELINE", "64").toInt
    val producers = (0 until nProd).map { i =>
      val t = new Thread(() => {
        val c = new GrpcClient("127.0.0.1", server.boundPort,
          soTimeoutMillis = 120000)
        try {
          val mine = Iterator.range(i, rows.length, nProd)
          mine.grouped(window).foreach { idx =>
            if (failure.get == null) {
              val bodies = idx.map { j =>
                val r = rows(j)
                val e = replayEvent(r.getLong(0), r.getLong(1), r.getString(2))
                val rel = graft.core.RelationCtx(e.project, e.collection,
                  e.sharedObject, e.objectGroups)
                H2c.unwrapArm(encodeRequest(
                  Emit(e.resource, e.eventType, e.resourceId, rel)))
              }
              c.unaryAll(GrpcServer.EmitPath, bodies).foreach { st =>
                if (st != 0)
                  throw new IllegalStateException(s"h2c emit rejected: grpc-status $st")
              }
            }
          }
        } catch { case e: Throwable => failure.compareAndSet(null, e) }
        finally c.disconnect()
      }, s"h2c-bench-producer-$i")
      t.start(); t
    }
    producers.foreach(_.join())
    val tProduce = (System.nanoTime() - t0) / 1e9
    val deadline = System.nanoTime() + 300L * 1000000000L
    while (delivered.get < target && failure.get == null && System.nanoTime() < deadline) {
      mux.processAllAvailable()
      if (delivered.get < target) Thread.sleep(20)
    }
    val elapsed = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[h2c-replay] rows=${rows.length} produce=$tProduce%.1fs " +
      f"drain=${elapsed - tProduce}%.1fs total=$elapsed%.1fs producers=$nProd")
    consumers.foreach(_.join(10000))
    if (failure.get != null) {
      admin.disconnect(); server.stop(); mux.stop(); throw failure.get
    }
    require(delivered.get >= target,
      s"h2c replay must deliver every event (${delivered.get} < $target)")
    admin.disconnect()
    server.stop()
    mux.stop()
    elapsed
  }

  private def rmTree(p: String): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(new java.io.File(p))
  }

  /** Live sketch-maintenance throughput (`sketch_fold` row): the sf
    * documents arrive in 8 md5-order batches; batches 0–4 build a
    * MATURE persisted state untimed, then each timed sample folds one
    * further 1/8 slice through [[graft.streaming.SketchStream]]
    * (CMS + KMV + quantile + Bloom merge + parquet publish) — the cost
    * a foreachBatch micro-batch actually pays against live state, the
    * operational number behind the q197–q200 mergeability claims.
    * Returns the median of the 3 tail-slice folds. */
  private[graft] def sketchFoldSeconds(spark: org.apache.spark.sql.SparkSession,
                                       sfDir: String): Double = {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft-bench-sketchfold").toString
    val m = new graft.streaming.SketchStream(spark, root)
    val docs = graft.sources.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"), col("source"),
        conv(substring(md5(col("doc_id").cast("string")), 1, 2), 16, 10)
          .cast("int").as("ab"))
      .localCheckpoint(true)
    def slice(b: Int) = docs
      .filter(col("ab") >= b * 32 && col("ab") < (b + 1) * 32).drop("ab")
    (0 until 5).foreach(b => m.sink(slice(b), b.toLong))
    val ts = (5 until 8).map { b =>
      System.gc()
      val t0 = System.nanoTime()
      m.sink(slice(b), b.toLong)
      (System.nanoTime() - t0) / 1e9
    }
    docs.unpersist(true)
    rmTree(root)
    ts.sorted.apply(ts.size / 2)
  }

  /** Live ANN-index-maintenance throughput (`ann_fold` row): the sf
    * embeddings arrive in 8 md5-order batches; batches 0–4 build a
    * mature bucket/pair state untimed, then each timed sample folds one
    * further 1/8 slice through [[graft.streaming.AnnIndexStream]]
    * (signature append + candidate-pair join + publish; shape-boundary
    * folds pay their amortized rebuild where they land). Median of the
    * 3 tail-slice folds. */
  private[graft] def annFoldSeconds(spark: org.apache.spark.sql.SparkSession,
                                    sfDir: String): Double = {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft-bench-annfold").toString
    val m = new graft.streaming.AnnIndexStream(spark, root)
    val emb = graft.sources.Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        conv(substring(md5(col("vec_id").cast("string")), 1, 2), 16, 10)
          .cast("int").as("ab"))
      .localCheckpoint(true)
    def slice(b: Int) = emb
      .filter(col("ab") >= b * 32 && col("ab") < (b + 1) * 32).drop("ab")
    (0 until 5).foreach(b => m.sink(slice(b), b.toLong))
    val ts = (5 until 8).map { b =>
      System.gc()
      val t0 = System.nanoTime()
      m.sink(slice(b), b.toLong)
      (System.nanoTime() - t0) / 1e9
    }
    emb.unpersist(true)
    rmTree(root)
    ts.sorted.apply(ts.size / 2)
  }

  /** Live CC-label-maintenance throughput (`cc_fold` row): q202's
    * rare-shingle edge set, materialized once untimed, arrives in 8
    * md5-order batches; batches 0–4 build mature labels untimed, then
    * each timed sample folds one further 1/8 slice through
    * [[graft.streaming.CcStream]] (labels-as-edges ∪ batch
    * re-contraction + publish — cost ∝ labeled nodes + batch, never
    * cumulative edges). Median of the 3 tail-slice folds. */
  private[graft] def ccFoldSeconds(spark: org.apache.spark.sql.SparkSession,
                                   sfDir: String): Double = {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft-bench-ccfold").toString
    val m = new graft.streaming.CcStream(spark, root)
    val edges = graft.operators.GraphOps.rareShingleEdges(
        graft.sources.Tables.load(spark, sfDir, "documents"))
      .select(col("a"), col("b"),
        conv(substring(md5(concat_ws(":", col("a"), col("b"))), 1, 2), 16, 10)
          .cast("int").as("ab"))
      .localCheckpoint(true)
    def slice(b: Int) = edges
      .filter(col("ab") >= b * 32 && col("ab") < (b + 1) * 32).drop("ab")
    (0 until 5).foreach(b => m.sink(slice(b), b.toLong))
    val ts = (5 until 8).map { b =>
      System.gc()
      val t0 = System.nanoTime()
      m.sink(slice(b), b.toLong)
      (System.nanoTime() - t0) / 1e9
    }
    edges.unpersist(true)
    rmTree(root)
    ts.sorted.apply(ts.size / 2)
  }
}
