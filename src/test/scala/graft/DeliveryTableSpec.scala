package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.streaming.DeliveryTable

/** Contracts of the chunk-payload store that the delivery ledger's
  * scale story rests on: dir-scoped driver-side hydration that tolerates
  * files vanishing under it and never sees an unpublished file, replay
  * idempotence, and group-scoped drop. */
class DeliveryTableSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("graft-delivery-table-spec")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** Per-group-layout chunk refs: the batch seq only resolves bucketed
    * chunks, so any value reads these from their `groupId=…/chunkId=…`
    * dirs. */
  private def perGroup(chunkIds: String*): Seq[(String, Long)] = chunkIds.map(_ -> 0L)

  private def payload(rows: Seq[(String, String)]) = {
    val s = spark
    import s.implicits._
    rows.toDF("subject", "resourceId")
  }

  /** One chunk in the per-group layout, through the history writer. */
  private def writeChunk(t: DeliveryTable, groupId: String, chunkId: String,
                         rows: Seq[(String, String)]): Unit =
    t.writeMulti(payload(rows).withColumn("groupId", lit(groupId)).withColumn("chunkId", lit(chunkId)))

  test("write/read round-trips payloads per chunk, in delivery order") {
    val t = new DeliveryTable(spark, DeliveryTable.tempDir())
    writeChunk(t, "g1", "g1-0", Seq(("s1", "r1"), ("s2", "r2")))
    writeChunk(t, "g1", "g1-1", Seq(("s3", "r3")))
    writeChunk(t, "g2", "g2-0", Seq(("sX", "rX")))
    val got = t.readChunks("g1", perGroup("g1-0", "g1-1"))
    assert(got.keySet == Set("g1-0", "g1-1"))
    assert(got("g1-0") == (Seq("s1", "s2"), Seq("r1", "r2")))
    assert(got("g1-1") == (Seq("s3"), Seq("r3")))
    // group isolation: g2's chunk is invisible to a g1 read
    assert(t.readChunks("g1", perGroup("g2-0")).isEmpty)
  }

  test("replayed write overwrites its own partitions — no duplication, others untouched") {
    val t = new DeliveryTable(spark, DeliveryTable.tempDir())
    writeChunk(t, "g", "g-0", Seq(("s1", "r1"), ("s2", "r2")))
    writeChunk(t, "g", "g-1", Seq(("s3", "r3")))
    // foreachBatch replay after a crash re-runs batch 0 with identical rows
    writeChunk(t, "g", "g-0", Seq(("s1", "r1"), ("s2", "r2")))
    val got = t.readChunks("g", perGroup("g-0", "g-1"))
    assert(got("g-0") == (Seq("s1", "s2"), Seq("r1", "r2")),
      "replay must rewrite, not append duplicates")
    assert(got("g-1") == (Seq("s3"), Seq("r3")),
      "dynamic overwrite must not clobber sibling chunks")
  }

  test("read touches only the requested group's chunk dirs: a concurrently-dropped sibling group never fails a pull") {
    val t = new DeliveryTable(spark, DeliveryTable.tempDir())
    writeChunk(t, "keep", "keep-0", Seq(("s1", "r1")))
    writeChunk(t, "gone", "gone-0", Seq(("s2", "r2")))
    // churn: the sibling group is removed between this consumer's pull
    // planning and execution — its dir vanishing must be invisible here
    t.drop("gone")
    assert(t.readChunks("keep", perGroup("keep-0")) ==
      Map("keep-0" -> ((Seq("s1"), Seq("r1")))))
    // and a chunk id whose OWN dir was dropped reads as absent, not as
    // a failed job (the churn-tolerance contract of the direct-path read)
    assert(t.readChunks("gone", perGroup("gone-0")).isEmpty)
    // mixed list: present chunk hydrates, dropped chunk is skipped
    writeChunk(t, "keep", "keep-1", Seq(("s3", "r3")))
    t.drop("gone")
    assert(t.readChunks("keep", perGroup("keep-0", "gone-0", "keep-1")).keySet ==
      Set("keep-0", "keep-1"))
  }

  test("read of an empty table / unknown chunks is empty; drop removes a group only") {
    val t = new DeliveryTable(spark, DeliveryTable.tempDir())
    assert(t.readChunks("g", perGroup("g-0")).isEmpty, "missing dir reads empty")
    writeChunk(t, "g", "g-0", Seq(("s1", "r1")))
    writeChunk(t, "h", "h-0", Seq(("s2", "r2")))
    assert(t.readChunks("g", perGroup("nope")).isEmpty)
    t.drop("g")
    assert(t.readChunks("g", perGroup("g-0")).isEmpty, "dropped group reads empty")
    assert(t.readChunks("h", perGroup("h-0")) == Map("h-0" -> (Seq("s2"), Seq("r2"))),
      "drop must be group-scoped")
  }

  test("path-unsafe group/chunk ids round-trip: hand-built read paths escape like the writer") {
    // Spark escapes ' ', ':', '%', '=', … when materializing partition
    // dirs; the read/count/list/drop paths are hand-built and must
    // escape IDENTICALLY or the pull silently returns empty (round-11
    // ADVICE). Exercise every character class the writer escapes.
    val t = new DeliveryTable(spark, DeliveryTable.tempDir())
    val g = "team a:b%c=d#e"
    val c = "chunk 0:1%2=3"
    writeChunk(t, g, c, Seq(("s1", "r1"), ("s2", "r2")))
    assert(t.readChunks(g, perGroup(c)) == Map(c -> ((Seq("s1", "s2"), Seq("r1", "r2")))),
      "escaped partition dirs must hydrate under the raw ids")
    assert(t.listChunks(g) == Seq(c), "listChunks must UNescape dir names")
    // the multi-group write's observed counts key on the RAW group id
    assert(t.writeBucketed(payload(Seq(("s3", "r3")))
        .withColumn("groupId", lit(g)).withColumn("chunkId", lit(s"$c-1")), 1L, 4) == Map(g -> 1L),
      "writeBucketed must count under the raw id")
    assert(t.listChunks(g).toSet == Set(c, s"$c-1"))
    t.drop(g)
    assert(t.readChunks(g, perGroup(c)).isEmpty, "drop must resolve the escaped dir")
  }

  test("a chunk split across several files reads back in delivery order") {
    // A big batch spreads one chunk over several files (here a per-file
    // record cap; on a cluster, several write tasks). The split must be
    // invisible to consumers — read() merges the files by seq.
    val dir = DeliveryTable.tempDir()
    val t = new DeliveryTable(spark, dir)
    val rows = (0 until 200).map(i => (f"s$i%03d", f"r$i%03d"))
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "50")
    try writeChunk(t, "g", "g-0", rows)
    finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    val files = new java.io.File(s"$dir/groupId=g/chunkId=g-0")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(files > 1, s"test wiring: expected a multi-file chunk, got $files")
    assert(t.readChunks("g", perGroup("g-0")) ==
      Map("g-0" -> ((rows.map(_._1), rows.map(_._2)))),
      "delivery order must survive the multi-file split")
  }

  test("multi-group batch write serves every group in one pass") {
    val t = new DeliveryTable(spark, DeliveryTable.tempDir())
    val batch = payload(Seq(("sA", "rA"), ("sB", "rB"), ("sC", "rC")))
      .withColumn("groupId",
        when(col("subject") === "sA", "gA").otherwise("gB"))
      .withColumn("chunkId", concat(col("groupId"), lit("-7")))
    t.writeMulti(batch)
    assert(t.readChunks("gA", perGroup("gA-7")) == Map("gA-7" -> (Seq("sA"), Seq("rA"))))
    val gB = t.readChunks("gB", perGroup("gB-7"))("gB-7")
    assert(gB._1.toSet == Set("sB", "sC") && gB._2.toSet == Set("rB", "rC"))
  }

  // ---- bucketed layout (round-13 task 1) ----------------------------

  /** A batch of rows for groups g0..g(n-1), one chunk per group. */
  private def groupBatch(groups: Int, rowsPerGroup: Int, seq: Long) = {
    val rows = for (g <- 0 until groups; i <- 0 until rowsPerGroup)
      yield (f"s$g-$i%03d", f"r$g-$i%03d", s"g$g", s"g$g-$seq")
    val s = spark
    import s.implicits._
    rows.toDF("subject", "resourceId", "groupId", "chunkId")
  }

  test("driver-side bucketOf matches the plan-side pmod(xxhash64) bit-for-bit") {
    // The consumer pull re-derives a group's bucket dir on the driver;
    // any divergence from the write plan's expression silently loses
    // rows. Exercise ascii, unicode, escaping-hostile, and empty ids.
    val s = spark
    import s.implicits._
    val ids = Seq("g0", "group-42", "team a:b%c=d#e", "üñïçødé-グループ", "",
      "x" * 300) ++ (0 until 64).map(i => s"col-c$i")
    for (b <- Seq(1, 4, 7, 32)) {
      val planSide = ids.toDF("g")
        .select(col("g"), pmod(xxhash64(col("g")), lit(b.toLong)).as("bucket"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      ids.foreach { g =>
        assert(DeliveryTable.bucketOf(g, b).toLong == planSide(g),
          s"bucketOf('$g', $b) diverges from pmod(xxhash64)")
      }
    }
  }

  test("bucketed write: readChunks round-trips every group in delivery order, counts from the same pass") {
    val t = new DeliveryTable(spark, DeliveryTable.tempDir())
    val counts = t.writeBucketed(groupBatch(groups = 20, rowsPerGroup = 5, seq = 0), 0L, 4)
    assert(counts == (0 until 20).map(g => s"g$g" -> 5L).toMap)
    (0 until 20).foreach { g =>
      val got = t.readChunks(s"g$g", Seq((s"g$g-0", 0L)))
      assert(got.keySet == Set(s"g$g-0"), s"group g$g chunk missing")
      assert(got(s"g$g-0") ==
        ((0 until 5).map(i => f"s$g-$i%03d"), (0 until 5).map(i => f"r$g-$i%03d")),
        s"group g$g rows wrong or out of order")
    }
    // group isolation: another group's chunk id never hydrates
    assert(t.readChunks("g0", Seq(("g1-0", 0L))).isEmpty)
  }

  test("bucketed write: file count per batch is O(buckets), not O(groups)") {
    val dir = DeliveryTable.tempDir()
    val t = new DeliveryTable(spark, dir)
    t.writeBucketed(groupBatch(groups = 50, rowsPerGroup = 2, seq = 3), 3L, 4)
    val batchDir = new java.io.File(s"$dir/batches/batch=3")
    assert(batchDir.isDirectory, "bucketed write must land under batches/batch=<seq>")
    val files = batchDir.listFiles().filter(_.isDirectory).flatMap(_.listFiles())
      .count(_.getName.endsWith(".parquet"))
    assert(files <= 4, s"50 groups must write at most 4 bucket files, got $files")
  }

  test("bucketed replay overwrites its own batch partitions; sibling batches untouched") {
    val t = new DeliveryTable(spark, DeliveryTable.tempDir())
    t.writeBucketed(groupBatch(groups = 8, rowsPerGroup = 3, seq = 0), 0L, 4)
    t.writeBucketed(groupBatch(groups = 8, rowsPerGroup = 2, seq = 1), 1L, 4)
    // foreachBatch replay after a crash re-runs batch 0 with identical rows
    val counts = t.writeBucketed(groupBatch(groups = 8, rowsPerGroup = 3, seq = 0), 0L, 4)
    assert(counts("g5") == 3L)
    assert(t.readChunks("g5", Seq(("g5-0", 0L)))("g5-0")._1.size == 3,
      "replay must rewrite, not append duplicates")
    assert(t.readChunks("g5", Seq(("g5-1", 1L)))("g5-1")._1.size == 2,
      "dynamic overwrite must not clobber sibling batches")
  }

  test("bucket count is pinned by the table marker, immune to later conf/request drift") {
    val dir = DeliveryTable.tempDir()
    val t1 = new DeliveryTable(spark, dir)
    t1.writeBucketed(groupBatch(groups = 10, rowsPerGroup = 2, seq = 0), 0L, 4)
    // a restarted process with a different parallelism must keep B=4,
    // or its reads resolve to the wrong bucket dirs
    val t2 = new DeliveryTable(spark, dir)
    t2.writeBucketed(groupBatch(groups = 10, rowsPerGroup = 2, seq = 1), 1L, 32)
    (0 until 10).foreach { g =>
      assert(t2.readChunks(s"g$g", Seq((s"g$g-0", 0L), (s"g$g-1", 1L))).keySet ==
        Set(s"g$g-0", s"g$g-1"), s"group g$g must hydrate across restarts")
    }
    val marker = new java.io.File(s"$dir/batches/_buckets")
    assert(marker.isFile &&
      new String(java.nio.file.Files.readAllBytes(marker.toPath), "UTF-8").trim == "4")
  }

  test("mixed layouts in one table: readChunks resolves each chunk where it was written") {
    // Per-group and shared queries write different layouts; a group can
    // hold chunks in both (e.g. per-group chunks an older shared query
    // wrote, still pending after an upgrade).
    val t = new DeliveryTable(spark, DeliveryTable.tempDir())
    writeChunk(t, "g3", "g3-0", Seq(("sA", "rA")))            // per-group
    t.writeBucketed(groupBatch(groups = 8, rowsPerGroup = 2, seq = 1), 1L, 4) // bucketed
    val got = t.readChunks("g3", Seq(("g3-0", 0L), ("g3-1", 1L)))
    assert(got.keySet == Set("g3-0", "g3-1"))
    assert(got("g3-0") == (Seq("sA"), Seq("rA")))
    assert(got("g3-1") == (Seq("s3-000", "s3-001"), Seq("r3-000", "r3-001")))
    assert(t.listChunks("g3").toSet == Set("g3-0", "g3-1"),
      "listChunks must surface both layouts' history")
  }

  test("path-hostile group ids work in the bucketed layout (data column, no dir escaping)") {
    val t = new DeliveryTable(spark, DeliveryTable.tempDir())
    val g = "team a:b%c=d#e"
    val s = spark
    import s.implicits._
    val batch = Seq(("s1", "r1", g, s"$g-0"), ("s2", "r2", g, s"$g-0"))
      .toDF("subject", "resourceId", "groupId", "chunkId")
    assert(t.writeBucketed(batch, 0L, 4) == Map(g -> 2L))
    assert(t.readChunks(g, Seq((s"$g-0", 0L))) ==
      Map(s"$g-0" -> ((Seq("s1", "s2"), Seq("r1", "r2")))))
  }

  test("listChunks above a history floor skips the shared batches at or below it") {
    val t = new DeliveryTable(spark, DeliveryTable.tempDir())
    (0L to 2L).foreach(s => t.writeBucketed(groupBatch(4, 1, s), s, 4))
    assert(t.listChunks("g1").toSet == Set("g1-0", "g1-1", "g1-2"))
    assert(t.listChunks("g1", afterBatch = 1L) == Seq("g1-2"))
  }

  test("dropBatchesBefore reclaims old batch dirs; newer chunks keep hydrating") {
    val dir = DeliveryTable.tempDir()
    val t = new DeliveryTable(spark, dir)
    (0L to 3L).foreach(s => t.writeBucketed(groupBatch(4, 2, s), s, 4))
    assert(t.dropBatchesBefore(2L) == 2)
    assert(t.readChunks("g1", Seq(("g1-0", 0L), ("g1-1", 1L))).isEmpty,
      "reclaimed batches read as absent")
    assert(t.readChunks("g1", Seq(("g1-2", 2L), ("g1-3", 3L))).keySet ==
      Set("g1-2", "g1-3"))
    assert(!new java.io.File(s"$dir/batches/batch=0").exists)
    assert(new java.io.File(s"$dir/batches/batch=2").exists)
  }

  test("writeMulti writes a small chunk as one file and an empty write as no dir") {
    val dir = DeliveryTable.tempDir()
    val t = new DeliveryTable(spark, dir)
    // a small chunk: ONE file, not shuffle-partitions many
    writeChunk(t, "g", "g-0", Seq(("s1", "r1"), ("s2", "r2")))
    val files = new java.io.File(s"$dir/groupId=g/chunkId=g-0")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(files == 1, s"a 2-row chunk must write one file, got $files")
    assert(t.readChunks("g", perGroup("g-0")) == Map("g-0" -> ((Seq("s1", "s2"), Seq("r1", "r2")))))
    // empty write: no partition dir
    writeChunk(t, "g", "g-1", Seq.empty)
    assert(!new java.io.File(s"$dir/groupId=g/chunkId=g-1").exists)
  }

  // ---- driver-side reader: hidden, missing and pruned files --------

  /** A read of `dir` through [[RacyLocalFs]]: the raw local FS (it
    * lists `.crc` files, which the checksummed `file:` FS hides) with a
    * hook that runs right after every listing. */
  private def racy(dir: String): DeliveryTable = {
    spark.conf.set("fs.racy.impl", classOf[RacyLocalFs].getName)
    new DeliveryTable(spark, s"racy://$dir")
  }

  private def withAfterList[T](hook: (org.apache.hadoop.fs.Path,
      Array[org.apache.hadoop.fs.FileStatus]) => Unit)(body: => T): T = {
    RacyLocalFs.afterList = hook
    try body finally RacyLocalFs.afterList = (_, _) => ()
  }

  private def touch(f: java.io.File, bytes: String): Unit = {
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, bytes.getBytes("UTF-8")); ()
  }

  test("a chunk or bucket dir holding only _SUCCESS and .crc files reads as absent") {
    val dir = DeliveryTable.tempDir()
    val t = new DeliveryTable(spark, dir)
    // pins the table's bucket count (B=4) so bucketed chunk refs resolve
    t.writeBucketed(groupBatch(groups = 2, rowsPerGroup = 1, seq = 0), 0L, 4)
    val chunkDir = new java.io.File(s"$dir/groupId=g/chunkId=g-0")
    val bucketDir = new java.io.File(
      s"$dir/batches/batch=9/bucket=${DeliveryTable.bucketOf("g", 4)}")
    for (d <- Seq(chunkDir, bucketDir)) {
      touch(new java.io.File(d, "_SUCCESS"), "")
      // not parquet: reading it as a data file would throw
      touch(new java.io.File(d, ".part-00000.snappy.parquet.crc"), "not parquet")
    }
    for (table <- Seq(t, racy(dir))) {
      assert(table.readChunks("g", Seq(("g-0", 0L), ("g-9", 9L))).isEmpty)
      assert(!table.listChunks("g").contains("g-9"), "no bucketed history from hidden files")
    }
    assert(t.readChunks("g1", Seq(("g1-0", 0L))).keySet == Set("g1-0"),
      "a real bucketed chunk next to the hidden-only dirs still hydrates")
  }

  test("a data file deleted between listing and open reads as absent, not as an error") {
    val dir = DeliveryTable.tempDir()
    val t = new DeliveryTable(spark, dir)
    writeChunk(t, "g", "g-0", Seq(("s1", "r1")))
    writeChunk(t, "g", "g-1", Seq(("s2", "r2")))
    val got = withAfterList { (listed, entries) =>
      if (listed.getName == "chunkId=g-0")
        entries.filter(_.getPath.getName.endsWith(".parquet"))
          .foreach(e => new java.io.File(e.getPath.toUri.getPath).delete())
    } {
      racy(dir).readChunks("g", perGroup("g-0", "g-1"))
    }
    assert(!new java.io.File(s"$dir/groupId=g/chunkId=g-0").listFiles()
      .exists(_.getName.endsWith(".parquet")), "test wiring: the hook must delete g-0's file")
    assert(got == Map("g-1" -> ((Seq("s2"), Seq("r2")))))
  }

  test("a batch reaped by dropBatchesBefore while a pull is running reads as absent") {
    val dir = DeliveryTable.tempDir()
    val t = new DeliveryTable(spark, dir)
    (0L to 1L).foreach(s => t.writeBucketed(groupBatch(4, 2, s), s, 4))
    var reaped = 0
    // retention fires after the pull listed batch 0's bucket dir and
    // before it opens the file in it
    val got = withAfterList { (listed, _) =>
      if (listed.getParent.getName == "batch=0") reaped += t.dropBatchesBefore(1L)
    } {
      racy(dir).readChunks("g1", Seq(("g1-0", 0L), ("g1-1", 1L)))
    }
    assert(reaped == 1, "test wiring: retention must run mid-pull")
    assert(got == Map("g1-1" -> ((Seq("s1-000", "s1-001"), Seq("r1-000", "r1-001")))))
  }

  test("a bucket file still being written, or left by a crash, is invisible to pulls; the batch's replay removes it") {
    val dir = DeliveryTable.tempDir()
    val t = racy(dir)
    t.writeBucketed(groupBatch(groups = 4, rowsPerGroup = 2, seq = 0), 0L, 4)
    val bucketG1 = s"bucket=${DeliveryTable.bucketOf("g1", 4)}"
    // mid-write: g1's file of batch 1 is complete on disk under its
    // staging name, and about to be renamed into place
    var staged = 0
    RacyLocalFs.beforeRename = { (src, _) =>
      if (src.getParent.getName == bucketG1 && src.getParent.getParent.getName == "batch=1") {
        staged += 1
        assert(src.getName.startsWith(".") && new java.io.File(src.toUri.getPath).length > 0)
        assert(t.readChunks("g1", Seq(("g1-1", 1L))).isEmpty, "an unpublished file must not hydrate")
        assert(t.listChunks("g1").toSet == Set("g1-0"), "an unpublished file must not list")
      }
    }
    try t.writeBucketed(groupBatch(groups = 4, rowsPerGroup = 2, seq = 1), 1L, 4)
    finally RacyLocalFs.beforeRename = (_, _) => ()
    assert(staged == 1, "test wiring: g1's bucket file must be staged once")
    assert(t.readChunks("g1", Seq(("g1-1", 1L))).keySet == Set("g1-1"), "published once renamed")

    // crash leftover: batch 2's write died after writing g1's file and
    // before publishing it
    val leftover = new java.io.File(s"$dir/batches/batch=2/$bucketG1/.part-00000.parquet.inprogress")
    leftover.getParentFile.mkdirs()
    java.nio.file.Files.copy(new java.io.File(s"$dir/batches/batch=1/$bucketG1/part-00000.parquet").toPath,
      leftover.toPath)
    assert(t.readChunks("g1", Seq(("g1-1", 2L))).isEmpty, "a crash leftover must not hydrate")
    assert(t.listChunks("g1").toSet == Set("g1-0", "g1-1"), "a crash leftover must not list")
    // the replay finds nothing to deliver: it removes the dir, leftover included
    assert(t.writeBucketed(groupBatch(groups = 0, rowsPerGroup = 0, seq = 2), 2L, 4).isEmpty)
    assert(!new java.io.File(s"$dir/batches/batch=2").exists, "the replay must remove the leftover")
    // ...and a replay with rows publishes its own files, no leftover kept
    leftover.getParentFile.mkdirs()
    java.nio.file.Files.write(leftover.toPath, "torn".getBytes("UTF-8"))
    t.writeBucketed(groupBatch(groups = 4, rowsPerGroup = 2, seq = 2), 2L, 4)
    assert(!leftover.exists, "the replay must remove the leftover")
    assert(t.readChunks("g1", Seq(("g1-2", 2L))) ==
      Map("g1-2" -> ((Seq("s1-000", "s1-001"), Seq("r1-000", "r1-001")))))
  }

  test("bucketed read pushes the group filter into a multi-row-group file and returns exactly that group") {
    // One bucket (B=1) holding six neighbouring groups, written with a
    // tiny row-group size so the file spans several row groups and
    // groups share row groups at their boundaries.
    val dir = DeliveryTable.tempDir()
    val t = new DeliveryTable(spark, dir)
    spark.conf.set("parquet.block.size", "2048")
    try t.writeBucketed(groupBatch(groups = 6, rowsPerGroup = 150, seq = 0), 0L, 1)
    finally spark.conf.unset("parquet.block.size")
    val conf = spark.sessionState.newHadoopConf()
    val files = new java.io.File(s"$dir/batches/batch=0/bucket=0").listFiles()
      .filter(_.getName.endsWith(".parquet")).toSeq
    assert(files.size == 1, s"test wiring: expected one bucket file, got ${files.size}")
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(files.head.toURI), conf))
    val rowGroups = try reader.getRowGroups.size finally reader.close()
    assert(rowGroups > 3, s"test wiring: expected several row groups, got $rowGroups")
    for (g <- 0 until 6) {
      val got = t.readChunks(s"g$g", Seq((s"g$g-0", 0L)))
      assert(got == Map(s"g$g-0" ->
        (((0 until 150).map(i => f"s$g-$i%03d"), (0 until 150).map(i => f"r$g-$i%03d")))),
        s"group g$g must read exactly its own rows, in seq order")
    }
    assert(t.listChunks("g3") == Seq("g3-0"))
  }
}

/** The raw local filesystem under the `racy:` scheme, with a hook run
  * after every `listStatus` — lets a spec remove files between a
  * reader's listing and its open — and one run before every `rename`,
  * while a written file is not yet published. */
class RacyLocalFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("racy:///")
  override def listStatus(f: org.apache.hadoop.fs.Path): Array[org.apache.hadoop.fs.FileStatus] = {
    val listed = super.listStatus(f)
    RacyLocalFs.afterList(f, listed)
    listed
  }
  override def rename(src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path): Boolean = {
    RacyLocalFs.beforeRename(src, dst)
    super.rename(src, dst)
  }
}

object RacyLocalFs {
  @volatile var afterList: (org.apache.hadoop.fs.Path,
    Array[org.apache.hadoop.fs.FileStatus]) => Unit = (_, _) => ()
  @volatile var beforeRename: (org.apache.hadoop.fs.Path,
    org.apache.hadoop.fs.Path) => Unit = (_, _) => ()
}
