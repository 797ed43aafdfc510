package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core._
import graft.streaming.FanOut

/** Decomposition probe for the mux micro-batch body (the stream_replay
  * per-batch cost): reproduces the foreachBatch pipeline STANDALONE —
  * same fan-out explode, candidate-key equi-join, prepare() shuffle and
  * per-group parquet write — and times each prefix of the pipeline
  * separately (noop sink for the compute prefixes, real write for the
  * last), N reps each, medians printed. This separates upstream compute
  * from shuffle from file/commit cost, which the engine's phaseProfile
  * (one timer around the whole write action) cannot.
  *
  * Usage: sbt "runMain graft.tools.MuxWriteProbe <sfDir> [batchRows] [reps]"
  */
object MuxWriteProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val batchRows = if (args.length > 1) args(1).toInt else 50000
    val reps = if (args.length > 2) args(2).toInt else 10
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = ToolConf.withEnvConf(b).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // the replay's event batch, as the 8-partition frame the
    // MemoryStream source hands foreachBatch
    val rows = graft.sources.Tables.load(spark, sfDir, "events")
      .select("event_id", "user_id", "event_type").collect()
      .take(batchRows)
      .map(r => graft.Bench.replayEvent(r.getLong(0), r.getLong(1), r.getString(2)))
      .zipWithIndex.map { case (e, i) => e.copy(eventId = i.toLong + 1) }
    val events = spark.createDataset(spark.sparkContext.parallelize(rows.toSeq, 8))
    val batch = FanOut.explodeSubjects(events.toDF())
      .select("subject", "payload", "resource", "eventType", "resourceId", "ts",
        "eventId", "spos")

    // the replay's 5 project-subtree subscriptions
    val subs = (0 until 5)
      .map(p => (s"bench-p$p", Subjects.projectQuery(s"p$p", includeSub = true), EventType.All))
      .toDF("id", "filterSubject", "subEventType")
    val depths = (0 until 5)
      .flatMap(p => Subjects.subtreeDepth(Subjects.projectQuery(s"p$p", includeSub = true)))
      .distinct.sorted

    def joined: DataFrame = batch
      .select(col("subject"), col("resourceId"), col("eventType"),
        col("eventId"), col("spos"))
      .withColumn("joinKey", explode(Subjects.matchKeysCol(col("subject"), depths)))
      .join(broadcast(subs.withColumnRenamed("filterSubject", "joinKey")), "joinKey")
      .filter(Subjects.eventTypeMatches(col("eventType"), col("subEventType")))
    def matched: DataFrame = joined
      .select(col("id").as("groupId"), col("subject"), col("resourceId"),
        FanOut.seqCol.as("seq"))

    val parts = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val splits = math.max(1, parts / 5)

    def timeMedian(name: String)(f: => Unit): Unit = {
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        f
        (System.nanoTime() - t0) / 1e9
      }
      val med = ts.sorted.apply(ts.size / 2)
      println(f"[muxwrite] $name%-28s median=$med%.3f s  (min=${ts.min}%.3f max=${ts.max}%.3f)")
    }

    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    timeMedian("events only (noop)") { noop(events.toDF()) }
    timeMedian("explode only (noop)") { noop(batch.select("subject", "resourceId",
      "eventType", "eventId", "spos")) }
    timeMedian("explode+join (noop)") { noop(matched) }
    timeMedian("+prepare shuffle (noop)") {
      noop(matched
        .withColumn("chunkId", concat(col("groupId"), lit("-0")))
        .repartition(parts, col("groupId"), col("chunkId"),
          pmod(xxhash64(col("subject"), col("resourceId")), lit(splits.toLong))))
    }
    timeMedian("plan only (executedPlan)") {
      val df = matched
        .withColumn("chunkId", concat(col("groupId"), lit("-0")))
        .repartition(parts, col("groupId"), col("chunkId"),
          pmod(xxhash64(col("subject"), col("resourceId")), lit(splits.toLong)))
      df.queryExecution.executedPlan
      ()
    }
    val dir = java.nio.file.Files.createTempDirectory("muxwrite-").toString
    val table = new graft.streaming.DeliveryTable(spark, dir)
    var seq = 0L
    timeMedian("writeMultiWithCounts") {
      val withChunk = matched.withColumn("chunkId", concat(col("groupId"), lit(s"-$seq")))
      table.writeMultiWithCounts(withChunk, splits)
      seq += 1
    }
    val dirA = java.nio.file.Files.createTempDirectory("muxwrite-a-").toString
    val tableA = new graft.streaming.DeliveryTable(spark, dirA)
    var seqA = 0L
    timeMedian("writeMWC splits=1 parts=10") {
      val withChunk = matched.withColumn("chunkId", concat(col("groupId"), lit(s"-$seqA")))
      tableA.writeMultiWithCounts(withChunk, 1, 10)
      seqA += 1
    }
    var seqP = 0L
    timeMedian("plain overwrite fresh dir") {
      val d = java.nio.file.Files.createTempDirectory(s"muxwrite-p-$seqP-").toString
      matched.withColumn("chunkId", concat(col("groupId"), lit(s"-$seqP")))
        .repartition(10, col("groupId"), col("chunkId"))
        .write.mode("overwrite").partitionBy("groupId", "chunkId").parquet(d)
      seqP += 1
    }
    var seq2 = 0L
    val dir2 = java.nio.file.Files.createTempDirectory("muxwrite-b-").toString
    val table2 = new graft.streaming.DeliveryTable(spark, dir2)
    timeMedian("writeBucketed") {
      val withChunk = matched.withColumn("chunkId", concat(col("groupId"), lit(s"-$seq2")))
      table2.writeBucketed(withChunk, seq2, parts)
      seq2 += 1
    }
    println("[muxwrite] phases " + table.phaseSeconds.toSeq.sortBy(_._1)
      .map { case (k, v) => f"$k=$v%.2f" }.mkString(" "))
    spark.stop()
  }
}
