package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-provided parquet tables (`TESTDATA.md`).
  *
  * All analytic queries read through here so schema quirks are handled in
  * exactly one place. Keep loads lazy and unmaterialized: the point is to
  * let Catalyst push filters/projections into the parquet scan, which a
  * cache() here would defeat at 100 TB.
  */
object Tables {
  val tpch: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
  val llm: Seq[String] = Seq("events", "documents", "embeddings")
  val all: Seq[String] = tpch ++ llm

  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  /** Inferred-schema memo, keyed by table path. Schema inference on a
    * bare parquet path costs ~60–85 ms per `spark.read.parquet` call
    * (driver footer read + conversion, measured over repeated loads:
    * median 60–85 ms inferred vs 5–7 ms with an explicit schema), and
    * the bench/verify harnesses call
    * load() hundreds of times per pass — this was the single largest
    * slice of the suite's per-entry fixed cost. The memo holds TABLE
    * METADATA only (a StructType — what a catalog would hold), never
    * rows or results: every query still lists files and scans parquet
    * from disk on every execution. JVM-lifetime only, keyed by full
    * path so distinct fixture dirs never alias, and shared by every
    * session in the JVM. The fixture tables are immutable by contract
    * (TESTDATA.md); a path rewritten with a different schema mid-JVM is
    * read with the stale one: a column type change fails at scan time,
    * but an added column is silently dropped and a removed one reads as
    * nulls. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // The driver has shipped events.ts under two parquet encodings so far;
    // both are normalized to TimestampType here so every consumer (incl. the
    // strictly-typed unix_micros in TemporalOps) sees one schema:
    //  - TIMESTAMP(NANOS): Spark's schema converter rejects it outright
    //    (PARQUET_TYPE_ILLEGAL). Read nanos as Long and rebuild at
    //    microsecond precision. `div` (integer division) is mandatory: a
    //    double round-trip would lose precision above 2^53 ns.
    //  - timestamp[us] with isAdjustedToUTC=false: Spark reads it as
    //    TIMESTAMP_NTZ. The session TZ is pinned UTC in Verify/Bench/TimeQ,
    //    so a cast to TimestampType is value-identical. Applied to EVERY
    //    NTZ column (the 2026-08 regeneration also flipped o_orderdate /
    //    l_shipdate) so consumers always see one post-load schema.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val p = path(dir, name)
    // computeIfAbsent AFTER the nanosAsLong set: the legacy conf shapes
    // how TIMESTAMP(NANOS) maps into the inferred schema (LongType).
    val schema = schemaCache.computeIfAbsent(p,
      _ => spark.read.parquet(p).schema)
    val raw = spark.read.schema(schema).parquet(p)
    val df = raw.schema.fields.foldLeft(raw) {
      case (d, f) if f.dataType == TimestampNTZType =>
        d.withColumn(f.name, col(f.name).cast(TimestampType))
      case (d, _) => d
    }
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _ => df
    }
  }

  /** Register every table as a temp view for `spark.sql` surfaces. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))

  /** Re-spread a NARROW scan across the session's cores before an
    * expensive per-row pipeline. The rehearsal fixtures are single
    * parquet files, so a 100×-scale documents scan yields only
    * ⌈bytes / maxPartitionBytes⌉ = 2-4 input splits — heavy map-side
    * expression work (q201's per-doc histogram sort measured 13.6 s of
    * CPU in a 2-TASK stage on 32 cores) serializes on a handful of fat
    * tasks, and fat tasks are also what suite-pressure interference
    * lands on hardest. The exchange is gated on the measured split
    * count, so at real multi-file scale (100 TB = thousands of splits)
    * this is a literal no-op — no plan change, no shuffle — and AQE
    * still coalesces the other direction. Row content is untouched;
    * verified outputs are unchanged (all queries impose total orders).
    */
  def widen(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val splits = df.rdd.getNumPartitions // file-split count; no job runs
    if (2 * splits <= sc.defaultParallelism) df.repartition(sc.defaultParallelism)
    else df
  }
}
