package graft.tools

import org.apache.spark.sql.SparkSession

/** The tool mains' session, and the experiment session confs they take:
  * `SPARK_GRAFT_CONF` holds comma-separated `key=value` pairs (bench and
  * tool runs only, never under Verify). */
object ToolConf {
  /** Parses `k1=v1,k2=v2` (blank entries skipped). A malformed entry —
    * no `=`, or an empty key — fails naming that entry. */
  def parseConf(spec: String): Seq[(String, String)] =
    spec.split(',').toSeq.filter(_.trim.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => (k.trim, v)
        case _ => throw new IllegalArgumentException(
          s"malformed SPARK_GRAFT_CONF entry '$kv' (expected key=value)")
      }
    }

  /** `graft.Bench`'s session confs on `local[cores]` (shuffle partitions
    * = cores, AQE, UTC, no UI) plus `SPARK_GRAFT_CONF`, when set. The
    * timing tools take `$SPARK_GRAFT_CPUS` cores like the bench; the plan
    * dumps and the demo pass 4, the core count `PlanSpec` and the
    * committed plan files use. */
  def session(cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    sys.env.get("SPARK_GRAFT_CONF").foreach(parseConf(_).foreach { case (k, v) => b.config(k, v) })
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
