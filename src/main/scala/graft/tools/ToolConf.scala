package graft.tools

import org.apache.spark.sql.SparkSession

/** Experiment session confs for the probe mains: `SPARK_GRAFT_CONF`
  * holds comma-separated `key=value` pairs (bench and probe runs only,
  * never under Verify). */
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

  /** Applies `SPARK_GRAFT_CONF`, when set, to a session builder. */
  def withEnvConf(b: SparkSession.Builder): SparkSession.Builder = {
    sys.env.get("SPARK_GRAFT_CONF").foreach(parseConf(_).foreach { case (k, v) => b.config(k, v) })
    b
  }
}
