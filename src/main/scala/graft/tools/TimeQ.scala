package graft.tools

/** Ad-hoc per-query timer for scale rehearsals: runs the named
  * SparkEntry queries against a fixture dir and prints warm timings.
  * Unlike graft.Bench this takes a query subset and arbitrary session
  * confs (`SPARK_GRAFT_CONF`) for experiments. Timing only — results
  * are counted, never verified. The q47/q62 LSH band shape needs no
  * conf: it derives from the corpus count (`VectorOps.lshShape`).
  *
  * Usage:
  *   sbt "runMain graft.tools.TimeQ <sfDir> <q1> [q2 ...]"
  */
object TimeQ {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args.drop(1).toSeq
    val spark = ToolConf.session()
    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      // run 1 = cold (codegen + shuffle files), run 2 = warm — report both.
      // System.gc() OUTSIDE the timed region (Bench's hygiene): without it
      // the warm run at 10×+ fixtures pays the cold run's garbage as GC
      // thrash mid-measurement (observed 15 s cold → 110 s "warm").
      val times = (1 to 2).map { _ =>
        System.gc()
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        spark.catalog.clearCache()
        (n, (System.nanoTime() - t0) / 1e9)
      }
      println(f"[timeq] $name%-28s rows=${times.last._1}%-8d " +
        f"cold=${times.head._2}%.2fs warm=${times.last._2}%.2fs")
    }
    spark.stop()
  }
}
