package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.ExplainMode

/** Per-query formatted-plan snapshots for the optimization-round
  * evidence files (`plans/r14/<query>_{before,after}.txt`): dumps
  * `.explain("formatted")` of each named SparkEntry query to
  * `<outdir>/<query>_<suffix>.txt`. Unlike [[ExplainDump]] (the curated
  * EXPLAINS.md), this takes an arbitrary query subset so a round can
  * snapshot exactly the queries it touched, before and after.
  *
  * Usage: sbt "runMain graft.tools.PlanDump <outdir> <suffix> <q1> [q2 ...]"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = Paths.get(args(0))
    val suffix = args(1)
    val names = args.drop(2).toSeq
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    Files.createDirectories(outDir)
    val spark = ToolConf.session("4")
    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      val plan = fn(spark, dir).queryExecution
        .explainString(ExplainMode.fromString("formatted"))
      val f = outDir.resolve(s"${name}_$suffix.txt")
      Files.writeString(f, s"# $name — $suffix (input: $dir)\n\n$plan")
      println(s"wrote $f")
    }
    spark.stop()
  }
}
