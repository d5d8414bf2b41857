package graft

import java.nio.file.{Files, Paths}

/** Dumps `.explain("formatted")` for named queries to files — the
  * committed plan evidence for optimization rounds (plans/rNN/).
  * Usage: sbt "runMain graft.PlanDump <outDir> <suffix> q154_...,q107_..."
  *        sbt "runMain graft.PlanDump <outDir> <suffix> all"
  * The plan is captured from the UNEXECUTED QueryExecution (initial
  * plan; AQE shows isFinalPlan=false) — the same thing
  * df.explain("formatted") prints.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names: Seq[String] =
      if (args(2) == "all") SparkEntry.queries.keys.toSeq.sorted
      else args(2).split(",").toSeq
    val sfDir = Harness.sfDir
    val spark = Harness.session()
    Files.createDirectories(Paths.get(outDir))
    for (n <- names) {
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${n}_$suffix.txt"), txt)
        System.err.println(s"[plandump] wrote $n")
      } catch {
        case e: Throwable =>
          System.err.println(s"[plandump] $n FAILED: ${e.getMessage}")
      }
      Harness.hygiene(spark)
    }
    spark.stop()
  }
}
