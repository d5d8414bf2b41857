package graft

import org.apache.spark.sql.SparkSession

/** Readiness probe (reference S12, probe.py:7-50): the reference runs
  * `SELECT 1` against ClickHouse and lists Kafka topics, exiting 0/1
  * for the k8s readinessProbe. The graft analogue checks the Spark
  * session answers a trivial query and that the configured data
  * directory is readable. Usage: `runMain graft.Probe [sfDir]`.
  */
object Probe {

  /** The probe's decision, factored from the exit-code shell so the
    * harness can assert both verdict directions (probe.py:28-46's
    * check() analogue — the reference also separates check from exit).
    */
  def check(spark: SparkSession, dir: String): Boolean =
    try {
      val one = spark.sql("SELECT 1").collect()(0).getInt(0) == 1
      val readable = new java.io.File(dir).isDirectory
      println(s"[probe] select1=$one dataDir=$readable")
      one && readable
    } catch { case e: Exception => println(s"[probe] failed: ${e.getMessage}"); false }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse(Harness.sfDir)
    val spark = Harness.session()
    val ok =
      try check(spark, dir)
      finally spark.stop()
    sys.exit(if (ok) 0 else 1)
  }
}
