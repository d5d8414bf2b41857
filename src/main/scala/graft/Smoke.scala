package graft

/** Mirrors the driver's t1 smoke check: run SparkEntry.entry on sf0.001
  * and assert rows>0. Also prints the plan head + a sample for eyeball
  * verification. Usage: sbt "runMain graft.Smoke".
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session()
    val df = SparkEntry.entry(spark)
    val n = df.count()
    println(s"[smoke] entry rows = $n")
    df.printSchema()
    df.show(5, truncate = false)
    assert(n > 0, "entry must return rows")
    spark.stop()
  }
}
