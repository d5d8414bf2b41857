package graft

/** Cold-run profiler for one or more queries. Each rep runs through
  * [[Harness.cold]] (Bench-identical hygiene and noop write) and
  * prints the wall, the Spark jobs the query triggered, the sum of
  * job walls, busy (wall covered by a running job), gap (wall with
  * NO job running — the number the sf0.1 floor is made of), the live
  * cached bytes right after the action (the peak footprint a persist
  * held; compare across a persist/no-persist tree pair or across
  * scales), and one line per job (submit→end wall, callsite) — jobs
  * tell you which actions a restructure could merge or delete.
  *
  * Usage: sbt "runMain graft.Profile <q1,q2,..> [reps] [dir]"
  * (reps default 2, dir default $SPARK_GRAFT_SF_DIR). Point `dir` at a
  * ScaleRehearsal corpus for the 10x/100x tiers.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.getOrElse("q131_pagerank").split(",").toSeq
    val reps = if (args.length > 1) args(1).toInt else 2
    val dir = if (args.length > 2) args(2) else Harness.sfDir
    val spark = Harness.session()
    Harness.warmUp(spark, dir)
    for (n <- names; r <- 1 to reps) {
      val run = Harness.cold(spark, n, dir).orThrow
      val done = run.jobs.filter(_.endMs >= 0)
      println(f"[profile] $n rep$r wall=${run.wall}%.2fs jobs=${run.jobs.size} " +
        f"jobTime=${done.map(_.secs).sum}%.2fs busy=${run.busy}%.2fs gap=${run.gap}%.2fs")
      println(f"[profile]   cacheMem=${run.cacheMem / 1048576.0}%.1fMB " +
        f"cacheDisk=${run.cacheDisk / 1048576.0}%.1fMB nCached=${run.nCached}")
      for (j <- run.jobs)
        println(f"[profile]   job${j.id}%-4d ${j.secs}%6.2fs  ${j.site}")
    }
    spark.stop()
  }
}
