package graft

/** Plan-smell audit over every registered query: counts the physical
  * operators that decide 100 TB viability. Rows are flagged when they
  * contain a nested-loop/cartesian join or a global (un-partitioned)
  * window — acceptable only where the query documents it.
  * Usage: sbt "runMain graft.PlanAudit [sfDir]"
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(Harness.sfDir)
    val spark = Harness.session()
    val smells = Seq("CartesianProduct", "BroadcastNestedLoopJoin")
    println(f"${"query"}%-24s ex  bhj smj shj bnl cart win  flags")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val plan = fn(spark, sfDir).queryExecution.executedPlan
      val p = plan.toString
      def n(op: String) = op.r.findAllIn(p).size
      // A window with an empty partitionSpec moves ALL rows to one
      // task — the WindowExec warning the bench log shows. Collected
      // from the tree, not the plan string (the string form doesn't
      // distinguish partition from order columns). AQE hides the real
      // plan under AdaptiveSparkPlanExec, so recurse through it.
      def nodes(sp: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.SparkPlan] =
        sp.collect { case x => x }.flatMap {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            a +: nodes(a.inputPlan)
          case x => Seq(x)
        }
      val globalWin = nodes(plan).count {
        case w: org.apache.spark.sql.execution.window.WindowExec =>
          w.partitionSpec.isEmpty
        case _ => false
      }
      val flags = (smells.filter(p.contains(_)) ++
        (if (globalWin > 0) Seq(s"GlobalWindow($globalWin)") else Nil))
        .mkString(",")
      println(f"$name%-24s ${n("Exchange")}%-3d ${n("BroadcastHashJoin")}%-3d " +
        f"${n("SortMergeJoin")}%-3d ${n("ShuffledHashJoin")}%-3d " +
        f"${n("BroadcastNestedLoopJoin")}%-3d ${n("CartesianProduct")}%-4d " +
        f"${n("Window")}%-4d $flags")
    }
    spark.stop()
  }
}
