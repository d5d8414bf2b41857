package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.window.WindowExec

/** Plan-smell audit over every registered query: counts the physical
  * operators that decide 100 TB viability. Rows are flagged when they
  * contain a nested-loop/cartesian join or a global (un-partitioned)
  * window — acceptable only where the query documents it.
  * Usage: sbt "runMain graft.PlanAudit [sfDir]"
  */
object PlanAudit {

  private val Header: String = f"${"query"}%-24s sx  bx  bhj smj shj bnl cart win  flags"

  /** One query's audit row, from the typed [[PlanShape.counts]] (so a
    * broadcast exchange is never counted as a shuffle). A window with
    * an empty partitionSpec moves ALL rows to one task — the WindowExec
    * warning the bench log shows — so it is flagged from the tree, where
    * partition and order columns are told apart.
    */
  final case class Row(name: String, shape: Map[String, Int], windows: Int, globalWindows: Int) {
    def flags: Seq[String] =
      Seq("CartesianProduct", "BroadcastNestedLoopJoin").filter(shape(_) > 0) ++
        (if (globalWindows > 0) Seq(s"GlobalWindow($globalWindows)") else Nil)

    def line: String =
      f"$name%-24s ${shape("ShuffleExchange")}%-3d ${shape("BroadcastExchange")}%-3d " +
        f"${shape("BroadcastHashJoin")}%-3d ${shape("SortMergeJoin")}%-3d " +
        f"${shape("ShuffledHashJoin")}%-3d ${shape("BroadcastNestedLoopJoin")}%-3d " +
        f"${shape("CartesianProduct")}%-4d $windows%-4d ${flags.mkString(",")}"
  }

  def row(name: String, plan: SparkPlan): Row = {
    val windows = PlanShape.nodes(plan).collect { case w: WindowExec => w }
    Row(name, PlanShape.counts(plan), windows.size, windows.count(_.partitionSpec.isEmpty))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(Harness.sfDir)
    val spark = Harness.session()
    println(Header)
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      println(row(name, fn(spark, sfDir).queryExecution.executedPlan).line)
    }
    spark.stop()
  }
}
