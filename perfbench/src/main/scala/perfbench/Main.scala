package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** One benchmark workload in a fresh JVM:
  *
  *   Main <workload> <seed> <seconds> <trace 0|1> <workDir> [tablesDir]
  *
  * Writes `<workDir>/result.json` (raw samples, counts, checks and, when
  * traced, per-layer figures) for `perfbench/run.py`, which derives the
  * reported metrics from it. All scratch files live under `workDir`.
  * `tablesDir` (profile only) names existing judged tables to profile
  * instead of generated ones.
  *
  * Traced and untraced runs make the same output checks, after the timed
  * window and after the layer figures are taken, so tracing is the only
  * difference between their timed windows.
  */
object Main {

  /** What a workload hands back to the runner. */
  final class Result {
    val stagingS = mutable.ArrayBuffer.empty[Double]
    var warmupS = 0.0
    /** One latency per timed operation, milliseconds. */
    val latenciesMs = mutable.ArrayBuffer.empty[Double]
    /** Items (rows or queries) completed inside the timed window. */
    var items = 0L
    var windowS = 0.0
    var attempted = 0L
    var failed = 0L
    val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
    val layers = mutable.LinkedHashMap.empty[String, Double]
    /** (query, spark result dir) pairs the runner compares with DuckDB. */
    val oracle = mutable.ArrayBuffer.empty[(String, String)]
    var tablesDir = ""

    /** Stages a workload's input `reps` times, into `<base>0`, `<base>1`,
      * ..., recording each time for the median in `setup_s`; keeps the
      * first copy and returns its directory with `stage`'s result.
      */
    def stageRepeated[T](reps: Int, base: String)(stage: String => T): (String, T) = {
      val first = (0 until reps).map { i =>
        val t0 = System.nanoTime()
        val r = stage(s"$base$i")
        stagingS += (System.nanoTime() - t0) / 1e9
        r
      }.head
      (1 until reps).foreach(i => Files.delete(s"$base$i"))
      (s"${base}0", first)
    }

    private val deferred = mutable.ArrayBuffer.empty[() => Unit]

    /** Queues `body` to run after the timed window and the layer figures:
      * the output checks, and the traced run's ingest ablation.
      */
    def afterWindow(body: => Unit): Unit = deferred += (() => body)

    def runChecks(): Unit = deferred.foreach(_())

    def check(name: String, ok: Boolean, detail: => String = ""): Boolean = {
      checks += ((name, ok, if (ok) "" else detail))
      ok
    }
  }

  def cpus: Int = Runtime.getRuntime.availableProcessors()

  def session(work: String): SparkSession = {
    val n = cpus
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.default.parallelism", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, work) = args.take(5)
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val tracer = new Tracer(traceS == "1")
    val spark = session(work)
    val engineS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    tracer.attach(spark)
    val res = new Result
    workload match {
      case "ingest" => Ingest.run(spark, seed, seconds, work, tracer, res)
      case "stream_state" => StreamState.run(spark, seed, seconds, work, tracer, res)
      case "query_cold" => QueryWorkloads.cold(spark, seed, seconds, work, tracer, res)
      case "profile" => QueryWorkloads.profile(spark, seed, work, args.lift(5), res)
      case other => sys.error(s"unknown workload $other")
    }
    if (tracer.on) layerTotals(tracer, res)
    res.runChecks()
    if (res.oracle.nonEmpty)
      Json.write(s"$work/oracle_sql.json", Json.Obj(SparkEntry.oracleSql.toSeq.sortBy(_._1)))
    Json.write(s"$work/result.json", Json.obj(
      "workload" -> workload, "seed" -> seed, "trace" -> tracer.on, "cpus" -> cpus,
      "engine_s" -> engineS, "staging_s" -> res.stagingS.toSeq, "warmup_s" -> res.warmupS,
      "latencies_ms" -> res.latenciesMs.toSeq, "items" -> res.items,
      "window_s" -> res.windowS, "attempted" -> res.attempted, "failed" -> res.failed,
      "checks" -> res.checks.toSeq.map { case (n, ok, d) =>
        Json.obj("name" -> n, "ok" -> ok, "detail" -> d) },
      "layers" -> Json.Obj(res.layers.toSeq),
      "tables" -> res.tablesDir,
      "oracle" -> res.oracle.toSeq.map { case (q, d) => Json.obj("query" -> q, "dir" -> d) }))
    spark.stop()
  }

  /** Per-operation layer figures shared by every workload, over the
    * timed operations (`op` and `round` spans).
    */
  private def layerTotals(tr: Tracer, res: Result): Unit = {
    Thread.sleep(300) // let the listener bus deliver the last events
    val ops = math.max(1L, res.attempted).toDouble
    val cg = Codegen.snap()
    // Union of the timed operations' intervals, in epoch milliseconds.
    val timed = tr.spanList.filter(s => s.name == "op" || s.name == "round")
      .map(s => (tr.epochMs(s.startNs), tr.epochMs(s.endNs))).sortBy(_._1)
    val union = timed.foldLeft(List.empty[(Long, Long)]) {
      case ((s0, e0) :: rest, (s, e)) if s <= e0 => (s0, math.max(e0, e)) :: rest
      case (acc, iv) => iv :: acc
    }
    val wallMs = union.map { case (s, e) => e - s }.sum
    val busy = union.map { case (s, e) => tr.jobBusyMs(s, e) }.sum
    def per(k: String, v: Double) = res.layers.getOrElseUpdate(k, v / ops)
    Seq("analysis", "optimization", "planning")
      .foreach(p => per(s"catalyst.${p}_ms", tr.counter(s"catalyst.${p}_ms").toDouble))
    per("codegen.compile_ms", (cg.compileNs - tr.codegen0.compileNs) / 1e6)
    per("codegen.classes", (cg.classes - tr.codegen0.classes).toDouble)
    per("codegen.source_bytes", cg.sourceBytes - tr.codegen0.sourceBytes)
    Seq("jobs", "stages", "tasks", "task_wait_ms", "gc_ms")
      .foreach(k => per(s"scheduler.$k", tr.counter(s"scheduler.$k").toDouble))
    per("scheduler.job_busy_ms", busy.toDouble)
    per("scheduler.driver_gap_ms", (wallMs - busy).toDouble)
    per("scheduler.executor_cpu_ms", tr.counter("scheduler.executor_cpu_ns") / 1e6)
    Seq("read_bytes", "write_bytes", "spill_bytes")
      .foreach(k => per(s"shuffle.$k", tr.counter(s"shuffle.$k").toDouble))
    res.layers.getOrElseUpdate("cache.peak_bytes", tr.peakOf("cache.peak_bytes").toDouble)
    tr.selfTimesNs.toSeq.sortBy(_._1).foreach { case (name, ns) =>
      per(s"self.${name.replace('.', '_')}_ms", ns / 1e6)
    }
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  final case class Obj(fields: Seq[(String, Any)])
  def obj(fields: (String, Any)*): Obj = Obj(fields)

  def render(v: Any): String = v match {
    case null => "null"
    case Obj(fs) => fs.map { case (k, x) => s"${str(k)}:${render(x)}" }.mkString("{", ",", "}")
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Seq[_] => xs.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def write(path: String, v: Any): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      render(v).getBytes(java.nio.charset.StandardCharsets.UTF_8))
}
