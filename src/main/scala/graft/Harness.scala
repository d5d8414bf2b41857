package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.bridge

/** The one harness every driver main runs on: the session contract,
  * the inter-query cache hygiene, and a cold timed run.
  *
  * Env contract (a value the env sets wins over the default):
  *   - SPARK_GRAFT_CPUS: `local[N]` cores and shuffle partitions,
  *     default the host's available processors;
  *   - SPARK_GRAFT_SF_DIR: the table directory, default sf0.1.
  */
object Harness {

  private def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** `local[cpus]`, UTC session time zone, UI off, log level WARN.
    * `extra` confs are set after these defaults, so a tool may
    * override one of them.
    */
  def session(extra: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    extra.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Warm up the JVM/Spark stack (class loading, codegen infra,
    * parquet reader init) so the first timed query doesn't absorb
    * ~15-20s of one-time cost and misrepresent per-query numbers.
    */
  def warmUp(spark: SparkSession, dir: String): Unit =
    spark.read.parquet(s"$dir/region.parquet").groupBy("r_name").count().collect()

  /** Inter-query hygiene: queries that persist/localCheckpoint
    * intermediates (LSH caches, CC per-round checkpoints, IVF index)
    * would otherwise leave blocks pinned in the block manager for
    * every query after them — accumulated pressure shows up as
    * phantom regressions in whichever queries run late. The GC nudges
    * the ContextCleaner to reap dropped broadcasts too. It runs the
    * same way before every query (a periodic-only GC gave whichever
    * query followed it a privileged just-collected heap).
    */
  def hygiene(spark: SparkSession): Unit = {
    CacheRegistry.releaseAll()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    System.gc()
  }

  /** One Spark job of a cold run: submit→end wall-clock ms (end -1
    * when no end event arrived) and the action's short callsite.
    */
  final case class Job(id: Int, startMs: Long, endMs: Long, site: String) {
    def secs: Double = if (endMs >= 0) (endMs - startMs) / 1e3 else -1.0
  }

  /** What one cold run measured. `busy` is the wall covered by at
    * least one running job; `gap` is the rest — wall with NO job
    * running (planning, codegen compile, collect post-processing,
    * persist bookkeeping). The cache bytes are the live persisted
    * blocks right after the action, i.e. the footprint the query's
    * persists held before the next hygiene releases them.
    */
  final case class ColdRun(name: String, wall: Double, jobs: Seq[Job],
      busy: Double, cacheMem: Long, cacheDisk: Long, nCached: Int,
      error: Option[Throwable]) {
    def gap: Double = wall - busy
    def orThrow: ColdRun = { error.foreach(e => throw e); this }
  }

  /** Hygiene, then one timed noop write of the named query. The noop
    * sink materializes the FULL plan (count() would let the optimizer
    * elide final sorts and unreferenced columns). A failure is
    * returned, not thrown, with the time-to-failure as its wall;
    * Throwable is caught because a deep plan's StackOverflowError is
    * a query failure, not a reason to abort a sweep.
    */
  def cold(spark: SparkSession, name: String, dir: String): ColdRun = {
    hygiene(spark)
    val sc = spark.sparkContext
    val listener = new JobListener
    sc.addSparkListener(listener)
    val (w0, t0) = (System.currentTimeMillis(), System.nanoTime())
    val error =
      try { SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save(); None }
      catch { case e: Throwable => Some(e) }
    val wall = (System.nanoTime() - t0) / 1e9
    val w1 = System.currentTimeMillis()
    // Job-end events reach listeners asynchronously; drain the bus
    // rather than sleep, so no job is missing from busy.
    try bridge.drainListenerBus(sc, timeoutMs = 30000L)
    finally sc.removeSparkListener(listener)
    val jobs = listener.jobs
    val info = sc.getRDDStorageInfo
    ColdRun(name, wall, jobs, busySecs(jobs, w0, w1),
      info.map(_.memSize).sum, info.map(_.diskSize).sum, info.length, error)
  }

  /** Union of the finished jobs' intervals, clipped to [w0, w1]. */
  private def busySecs(jobs: Seq[Job], w0: Long, w1: Long): Double = {
    val iv = jobs.filter(_.endMs >= 0)
      .map(j => (math.max(j.startMs, w0), math.min(j.endMs, w1)))
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var cur = (0L, 0L)
    for ((s, e) <- iv) {
      if (s > cur._2) { covered += cur._2 - cur._1; cur = (s, e) }
      else if (e > cur._2) cur = (cur._1, e)
    }
    (covered + cur._2 - cur._1) / 1e3
  }

  private final class JobListener extends SparkListener {
    private val recs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      // The callsite property is only set by an explicit setCallSite;
      // otherwise the result stage (highest id) is named after it.
      val site = Option(e.properties)
        .flatMap(p => Option(p.getProperty("callSite.short")))
        .orElse(e.stageInfos.maxByOption(_.stageId).map(_.name)).getOrElse("?")
      recs.put(e.jobId, Job(e.jobId, e.time, -1L, site))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      recs.computeIfPresent(e.jobId, (_, j) => j.copy(endMs = e.time))
    def jobs: Seq[Job] = recs.values.asScala.toSeq.sortBy(_.startMs)
  }
}
