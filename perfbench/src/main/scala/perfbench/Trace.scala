package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.io.RecordSink
import graft.schema.SchemaProvider
import graft.types.ColumnMeta

/** In-memory spans and per-layer counters for the traced run. With
  * tracing off every entry point runs its body and records nothing, so
  * the untraced run measures the engine with no listener attached.
  */
final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long)

final class Tracer(val on: Boolean) {

  private val spans = new ConcurrentLinkedQueue[Span]
  private val nextId = new AtomicLong
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val counters = new java.util.concurrent.ConcurrentHashMap[String, LongAdder]()
  private val peaks = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Runs `body` inside a span that is a child of the innermost open
    * span on this thread (or of `parent` when given).
    */
  def span[T](name: String, parent: Long = -1L)(body: => T): T =
    if (!on) body
    else {
      val id = nextId.incrementAndGet()
      val outer = stack.get()
      val p = if (parent >= 0) parent else outer.headOption.getOrElse(0L)
      stack.set(id :: outer)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, p, name, t0, System.nanoTime()))
        stack.set(outer)
      }
    }

  /** Records an already-timed span (e.g. a streaming trigger reported
    * by a listener on another thread).
    */
  def record(name: String, parent: Long, startNs: Long, endNs: Long): Unit =
    if (on) spans.add(Span(nextId.incrementAndGet(), parent, name, startNs, endNs))

  def currentSpan: Long = stack.get().headOption.getOrElse(0L)

  def add(key: String, v: Long): Unit =
    if (on) counters.computeIfAbsent(key, _ => new LongAdder).add(v)

  def peak(key: String, v: Long): Unit =
    if (on) peaks.merge(key, v, (a, b) => math.max(a, b))

  def counter(key: String): Long = Option(counters.get(key)).map(_.sum).getOrElse(0L)
  def peakOf(key: String): Long = Option(peaks.get(key)).map(_.longValue).getOrElse(0L)

  def spanList: Seq[Span] = spans.asScala.toSeq

  /** Wall-clock and monotonic readings taken together, to place spans
    * (nanoTime) against listener events (epoch milliseconds).
    */
  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()
  def epochMs(ns: Long): Long = anchorMs + (ns - anchorNs) / 1000000L

  @volatile var codegen0: Codegen.Snap = Codegen.snap()

  /** Called just before the first timed operation: drops what set-up and
    * warm-up recorded, so the layer figures cover the timed operations.
    */
  def startWindow(): Unit = if (on) {
    Thread.sleep(300) // let the listener bus deliver set-up events first
    counters.clear()
    peaks.clear()
    jobIntervals.clear()
    spans.clear()
    codegen0 = Codegen.snap()
  }

  /** Attaches the Spark-side listeners (scheduler, shuffle, Catalyst
    * phases) to `spark`.
    */
  def attach(spark: SparkSession): Unit = if (on) {
    spark.listenerManager.register(catalystListener)
    spark.sparkContext.addSparkListener(schedulerListener)
  }

  private val catalystListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      phases(qe)
    private def phases(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (phase, s) => add(s"catalyst.${phase}_ms", s.durationMs) }
  }

  /** Wall intervals of finished jobs, for busy time and driver gap. */
  val jobIntervals = new ConcurrentLinkedQueue[(Long, Long)]
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val stageSubmit = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()

  private val schedulerListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      add("scheduler.jobs", 1)
      jobStarts.put(e.jobId, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach(s => jobIntervals.add((s.longValue, e.time)))
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      add("scheduler.stages", 1)
      e.stageInfo.submissionTime.foreach(t => stageSubmit.put(e.stageInfo.stageId, t))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("scheduler.tasks", 1)
      Option(stageSubmit.get(e.stageId)).foreach(s =>
        add("scheduler.task_wait_ms", math.max(0L, e.taskInfo.launchTime - s)))
      val m = e.taskMetrics
      if (m != null) {
        add("scheduler.executor_cpu_ns", m.executorCpuTime)
        add("scheduler.gc_ms", m.jvmGCTime)
        add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("shuffle.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  /** Busy milliseconds of the union of job intervals inside [t0, t1]. */
  def jobBusyMs(t0Ms: Long, t1Ms: Long): Long = {
    val iv = jobIntervals.asScala.toSeq
      .map { case (s, e) => (math.max(s, t0Ms), math.min(e, t1Ms)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var busy = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { busy += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    busy + (curE - curS)
  }

  /** Bytes the block manager holds for cached frames right now. */
  def sampleCache(spark: SparkSession): Unit = if (on) {
    val bytes = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    peak("cache.peak_bytes", bytes)
  }

  /** Streaming progress as per-phase sums, state-store figures and a
    * `streaming.trigger` span per progress event under `parent`.
    */
  def streamingListener(parent: Long, checkpointDir: String): StreamingQueryListener =
    new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        d.foreach { case (k, v) => add(s"streaming.${k}_ms", v) }
        add("streaming.triggers", 1)
        // The event arrives after the trigger; place the span at the
        // trigger's own start time.
        val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
        val startNs = System.nanoTime() - (System.currentTimeMillis() - startMs) * 1000000L
        record("streaming.trigger", parent, startNs,
          startNs + d.getOrElse("triggerExecution", 0L) * 1000000L)
        p.stateOperators.headOption.foreach { so =>
          peak("streaming.state_rows_total", so.numRowsTotal)
          add("streaming.state_rows_removed", so.numRowsRemoved)
          add("streaming.state_commit_ms", so.commitTimeMs)
          peak("streaming.state_memory_bytes", so.memoryUsedBytes)
          Option(so.customMetrics.get("rocksdbSstFileSize"))
            .foreach(v => peak("streaming.state_sst_bytes", v.longValue))
        }
        peak("streaming.checkpoint_bytes", Files.bytes(checkpointDir))
      }
    }

  /** A sink decorator that times each write as a span and a sum. */
  def timedSink(name: String, inner: RecordSink, parent: Long): RecordSink =
    if (!on) inner
    else new RecordSink {
      def write(df: DataFrame): Boolean = timed(inner.write(df))
      override def write(df: DataFrame, batchId: Long): Boolean = timed(inner.write(df, batchId))
      private def timed(w: => Boolean): Boolean = {
        val t0 = System.nanoTime()
        try span(name, parent)(w)
        finally add(s"${name}_ns", System.nanoTime() - t0)
      }
    }

  /** A schema provider decorator that counts and times resolutions. */
  def timedSchema(inner: SchemaProvider): SchemaProvider =
    if (!on) inner
    else new SchemaProvider {
      def resolve(): Seq[ColumnMeta] = {
        val t0 = System.nanoTime()
        try span("schema.resolve")(inner.resolve())
        finally {
          add("schema.resolves", 1)
          add("schema.resolve_ns", System.nanoTime() - t0)
        }
      }
    }

  /** Self time per span name: each span's duration minus the part of
    * its interval its children cover.
    */
  def selfTimesNs: Map[String, Long] = {
    // Spans recorded after the fact (streaming triggers) cannot be the
    // parent of spans that opened inside them, so a span is moved under
    // a sibling whose interval contains it.
    val recorded = spanList
    val all = recorded.groupBy(_.parent).values.flatMap { sibs =>
      sibs.map { s =>
        sibs.find(o => o.id != s.id && o.startNs <= s.startNs && o.endNs >= s.endNs &&
          (o.endNs - o.startNs) > (s.endNs - s.startNs))
          .fold(s)(o => s.copy(parent = o.id))
      }
    }.toSeq
    val kids = all.groupBy(_.parent)
    val out = mutable.Map.empty[String, Long].withDefaultValue(0L)
    all.foreach { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var sum = 0L
      var cs = -1L
      var ce = -1L
      covered.foreach { case (a, b) =>
        if (a > ce) { if (ce > cs) sum += ce - cs; cs = a; ce = b }
        else ce = math.max(ce, b)
      }
      if (ce > cs) sum += ce - cs
      out(s.name) += (s.endNs - s.startNs) - sum
    }
    out.toMap
  }
}

/** Codegen counters are JVM-wide; the traced run reads their deltas. */
object Codegen {
  import org.apache.spark.metrics.source.CodegenMetrics
  import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

  final case class Snap(compileNs: Long, classes: Long, sourceBytes: Double)

  def snap(): Snap = {
    val src = CodegenMetrics.METRIC_SOURCE_CODE_SIZE
    Snap(CodeGenerator.compileTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      src.getSnapshot.getMean * src.getCount)
  }
}

object Files {
  def bytes(p: String): Long = {
    val root = if (p == null) null else java.nio.file.Paths.get(p)
    if (root == null || !java.nio.file.Files.exists(root)) 0L
    else {
      val it = java.nio.file.Files.walk(root)
      try it.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally it.close()
    }
  }

  def count(p: String, suffix: String): Long = {
    val root = java.nio.file.Paths.get(p)
    if (!java.nio.file.Files.exists(root)) 0L
    else {
      val it = java.nio.file.Files.walk(root)
      try it.filter(f => f.toString.endsWith(suffix)).count()
      finally it.close()
    }
  }

  def delete(p: String): Unit = {
    val root = java.nio.file.Paths.get(p)
    if (java.nio.file.Files.exists(root)) {
      val it = java.nio.file.Files.walk(root)
      try it.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => java.nio.file.Files.delete(f))
      finally it.close()
    }
  }
}
