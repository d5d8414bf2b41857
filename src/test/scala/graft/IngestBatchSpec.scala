package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.variant.{SchemaOfVariant, VariantGet}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions.{array, col, concat, element_at, lit, when}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.streaming.Trigger

import graft.expr.PipelineConfig
import graft.io.{FileJsonSource, IdempotentParquetSink, ParquetDlqSink, ParquetSink, RecordSink}
import graft.pipeline.{BatchOrchestrator, BatchStats, Pipeline}
import graft.schema.SchemaProvider
import graft.streaming.StreamJob

/** The ingest batch's cost contract: one batch pass plus the two sink
  * writes, a parse/validate stage the JIT can compile, a new streaming
  * query that reuses the generated classes of the last one, and no
  * cache or reason lost on a failing path.
  */
class IngestBatchSpec extends SparkSpec {

  private val provider = SchemaProvider.fromDescribeRows(Seq(
    "device_id"      -> "UInt32",
    "trip_id"        -> "UUID",
    "speed_kmh"      -> "Float32",
    "odometer_m"     -> "UInt64",
    "satellites"     -> "Int8",
    "event_time"     -> "DateTime",
    "trip_date"      -> "Date",
    "gps_validity"   -> "Enum8('valid'=1,'invalid'=2)",
    "incognito_mode" -> "Enum8('on'=1,'off'=2)",
    "note"           -> "String",
    "db_insert_time" -> "DateTime"))
  private val cfg = PipelineConfig(
    required = Seq("device_id", "trip_id"),
    datetimeCols = Set("event_time", "trip_date"),
    stringEnumCols = Set("gps_validity", "incognito_mode"))

  private def tmp(): String = Files.createTempDirectory("graft-ingest").toString

  /** `n` payloads over 4 partitions; every `brokenEvery`-th one is
    * malformed (0: none).
    */
  private def payloads(n: Int, brokenEvery: Int): DataFrame = {
    val good = concat(lit("""{"device_id": """), col("id"),
      lit(""", "trip_id": "t", "speed_kmh": 5.5, "event_time": "2024-05-01 10:00:00", """ +
        """"gps_validity": 1, "note": "n"}"""))
    val value =
      if (brokenEvery == 0) good
      else when(col("id") % brokenEvery === 0, lit("{broken")).otherwise(good)
    spark.range(0, n, 1, 4).select(value.as(Pipeline.ValueCol))
  }

  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    bridge.drainListenerBus(sc, 30000)
    sc.addSparkListener(listener)
    try { body; bridge.drainListenerBus(sc, 30000) }
    finally sc.removeSparkListener(listener)
    jobs.get
  }

  private def cacheClean: Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty && spark.sparkContext.getPersistentRDDs.isEmpty

  test("a batch with both sides non-empty runs 3 Spark jobs; an empty DLQ side runs 2") {
    val both = new BatchOrchestrator(provider, cfg,
      new ParquetSink(tmp()), new ParquetDlqSink(tmp()), _ => ())
    both.processBatch(payloads(2000, 10), 0L) // warm-up: schema and codegen
    assert(jobsDuring(both.processBatch(payloads(2000, 10), 1L)) == 3)
    assert(both.lastStats.get.validRows.contains(1800L))
    assert(both.lastStats.get.dlqRows.contains(200L))

    val validOnly = new BatchOrchestrator(provider, cfg,
      new ParquetSink(tmp()), new ParquetDlqSink(tmp()), _ => ())
    assert(jobsDuring(validOnly.processBatch(payloads(2000, 0), 0L)) == 2)
    assert(validOnly.lastStats.get.validRows.contains(2000L))
    assert(validOnly.lastStats.get.dlqRows.isEmpty)
  }

  test("Pipeline.process runs the batch pass up front only when a column needs batch presence") {
    def jobsInProcess(metas: Seq[graft.types.ColumnMeta], c: PipelineConfig): Int = {
      var res: graft.pipeline.BatchResult = null
      val n = jobsDuring { res = Pipeline.process(payloads(2000, 10), metas, c) }
      res.release()
      n
    }
    // Generic columns and a Timestamp-sink datetime column coerce a
    // batch-absent key like a per-row missing one: no job before the write.
    val perRow = SchemaProvider.fromDescribeRows(Seq(
      "device_id" -> "UInt32", "trip_id" -> "UUID", "speed_kmh" -> "Float32",
      "note" -> "String", "event_time" -> "DateTime")).resolveFiltered()
    assert(jobsInProcess(perRow, PipelineConfig(required = Seq("device_id"),
      datetimeCols = Set("event_time"), stringEnumCols = Set.empty)) == 0)
    // The telemetry schema's string-enum and Date datetime columns do.
    assert(jobsInProcess(provider.resolveFiltered(), cfg) == 1)
  }

  /** The persisted parse under a batch's valid side. */
  private def parsePlan(res: graft.pipeline.BatchResult) = {
    val parse = res.valid.queryExecution.executedPlan.collect {
      case s: InMemoryTableScanExec => s.relation.cachedPlan
    }
    assert(parse.size == 1, "the valid side reads the persisted parse")
    parse.head
  }

  /** Every generated method of `plan`'s whole-stage code stays under
    * 8,000 bytes; HotSpot never JIT-compiles a larger one.
    */
  private def assertJitSized(stage: String, plan: org.apache.spark.sql.execution.SparkPlan): Unit = {
    val stages = org.apache.spark.sql.execution.debug.codegenStringSeq(plan)
    assert(stages.nonEmpty, s"the $stage stage runs whole-stage generated code")
    stages.foreach { case (subtree, _, stats) =>
      assert(stats.maxMethodCodeSize < 8000,
        s"a ${stats.maxMethodCodeSize}-byte $stage method is never JIT-compiled:\n$subtree")
    }
  }

  test("every generated method of the parse/validate stage fits HotSpot's 8,000-byte JIT limit") {
    val res = Pipeline.process(payloads(100, 10), provider.resolveFiltered(), cfg)
    try assertJitSized("parse/validate", parsePlan(res))
    finally res.release()
  }

  test("every generated method of the valid side's coerce stage fits HotSpot's 8,000-byte JIT limit") {
    val res = Pipeline.process(payloads(100, 10), provider.resolveFiltered(), cfg)
    try assertJitSized("coerce", res.valid.queryExecution.executedPlan)
    finally res.release()
  }

  test("the parse and valid plans read fields natively; a dotted name keeps try_variant_get") {
    def variantNodes(plan: org.apache.spark.sql.execution.SparkPlan): Seq[String] =
      plan.collect { case p => p.expressions }.flatten.flatMap(_.collect {
        case e: VariantGet => e.prettyName
        case e: SchemaOfVariant => e.prettyName
      })
    val res = Pipeline.process(payloads(100, 10), provider.resolveFiltered(), cfg)
    try {
      assert(variantNodes(parsePlan(res)).isEmpty)
      assert(variantNodes(res.valid.queryExecution.executedPlan).isEmpty)
    } finally res.release()

    // "$.a.b" is the path a -> b, not the key "a.b", as it is for try_variant_get.
    val dotted = SchemaProvider.fromDescribeRows(Seq("id" -> "Int64", "a.b" -> "Int64"))
      .resolveFiltered()
    val docs = Seq("""{"id": 1, "a": {"b": 5}}""", """{"id": 2, "a.b": 7}""",
      """{"id": 3, "a": {"b": "9"}}""", """{"id": 4, "a": 1}""")
    // Not a local relation, which the optimizer would evaluate up front.
    val raw = spark.range(0, docs.size, 1, 2).select(
      element_at(array(docs.map(lit): _*), (col("id") + 1).cast("int")).as(Pipeline.ValueCol))
    val b = Pipeline.process(raw, dotted, PipelineConfig(stringEnumCols = Set.empty))
    try {
      assert(variantNodes(parsePlan(b)).nonEmpty && variantNodes(b.valid.queryExecution.executedPlan)
        .contains("try_variant_get"))
      val got = b.valid.orderBy("id").collect().map(r => r.getLong(0) -> r.get(1)).toSeq
      assert(got == Seq(1L -> 5L, 2L -> Long.MinValue, 4L -> Long.MinValue))
      assert(b.dlq.collect().map(_.getString(1)).toSeq == Seq("data.a.b must be integer"))
    } finally b.release()
  }

  test("non-ASCII keys and string values pass through Pipeline.process unchanged") {
    val key = "café"
    val metas = SchemaProvider.fromDescribeRows(Seq(
      "id" -> "Int64", key -> "String", "note" -> "String")).resolveFiltered()
    val doc = s"""{"id": 1, "$key": "crème ✓", "note": "naïve 😀"}"""
    val raw = spark.range(0, 1, 1, 1).select(lit(doc).as(Pipeline.ValueCol))
    val res = Pipeline.process(raw, metas, PipelineConfig(required = Seq(key),
      stringEnumCols = Set.empty))
    try {
      assert(res.dlq.count() == 0)
      val row = res.valid.collect().toSeq.map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      assert(row == Seq((1L, "crème ✓", "naïve 😀")))
    } finally res.release()
  }

  test("a second streaming query compiles no class on its first trigger") {
    val topic = s"${tmp()}/topic"
    payloads(2000, 10).write.text(topic)
    def drain(onBatch: BatchStats => Unit): Unit = {
      val out = tmp()
      val orch = new BatchOrchestrator(provider, cfg, new IdempotentParquetSink(s"$out/sink"),
        new ParquetDlqSink(s"$out/dlq"), onBatch)
      StreamJob.start(new FileJsonSource(topic).load(spark), orch, s"$out/checkpoint",
        Trigger.AvailableNow()).awaitTermination()
    }
    // JVM-wide: one count per class compiled.
    def compiled: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    drain(_ => ())
    val before = compiled
    @volatile var grew = -1L
    drain(s => if (s.batchId == 0) grew = compiled - before)
    assert(grew == 0, s"the second query's first trigger compiled $grew classes")
  }

  test("drift path: a sink exception without a message still gives the DLQ row a string reason") {
    val dlqDir = tmp()
    val alwaysFails = new RecordSink {
      def write(df: DataFrame): Boolean = throw new RuntimeException()
    }
    val orch = new BatchOrchestrator(provider, cfg, alwaysFails,
      new ParquetDlqSink(dlqDir), _ => ())
    orch.processBatch(payloads(10, 0), 0L)
    assert(orch.lastStats.get.retried && orch.lastStats.get.validRows.isEmpty)
    val dlq = spark.read.parquet(dlqDir)
    assert(dlq.schema("error").dataType == org.apache.spark.sql.types.StringType)
    assert(dlq.collect().map(_.getString(1)).toSet == Set("java.lang.RuntimeException"))
  }

  test("the batch cache is released when a DLQ write throws, on both paths") {
    Harness.hygiene(spark)
    def failing(msg: String) = new RecordSink {
      def write(df: DataFrame): Boolean = throw new IllegalStateException(msg)
    }
    val orch = new BatchOrchestrator(provider, cfg, new ParquetSink(tmp()), failing("dlq down"),
      _ => ())
    val e = intercept[IllegalStateException](orch.processBatch(payloads(100, 10), 0L))
    assert(e.getMessage == "dlq down")
    assert(cacheClean, "the persisted parse outlived its batch")
    // Drift path: both parses (first attempt and retry) are released.
    val retrying = new BatchOrchestrator(provider, cfg, failing("insert down"),
      failing("dlq down"), _ => ())
    intercept[IllegalStateException](retrying.processBatch(payloads(100, 10), 0L))
    assert(cacheClean, "a parse of the drift path outlived its batch")
  }
}
