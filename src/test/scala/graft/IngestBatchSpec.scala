package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions.{col, concat, lit, when}
import org.apache.spark.sql.graft.bridge

import graft.expr.PipelineConfig
import graft.io.{ParquetDlqSink, ParquetSink, RecordSink}
import graft.pipeline.{BatchOrchestrator, Pipeline}
import graft.schema.SchemaProvider

/** The ingest batch's cost contract: one batch pass plus the two sink
  * writes, a parse/validate stage the JIT can compile, and no cache or
  * reason lost on a failing path.
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

  test("every generated method of the parse/validate stage fits HotSpot's 8,000-byte JIT limit") {
    val res = Pipeline.process(payloads(100, 10), provider.resolveFiltered(), cfg)
    try {
      val parse = res.valid.queryExecution.executedPlan.collect {
        case s: InMemoryTableScanExec => s.relation.cachedPlan
      }
      assert(parse.size == 1, "the valid side reads the persisted parse")
      val stages = org.apache.spark.sql.execution.debug.codegenStringSeq(parse.head)
      assert(stages.nonEmpty, "the parse runs whole-stage generated code")
      stages.foreach { case (subtree, _, stats) =>
        assert(stats.maxMethodCodeSize < 8000,
          s"a ${stats.maxMethodCodeSize}-byte method is never JIT-compiled:\n$subtree")
      }
    } finally res.release()
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
