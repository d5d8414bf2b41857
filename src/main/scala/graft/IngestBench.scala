package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.expr.PipelineConfig
import graft.io.{IdempotentParquetSink, ParquetDlqSink}
import graft.pipeline.{BatchOrchestrator, Pipeline}
import graft.schema.SchemaProvider

/** Ingest-throughput bench — the reference's OWN metric class: its one
  * published quantitative claim is ~25,000 msgs per poll batch "for
  * optimal throughput" (reference README.md:137, main.py:569). This
  * drives the full consume→validate→coerce→insert pipeline
  * (S2→S6→S8 with the S10 orchestrator) over re-serialized events in
  * micro-batches of exactly that size and reports rows/s.
  *
  * Shape: the "topic" is staged OUTSIDE the timed region as JSON
  * payload strings partitioned by micro-batch id (each poll reads only
  * its partition's files — the Kafka-fetch analogue; staging cost is
  * the producer's, not the consumer's). The timed region is the
  * sequential batch loop: poll (pruned scan) → Pipeline.process →
  * idempotent-epoch parquet insert + DLQ — the exact body
  * `StreamJob.foreachBatch` runs.
  *
  * CONCURRENCY AXIS: the reference is a single-process, single-consumer
  * service (README.md:100) — scaling it means running more OS
  * processes. Here N independent pipelines (own orchestrator, own
  * epoch-keyed sink, own DLQ — the shape of N topics or N partitions
  * of one topic under separate checkpoints) share ONE Spark session,
  * submitting their micro-batch jobs concurrently into the same
  * local[32] scheduler. Near-linear aggregate rows/s across N is the
  * Spark-native scaling claim made measurable; set
  * SPARK_GRAFT_STREAMS (default "1,2,4") to choose the axis.
  *
  * Accounting contract: every staged batch holds valid rows and every
  * epoch is fresh, so after a successful `processBatch` the valid count
  * must exist — a None means the insert was skipped, and the bench
  * fails fast with that diagnosis instead of counting 0 and later
  * mis-blaming the sink in the `sunk == rows` reconciliation.
  *
  * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *   sbt "runMain graft.IngestBench"
  * Prints one JSON line; results trend in dev/PERF_LEDGER.md.
  */
object IngestBench {
  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir
    val streamCounts = sys.env.getOrElse("SPARK_GRAFT_STREAMS", "1,2,4")
      .split(",").map(_.trim.toInt).toSeq
    val batchSize = 25000L // main.py:569 — the reference's optimum
    val spark = Harness.session()

    // Stage the topic (untimed): one JSON message per event row,
    // partitioned by micro-batch id so each poll is a pruned scan, and
    // WITHIN each batch by topic partition (SPARK_GRAFT_TOPIC_PARTS,
    // default 8) — the multi-partition Kafka topic shape. One file per
    // batch caps the decode at ONE core (a 25k-row micro-batch scans
    // as a single parquet split); a real topic's partitions fetch and
    // decode in parallel, and this is exactly what the Spark scan does
    // with k files per batch dir. Set to 1 for the reference's
    // single-consumer, single-core shape.
    val topicParts = sys.env.getOrElse("SPARK_GRAFT_TOPIC_PARTS", "8").toInt
    val events = sources.Tables.events(spark, sfDir)
    val topicDir = Files.createTempDirectory("graft_topic_").toString
    events
      .select(expr(s"event_id div $batchSize").as("batch"),
        expr(s"event_id % $topicParts").as("tpart"),
        to_json(struct(events.columns.map(col): _*)).as(Pipeline.ValueCol))
      .repartition(col("batch"), col("tpart"))
      .write.mode("overwrite").partitionBy("batch", "tpart").parquet(topicDir)
    // `batch` comes back Int-inferred from the partition directory names.
    val nBatches = spark.read.parquet(topicDir)
      .select(max(col("batch").cast("long"))).collect()(0).getLong(0) + 1

    val provider = SchemaProvider.fixed(
      events.schema.fields.toSeq.map(f =>
        graft.types.CHType.columnMeta(f.name, graft.types.CHType.fromSpark(f.dataType))))
    val cfg = PipelineConfig(
      required = Seq("event_id", "ts"),
      datetimeCols = Set("ts"),
      stringEnumCols = Set.empty)

    // Hoisted ONCE: re-creating the relation per poll re-ran driver-side
    // file listing + footer schema inference for every micro-batch — a
    // fixed per-batch cost the Kafka-fetch analogue doesn't have. The
    // shared relation caches the listing; each poll is partition-pruned
    // to its batch directory.
    val topic = spark.read.parquet(topicDir)
    def poll(b: Long) = topic
      .filter(col("batch") === b).select(Pipeline.ValueCol)

    def freshOrchestrator(): (BatchOrchestrator, String) = {
      val sinkDir = Files.createTempDirectory("graft_ingest_sink_").toString
      val dlqDir = Files.createTempDirectory("graft_ingest_dlq_").toString
      (new BatchOrchestrator(provider, cfg,
        new IdempotentParquetSink(sinkDir), new ParquetDlqSink(dlqDir), _ => ()),
        sinkDir)
    }

    /** One full pass of the topic through ONE pipeline; returns the
      * counted valid-row total, failing fast on a skipped insert.
      */
    def drive(orch: BatchOrchestrator): Long = {
      var rows = 0L
      (0L until nBatches).foreach { b =>
        orch.processBatch(poll(b), b)
        rows += orch.lastStats.flatMap(_.validRows).getOrElse {
          sys.error(s"batch $b: no valid-row count — the insert was " +
            "skipped (no valid rows, or an epoch the sink already holds)")
        }
      }
      rows
    }

    // Warm-up: one full batch through a scratch orchestrator (JVM +
    // codegen + parquet-writer init — the same reason Bench warms up).
    freshOrchestrator()._1.processBatch(poll(0L), 0L)

    /** N concurrent pipelines, each a full pass over the topic; returns
      * (total rows across streams, wall seconds). Each stream's sink is
      * reconciled against its own counted rows.
      */
    def run(nStreams: Int): (Long, Double) = {
      val pipes = Seq.fill(nStreams)(freshOrchestrator())
      val results = new Array[Long](nStreams)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val t0 = System.nanoTime()
      val threads = pipes.zipWithIndex.map { case ((orch, _), i) =>
        val th = new Thread(() =>
          try results(i) = drive(orch)
          catch { case e: Throwable => errs.add(e) },
          s"graft-ingest-$i")
        th.start(); th
      }
      threads.foreach(_.join())
      val dt = (System.nanoTime() - t0) / 1e9
      if (!errs.isEmpty) throw errs.peek()
      pipes.zipWithIndex.foreach { case ((_, sinkDir), i) =>
        val sunk = spark.read.parquet(sinkDir).count()
        require(sunk == results(i) && results(i) > 0,
          s"stream $i: sink holds $sunk rows but the batch passes counted " +
            s"${results(i)} — rows LOST IN THE SINK (a write bug)")
      }
      (results.sum, dt)
    }

    val runs = streamCounts.map { n => val (rows, dt) = run(n); (n, rows, dt) }
    // Headline `value` is ALWAYS the 1-stream rows/s (run one if the
    // configured axis omitted it) so the trended metric means the same
    // thing whatever SPARK_GRAFT_STREAMS says; the axis rides the
    // `streams` map and `value_streams` names the headline's count.
    val (rows1, dt1) = runs.find(_._1 == 1)
      .map { case (_, r, d) => (r, d) }
      .getOrElse { val (r, d) = run(1); (r, d) }
    val perStream = runs.map { case (n, rows, dt) =>
      s""""s$n":${"%.0f".format(rows / dt)}"""
    }.mkString(",")
    println(f"""{"metric":"ingest_rows_per_sec","value":${rows1 / dt1}%.0f,"value_streams":1,"unit":"rows/s","streams":{$perStream},"rows":$rows1,"batches":$nBatches,"batch_size":$batchSize,"topic_parts":$topicParts,"sf":"$sfDir"}""")
    spark.stop()
  }
}
