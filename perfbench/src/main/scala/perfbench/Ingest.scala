package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.storage.StorageLevel

import graft.expr.{Coercions, PipelineConfig, Validation}
import graft.io.{FileJsonSource, IdempotentParquetSink, ParquetDlqSink}
import graft.pipeline.{BatchOrchestrator, BatchStats, Pipeline}
import graft.schema.SchemaProvider
import graft.streaming.StreamJob

/** ingest: the service path. A staged backlog of JSON telemetry files is
  * drained by `FileJsonSource` → `StreamJob.start` → `BatchOrchestrator`
  * → `IdempotentParquetSink` + `ParquetDlqSink` with `AvailableNow`, one
  * trigger of about 25k messages per `nproc` files. Each round drains the
  * whole backlog with a fresh checkpoint and fresh sinks, `--seconds`
  * fixes the number of rounds, and each round's output is checked against
  * the generator's expected counts after the timed window.
  */
object Ingest {
  /** Messages per trigger: 25k rounded up to a multiple of `nproc`, so
    * every file of a trigger holds the same number of messages.
    */
  def batch(k: Int): Int = k * ((25000 + k - 1) / k)
  val Triggers = 2
  val StagingReps = 3
  /** `--seconds` divided by this fixes the number of rounds, so every run
    * of one length does the same work: two rounds at 10 s, each about
    * 5 s of wall on 4 cores.
    */
  val SecondsPerRound = 5.0

  val Cfg: PipelineConfig = PipelineConfig(
    required = Seq("device_id", "trip_id"),
    datetimeCols = Set("event_time", "trip_date"),
    stringEnumCols = Set("gps_validity", "incognito_mode"))

  def run(spark: SparkSession, seed: Long, seconds: Double, work: String,
      tr: Tracer, res: Main.Result): Unit = {
    val k = Main.cpus
    val (dir, expect) = res.stageRepeated(StagingReps, s"$work/topic")(
      Gen.payloads(spark, seed, _, Triggers, k, batch(k)))
    val provider = SchemaProvider.fromDescribeRows(Gen.TelemetrySchema)

    // Warm-up: one untimed round through the same path.
    val w0 = System.nanoTime()
    drain(spark, dir, k, provider, s"$work/warm-round", new Tracer(false), _ => ())
    Files.delete(s"$work/warm-round")
    res.warmupS = (System.nanoTime() - w0) / 1e9
    // After the window and the layer figures, so that its Spark jobs
    // neither warm the traced window nor count in the scheduler figures.
    if (tr.on) res.afterWindow(ablation(spark, Gen.textFiles(dir).take(k).map(_.toString),
      provider, s"$work/ablation", res))

    tr.startWindow()
    val rounds = math.max(1, math.round(seconds / SecondsPerRound).toInt)
    (0 until rounds).foreach { round =>
      val out = s"$work/round$round"
      val stats = mutable.ArrayBuffer.empty[BatchStats]
      val (q, wallS) = tr.span("round") {
        drain(spark, dir, k, tr.timedSchema(provider), out, tr, s => stats.synchronized(stats += s))
      }
      res.windowS += wallS
      res.items += expect.messages
      val triggers = q.recentProgress.filter(_.numInputRows > 0)
      res.latenciesMs ++= triggers.map(_.durationMs.get("triggerExecution").doubleValue)
      res.attempted += triggers.length
      stats.foreach { s =>
        tr.add("pipeline.batch_ms", s.wallMs)
        tr.add("pipeline.valid_rows", s.validRows.getOrElse(0L))
        tr.add("pipeline.dlq_rows", s.dlqRows.getOrElse(0L))
        tr.add("pipeline.retries", if (s.retried) 1 else 0)
      }
      res.afterWindow {
        if (!checkRound(spark, out, expect, stats.toSeq, round, res))
          res.failed += triggers.length
        Files.delete(out)
      }
    }
    if (tr.on) {
      (0 until rounds).map(r => s"$work/round$r").foreach { out =>
        tr.add("io.bytes_written", Files.bytes(s"$out/sink") + Files.bytes(s"$out/dlq"))
        tr.add("io.files_written",
          Files.count(s"$out/sink", ".parquet") + Files.count(s"$out/dlq", ".parquet"))
      }
      val ops = math.max(1L, res.attempted).toDouble
      Seq("pipeline.batch_ms", "pipeline.valid_rows", "pipeline.dlq_rows", "pipeline.retries",
        "schema.resolves", "io.bytes_written", "io.files_written")
        .foreach(m => res.layers(m) = tr.counter(m) / ops)
      res.layers("schema.resolve_ms") = tr.counter("schema.resolve_ns") / 1e6 / ops
      res.layers("io.valid_write_ms") = tr.counter("io.valid_write_ns") / 1e6 / ops
      res.layers("io.dlq_write_ms") = tr.counter("io.dlq_write_ns") / 1e6 / ops
      Streams.layers(tr, res)
    }
  }

  /** One AvailableNow drain of `topic`; returns the finished query and
    * its wall seconds from start to termination.
    */
  private def drain(spark: SparkSession, topic: String, k: Int, provider: SchemaProvider,
      out: String, tr: Tracer, onBatch: BatchStats => Unit) = {
    val round = tr.currentSpan
    val orch = new BatchOrchestrator(provider, Cfg,
      tr.timedSink("io.valid_write", new IdempotentParquetSink(s"$out/sink"), round),
      tr.timedSink("io.dlq_write", new ParquetDlqSink(s"$out/dlq"), round),
      onBatch)
    val listener = tr.streamingListener(round, s"$out/checkpoint")
    if (tr.on) spark.streams.addListener(listener)
    val t0 = System.nanoTime()
    val q = StreamJob.start(new FileJsonSource(topic, k).load(spark), orch,
      s"$out/checkpoint", Trigger.AvailableNow())
    q.awaitTermination()
    val wallS = (System.nanoTime() - t0) / 1e9
    if (tr.on) {
      Thread.sleep(200)
      spark.streams.removeListener(listener)
    }
    (q, wallS)
  }

  /** Sink rows equal the expected valid count, DLQ rows match per
    * reason, valid + DLQ equals the non-empty input, and the pipeline's
    * own per-batch counts agree.
    */
  private def checkRound(spark: SparkSession, out: String, e: Gen.IngestExpect,
      stats: Seq[BatchStats], round: Int, res: Main.Result): Boolean = {
    val valid = IdempotentParquetSink.readCommitted(spark, s"$out/sink").count()
    val dlq = spark.read.parquet(s"$out/dlq").groupBy("error").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val observed = stats.map(s => s.validRows.getOrElse(0L) + s.dlqRows.getOrElse(0L)).sum
    Seq(
      res.check(s"round $round sink rows", valid == e.valid, s"$valid != ${e.valid}"),
      res.check(s"round $round dlq by reason", dlq == e.dlqByReason, s"$dlq != ${e.dlqByReason}"),
      res.check(s"round $round valid + dlq = non-empty input",
        valid + dlq.values.sum == e.messages - e.blank,
        s"${valid + dlq.values.sum} != ${e.messages - e.blank}"),
      res.check(s"round $round batch stats", observed == e.messages - e.blank,
        s"$observed != ${e.messages - e.blank}")).forall(identity)
  }

  /** Ablation ladder over one staged trigger: each rung adds one stage
    * of `Pipeline.process` and the sinks, built from the public pipeline
    * functions, and a stage's cost is its rung minus the rung below
    * (median of 3 reps). The coerce rung persists the validated batch
    * and runs the batch-presence aggregate exactly as `Pipeline.process`
    * does, so the sink rung differs from it only by the real write.
    */
  private def ablation(spark: SparkSession, files: Seq[String], provider: SchemaProvider,
      out: String, res: Main.Result): Unit = {
    val metas = provider.resolveFiltered()
    val raw = spark.read.text(files: _*).select(col("value").as(Pipeline.ValueCol))
    val value = col(Pipeline.ValueCol)
    val nonEmpty = raw.filter(value.isNotNull && length(trim(value, " \t\n\r\f")) > lit(0))
    // The variant column name Pipeline.presentColumns reads.
    val v = "__graft_variant"
    val parsed = nonEmpty.withColumn(v, try_parse_json(value))
    val checked = parsed.withColumn("err",
      when(col(v).isNull, lit("malformed JSON")).otherwise(Validation.errorColumn(col(v), metas, Cfg)))
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def coerced(): Unit = {
      val cached = checked.persist(StorageLevel.MEMORY_AND_DISK)
      val present = Pipeline.presentColumns(cached, metas)
      noop(cached.filter(col("err").isNull)
        .select(Coercions.selectList(col(v), metas, Cfg, Some(present)): _*))
      cached.unpersist(blocking = true)
    }
    var rep = 0
    def sinks(): (Double, Double) = {
      rep += 1
      val t0 = System.nanoTime()
      val b = Pipeline.process(raw, metas, Cfg)
      new IdempotentParquetSink(s"$out/sink$rep").write(b.valid, 0L)
      val t1 = System.nanoTime()
      new ParquetDlqSink(s"$out/dlq$rep").write(b.dlq)
      val t2 = System.nanoTime()
      b.release()
      ((t1 - t0) / 1e6, (t2 - t1) / 1e6)
    }
    def ms(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
    }
    def med(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
    val reps = (0 until 3).map { _ =>
      val rungs = Seq(ms(noop(raw)), ms(noop(parsed)), ms(noop(checked)), ms(coerced()))
      val (sink, dlq) = sinks()
      rungs ++ Seq(sink, dlq)
    }
    val Seq(scan, parse, validate, coerce, sink, dlq) = (0 until 6).map(i => med(reps.map(_(i))))
    res.layers("pipeline.scan_ms") = scan
    res.layers("pipeline.parse_ms") = parse - scan
    res.layers("expr.validate_ms") = validate - parse
    res.layers("expr.coerce_ms") = coerce - validate
    res.layers("io.sink_ms") = sink - coerce
    res.layers("io.dlq_ms") = dlq
    Files.delete(out)
  }
}

/** Streaming per-layer figures shared by ingest and stream_state. */
object Streams {
  def layers(tr: Tracer, res: Main.Result): Unit = {
    val triggers = math.max(1L, tr.counter("streaming.triggers")).toDouble
    Seq("triggerExecution" -> "trigger", "addBatch" -> "addBatch",
      "queryPlanning" -> "queryPlanning", "walCommit" -> "walCommit",
      "commitOffsets" -> "commitOffsets", "latestOffset" -> "latestOffset",
      "getBatch" -> "getBatch").foreach { case (k, name) =>
      res.layers(s"streaming.${name}_ms") = tr.counter(s"streaming.${k}_ms") / triggers
    }
    res.layers("streaming.state_commit_ms") = tr.counter("streaming.state_commit_ms") / triggers
    res.layers("streaming.state_rows_removed") = tr.counter("streaming.state_rows_removed") / triggers
    Seq("state_rows_total", "state_memory_bytes", "state_sst_bytes", "checkpoint_bytes")
      .foreach(k => res.layers(s"streaming.$k") = tr.peakOf(s"streaming.$k").toDouble)
  }
}
