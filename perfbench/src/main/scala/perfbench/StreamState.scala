package perfbench

import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.StatefulSessions
import graft.streaming.StatefulSessions.SEvent

/** stream_state: seeded events with skewed keys and forward-only event
  * time, written as ordered files and drained one file per trigger
  * through `StatefulSessions.sessionizeStreamTws` on the RocksDB state
  * store with changelog checkpointing. Each round drains the whole topic
  * with a fresh checkpoint, `--seconds` fixes the number of rounds, and
  * each round's sessions must equal `sessionizeBatch` over the same
  * events, checked after the timed window.
  */
object StreamState {
  /** 12 files of 2000 events: a round of 14 triggers (one per file, the
    * sentinel file and a closing no-data trigger), so a 10-second run
    * holds 28, enough for a tail with 10 samples beyond it.
    */
  val TopicFiles = 12
  val PerFile = 2000
  val Keys = 3000L
  val StagingReps = 3
  /** `--seconds` divided by this fixes the number of rounds, so every run
    * of one length does the same work: two rounds at 10 s, each about
    * 9.5 s of wall on 4 cores.
    */
  val SecondsPerRound = 5.0

  def run(spark: SparkSession, seed: Long, seconds: Double, work: String,
      tr: Tracer, res: Main.Result): Unit = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
    val (dir, expect) = res.stageRepeated(StagingReps, s"$work/topic")(
      Gen.sessionEvents(spark, seed, _, TopicFiles, PerFile, Keys))

    val w0 = System.nanoTime()
    val warm = s"$work/warm"
    new java.io.File(warm).mkdirs()
    Gen.parquetFiles(dir).take(2).foreach(f =>
      java.nio.file.Files.createLink(new java.io.File(warm, f.getName).toPath, f.toPath))
    drain(spark, warm, s"$work/warm-round", new Tracer(false))
    res.warmupS = (System.nanoTime() - w0) / 1e9

    lazy val expected = {
      val events = spark.read.parquet(dir).filter(col("seq") < expect.events)
      val rows = StatefulSessions.sessionizeBatch(
        StatefulSessions.project(events, "key", "seq", "ts", "value"), Gen.SessionGapUs).toDF()
      rows.write.mode("overwrite").parquet(s"$work/expected")
      spark.read.parquet(s"$work/expected")
    }

    tr.startWindow()
    val rounds = math.max(1, math.round(seconds / SecondsPerRound).toInt)
    (0 until rounds).foreach { r =>
      val out = s"$work/round$r"
      val (q, wallS) = tr.span("round")(drain(spark, dir, out, tr))
      res.windowS += wallS
      val triggers = q.recentProgress
      res.items += triggers.map(_.numInputRows).sum
      res.latenciesMs ++= triggers.map(_.durationMs.get("triggerExecution").doubleValue)
      res.attempted += triggers.length
      res.afterWindow {
        val got = spark.read.parquet(s"$out/sessions")
        val norm = (df: org.apache.spark.sql.DataFrame) =>
          df.select(col("key"), col("startUs"), col("n_events"), round(col("total"), 6).as("total"))
        val extra = norm(got).exceptAll(norm(expected)).count()
        val missing = norm(expected).exceptAll(norm(got)).count()
        val ok = res.check(s"round $r sessions equal sessionizeBatch", extra == 0 && missing == 0,
          s"$extra unexpected and $missing missing session rows")
        res.check(s"round $r input rows", triggers.map(_.numInputRows).sum ==
          expect.events + expect.keys, s"${triggers.map(_.numInputRows).sum} input rows")
        if (!ok) res.failed += triggers.length
        Files.delete(out)
      }
    }
    if (tr.on) Streams.layers(tr, res)
  }

  /** One AvailableNow drain of `topic`, one file per trigger; returns the
    * finished query and its wall seconds from start to termination.
    */
  private def drain(spark: SparkSession, topic: String, out: String, tr: Tracer) = {
    val listener = tr.streamingListener(tr.currentSpan, s"$out/checkpoint")
    if (tr.on) spark.streams.addListener(listener)
    val events = spark.readStream.schema(spark.read.parquet(topic).schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(topic)
      .as[SEvent](Encoders.product[SEvent])
      .withWatermark("ts", "0 seconds")
    val t0 = System.nanoTime()
    val q = StatefulSessions.sessionizeStreamTws(events, Gen.SessionGapUs).toDF()
      .writeStream.format("parquet")
      .option("path", s"$out/sessions")
      .option("checkpointLocation", s"$out/checkpoint")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val wallS = (System.nanoTime() - t0) / 1e9
    if (tr.on) {
      Thread.sleep(200)
      spark.streams.removeListener(listener)
    }
    (q, wallS)
  }
}
