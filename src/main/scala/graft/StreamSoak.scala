package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

import graft.streaming.StatefulSessions

/** Streaming SOAK run (round-13 verdict ask #3): the rehearsal drains
  * are single-session and a handful of micro-batches — state health
  * over TIME was unmeasured. This drains a LONG topic (hundreds of
  * micro-batches via maxFilesPerTrigger=1) through q324-style
  * transformWithState sessionization on the RocksDB provider with
  * changelog checkpointing, recording PER BATCH:
  *
  *   - state rows total / updated / removed (eviction visible),
  *   - RocksDB memory + total-SST-file bytes (custom metrics),
  *   - checkpoint directory bytes (walked after each progress event —
  *     changelog files accumulate until minBatchesToRetain purges, so
  *     the expected curve is growth to a plateau, not monotone),
  *   - trigger wall (latency trend: late-soak batches must not be
  *     systematically slower than early ones — state-size-dependent
  *     per-batch cost is exactly the leak this soak exists to catch).
  *
  * Topic derivation: events sorted by event time and bucketed into N
  * ts-range files written SEQUENTIALLY (the file source picks new
  * files up in modification-time order), so the watermark advances
  * monotonically across batches and session state is continuously
  * created AND evicted — a steady-state ingest, not a one-shot drain.
  *
  * Summary asserts (exit-code gate, same spirit as ScaleRehearsal):
  *   1. peak state rows ≤ distinct keys (state is per-open-session,
  *      never per-event — unbounded-growth guard);
  *   2. final state rows < peak (eviction actually ran);
  *   3. median trigger wall of the LAST quarter ≤ 2x the median of
  *      the second quarter (first quarter discarded as warm-up).
  *
  * Usage: sbt "runMain graft.StreamSoak [eventsDir] [nFiles]"
  * (defaults /tmp/graft_scale10x — the 10x corpus, 1M events / 15k
  * users — and 300 files). Results trend in dev/PERF_LEDGER.md.
  */
object StreamSoak {

  private def dirBytes(p: String): Long = {
    val root = java.nio.file.Paths.get(p)
    if (!java.nio.file.Files.exists(root)) 0L
    else {
      val it = java.nio.file.Files.walk(root)
      try it.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally it.close()
    }
  }

  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse("/tmp/graft_scale10x")
    val nFiles = if (args.length > 1) args(1).toInt else 300
    val spark = Harness.session(
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")

    // --- stage the long topic: N ts-range files, written in order ---
    val ev = StatefulSessions.project(
      sources.Tables.events(spark, baseDir), "user_id", "event_id", "ts", "value")
    val topicDir = s"/tmp/graft_soak_topic_${nFiles}_${baseDir.replaceAll("[^a-zA-Z0-9]", "_")}"
    val marker = new java.io.File(s"$topicDir/_STAGED")
    if (!marker.exists()) {
      new java.io.File(topicDir).mkdirs()
      val (tsMin, tsMax) = {
        val r = ev.toDF().agg(min(col("ts")), max(col("ts"))).collect()(0)
        (r.getTimestamp(0).getTime, r.getTimestamp(1).getTime)
      }
      val span = math.max(1L, tsMax - tsMin + 1)
      val bucketed = ev.toDF().withColumn("__b",
        least(lit(nFiles - 1),
          floor((unix_millis(col("ts")) - lit(tsMin)) * nFiles / lit(span))))
        .localCheckpoint(true)
      (0 until nFiles).foreach { b =>
        bucketed.filter(col("__b") === b).drop("__b")
          .coalesce(1).write.mode("overwrite").parquet(f"$topicDir/f$b%05d")
      }
      marker.createNewFile()
      System.err.println(s"[soak] staged $nFiles-file topic at $topicDir")
    } else System.err.println(s"[soak] reusing $topicDir")

    val nKeys = ev.toDF().select("key").distinct().count()

    // --- the soak query: q324's sessionization, 1 file per trigger ---
    val ckptDir = java.nio.file.Files.createTempDirectory("graft_soak_ckpt_").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_soak_out_").toString
    case class B(batchId: Long, inRows: Long, stateRows: Long, updated: Long,
        removed: Long, memBytes: Long, sstBytes: Long, ckptBytes: Long, wallMs: Long)
    val log = ArrayBuffer[B]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.stateOperators.nonEmpty) {
          val so = p.stateOperators(0)
          def cm(k: String): Long =
            Option(so.customMetrics.get(k)).map(_.longValue).getOrElse(-1L)
          log.synchronized {
            log += B(p.batchId, p.numInputRows, so.numRowsTotal,
              so.numRowsUpdated, so.numRowsRemoved, so.memoryUsedBytes,
              cm("rocksdbSstFileSize"), dirBytes(ckptDir),
              Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(-1L))
          }
        }
      }
    }
    spark.streams.addListener(listener)

    val gapUs = 6L * 3600 * 1000000
    val stream0 = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$topicDir/f*")
      .as[StatefulSessions.SEvent](org.apache.spark.sql.Encoders
        .product[StatefulSessions.SEvent])
      .withWatermark("ts", "0 seconds")
    val t0 = System.nanoTime()
    val q = StatefulSessions.sessionizeStreamTws(stream0, gapUs).toDF()
      .writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckptDir)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val wall = (System.nanoTime() - t0) / 1e9
    spark.streams.removeListener(listener)

    // --- curve (every 10th batch) + summary ---
    val snap = log.synchronized(log.sortBy(_.batchId).toVector)
    println(f"${"batch"}%6s ${"in"}%7s ${"state"}%7s ${"upd"}%6s ${"rm"}%6s ${"memMiB"}%7s ${"sstMiB"}%7s ${"ckptMiB"}%8s ${"wall_ms"}%8s")
    snap.zipWithIndex.filter { case (_, i) => i % 10 == 0 || i == snap.size - 1 }
      .foreach { case (b, _) =>
        println(f"${b.batchId}%6d ${b.inRows}%7d ${b.stateRows}%7d ${b.updated}%6d ${b.removed}%6d " +
          f"${b.memBytes / 1048576.0}%7.1f ${b.sstBytes / 1048576.0}%7.1f ${b.ckptBytes / 1048576.0}%8.1f ${b.wallMs}%8d")
      }
    val peak = snap.map(_.stateRows).max
    val fin = snap.last.stateRows
    def med(xs: Seq[Long]): Long =
      if (xs.isEmpty) -1 else xs.sorted.apply(xs.size / 2)
    val quarter = snap.size / 4
    val early = med(snap.slice(quarter, 2 * quarter).map(_.wallMs))
    val late = med(snap.slice(3 * quarter, snap.size).map(_.wallMs))
    val ckptPeak = snap.map(_.ckptBytes).max
    println(f"""{"metric":"stream_soak","batches":${snap.size},"wall_sec":$wall%.1f,"keys":$nKeys,"peak_state_rows":$peak,"final_state_rows":$fin,"early_med_ms":$early,"late_med_ms":$late,"ckpt_peak_mib":${ckptPeak / 1048576.0}%.1f,"ckpt_final_mib":${snap.last.ckptBytes / 1048576.0}%.1f}""")
    require(peak <= nKeys,
      s"state rows ($peak) exceeded key count ($nKeys): per-event state leak")
    require(fin < peak,
      s"final state ($fin) never dropped below peak ($peak): eviction dead")
    require(late <= 2 * early,
      s"late-soak batches ($late ms) >2x early ($early ms): state-size-dependent cost")
    spark.stop()
  }
}
