package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.pipeline.BatchOrchestrator

/** The service loop (reference §3.1, main.py:468-534) as a Structured
  * Streaming job: `readStream → foreachBatch(orchestrator) → commit`.
  * Structured Streaming's micro-batch engine replaces the hand-written
  * consume/process/commit loop — the checkpoint WAL provides the same
  * at-least-once, commit-after-process contract as the reference's
  * `consumer.commit(asynchronous=True)` (main.py:525-526, S11).
  *
  * The input `raw` streaming DataFrame must expose the payload column
  * `Pipeline.ValueCol`. Sources:
  *   - tests/harness: `MemoryStream[String]` or a file stream
  *     (`spark.readStream.text(dir)`);
  *   - production (documented — no kafka connector jar ships here):
  *     `spark.readStream.format("kafka")
  *        .option("kafka.bootstrap.servers", env.KAFKA_HOST)
  *        .option("subscribe", env.SOURCE_TOPIC)
  *        .option("maxOffsetsPerTrigger", env.NUM_MESSAGES)  // 25000, main.py:569
  *        .option("kafka.fetch.max.bytes", 50*1024*1024)     // main.py:496
  *        .option("startingOffsets", env.AUTO_OFFSET_RESET)  // main.py:498
  *        .load().selectExpr("CAST(value AS STRING) AS value")`
  *
  * Session policy ([[SessionPolicy]]): `start` turns artifact isolation
  * off on the session it is given, before the query clones it. Spark
  * keys its generated-class cache by the task thread's class loader as
  * well as the source. With isolation on (Spark's default) every cloned
  * session — each streaming query clones its session at start — gets
  * its own executor class loader, so each new query would recompile
  * every class of its first trigger (11 here, about 300 ms) although
  * the source is unchanged. graft adds no session artifacts (no
  * `addArtifact`, no Spark Connect), so turning isolation off shares
  * nothing else. A deployment that serves Spark Connect clients or adds
  * JARs/classes per session must run the stream on a session of its
  * own: with isolation off, a session sees the others' artifacts.
  */
object StreamJob {

  /** Session artifact isolation off: the conf `start` sets before the
    * query clones its session, and `Harness.session` at build time.
    */
  val SessionPolicy: (String, String) = "spark.sql.artifact.isolation.enabled" -> "false"

  def start(
      raw: DataFrame,
      orchestrator: BatchOrchestrator,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("1 second")): StreamingQuery = {
    // Read by the clone `start()` makes, so it must be set before it.
    raw.sparkSession.conf.set(SessionPolicy._1, SessionPolicy._2)
    raw.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        orchestrator.processBatch(batch, id)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
  }
}
