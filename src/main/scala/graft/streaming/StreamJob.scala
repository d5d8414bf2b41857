package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.io.PosixLocalFileSystem
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
  *
  * Local files ([[LocalFsPolicy]], [[CheckpointManager]]): `start` also
  * makes the session write `file:` paths through
  * [[graft.io.PosixLocalFileSystem]], so no parquet part, `.crc`,
  * commit directory or marker forks `chmod`. The FileSystem cache is
  * off for `file:` because it is JVM-wide and may already hold Hadoop's
  * own local file system. Spark writes the offset WAL, commit log and
  * source log through FileContext by default, which always uses
  * Hadoop's own local file system; for a `file:` checkpoint `start`
  * selects Spark's FileSystem-based manager instead. On `file:` the
  * FileContext manager's no-overwrite rename is already an existence
  * check followed by rename(2) (`ChecksumFs.renameInternal`), which is
  * what the FileSystem manager does, so nothing is lost. A checkpoint
  * on any other file system keeps Spark's default manager.
  */
object StreamJob {

  /** Session artifact isolation off: the conf `start` sets before the
    * query clones its session, and `Harness.session` at build time.
    */
  val SessionPolicy: (String, String) = "spark.sql.artifact.isolation.enabled" -> "false"

  /** `file:` through graft's fork-free local file system, uncached. */
  val LocalFsPolicy: Seq[(String, String)] = Seq(
    "fs.file.impl" -> classOf[PosixLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** The checkpoint manager `start` selects for a `file:` checkpoint. */
  val CheckpointManager: (String, String) =
    "spark.sql.streaming.checkpointFileManagerClass" ->
      classOf[FileSystemBasedCheckpointFileManager].getName

  /** Whether `dir` resolves to `file:` (a path without a scheme takes
    * the default file system's).
    */
  private[graft] def onLocalFs(dir: String, hadoopConf: Configuration): Boolean =
    Option(new Path(dir).toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme) == "file"

  /** Sets the session entries above for a query checkpointed at
    * `checkpointDir`; a non-`file:` checkpoint unsets the manager.
    */
  private[graft] def configure(spark: org.apache.spark.sql.SparkSession, checkpointDir: String): Unit = {
    (SessionPolicy +: LocalFsPolicy).foreach { case (k, v) => spark.conf.set(k, v) }
    if (onLocalFs(checkpointDir, spark.sessionState.newHadoopConf()))
      spark.conf.set(CheckpointManager._1, CheckpointManager._2)
    else spark.conf.unset(CheckpointManager._1)
  }

  def start(
      raw: DataFrame,
      orchestrator: BatchOrchestrator,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("1 second")): StreamingQuery = {
    // Read by the clone `start()` makes, so it must be set before it.
    configure(raw.sparkSession, checkpointDir)
    raw.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        orchestrator.processBatch(batch, id)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
  }
}
