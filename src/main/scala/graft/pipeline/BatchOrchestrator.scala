package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.expr.PipelineConfig
import graft.io.RecordSink
import graft.schema.SchemaProvider
import graft.types.ColumnMeta

/** The per-batch orchestrator with schema-drift retry (reference S10,
  * `process_packets` main.py:394-466):
  *
  *   1. schema cache miss → resolve once, reuse across batches
  *      (main.py:421-425);
  *   2. validate + coerce + insert (main.py:428-432);
  *   3. on insert failure: re-resolve the schema, re-validate the
  *      ORIGINAL payloads against it, retry the insert once
  *      (main.py:434-445);
  *   4. on second failure: the still-valid rows go to the DLQ as
  *      `{row: original payload, error}` envelopes (main.py:446-450);
  *   5. invalid rows go to the DLQ on every path (main.py:452-463).
  *
  * This is the body the streaming job hands to `foreachBatch`; it is
  * batch-scoped and deterministic — the only cross-batch state is the
  * cached schema, exactly like the reference (SURVEY §2.5).
  */
final class BatchOrchestrator(
    provider: SchemaProvider,
    cfg: PipelineConfig,
    validSink: RecordSink,
    dlqSink: RecordSink,
    onBatchComplete: BatchStats => Unit = BatchStats.logLine)
  extends Serializable {

  @volatile private var cachedMetas: Option[Seq[ColumnMeta]] = None
  /** Visible for tests: schema resolutions + insert attempts. */
  @volatile var schemaFetches: Int = 0
  @volatile var insertAttempts: Int = 0
  /** Telemetry of the most recent batch (reference main.py:420, 466:
    * "Processed {n} packets in {t:.2f} sec"). Counts come from the
    * batch pass that materializes the persisted parse
    * ([[BatchResult.counts]]), which the writes then read from cache:
    * three Spark jobs per batch, one of which counts.
    */
  @volatile var lastStats: Option[BatchStats] = None

  private def metas(): Seq[ColumnMeta] = cachedMetas.getOrElse {
    schemaFetches += 1
    val m = provider.resolveFiltered()
    cachedMetas = Some(m)
    m
  }

  private def refreshMetas(): Seq[ColumnMeta] = {
    cachedMetas = None
    metas()
  }

  def processBatch(raw: DataFrame, batchId: Long): Unit = {
    val t0 = System.nanoTime()
    // The valid-row path is epoch-keyed (exactly-once under an
    // idempotent sink); DLQ writes stay at-least-once — duplicate
    // diagnostic envelopes on a redelivered batch are acceptable, as
    // in the reference (a retried batch re-produces to the DLQ topic).
    val res = Pipeline.process(raw, metas(), cfg)
    try {
      val counts = res.counts // outside the drift catch: only the insert may fail over
      val firstAttempt: Either[Exception, Option[Long]] =
        try Right(insert(res.valid, counts.valid, batchId))
        catch { case e: Exception => Left(e) }
      firstAttempt match {
        case Right(validRows) =>
          // invalid → DLQ (main.py:452-456)
          val dlqRows = written(counts.dlq)(dlqSink.write(res.dlq))
          finish(batchId, validRows, dlqRows, retried = false, t0)
        case Left(_) =>
          // Schema drift path: rebuild schema, re-validate the ORIGINAL
          // payloads (not the already-coerced rows), retry the insert
          // once (main.py:434-445).
          val res2 = Pipeline.process(raw, refreshMetas(), cfg)
          try {
            val counts2 = res2.counts
            val validRows2 =
              try insert(res2.valid, counts2.valid, batchId)
              catch {
                case e2: Exception => // still-valid rows → DLQ (main.py:446-450)
                  val reason = Option(e2.getMessage).getOrElse(e2.getClass.getName)
                  dlqSink.write(res2.validRaw.withColumn("error", lit(reason)))
                  None
              }
            // invalid → DLQ (main.py:459-463)
            val dlqRows2 = written(counts2.dlq)(dlqSink.write(res2.dlq))
            finish(batchId, validRows2, dlqRows2, retried = true, t0)
          } finally res2.release()
      }
    } finally res.release()
  }

  private def insert(valid: DataFrame, rows: Long, batchId: Long): Option[Long] =
    written(rows) { insertAttempts += 1; validSink.write(valid, batchId) }

  /** One side's write, keyed on the batch pass's count: an empty side
    * is skipped, matching the reference's empty-batch no-op
    * (main.py:337-339). The count is `Some` only when the sink reports
    * that its write ran, so a redelivered idempotent epoch reads None.
    */
  private def written(rows: Long)(write: => Boolean): Option[Long] =
    if (rows > 0 && write) Some(rows) else None

  private def finish(batchId: Long, validRows: Option[Long], dlqRows: Option[Long],
      retried: Boolean, t0: Long): Unit = {
    val stats = BatchStats(batchId, validRows, dlqRows, retried,
      (System.nanoTime() - t0) / 1000000L)
    lastStats = Some(stats)
    onBatchComplete(stats)
  }
}

/** Per-batch processing telemetry (the reference's per-batch log:
  * "Processed {n} packets in {t:.2f} sec", main.py:420, 466 — plus
  * the valid/DLQ split and the drift-retry flag it doesn't surface).
  * A count is None when no write ran (an empty side, or an idempotent
  * sink's redelivered epoch), distinguishing "rows rode a write" from
  * "did not write".
  */
final case class BatchStats(
    batchId: Long,
    validRows: Option[Long],
    dlqRows: Option[Long],
    retried: Boolean,
    wallMs: Long)

object BatchStats {
  /** Default `onBatchComplete`: the reference's log line, on stderr. */
  val logLine: BatchStats => Unit = s =>
    System.err.println(
      f"[graft] batch ${s.batchId}: valid=${s.validRows.getOrElse(-1L)} " +
        f"dlq=${s.dlqRows.getOrElse(-1L)} retried=${s.retried} " +
        f"in ${s.wallMs / 1000.0}%.2f sec")
}
