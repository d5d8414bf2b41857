package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.expr.{Coercions, PipelineConfig, Validation}
import graft.types.ColumnMeta

/** What the batch pass learned (see [[Pipeline.process]]): the sink
  * columns whose key appears in at least one parseable row, and the
  * row counts of the valid and DLQ sides.
  */
final case class BatchCounts(present: Set[String], valid: Long, dlq: Long)

/** One processed micro-batch: `valid` carries the coerced, sink-ready
  * rows (schema = sink schema, column order = schema order); `dlq`
  * carries `{row, error}` envelopes (reference main.py:227, 450) where
  * `row` is the original JSON payload string.
  *
  * Call [[release]] after both sides have been materialized — the split
  * shares one persisted parse of the input. That cache holds the
  * variant, the kind codes and the error of every non-empty row, and
  * the payload string of the invalid rows only: `valid` reads the
  * variant, and `dlq` is the one cached reader of the payload.
  * `validRaw`, the valid rows' original payloads, is not read from the
  * cache: it re-parses the input. Only the drift path's second failure
  * reads it, and that path has re-run `process` already, so it is
  * built (and analysed) on that first read only.
  */
final class BatchResult private[pipeline] (
    val valid: DataFrame,
    val dlq: DataFrame,
    raw: () => DataFrame,
    parsed: DataFrame,
    pass: () => BatchCounts) {
  lazy val validRaw: DataFrame = raw()
  /** The batch pass: one Spark job that materializes the persisted
    * parse and counts both sides. Runs at most once; `process` has
    * already run it when a column needs batch presence.
    */
  lazy val counts: BatchCounts = pass()
  def release(): Unit = parsed.unpersist()
}

/** The per-batch pipeline (reference S2→S6, main.py:394-466 inner body):
  *
  *   raw value:String
  *     → drop null/whitespace-only payloads            (S2, main.py:519)
  *     → try_parse_json → VARIANT                      (S2, main.py:520)
  *         malformed JSON → DLQ "malformed JSON"       (divergence: the
  *         reference's unwrapped orjson.loads would crash the whole
  *         batch, main.py:517 — we divert the row instead)
  *     → one kind code per sink column (Validation.kindOf)
  *     → validate (first-violation error per row)      (S5, main.py:200-228)
  *     → split valid / invalid                         (main.py:221-228)
  *     → coerce valid rows, one columnar select        (S6, main.py:230-302)
  *
  * Everything is Catalyst expressions over one persisted DataFrame. The
  * only driver-side step is the batch pass ([[BatchResult.counts]]):
  * one job that fills the cache and returns the batch presence, which
  * replicates Polars' batch-level column union (main.py:257, 265), and
  * the two sides' row counts. Coercion waits for it only when the
  * schema has a column whose batch absence changes its output
  * ([[Coercions.needsBatchPresence]]). [[BatchResult]] says what the
  * cache holds.
  */
object Pipeline {

  val ValueCol = "value"
  private val V = "__graft_variant"
  private val Err = "__graft_error"
  private def kindCol(i: Int) = s"__graft_kind_$i"

  /** Which sink columns appear (key present) in at least one row of the
    * batch — the analogue of `source_df.columns` after
    * `pl.DataFrame(rows)` (main.py:257, 265) — read by the batch pass
    * over kind codes taken straight from `parsed`'s variant column.
    */
  def presentColumns(parsed: DataFrame, metas: Seq[ColumnMeta]): Set[String] =
    batchPass(parsed, metas.map(m => Validation.kindOf(col(V), m.name)), lit(true), metas).present

  /** One pass over `df`: a column is present when its kind is non-null
    * in some row; a row is valid when `ok` holds. It runs the physical
    * plan as an RDD, so it is one Spark job (no exchange, hence no
    * adaptive stages) and its result returns with the job rather than
    * over the listener bus. Each task sends back one flag per column
    * and two counts.
    */
  private def batchPass(
      df: DataFrame, kinds: Seq[Column], ok: Column, metas: Seq[ColumnMeta]): BatchCounts = {
    val n = kinds.size
    val parts = df.select(kinds :+ ok: _*).queryExecution.toRdd.mapPartitions { rows =>
      val present = new Array[Boolean](n)
      var valid, dlq = 0L
      rows.foreach { r =>
        var i = 0
        while (i < n) { if (!r.isNullAt(i)) present(i) = true; i += 1 }
        if (r.getBoolean(n)) valid += 1 else dlq += 1
      }
      Iterator((present, valid, dlq))
    }.collect()
    BatchCounts(
      metas.indices.filter(i => parts.exists(_._1(i))).map(metas(_).name).toSet,
      parts.map(_._2).sum, parts.map(_._3).sum)
  }

  /** Process one batch of raw JSON payloads (column [[ValueCol]]).
    * The parse is persisted so the batch pass and the valid/DLQ sides
    * share it (an optimizer barrier as well: the error expression is
    * not inlined into the filters below it); call `release()` when
    * both sides are materialized. The batch pass runs here only when
    * some column [[Coercions.needsBatchPresence]]; otherwise it waits
    * for the first read of [[BatchResult.counts]].
    */
  def process(raw: DataFrame, metas: Seq[ColumnMeta], cfg: PipelineConfig): BatchResult = {
    val value = col(ValueCol).cast("string")
    // Python str.strip() strips all ASCII whitespace; Spark's 1-arg trim
    // strips spaces only — pass the trim set explicitly (main.py:519).
    val nonEmpty = raw.filter(
      value.isNotNull && length(trim(value, " \t\n\r\f")) > lit(0))
    val kinds = metas.indices.map(i => col(kindCol(i)))
    val parsedPlan = nonEmpty
      .withColumn(V, try_parse_json(value))
      .select(col("*") +: metas.zipWithIndex.map { case (m, i) =>
        Validation.kindOf(col(V), m.name).as(kindCol(i)) }: _*)
      .withColumn(Err,
        when(col(V).isNull, lit("malformed JSON"))
          .otherwise(Validation.errorFromKinds(kinds, metas, cfg)))
    // Only the DLQ side reads the payload from the cache.
    val parsed = parsedPlan.withColumn(ValueCol, when(col(Err).isNotNull, value))
      .persist(StorageLevel.MEMORY_AND_DISK)

    lazy val counts = batchPass(parsed, kinds, col(Err).isNull, metas)
    val batchPresent: Option[Set[String]] =
      if (metas.exists(Coercions.needsBatchPresence(_, cfg))) Some(counts.present) else None

    val coercions: Seq[Column] =
      Coercions.selectList(col(V), kinds, metas, cfg, batchPresent)

    val valid = parsed.filter(col(Err).isNull).select(coercions: _*)
    val dlq = parsed
      .filter(col(Err).isNotNull)
      .select(value.as("row"), col(Err).as("error"))
    // Original payloads of the VALID rows — the reference pushes these
    // (not the coerced form) to the DLQ if the post-retry insert still
    // fails (main.py:446-450). Not cached: recomputed from the input.
    def validRaw = parsedPlan.filter(col(Err).isNull).select(value.as("row"))
    new BatchResult(valid, dlq, () => validRaw, parsed, () => counts)
  }
}
