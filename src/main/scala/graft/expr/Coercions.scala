package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.types.{CHType, ColumnMeta}

/** Pipeline configuration (reference S13, main.py:542-583): the env-var
  * surface that shapes validation + coercion. Column-name matching is
  * case-insensitive for the datetime/string-enum sets, mirroring
  * `col.lower() in datetime_cols` (main.py:267, 275).
  *
  * The reference's *batch-level* missing-column behavior (a column
  * absent from every row of the batch takes the typed sentinel default,
  * main.py:296-298) is always replicated; whether a batch needs it is
  * read from the schema ([[Coercions.needsBatchPresence]]), not set.
  *
  * @param required        REQUIRED_COLUMNS (main.py:167, 555) — presence
  *                        (key-exists) is validated, not non-nullness
  * @param datetimeCols    DATETIME_COLUMNS (main.py:267) — parsed via the
  *                        permissive datetime branch
  * @param stringEnumCols  STRING_ENUM_COLUMNS (main.py:557, default
  *                        "gps_validity,incognito_mode") — enum-as-name
  */
final case class PipelineConfig(
    required: Seq[String] = Nil,
    datetimeCols: Set[String] = Set.empty,
    stringEnumCols: Set[String] = Set("gps_validity", "incognito_mode")) {
  val datetimeLower: Set[String] = datetimeCols.map(_.toLowerCase)
  val stringEnumLower: Set[String] = stringEnumCols.map(_.toLowerCase)
}

/** The reference's computational core (S6, `to_polars_df`,
  * main.py:230-302) re-expressed as Catalyst column expressions over a
  * Spark VARIANT column. One coercion expression per sink column; the
  * caller applies them in a single `select` (one columnar pass, same
  * shape as the reference's single `source_df.select(expressions)`,
  * main.py:302 — output column order = schema order).
  *
  * Input representation: each Kafka/JSON record is parsed once with
  * `try_parse_json` into a VARIANT, and each field is read with
  * [[VariantFields.get]], which equals `try_variant_get`. VARIANT
  * preserves JSON token types (string vs number vs null vs missing),
  * which the coercion branches read from each field's kind code
  * ([[Validation.kindOf]]):
  *   - SQL NULL kind                ⇔ key missing in the row
  *   - [[Validation.KVoid]]         ⇔ key present with JSON null
  * The reference sees both as Polars null (missing keys become null when
  * the dict list is columnarized), so branches treat them identically;
  * we keep the distinction available but collapse it the same way.
  */
object Coercions {

  /** Present = key exists with a non-null JSON value (what the
    * reference's `pl.col(c).is_null()` is false for, main.py:277, 284),
    * read from the field's kind code ([[Validation.kindOf]]): NULL when
    * the key is missing, [[Validation.KVoid]] for a JSON null.
    */
  def presentNonNull(kind: Column): Column = kind > lit(Validation.KVoid)

  private def epochLit(target: DataType): Column = target match {
    case DateType => lit(CHType.EpochDate)
    case _        => lit(CHType.EpochTs)
  }

  /** Polars `strptime(strict=False)` format-inference breadth
    * (main.py:271): beyond Spark's default ISO-8601 family (the bare
    * `try_to_timestamp`, which already covers `T`/space separators
    * and fractional seconds), the reference's Polars inference also
    * accepts the common slash / dash / dot / compact layouts. Each
    * candidate is tried in order: 4-digit-year-first layouts, then
    * day-first dash/dot, then slashed MM/dd before dd/MM — so a
    * day>12 slash date ("25/03/2024", unambiguous) falls through the
    * US family and still parses day-first rather than landing on
    * epoch. The genuinely AMBIGUOUS slash case ("05/03/2024") resolves
    * month-first by chain order — a documented fixed choice, where
    * Polars instead infers one format from the column's first value
    * (so its answer depends on which value arrives first). Divergence
    * (documented, an improvement): the per-value chain parses each
    * value independently, so a column mixing layouts coerces fully
    * instead of losing every later-format value to null.
    */
  private val datetimeFormats: Seq[String] = Seq(
    "yyyy/MM/dd[ HH:mm[:ss]]",
    "yyyyMMdd[ HH:mm[:ss]]",
    "dd-MM-yyyy[ HH:mm[:ss]]",
    "dd.MM.yyyy[ HH:mm[:ss]]",
    "MM/dd/yyyy[ HH:mm[:ss]]",
    "dd/MM/yyyy[ HH:mm[:ss]]")

  /** Datetime branch (main.py:267-273): '' → epoch; else permissive
    * parse; then fill-null epoch — so unparseable strings, JSON nulls
    * and missing keys all land on 1970-01-01, never null (SURVEY §2.3
    * note 1). `try_to_timestamp` + the [[datetimeFormats]] chain is
    * the Catalyst analogue of Polars `strptime(strict=False)`.
    *
    * Divergence (documented): when the sink column is a Date, the
    * result is cast to DateType; the reference emits Datetime even for
    * Date columns listed in DATETIME_COLUMNS (meta target ignored,
    * main.py:269-271).
    */
  def datetimeExpr(v: Column, m: ColumnMeta): Column = {
    val s = VariantFields.get(v, m.name, StringType)
    val target = m.dataType match {
      case DateType => DateType
      case _        => TimestampType
    }
    val parsed = coalesce(
      try_to_timestamp(s) +:
        datetimeFormats.map(f => try_to_timestamp(s, lit(f))): _*)
    coalesce(
      when(s === lit(""), lit(CHType.EpochTs)).otherwise(parsed),
      lit(CHType.EpochTs)
    ).cast(target).alias(m.name)
  }

  /** String-enum branch (main.py:275-281): null/missing → "DEFAULT",
    * else the value rendered as a string (an integer enum code 2 becomes
    * "2", matching Polars `cast(Utf8, strict=False)`). Membership in
    * STRING_ENUM_COLUMNS overrides the meta target type (SURVEY §2.3
    * note 2).
    */
  def stringEnumExpr(v: Column, kind: Column, m: ColumnMeta): Column =
    when(presentNonNull(kind), VariantFields.get(v, m.name, StringType))
      .otherwise(lit("DEFAULT"))
      .alias(m.name)

  /** Generic branch (main.py:284): fill-before-cast —
    * `when(isNull, default).otherwise(col).cast(target, strict=False)`.
    * Null/missing take the typed sentinel default; a present value that
    * fails the cast yields NULL in the output (lenient cast), exactly
    * like Polars `strict=False`. NOT `coalesce(try_cast, default)`,
    * which would wrongly default-fill cast failures (SURVEY §2.3
    * note 3).
    */
  def genericExpr(v: Column, kind: Column, m: ColumnMeta): Column =
    when(presentNonNull(kind), VariantFields.get(v, m.name, m.dataType))
      .otherwise(lit(m.default).cast(m.dataType))
      .alias(m.name)

  /** Missing-column branch (main.py:296-298): the key is absent from the
    * whole batch → typed sentinel default. Note this uses the *meta*
    * type, so a batch-absent string-enum column gets `lit(127)` as
    * Int16, not "DEFAULT" — the reference inconsistency we replicate.
    */
  def missingExpr(m: ColumnMeta): Column =
    lit(m.default).cast(m.dataType).alias(m.name)

  /** Whether a batch-absent `m` coerces differently from the per-row
    * branch [[selectList]] would pick for it (same branch order). A
    * generic column's per-row fill is [[missingExpr]] itself, and a
    * datetime column with a Timestamp sink lands on the same epoch
    * literal; a string-enum column (Int16 `127` vs "DEFAULT") and a
    * datetime column with any other sink type (epoch cast to the meta
    * type) do not. Only these need the batch pass before coercion.
    */
  def needsBatchPresence(m: ColumnMeta, cfg: PipelineConfig): Boolean = {
    val lower = m.name.toLowerCase
    if (cfg.datetimeLower.contains(lower)) m.dataType != TimestampType
    else cfg.stringEnumLower.contains(lower)
  }

  /** The full select-list for one batch: one expression per sink column,
    * in schema order (defines output order, main.py:302). `kinds` holds
    * each column's kind code, aligned with `metas`. `batchPresent`
    * is the set of keys that appear in ≥1 row of the batch (the Polars
    * `source_df.columns` analogue, main.py:265); pass `None` to treat
    * every column as present (per-row semantics only), which gives the
    * same output wherever no column [[needsBatchPresence]].
    */
  def selectList(
      v: Column,
      kinds: Seq[Column],
      metas: Seq[ColumnMeta],
      cfg: PipelineConfig,
      batchPresent: Option[Set[String]]): Seq[Column] =
    metas.zip(kinds).map { case (m, kind) =>
      val lower = m.name.toLowerCase
      if (!batchPresent.forall(_.contains(m.name))) missingExpr(m)
      else if (cfg.datetimeLower.contains(lower)) datetimeExpr(v, m)
      else if (cfg.stringEnumLower.contains(lower)) stringEnumExpr(v, kind, m)
      else genericExpr(v, kind, m)
    }

  /** [[selectList]] over kind codes read straight from the variant. */
  def selectList(
      v: Column,
      metas: Seq[ColumnMeta],
      cfg: PipelineConfig,
      batchPresent: Option[Set[String]]): Seq[Column] =
    selectList(v, metas.map(m => Validation.kindOf(v, m.name)), metas, cfg, batchPresent)
}
