package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.types.{ColumnMeta, JsonKind}

/** Row validation (reference S5, `validate_json_rows` main.py:200-228 +
  * the generated JSON schema main.py:62-91, 170-175) as pure Catalyst
  * predicates — no UDFs, no row-at-a-time validator.
  *
  * Semantics of the compiled fastjsonschema validator, replicated:
  *   - `required` columns must have their key PRESENT in the object
  *     (a present JSON null satisfies `required` but then fails its
  *     type check — null is not integer/number/string);
  *   - every *present, non-null* declared property must match its
  *     JSON-token kind: integer / number / string / string-or-integer
  *     (main.py:81-91). Booleans fail integer/number (fastjsonschema
  *     excludes bool from int);
  *   - extra/undeclared keys pass (`additionalProperties` left
  *     permissive, main.py:174) and are dropped by the projection;
  *   - validation is per-row, all-or-nothing: the FIRST violation (in
  *     required-then-schema order) is the row's error message
  *     (main.py:222-227; fastjsonschema raises on the first failure).
  *
  * JSON token kinds are read from the VARIANT encoding: parse_json
  * stores JSON integers as TINYINT..BIGINT or DECIMAL(p,0) (huge),
  * floats as DECIMAL(p,s>0) or DOUBLE, strings as STRING, booleans as
  * BOOLEAN. Documented divergence: a JSON `5.0` is stored as
  * DECIMAL(1,0) and accepted as integer — the JSON-Schema *spec*
  * behavior (zero fractional part), where fastjsonschema's
  * isinstance(int) would reject it.
  *
  * Each field's token type is read once per row into a one-byte kind
  * code ([[kindOf]]). The row check, the batch-presence pass and the
  * coercions' present-and-non-null test all read those codes instead
  * of walking the variant again.
  */
object Validation {

  /** Kind codes: SQL NULL means the key is missing. */
  val KVoid: Byte = 0     // JSON null
  val KInteger: Byte = 1  // integral number (incl. DECIMAL(p,0))
  val KFraction: Byte = 2 // number with a fractional part
  val KString: Byte = 3
  val KOther: Byte = 4    // boolean, object, array

  /** One field's kind code: NULL iff the key is missing, else the class
    * of the type `schema_of_variant` reports for the field, read from
    * the field's header by [[VariantFields.kind]]. A JSON integer,
    * float, string or null always takes one of the first four codes.
    */
  def kindOf(v: Column, name: String): Column = VariantFields.kind(v, name)

  /** Kind codes that satisfy the column's JSON kind. */
  private def accepted(kind: JsonKind): Seq[Byte] = kind match {
    case JsonKind.JInteger => Seq(KInteger)
    case JsonKind.JNumber  => Seq(KInteger, KFraction)
    case JsonKind.JString  => Seq(KString)
    case JsonKind.JEnum    => Seq(KString, KInteger)
  }

  def kindName(kind: JsonKind): String = kind match {
    case JsonKind.JInteger => "integer"
    case JsonKind.JNumber  => "number"
    case JsonKind.JString  => "string"
    case JsonKind.JEnum    => "string or integer"
  }

  /** First-failure error message for a row, or NULL if the row is valid,
    * read from one kind code per column (`kinds` aligned with `metas`).
    * Check order: required-presence checks (schema order), then
    * per-column type checks (schema order) — mirroring the single
    * exception fastjsonschema raises (main.py:224-227). One flat CASE:
    * each branch compares a byte, so the generated method stays small.
    */
  def errorFromKinds(kinds: Seq[Column], metas: Seq[ColumnMeta], cfg: PipelineConfig): Column = {
    val requiredSet = cfg.required.toSet
    val requiredChecks: Seq[(Column, String)] = metas.zip(kinds)
      .filter { case (m, _) => requiredSet.contains(m.name) }
      .map { case (m, k) => (k.isNull, s"data must contain ['${m.name}'] properties") }
    // present (key exists) but JSON-null or wrong token kind → fail;
    // a missing key's NULL code fails no type check
    val typeChecks: Seq[(Column, String)] = metas.zip(kinds).map { case (m, k) =>
      (!k.isin(accepted(m.jsonKind): _*),
        s"data.${m.name} must be ${kindName(m.jsonKind)}")
    }
    (requiredChecks ++ typeChecks) match {
      case Seq() => lit(null: String)
      case (c0, m0) +: rest =>
        rest.foldLeft(when(c0, lit(m0))) { case (acc, (c, m)) => acc.when(c, lit(m)) }
    }
  }

  /** [[errorFromKinds]] over kind codes read straight from the variant. */
  def errorColumn(v: Column, metas: Seq[ColumnMeta], cfg: PipelineConfig): Column =
    errorFromKinds(metas.map(m => kindOf(v, m.name)), metas, cfg)
}
