package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.expr.PipelineConfig
import graft.pipeline.Pipeline
import graft.schema.SchemaProvider

/** Reference-semantics suite over the FIXTURES.md §A schema: every
  * coercion/validation branch of SURVEY §2.3 (reference main.py:200-302).
  *
  * Notable *correct* reference behaviors encoded here (and fixing two
  * errors in the original FIXTURES.md sketch): an EXPLICIT JSON null in
  * a declared property fails validation (null is not integer/number/
  * string — fastjsonschema rejects it) and goes to the DLQ; the
  * null→default / null→"DEFAULT" coercion branches apply to rows where
  * the key is MISSING (Polars turns per-row missing keys into nulls at
  * batch columnarization, main.py:257).
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private val provider = SchemaProvider.fromDescribeRows(Seq(
    "device_id"      -> "UInt32",
    "trip_id"        -> "UUID",
    "speed_kmh"      -> "Float32",
    "odometer_m"     -> "UInt64",
    "satellites"     -> "Int8",
    "event_time"     -> "DateTime",
    "trip_date"      -> "Date",
    "gps_validity"   -> "Enum8('valid'=1,'invalid'=2)",
    "incognito_mode" -> "Enum8('on'=1,'off'=2)",
    "note"           -> "String",
    "db_insert_time" -> "DateTime",
  ))
  private val metas = provider.resolveFiltered()
  private val cfg = PipelineConfig(
    required = Seq("device_id", "trip_id"),
    datetimeCols = Set("event_time", "trip_date"),
    stringEnumCols = Set("gps_validity", "incognito_mode"))

  private def run(payloads: String*) = {
    val res = Pipeline.process(payloads.toDF(Pipeline.ValueCol), metas, cfg)
    val valid = res.valid.collect()
    val dlq = res.dlq.collect()
    res.release()
    (valid, dlq, res.valid.schema)
  }

  private val clean =
    """{"device_id": 42, "trip_id": "a-1", "speed_kmh": 55.5, "odometer_m": 123456,
      | "satellites": 9, "event_time": "2024-03-05 12:30:45", "trip_date": "2024-03-05",
      | "gps_validity": "valid", "incognito_mode": "off", "note": "hi"}""".stripMargin.replace("\n", "")

  test("db_insert_time is excluded from the sink schema (main.py:168)") {
    assert(!metas.exists(_.name == "db_insert_time"))
    assert(metas.map(_.name) == Seq("device_id", "trip_id", "speed_kmh", "odometer_m",
      "satellites", "event_time", "trip_date", "gps_validity", "incognito_mode", "note"))
  }

  test("clean row: all values preserved, coerced to sink types") {
    val (valid, dlq, schema) = run(clean)
    assert(dlq.isEmpty && valid.length == 1)
    val r = valid(0)
    assert(r.getLong(0) == 42L)                       // UInt32 → Long
    assert(r.getString(1) == "a-1")
    assert(r.getFloat(2) == 55.5f)
    assert(r.getDecimal(3).longValueExact == 123456L) // UInt64 → Decimal(20,0)
    assert(r.getByte(4) == 9.toByte)
    assert(r.getTimestamp(5) == java.sql.Timestamp.valueOf("2024-03-05 12:30:45"))
    assert(r.getDate(6) == java.sql.Date.valueOf("2024-03-05"))
    assert(r.getString(7) == "valid" && r.getString(8) == "off" && r.getString(9) == "hi")
    assert(schema("satellites").dataType == ByteType)
    assert(schema("odometer_m").dataType == DecimalType(20, 0))
    assert(schema("gps_validity").dataType == StringType)
  }

  test("per-row missing optional keys → typed sentinel defaults (main.py:284 null-fill)") {
    // clean row keeps the columns batch-present; second row omits them
    val row2 = """{"device_id": 1, "trip_id": "b-2", "event_time": "2024-01-02 00:00:00",
                  | "trip_date": "2024-01-02", "gps_validity": "valid", "incognito_mode": "on",
                  | "satellites": 3, "odometer_m": 1, "note": "x"}""".stripMargin.replace("\n", "")
    val (valid, dlq, _) = run(clean, row2)
    assert(dlq.isEmpty && valid.length == 2)
    val r = valid.find(_.getString(1) == "b-2").get
    assert(r.getFloat(2) == 2.0e9f) // speed_kmh missing → Float32 sentinel
  }

  test("per-row missing string-enum key → \"DEFAULT\" (main.py:275-281)") {
    val row2 = """{"device_id": 1, "trip_id": "c-3", "gps_validity": "valid"}""" // incognito_mode missing
    val (valid, dlq, _) = run(clean, row2)
    assert(dlq.isEmpty)
    val r = valid.find(_.getString(1) == "c-3").get
    assert(r.getString(8) == "DEFAULT")
  }

  test("integer enum code → stringified (anyOf string/integer, main.py:89-90)") {
    val row = """{"device_id": 1, "trip_id": "d-4", "gps_validity": 2, "incognito_mode": "on"}"""
    val (valid, dlq, _) = run(clean, row)
    assert(dlq.isEmpty)
    assert(valid.find(_.getString(1) == "d-4").get.getString(7) == "2")
  }

  test("explicit JSON null in a typed property → DLQ (null fails fastjsonschema type check)") {
    val row = """{"device_id": 1, "trip_id": "e-5", "satellites": null}"""
    val (valid, dlq, _) = run(clean, row)
    assert(valid.length == 1) // only the clean row
    assert(dlq.length == 1 && dlq(0).getString(1) == "data.satellites must be integer")
  }

  test("string garbage in an integer property → DLQ, not coerced (main.py:81-82)") {
    val row = """{"device_id": 1, "trip_id": "f-6", "satellites": "abc"}"""
    val (_, dlq, _) = run(clean, row)
    assert(dlq.length == 1 && dlq(0).getString(1) == "data.satellites must be integer")
  }

  test("overflow survives validation, lenient cast → NULL in output (main.py:284, strict=False)") {
    val row = """{"device_id": 1, "trip_id": "g-7", "satellites": 300}""" // > Int8 max
    val (valid, dlq, _) = run(clean, row)
    assert(dlq.isEmpty)
    val r = valid.find(_.getString(1) == "g-7").get
    assert(r.isNullAt(4))
  }

  test("empty-string datetime → epoch (main.py:269-270)") {
    val row = """{"device_id": 1, "trip_id": "h-8", "event_time": ""}"""
    val (valid, dlq, _) = run(clean, row)
    assert(dlq.isEmpty)
    val r = valid.find(_.getString(1) == "h-8").get
    assert(r.getTimestamp(5) == java.sql.Timestamp.valueOf("1970-01-01 00:00:00"))
  }

  test("unparseable datetime string → epoch via fill-null (main.py:271-272)") {
    val row = """{"device_id": 1, "trip_id": "i-9", "event_time": "not a date"}"""
    val (valid, dlq, _) = run(clean, row)
    assert(dlq.isEmpty)
    val r = valid.find(_.getString(1) == "i-9").get
    assert(r.getTimestamp(5) == java.sql.Timestamp.valueOf("1970-01-01 00:00:00"))
  }

  test("datetime inference breadth: slash/dash/dot/compact/US layouts all parse " +
      "(Polars strptime(strict=False), main.py:271)") {
    val want = java.sql.Timestamp.valueOf("2024-03-05 12:30:45")
    val cases = Seq(
      ("k-1", "2024-03-05T12:30:45", want), // ISO T separator (builtin)
      ("k-2", "2024/03/05 12:30:45", want), // slash Y-M-D
      ("k-3", "20240305 12:30:45", want),   // compact date
      ("k-4", "05-03-2024 12:30:45", want), // day-first dashes
      ("k-5", "05.03.2024 12:30:45", want), // day-first dots
      // ambiguous slash resolves MONTH-first (documented chain order)
      ("k-6", "03/05/2024 12:30:45", want),
      // day>12 slash is unambiguous: falls through MM/dd to dd/MM
      ("k-7", "25/03/2024 12:30:45",
        java.sql.Timestamp.valueOf("2024-03-25 12:30:45")))
    val rows = cases.map { case (id, ts, _) =>
      s"""{"device_id": 1, "trip_id": "$id", "event_time": "$ts"}"""
    }
    val (valid, dlq, _) = run(clean +: rows: _*)
    assert(dlq.isEmpty)
    cases.foreach { case (id, ts, w) =>
      val r = valid.find(_.getString(1) == id).get
      assert(r.getTimestamp(5) == w, s"layout '$ts' did not parse as expected")
    }
    // date-only variants land on midnight
    val dRows = Seq("m-1" -> "2024/03/05", "m-2" -> "05.03.2024").map {
      case (id, d) => s"""{"device_id": 1, "trip_id": "$id", "event_time": "$d"}"""
    }
    val (valid2, dlq2, _) = run(clean +: dRows: _*)
    assert(dlq2.isEmpty)
    Seq("m-1", "m-2").foreach { id =>
      val r = valid2.find(_.getString(1) == id).get
      assert(r.getTimestamp(5) == java.sql.Timestamp.valueOf("2024-03-05 00:00:00"))
    }
  }

  test("per-value datetime dispatch: a column MIXING layouts in one batch " +
      "coerces every value (divergence from Polars pinned — main.py:271 " +
      "infers ONE format from the first value column-wide, nulling the rest " +
      "to epoch; the per-value coalesce chain parses each independently)") {
    // First value ISO, second slashed Y-M-D, third day-first dots, fourth
    // US month-first: under Polars' column-wide inference only the rows
    // matching the FIRST value's format would survive; here all four must.
    val want = java.sql.Timestamp.valueOf("2024-03-05 12:30:45")
    val mixed = Seq(
      "x-1" -> "2024-03-05T12:30:45",
      "x-2" -> "2024/03/05 12:30:45",
      "x-3" -> "05.03.2024 12:30:45",
      "x-4" -> "03/05/2024 12:30:45")
    val rows = mixed.map { case (id, ts) =>
      s"""{"device_id": 1, "trip_id": "$id", "event_time": "$ts"}"""
    }
    val (valid, dlq, _) = run(clean +: rows: _*)
    assert(dlq.isEmpty)
    mixed.foreach { case (id, ts) =>
      val r = valid.find(_.getString(1) == id).get
      assert(r.getTimestamp(5) == want,
        s"mixed-batch layout '$ts' must parse per-value, not by first-value inference")
      assert(r.getTimestamp(5) != java.sql.Timestamp.valueOf("1970-01-01 00:00:00"),
        s"'$ts' landed on epoch — column-wide inference regression")
    }
  }

  test("missing datetime key → epoch (fill-null path)") {
    val row = """{"device_id": 1, "trip_id": "j-10"}"""
    val (valid, dlq, _) = run(clean, row)
    assert(dlq.isEmpty)
    val r = valid.find(_.getString(1) == "j-10").get
    assert(r.getTimestamp(5) == java.sql.Timestamp.valueOf("1970-01-01 00:00:00"))
    assert(r.getDate(6) == java.sql.Date.valueOf("1970-01-01"))
  }

  test("missing required key → DLQ with fastjsonschema-shaped error (main.py:167, 227)") {
    val row = """{"device_id": 1, "note": "no trip id"}"""
    val (_, dlq, _) = run(clean, row)
    assert(dlq.length == 1)
    assert(dlq(0).getString(1) == "data must contain ['trip_id'] properties")
    assert(dlq(0).getString(0).contains("no trip id")) // original payload preserved
  }

  test("wrong-typed required key → DLQ (JSON-schema integer check, main.py:81-82)") {
    val row = """{"device_id": "x7", "trip_id": "k-11"}"""
    val (_, dlq, _) = run(clean, row)
    assert(dlq.length == 1 && dlq(0).getString(1) == "data.device_id must be integer")
  }

  test("unknown extra keys pass validation and are dropped (main.py:174, 302)") {
    val row = """{"device_id": 1, "trip_id": "l-12", "unknown_field": 99}"""
    val (valid, dlq, schema) = run(clean, row)
    assert(dlq.isEmpty && valid.length == 2)
    assert(!schema.fieldNames.contains("unknown_field"))
  }

  test("empty / whitespace payloads are dropped pre-parse (main.py:519)") {
    val (valid, dlq, _) = run(clean, "", "   ", "\t\n")
    assert(valid.length == 1 && dlq.isEmpty)
  }

  test("malformed JSON → DLQ (documented divergence: reference crashes the batch, main.py:517)") {
    val (valid, dlq, _) = run(clean, "{not json")
    assert(valid.length == 1)
    assert(dlq.length == 1 && dlq(0).getString(1) == "malformed JSON")
  }

  test("batch-absent column → typed sentinel for ALL rows (main.py:296-298)") {
    // no row carries `note` → missing-column branch
    val r1 = """{"device_id": 1, "trip_id": "m-13"}"""
    val r2 = """{"device_id": 2, "trip_id": "n-14"}"""
    val (valid, dlq, _) = run(r1, r2)
    assert(dlq.isEmpty && valid.length == 2)
    assert(valid.forall(_.getString(9) == ""))
    assert(valid.forall(_.getFloat(2) == 2.0e9f))
  }

  test("batch-absent string-enum column → Int16 code 127 (replicated reference quirk, SURVEY §2.3 n.2)") {
    val r1 = """{"device_id": 1, "trip_id": "o-15", "gps_validity": "valid"}"""
    val (valid, dlq, schema) = run(r1) // incognito_mode absent from the whole batch
    assert(dlq.isEmpty && valid.length == 1)
    assert(schema("incognito_mode").dataType == ShortType)
    assert(valid(0).getShort(8) == 127.toShort)
  }

  test("UInt64 round-trips through Decimal(20,0) (SURVEY §1.2(b))") {
    val row = """{"device_id": 1, "trip_id": "p-16", "odometer_m": 18446744073709551615}"""
    val (valid, dlq, _) = run(clean, row)
    assert(dlq.isEmpty)
    val r = valid.find(_.getString(1) == "p-16").get
    assert(r.getDecimal(3) == new java.math.BigDecimal("18446744073709551615"))
  }

  test("float accepts integer tokens; integer rejects float tokens with fraction") {
    val ok = """{"device_id": 1, "trip_id": "q-17", "speed_kmh": 60}"""
    val bad = """{"device_id": 1, "trip_id": "r-18", "satellites": 5.5}"""
    val (valid, dlq, _) = run(clean, ok, bad)
    assert(valid.find(_.getString(1) == "q-17").get.getFloat(2) == 60f)
    assert(dlq.length == 1 && dlq(0).getString(1) == "data.satellites must be integer")
  }

  test("boolean tokens fail integer/number kinds (fastjsonschema bool-exclusion)") {
    val row = """{"device_id": true, "trip_id": "s-19"}"""
    val (_, dlq, _) = run(clean, row)
    assert(dlq.length == 1 && dlq(0).getString(1) == "data.device_id must be integer")
  }

  test("required check precedes type checks; first violation wins (main.py:224)") {
    val row = """{"device_id": "bad"}""" // missing trip_id AND bad device_id
    val (_, dlq, _) = run(clean, row)
    assert(dlq(0).getString(1) == "data must contain ['device_id'] properties"
      || dlq(0).getString(1) == "data must contain ['trip_id'] properties")
    // device_id IS present; the first *failing* required check is trip_id
    assert(dlq(0).getString(1) == "data must contain ['trip_id'] properties")
  }

  test("datetime/string-enum membership is case-insensitive (main.py:267, 275 `col.lower()`)") {
    val prov = SchemaProvider.fromDescribeRows(Seq(
      "Device_ID" -> "UInt32", "Event_Time" -> "DateTime", "Mode" -> "Enum8('a'=1)"))
    val cfgCi = PipelineConfig(
      required = Seq("Device_ID"),
      datetimeCols = Set("EVENT_TIME"), // different case than the schema
      stringEnumCols = Set("mode"))
    // Mode key absent from the first row: a present JSON null would
    // fail validation (null is not string-or-integer). The second row
    // carries Mode, so the column is batch-present and the first row
    // takes the per-row "DEFAULT" branch.
    val res = Pipeline.process(
      Seq("""{"Device_ID": 1, "Event_Time": ""}""",
        """{"Device_ID": 2, "Event_Time": "", "Mode": "a"}""").toDF(Pipeline.ValueCol),
      prov.resolveFiltered(), cfgCi)
    val r = res.valid.collect().minBy(_.getLong(0))
    res.release()
    assert(r.getTimestamp(1) == java.sql.Timestamp.valueOf("1970-01-01 00:00:00"),
      "datetime branch must apply despite case mismatch")
    assert(r.getString(2) == "DEFAULT",
      "string-enum branch must apply despite case mismatch")
  }

  test("empty batch → empty outputs with the sink schema (main.py:254-255)") {
    val (valid, dlq, schema) = run()
    assert(valid.isEmpty && dlq.isEmpty)
    assert(schema.fieldNames.toSeq == metas.map(_.name))
  }
}
