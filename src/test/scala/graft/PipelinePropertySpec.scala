package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StringType}

import graft.expr.{Coercions, PipelineConfig, Validation, VariantFields}
import graft.pipeline.Pipeline
import graft.schema.SchemaProvider
import graft.types.CHType

/** Property suite (SURVEY §5.2.3): pipeline invariants that must hold
  * for ANY input shape — arbitrary JSON values in every field, missing
  * keys, extra keys, garbage rows.
  */
class PipelinePropertySpec extends SparkSpec {

  /** scalatestplus isn't on the classpath; drive ScalaCheck directly —
    * fixed seeds make every run reproducible.
    */
  private def forAllSeeded[A](gen: Gen[A], cases: Int = 8)(body: A => Unit): Unit =
    (1 to cases).foreach { i =>
      body(gen.pureApply(Gen.Parameters.default, Seed(i.toLong)))
    }
  import spark.implicits._

  private val provider = SchemaProvider.fromDescribeRows(Seq(
    "id"    -> "Int64",
    "score" -> "Float64",
    "name"  -> "String",
    "mode"  -> "Enum8('a'=1,'b'=2)",
    "at"    -> "DateTime"))
  private val metas = provider.resolveFiltered()
  private val cfg = PipelineConfig(
    required = Seq("id"),
    datetimeCols = Set("at"),
    stringEnumCols = Set("mode"))

  private val jsonValue: Gen[String] = Gen.oneOf(
    Gen.choose(-1000000L, 1000000L).map(_.toString),
    Gen.choose(-1e6, 1e6).map(_.toString),
    Gen.alphaNumStr.map(s => "\"" + s.take(12) + "\""),
    Gen.const("null"),
    Gen.const("true"),
    Gen.const("\"2024-03-05 12:30:45\""),
    Gen.const("\"\""))

  private val fieldNames = List("id", "score", "name", "mode", "at", "extra_key")

  private val payloadGen: Gen[String] = for {
    present <- Gen.someOf(fieldNames)
    values <- Gen.listOfN(present.size, jsonValue)
  } yield present.zip(values).map { case (k, v) => s""""$k": $v""" }
    .mkString("{", ", ", "}")

  private val batchGen: Gen[List[String]] = Gen.listOfN(12, payloadGen)

  test("valid + dlq partition the parseable input; output schema is always the sink schema") {
    forAllSeeded(batchGen) { payloads =>
      val res = Pipeline.process(payloads.toDF(Pipeline.ValueCol), metas, cfg)
      val nValid = res.valid.count()
      val nDlq = res.dlq.count()
      val nNonEmpty = payloads.count(_.trim.nonEmpty)
      assert(nValid + nDlq == nNonEmpty)
      assert(res.valid.schema.fieldNames.toSeq == metas.map(_.name))
      // sink types are fixed regardless of input chaos
      assert(res.valid.schema("id").dataType.typeName == "long")
      assert(res.valid.schema("at").dataType.typeName == "timestamp")
      res.release()
    }
  }

  test("datetime and present string-enum columns are never null post-coercion") {
    forAllSeeded(batchGen) { payloads =>
      val res = Pipeline.process(payloads.toDF(Pipeline.ValueCol), metas, cfg)
      val rows = res.valid.collect()
      val schema = res.valid.schema
      val atIdx = schema.fieldIndex("at")
      rows.foreach(r => assert(!r.isNullAt(atIdx), s"null datetime in $r"))
      // mode: when batch-present it's a string and never null ("DEFAULT" fill)
      if (schema("mode").dataType.typeName == "string") {
        val mIdx = schema.fieldIndex("mode")
        rows.foreach(r => assert(!r.isNullAt(mIdx)))
      }
      res.release()
    }
  }

  test("pipeline is deterministic and permutation-equivariant") {
    forAllSeeded(batchGen) { payloads =>
      def run(ps: List[String]): Seq[String] = {
        val res = Pipeline.process(ps.toDF(Pipeline.ValueCol), metas, cfg)
        val out = res.valid.collect().map(_.toString).sorted.toSeq
        res.release()
        out
      }
      val a = run(payloads)
      val b = run(scala.util.Random.shuffle(payloads))
      assert(a == b)
    }
  }

  test("a column that needs no batch presence coerces a batch-absent key like the per-row branch") {
    val chTypes = Seq("Int8", "Int16", "Int32", "Int64", "UInt8", "UInt16", "UInt32",
      "UInt64", "Float32", "Float64", "Date", "DateTime", "String", "UUID",
      "LowCardinality(String)", "Nullable(Int64)", "Enum8('a'=1,'b'=2)")
    val memberships: Seq[(String, String => PipelineConfig)] = Seq(
      "generic" -> (_ => PipelineConfig(stringEnumCols = Set.empty)),
      "datetime" -> (n => PipelineConfig(datetimeCols = Set(n.toUpperCase), stringEnumCols = Set.empty)),
      "string-enum" -> (n => PipelineConfig(stringEnumCols = Set(n.toUpperCase))))
    val cases = for {
      (t, i) <- chTypes.zipWithIndex
      (kind, cfgOf) <- memberships
    } yield {
      val name = s"c_${kind.head}_$i"
      (s"$t as $kind", CHType.columnMeta(name, t), cfgOf(name))
    }
    // Both answers occur, so the property below is not vacuous.
    assert(cases.exists { case (_, m, c) => Coercions.needsBatchPresence(m, c) })
    val free = cases.filterNot { case (_, m, c) => Coercions.needsBatchPresence(m, c) }
    assert(free.map(_._1).toSet ==
      chTypes.map(t => s"$t as generic").toSet + "DateTime as datetime")

    // None of the columns' keys appears in any row.
    val v = col("v")
    val df = Seq("""{"other": 1}""", "{}", """{"x": "2024-01-01", "y": null}""")
      .toDF("value").select(try_parse_json(col("value")).as("v"))
    def one(m: graft.types.ColumnMeta, cfg: PipelineConfig, present: Option[Set[String]]) =
      Coercions.selectList(v, Seq(m), cfg, present).head
    val absent = free.map { case (_, m, c) => one(m, c, Some(Set.empty)) }
    val perRow = free.map { case (_, m, c) => one(m, c, None) }
    val out = df.select(absent.zipWithIndex.map { case (e, i) => e.as(s"a$i") } ++
      perRow.zipWithIndex.map { case (e, i) => e.as(s"r$i") }: _*)
    val rows = out.collect()
    free.indices.foreach { i =>
      val what = free(i)._1
      assert(out.schema(s"a$i").dataType == out.schema(s"r$i").dataType, what)
      rows.foreach(r => assert(r.get(i) == r.get(free.size + i), what))
    }
  }

  // ---- the native field readers equal Spark's ----

  /** JSON values of every kind, with the edges each sink type casts at. */
  private val edgeValues: Seq[String] = Seq(
    "0", "-1", "127", "128", "-128", "-129", "255", "256", "32767", "32768", "65535",
    "65536", "2147483647", "2147483648", "4294967295", "4294967296",
    "9223372036854775807", "9223372036854775808", "-9223372036854775808",
    "-9223372036854775809", "18446744073709551615", "18446744073709551616",
    "123456789012345678901234567890", "5.0", "5.5", "-0.0", "1e3", "1.5e300", "2.5E-3",
    "3.14159265358979323846264338327950288", "\"42\"", "\"-7\"", "\"3.5\"", "\"1e3\"",
    "\"18446744073709551615\"", "\"2024-03-05 12:30:45\"", "\"2024-03-05T12:30:45.123Z\"",
    "\"2024/03/05\"", "\"05/03/2024\"", "\"25/03/2024 10:00\"", "\"20240305\"",
    "\"garbage\"", "\"\"", "\"true\"", "\"\u00fcn\u00ef \u65e5\u672c\"",
    "\"f9d5c2a0-1b2c-4d3e-8f90-123456789abc\"", "true", "false", "null", "{}",
    "{\"b\": 1, \"a\": [2, \"x\"]}", "[]", "[1, 2.5, \"s\", null]")

  private val longKey = "k" * 300
  /** Keys the reads look up; the unicode one is decoded with the JVM's
    * default charset on Spark's side, whatever that is.
    */
  private val readKeys = Seq("k", "id_2", "\u043a\u043b\u044e\u0447", longKey, "with space")

  private def jsonString(s: String): String =
    "\"" + s.flatMap(c => if (c < 0x80) c.toString else f"\\u${c.toInt}%04x") + "\""

  /** Objects over the read keys, some padded past 32 keys (Spark's
    * binary search) or 255 keys (a 4-byte size header); and non-objects.
    */
  private val variantPayload: Gen[String] = Gen.frequency(
    9 -> (for {
      keys <- Gen.someOf(readKeys)
      values <- Gen.listOfN(keys.size, Gen.oneOf(edgeValues))
      pad <- Gen.oneOf(0, 0, 3, 40, 300)
    } yield (keys.zip(values) ++ (0 until pad).map(i => (s"p$i", i.toString)))
      .map { case (k, v) => s"${jsonString(k)}: $v" }.mkString("{", ", ", "}")),
    1 -> Gen.oneOf(edgeValues))

  /** Parsed payloads over an RDD, not a local relation: the optimizer
    * evaluates a projection of a local relation up front, interpreted,
    * and codegen would go untested.
    */
  private def variants(payloads: Seq[String]) = spark.sparkContext.parallelize(payloads, 2)
    .toDF("value").select(try_parse_json(col("value")).as("v"))

  private val readTargets: Seq[DataType] = (Seq("Int8", "Int16", "Int32", "Int64", "UInt8",
    "UInt16", "UInt32", "UInt64", "Float32", "Float64", "Date", "DateTime", "String", "UUID",
    "LowCardinality(String)", "Nullable(Int64)", "Enum8('a'=1,'b'=2)")
    .map(t => CHType.columnMeta("c", t).dataType) :+ StringType).distinct

  /** Runs `body` with whole-stage and expression codegen, then interpreted. */
  private def bothEvalModes(body: => Unit): Unit = {
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val keep = keys.map(k => k -> spark.conf.getOption(k))
    try {
      body
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      body
    } finally keep.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("typed reads equal try_variant_get in values and types, for every sink type") {
    // Typed reads take the sink type; string-enum and datetime reads take string.
    val v = col("v")
    val pairs = for { t <- readTargets; k <- readKeys } yield
      (s"${t.catalogString} of ${k.take(12)}", VariantFields.get(v, k, t),
        try_variant_get(v, "$." + k, t.catalogString))
    forAllSeeded(Gen.listOfN(40, variantPayload), cases = 6) { payloads =>
      val df = variants(payloads)
      bothEvalModes {
        val out = df.select(pairs.zipWithIndex.flatMap { case ((_, ours, spark), i) =>
          Seq(ours.as(s"o$i"), spark.as(s"s$i")) }: _*)
        val got = out.collect()
        pairs.indices.foreach { i =>
          val what = pairs(i)._1
          assert(out.schema(s"o$i").dataType == out.schema(s"s$i").dataType, what)
          got.zip(payloads).foreach { case (r, p) =>
            assert(r.get(2 * i) == r.get(2 * i + 1), s"$what in $p")
          }
        }
      }
    }
  }

  test("kind codes equal the class of schema_of_variant(variant_get(v, '$.k', 'variant'))") {
    def kindClass(t: String): Any = t match {
      case null => null
      case "VOID" => Validation.KVoid
      case "TINYINT" | "SMALLINT" | "INT" | "BIGINT" => Validation.KInteger
      case "FLOAT" | "DOUBLE" => Validation.KFraction
      case d if d.startsWith("DECIMAL(") =>
        if (d.stripSuffix(")").split(",").last.trim == "0") Validation.KInteger
        else Validation.KFraction
      case "STRING" => Validation.KString
      case _ => Validation.KOther
    }
    val v = col("v")
    val keys = readKeys :+ "a.b"
    forAllSeeded(Gen.listOfN(40, variantPayload), cases = 6) { payloads =>
      val df = variants(payloads)
      bothEvalModes {
        val got = df.select(keys.flatMap(k => Seq(Validation.kindOf(v, k),
          schema_of_variant(variant_get(v, "$." + k, "variant")))): _*).collect()
        got.zip(payloads).foreach { case (r, p) =>
          keys.indices.foreach { i =>
            assert(r.get(2 * i) == kindClass(r.getString(2 * i + 1)), s"${keys(i)} in $p")
          }
        }
      }
    }
  }
}
