package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import org.apache.spark.sql.functions.{col, try_parse_json}

import graft.expr.{Coercions, PipelineConfig}
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
}
