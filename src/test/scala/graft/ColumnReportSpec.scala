package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Differential spec for the per-column reports q237 (dictionary
  * advisor), q247 (column entropy) and q292 (codec advisor), which
  * read one (column, value) histogram: each is compared with a
  * reference that builds one scan → aggregate pipeline per column and
  * unions them, on fixtures with nulls in a value column, an all-null
  * column, a constant column, duplicate values and multibyte strings
  * (`length` counts characters); q292 also on a one-row table.
  */
class ColumnReportSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  // ---- references: one pipeline per column, unioned -------------------

  private def refDictAdvisor(s: SparkSession, dir: String): DataFrame = {
    val p = Queries.t(s, dir, "part")
    def leg(c: String): DataFrame =
      p.agg(
        count(lit(1)).as("n_rows"),
        count_distinct(col(c)).as("n_distinct"),
        sum(length(col(c))).as("raw_bytes"))
        .select(lit(c).as("column_name"), col("n_rows"), col("n_distinct"),
          col("raw_bytes"),
          (when(col("n_distinct") <= 256, 1L)
            .when(col("n_distinct") <= 65536, 2L).otherwise(4L)).as("idx_bytes"))
    val legs = Seq("p_name", "p_brand", "p_type").map(leg).reduce(_ unionByName _)
    val dicts = Seq("p_name", "p_brand", "p_type").map { c =>
      p.select(col(c)).distinct()
        .agg(sum(length(col(c))).as("dict_bytes"))
        .select(lit(c).as("column_name"), col("dict_bytes"))
    }.reduce(_ unionByName _)
    legs.join(dicts, "column_name")
      .withColumn("dict_total", col("dict_bytes") + col("n_rows") * col("idx_bytes"))
      .select(col("column_name"), col("n_rows"), col("n_distinct"), col("raw_bytes"),
        col("dict_total"),
        round(col("raw_bytes") / col("dict_total"), 4).as("ratio"))
      .orderBy("column_name")
  }

  private def refColumnEntropy(s: SparkSession, dir: String): DataFrame = {
    val o = Queries.t(s, dir, "orders")
    def leg(c: String): DataFrame = {
      val hist = o.groupBy(col(c).cast("string").as("v"))
        .agg(count(lit(1)).as("cnt"))
      val tot = hist.agg(sum("cnt").as("n"), count(lit(1)).as("k"))
      hist.crossJoin(broadcast(tot))
        .agg(
          first(col("n")).as("n_rows"),
          first(col("k")).as("n_distinct"),
          round(-sum((col("cnt") / col("n")) * log(col("cnt") / col("n"))), 4)
            .as("entropy_nats"))
        .select(lit(c).as("column_name"), col("n_rows"), col("n_distinct"),
          col("entropy_nats"),
          round(col("entropy_nats") / log(col("n_rows")), 4).as("key_score"))
    }
    Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
      .map(leg).reduce(_ unionByName _)
      .orderBy("column_name")
  }

  private def refCodecAdvisor(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.PrefixSum
    val o = Queries.t(s, dir, "orders")
    def audit(valCol: String, label: String): DataFrame = {
      val vals = o.select(col("o_orderkey"), col(valCol).cast("string").as("v"))
      val ranked = PrefixSum.globalRank(vals, Seq("o_orderkey"), "r")
      val a = ranked.select(col("r").as("ra"), col("v").as("va"))
      val b = ranked.select((col("r") - 1).as("ra"), col("v").as("vb"))
      val runs = a.join(b, "ra")
        .agg((sum(when(col("va") =!= col("vb"), 1L).otherwise(0L)) + 1).as("n_runs"))
      val stats = vals.agg(count(lit(1)).as("n"),
        countDistinct("v").as("n_distinct"))
      stats.crossJoin(broadcast(runs))
        .select(lit(label).as("col_name"), col("n"), col("n_distinct"),
          length(bin(col("n_distinct") - 1)).cast("long").as("dict_bits"),
          col("n_runs"),
          round(col("n_runs") / col("n"), 6).as("run_ratio"))
        .withColumn("advice",
          when(col("n_runs") * 10 < col("n"), "rle")
            .when(col("dict_bits") <= 8, "dict")
            .otherwise("plain"))
    }
    audit("o_orderstatus", "orderstatus")
      .unionByName(audit("o_orderpriority", "orderpriority"))
      .unionByName(audit("o_custkey", "custkey"))
      .orderBy("col_name")
  }

  // ---- fixtures --------------------------------------------------------

  /** p_name: duplicates, two nulls, multibyte values; p_brand constant;
    * p_type all null. */
  private def partDir(): String = {
    val dir = tmp("graft_colrep_part_")
    val names = Seq(Some("café"), Some("café"), Some("日本"), None,
      Some("abc"), Some("abc"), Some("abc"), None)
    names.zipWithIndex.map { case (n, i) =>
      (i.toLong + 1, n, "Brand#1", Option.empty[String], 1, 1.0)
    }.toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    dir
  }

  /** Storage order is o_orderkey. o_orderstatus: duplicates, nulls,
    * multibyte; o_orderpriority all null; o_custkey constant. */
  private def ordersDir(rows: Int): String = {
    val dir = tmp("graft_colrep_orders_")
    val status = Seq(Some("é"), Some("é"), None, Some("F"), Some("F"), Some("日本"),
      Some("é"), None, Some("F"), Some("F"))
    val d = java.sql.Date.valueOf("2024-01-01")
    (0 until rows).map { i =>
      (i.toLong + 1, 7L, status(i % status.length), 1.0, d, Option.empty[String])
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    dir
  }

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  // ---- differential ----------------------------------------------------

  test("q237 equals the per-column legs; nulls count as rows, not values; " +
    "length counts characters") {
    val dir = partDir()
    val got = rows(Queries.all("q237_dict_advisor")(spark, dir))
    assert(got == rows(refDictAdvisor(spark, dir)), s"got $got")
    val byCol = got.map(r => r.getString(0) -> r).toMap
    // p_name: 8 rows (2 null), 3 distinct non-null values;
    // raw = 4+4+2+3·3 chars, dict page = 4+2+3, index 8 × 1 byte
    val name = byCol("p_name")
    assert((name.getLong(1), name.getLong(2), name.getLong(3), name.getLong(4)) ==
      ((8L, 3L, 19L, 17L)), s"p_name: $name")
    val brand = byCol("p_brand")
    assert((brand.getLong(1), brand.getLong(2), brand.getLong(3), brand.getLong(4)) ==
      ((8L, 1L, 56L, 15L)), s"p_brand: $brand")
    // all-null column: every row counted, no value, no bytes
    val typ = byCol("p_type")
    assert(typ.getLong(1) == 8L && typ.getLong(2) == 0L && typ.isNullAt(3) &&
      typ.isNullAt(4), s"p_type: $typ")
  }

  test("q247 equals the per-column legs; a null group is one histogram entry") {
    val dir = ordersDir(10)
    val all = rows(Queries.all("q247_column_entropy")(spark, dir))
    assert(all == rows(refColumnEntropy(spark, dir)), s"got $all")
    val got = all.map(r => r.getString(0) -> r).toMap
    assert(got("o_orderstatus").getLong(1) == 10L && got("o_orderstatus").getLong(2) == 4L)
    assert(got("o_orderpriority").getLong(2) == 1L &&
      got("o_orderpriority").getDouble(3) == 0.0)
  }

  test("q292 equals the per-column legs; n counts null rows, n_distinct does not") {
    for (n <- Seq(10, 1)) {
      val dir = ordersDir(n)
      val got = rows(Queries.all("q292_codec_advisor")(spark, dir))
      assert(got == rows(refCodecAdvisor(spark, dir)), s"rows=$n got $got")
    }
    val got = rows(Queries.all("q292_codec_advisor")(spark, ordersDir(10)))
      .map(r => r.getString(0) -> r).toMap
    // é é ∅ F F 日本 é ∅ F F: 10 rows, 3 non-null values; a change
    // counts only between two non-null unequal values (F→日本→é) → 3 runs
    val st = got("orderstatus")
    assert((st.getLong(1), st.getLong(2), st.getLong(4)) == ((10L, 3L, 3L)), s"$st")
    val pr = got("orderpriority")
    assert((pr.getLong(1), pr.getLong(2), pr.getLong(4)) == ((10L, 0L, 1L)), s"$pr")
  }
}
