package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.GraftExtensions

/** Scale-mechanics demonstrations: (a) bucketing removes the join
  * shuffle (the 100 TB co-location strategy named throughout the
  * Scaladoc); (b) the SparkSessionExtensions function registration
  * makes the native expressions SQL-callable.
  */
class BucketingSpec extends SparkSpec {

  test("bucketed-by-join-key tables sort-merge join with NO Exchange") {
    val orders = spark.read.parquet(s"${sf()}/orders.parquet")
    val lineitem = spark.read.parquet(s"${sf()}/lineitem.parquet")
    orders.write.mode("overwrite")
      .bucketBy(4, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("orders_b")
    lineitem.write.mode("overwrite")
      .bucketBy(4, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("lineitem_b")
    // force a sort-merge join (at real scale neither side broadcasts)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("orders_b")
        .join(spark.table("lineitem_b"), col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderpriority").count()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      // the ONLY exchange allowed is the aggregation's (o_orderpriority);
      // the join keys must be satisfied by bucket layout, shuffle-free
      assert(!plan.contains("Exchange hashpartitioning(o_orderkey")
        && !plan.contains("Exchange hashpartitioning(l_orderkey"),
        s"bucketed join must not shuffle on the join key:\n$plan")
      assert(joined.count() > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS lineitem_b")
  }

  test("date-partitioned layout: a date filter prunes partitions at the scan") {
    val out = Files.createTempDirectory("graft-part").toString
    val ev = graft.sources.Tables.events(spark, sf())
      .withColumn("event_date", to_date(col("ts")))
    ev.write.mode("overwrite").partitionBy("event_date").parquet(out)

    val q = spark.read.parquet(out)
      .filter(col("event_date") === "2024-01-02")
      .groupBy("event_type").count()
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [isnotnull(event_date"),
      s"expected partition filters at the scan:\n$p")
    // pruning must reach the file listing: only one date directory read
    val scanned = q.queryExecution.executedPlan.collectLeaves()
      .head.toString
    assert(!scanned.contains("2024-01-01"),
      s"unpruned partition directories in scan:\n$scanned")
    assert(q.count() > 0)
  }

  test("GraftExtensions makes the native expressions SQL-callable") {
    GraftExtensions.register(spark)
    val d = spark.sql(
      "SELECT graft_dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .collect()(0).getDouble(0)
    assert(d == 11.0)
    val mh = spark.sql(
      "SELECT graft_minhash(array('a b c', 'b c d'), 4) AS sig")
      .collect()(0).getSeq[Long](0)
    assert(mh.length == 4 && mh.forall(v => v >= 0 && v < 2147483647L))
    val tk = spark.sql("SELECT graft_tokens('  Foo  BAR ') AS t")
      .collect()(0).getSeq[String](0)
    assert(tk == Seq("foo", "bar"))
    val sh = spark.sql("SELECT graft_shingle_hashes('a b c d', 2) AS h")
      .collect()(0).getSeq[Long](0)
    assert(sh.length == 3 && sh == sh.sorted)
    val ph = spark.sql("SELECT graft_positional_shingle_hashes('a b a b', 2) AS h")
      .collect()(0).getSeq[Long](0)
    assert(ph.length == 3 && ph(0) == ph(2), "positional keeps order and dups")
    val pt = spark.sql("SELECT graft_pretokens(\"Don't x2!\") AS t")
      .collect()(0).getSeq[String](0)
    assert(pt == Seq("don", "'", "t", "x", "2", "!"))
    val si = spark.sql(
      "SELECT graft_sorted_intersect(array(1L, 3L, 5L), array(3L, 4L, 5L)) AS s")
      .collect()(0).getSeq[Long](0)
    assert(si == Seq(3L, 5L))
    val rms = spark.sql(
      "SELECT graft_pcm_frame_rms(graft_pcm_pack(array(100L, 100L)), 2) AS r")
      .collect()(0).getSeq[Double](0)
    assert(rms == Seq(100.0))
    val lum = spark.sql(
      "SELECT graft_rgb_luma_sum(graft_bytes_pack(array(255L, 255L, 255L))) AS y")
      .collect()(0).getLong(0)
    assert(lum == 255L)
    val hist = spark.sql(
      "SELECT graft_rgb_luma_hist(graft_bytes_pack(array(0L, 0L, 0L)), 8) AS h")
      .collect()(0).getSeq[Long](0)
    assert(hist.toSeq == Seq(1L, 0L, 0L, 0L, 0L, 0L, 0L, 0L))
    val thumb = spark.sql(
      "SELECT graft_rgb_resize(graft_bytes_pack(array(" +
        "10L,10L,10L, 20L,20L,20L, 30L,30L,30L, 40L,40L,40L)), 2, 2, 1, 1) AS t")
      .collect()(0).getAs[Array[Byte]](0)
    assert(thumb.toSeq == Seq[Byte](10, 10, 10))
    val mot = spark.sql(
      "SELECT graft_rgb_motion(graft_bytes_pack(array(1L, 2L, 5L, 2L)), 2) AS m")
      .collect()(0).getSeq[Long](0)
    assert(mot == Seq(4L))
    // the injector itself wires the same list
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext) // must not throw
  }

  test("every GraftExtensions function rejects a wrong arity with its signature") {
    GraftExtensions.register(spark)
    val signatures = Map(
      "graft_dot_product" -> "(array<double>, array<double>)",
      "graft_minhash" -> "(array<string>, numHashes)",
      "graft_jaro_winkler" -> "(string, string)",
      "graft_tokens" -> "(string)",
      "graft_shingle_hashes" -> "(string, n)",
      "graft_pretokens" -> "(string)",
      "graft_positional_shingle_hashes" -> "(string, n)",
      "graft_sorted_intersect" -> "(array<bigint>, array<bigint>)",
      "graft_pcm_pack" -> "(array<bigint>)",
      "graft_pcm_frame_rms" -> "(binary, frameSize)",
      "graft_bytes_pack" -> "(array<bigint>)",
      "graft_rgb_luma_hist" -> "(binary, bins)",
      "graft_rgb_luma_sum" -> "(binary)",
      "graft_rgb_resize" -> "(binary, w1, h1, w2, h2)",
      "graft_rgb_motion" -> "(binary, frameBytes)")
    assert(GraftExtensions.functions.map(_._1.funcName).toSet == signatures.keySet)
    def messages(sql: String): Seq[String] = {
      val e = intercept[Exception](spark.sql(sql).collect())
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .flatMap(t => Option(t.getMessage)).toSeq
    }
    signatures.foreach { case (name, sig) =>
      val arity = sig.count(_ == ',') + 1
      val msgs = messages(s"SELECT $name(${Seq.fill(arity + 1)("1").mkString(", ")})")
      assert(msgs.exists(_.contains(s"$name takes $sig")), s"$name: $msgs")
    }
    assert(messages("SELECT graft_minhash(array('a'), CAST(4 AS BIGINT))")
      .exists(_.contains("graft_minhash numHashes must be an integer literal")))
  }
}
