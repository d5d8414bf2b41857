package graft

import org.apache.spark.sql.functions._

/** Round-12 additions: the q368 DEFLATE contract twin, the typed
  * AQE-final PlanShape profiler (the ScaleRehearsal shape fix), the
  * streaming-drain telemetry capture, and the rotation invariant the
  * 10x corpus derivation depends on.
  */
class Round14OpsSpec extends SparkSpec {
  import spark.implicits._

  test("deflateLen: edge cases, ratio consistency, expansion bound, " +
      "doubling strictly beats 2x") {
    import graft.functions.CompressionScore
    val prose = "the quick brown fox jumps over a lazy dog while seventeen " +
      "violinists argue about parquet footers in a crowded cafe"
    // Incompressible-ish: seeded-uniform printable bytes (arithmetic
    // sequences mod 94 all have period <= 94 and deflate to half size
    // — two drafts of this test learned that).
    val rnd = new scala.util.Random(42)
    val rand = Array.fill(200)((rnd.nextInt(94) + 33).toChar).mkString
    val df = Seq((1L, prose), (2L, rand), (3L, ""), (4L, null.asInstanceOf[String]))
      .toDF("id", "text")
      .select(col("id"),
        octet_length(col("text")).cast("long").as("raw"),
        CompressionScore.deflateLen(col("text")).as("z"),
        CompressionScore.deflateLen(concat(col("text"), lit(" "), col("text")))
          .as("z2x"),
        CompressionScore.ratio(col("text")).as("r"))
    val rows = df.collect().map(r => r.getLong(0) -> r).toMap
    assert(rows(4L).isNullAt(2), "null text -> null length")
    val empty = rows(3L).getLong(2)
    assert(empty > 0 && empty <= 16, s"'' must cost only the zlib wrapper, got $empty")
    for (id <- Seq(1L, 2L)) {
      val (raw, z, z2x, r) =
        (rows(id).getLong(1), rows(id).getLong(2), rows(id).getLong(3),
          rows(id).getDouble(4))
      assert(z > 0 && z <= raw + 16, s"id=$id bound violated: z=$z raw=$raw")
      // deflateRatio and deflateLen must agree exactly (shared core).
      assert(r == z.toDouble / raw, s"id=$id ratio/len diverged")
      assert(z2x < 2 * z, s"id=$id doubling must beat 2x: z2x=$z2x z=$z")
    }
    // Compressible text really compresses; random text really doesn't.
    assert(rows(1L).getLong(2) < rows(1L).getLong(1),
      "prose must compress below raw")
    // Entropy coding alone still shaves printable-ASCII text (~6.6
    // bits/char), so "barely compresses" is ratio > 3/4 — the contrast
    // with prose (< 1) is the ordering that matters.
    assert(rows(2L).getLong(2) > rows(2L).getLong(1) * 3 / 4,
      "structureless text must not compress much")
    assert(rows(2L).getLong(2).toDouble / rows(2L).getLong(1) >
      rows(1L).getLong(2).toDouble / rows(1L).getLong(1),
      "prose must compress better than structureless text")
  }

  test("PlanShape.counts separates broadcast from shuffle exchanges " +
      "and reads the AQE-final plan") {
    val fact = spark.range(0, 1000).toDF("k")
      .withColumn("v", col("k") % 7)
    val dim = spark.range(0, 10).toDF("k").withColumn("name", col("k") * 2)
    val df = fact.join(broadcast(dim), "k").groupBy("v").count()
    val c = PlanShape.executedCounts(df)
    assert(c("BroadcastHashJoin") == 1, s"expected 1 BHJ: $c")
    assert(c("BroadcastExchange") == 1, s"expected 1 broadcast exchange: $c")
    // The substring bug this replaces counted BroadcastExchange in the
    // "Exchange" total; typed counting must see ONLY the groupBy
    // shuffle here.
    assert(c("ShuffleExchange") == 1, s"expected exactly 1 shuffle: $c")
    assert(c("CartesianProduct") == 0 && c("BroadcastNestedLoopJoin") == 0)
  }

  test("PlanShape.captureStream records micro-batch shape and state totals") {
    import org.apache.spark.sql.streaming.Trigger
    val src = java.nio.file.Files.createTempDirectory("ps_cap_src_").toString
    spark.range(0, 100).toDF("id").withColumn("g", col("id") % 5)
      .write.mode("overwrite").parquet(src)
    val q = spark.readStream
      .schema(spark.read.parquet(src).schema).parquet(src)
      .groupBy("g").count()
      .writeStream.format("noop")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ps_cap_ckpt_").toString)
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    PlanShape.captureStream("spec_cap", q)
    val info = PlanShape.lastStreamRun("spec_cap")
      .getOrElse(fail("no telemetry captured"))
    assert(info.stateRows == 5, s"5 group keys in state, got ${info.stateRows}")
    assert(info.stateBytes > 0)
    // The stateful agg's micro-batch plan shuffles on the group key.
    assert(info.shape.getOrElse("ShuffleExchange", 0) >= 1,
      s"micro-batch plan shape missing the state shuffle: ${info.shape}")
    // Every reported micro-batch's phase durations are kept, in order.
    assert(info.batchDurationsMs.size == q.recentProgress.length)
    assert(info.batchDurationsMs.nonEmpty && info.batchDurationsMs.forall(d =>
      d.get("triggerExecution").exists(_ >= 0L)),
      s"per-batch durations missing: ${info.batchDurationsMs}")
    assert(info.batchDurationsMs.exists(_.contains("addBatch")))
  }

  test("PlanAudit.row: a broadcast join is no shuffle; only a global window is flagged") {
    import org.apache.spark.sql.expressions.Window
    val fact = spark.range(0, 1000).toDF("k")
    val dim = spark.range(0, 10).toDF("k").withColumn("name", col("k") * 2)
    val bhj = PlanAudit.row("bhj",
      fact.join(broadcast(dim), "k").queryExecution.executedPlan)
    assert(bhj.shape("ShuffleExchange") == 0, s"broadcast counted as a shuffle: ${bhj.shape}")
    assert(bhj.shape("BroadcastExchange") == 1 && bhj.shape("BroadcastHashJoin") == 1)
    assert(bhj.flags.isEmpty && bhj.windows == 0)

    val ranked = spark.range(0, 100).toDF("id")
    val global = PlanAudit.row("global", ranked
      .withColumn("r", row_number().over(Window.orderBy("id"))).queryExecution.executedPlan)
    assert(global.windows == 1 && global.flags == Seq("GlobalWindow(1)"), global.line)
    val partitioned = PlanAudit.row("partitioned", ranked
      .withColumn("r", row_number().over(Window.partitionBy(col("id") % 3).orderBy("id")))
      .queryExecution.executedPlan)
    assert(partitioned.windows == 1 && partitioned.flags.isEmpty, partitioned.line)
  }

  test("ScaleRehearsal.rotateText: mixed-case/numeric copies share zero shingles") {
    import graft.functions.TextFunctions
    // Uppercase + digits — exactly the content the pre-fix rotation
    // passed through unchanged, silently sharing shingles across copies.
    val text = "The Quick BROWN fox 99 jumps OVER 42 lazy dogs 7 times TODAY"
    val df = Seq(text).toDF("text").select(
      TextFunctions.wordShingles(TextFunctions.tokens(
        ScaleRehearsal.rotateText(col("text"), 0)), 2).as("s0"),
      TextFunctions.wordShingles(TextFunctions.tokens(
        ScaleRehearsal.rotateText(col("text"), 3)), 2).as("s3"))
    val r = df.select(size(col("s0")).as("n0"),
      size(array_intersect(col("s0"), col("s3"))).as("shared")).collect()(0)
    assert(r.getInt(0) > 0, "rotation must preserve token structure")
    assert(r.getInt(1) == 0,
      s"copies must share ZERO shingles, got ${r.getInt(1)}")
    // And rotation is a bijection on the rotated alphabet: token
    // counts/lengths are preserved (same workload, different content).
    val counts = Seq(text).toDF("text").select(
      size(TextFunctions.tokens(ScaleRehearsal.rotateText(col("text"), 0))),
      size(TextFunctions.tokens(ScaleRehearsal.rotateText(col("text"), 3))))
      .collect()(0)
    assert(counts.getInt(0) == counts.getInt(1))
  }

  test("q368 flags hold on sf0.001 and the frame is source-grain") {
    val out = Queries.all("q368_compress_contract")(spark, sf()).collect()
    assert(out.length == 20, s"20 sources, got ${out.length}")
    assert(out.forall(r => r.getBoolean(3) && r.getBoolean(4) && r.getBoolean(5)),
      "every contract flag must hold on the real corpus")
  }

  test("sortedIntersectCount == size(array_intersect) on sorted distinct " +
      "longs; jaccardSortedLongs == jaccard on real shingle hashes") {
    import graft.expr.SortedIntersectExpression.sortedIntersectCount
    // Hand cases: disjoint, nested, partial, empty sides.
    val cases = Seq(
      (Seq(1L, 3L, 5L), Seq(2L, 4L, 6L)),
      (Seq(1L, 2L, 3L, 4L), Seq(2L, 4L)),
      (Seq(-5L, 0L, 7L, 9L), Seq(-5L, 9L, 11L)),
      (Seq.empty[Long], Seq(1L, 2L)),
      (Seq.empty[Long], Seq.empty[Long]))
    val df = cases.toDF("a", "b")
      .select(sortedIntersectCount(col("a"), col("b")).as("got"),
        size(array_intersect(col("a"), col("b"))).cast("long").as("want"))
    df.collect().foreach(r => assert(r.getLong(0) == r.getLong(1), r.toString))
    // Differential over the real corpus: the verify stage's sorted
    // jaccard must equal the generic form on every near-dup pair
    // grain (shingleHashes output is sorted+distinct by contract).
    import graft.functions.TextFunctions
    val sh = Queries.tWide(spark, sf(), "documents")
      .select(col("doc_id"),
        graft.expr.ShingleExpression.shingleHashes(col("text"), 3).as("sh"))
      .filter(size(col("sh")) >= 1).limit(40)
    val pairs = sh.toDF("ia", "sa").crossJoin(sh.toDF("ib", "sb"))
      .filter(col("ia") < col("ib"))
      .select(
        TextFunctions.jaccardSortedLongs(col("sa"), col("sb")).as("got"),
        TextFunctions.jaccard(col("sa"), col("sb")).as("want"))
      .collect()
    assert(pairs.nonEmpty)
    pairs.foreach(r => assert(r.getDouble(0) == r.getDouble(1), r.toString))
  }
}
