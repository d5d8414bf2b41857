package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Components, Dedup, SetSimJoin}

/** Adversarial-duplication stress ledger (round-13 verdict ask #1).
  *
  * The ScaleRehearsal corpus is BENIGN — planted twins over a distinct
  * word-salad background — so its linear candidate growth says nothing
  * about the worst case: a corpus where 30-50% of docs sit in a
  * handful of GIANT near-dup clusters (mirror-site floods, boilerplate
  * storms, licence-page spam). LSH band buckets and exact-Jaccard
  * verify are quadratic WITHIN a cluster, so this harness builds that
  * corpus deliberately and measures, per cluster size C:
  *
  *   - q23 family (minhashLshPairs, UNBOUNDED): verified pair count +
  *     wall — expected Θ(C²) per cluster, the blowup;
  *   - the round-13 guard (minhashLshPairsBounded): pair count + wall
  *     — expected Θ(C) per cluster (star emission);
  *   - lshBucketStats: max band-bucket size and the unbounded-vs-
  *     bounded candidate mass the two forms would emit;
  *   - q158 family: connected components over the BOUNDED pairs —
  *     must reassemble exactly the planted clusters (connectivity is
  *     the property the star preserves);
  *   - q336 family (minhashLshPairsCross): eval-vs-train candidates —
  *     expected Θ(|eval| · C), linear in C, because the band join is
  *     asymmetric (this is the decontamination SAFETY property);
  *   - q106 family (PPJoin prefix self-join): candidate + verified
  *     counts — pair OUTPUT is inherently Θ(C²) when the contract is
  *     "emit every pair ≥ θ" (no guard can shrink the true answer);
  *     the ledger records it so the quadratic is a documented
  *     property of pair-emission semantics, with the bounded-star +
  *     components pipeline as the scale path when the downstream
  *     consumer needs CLUSTERS, not pairs.
  *
  * Corpus: sf0.1 documents (5000 distinct word-salad docs) as
  * background + 5 near-dup clusters of C copies each (copy k of seed
  * s replaces token (k mod 40) with a copy-unique token — pairwise
  * trigram-Jaccard ≈ 0.78-0.9, well above the 0.5 threshold, so
  * every in-cluster pair is a TRUE near-dup the verify stage keeps).
  * C sweeps {125, 250, 500, 1000}: at C=1000 the clusters are 50% of
  * the corpus.
  *
  * Usage: sbt "runMain graft.AdversarialStress [baseDir]"
  * Results trend in dev/PERF_LEDGER.md (round-13 section).
  */
object AdversarialStress {

  private def timed[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e9, r)
  }

  /** Embedding analogue of [[corpus]]: background vectors + 5 clusters
    * of C EXACT copies of the first 5 seed vectors. Copies carry
    * NEGATIVE ids (-(seed·100000 + k)) — q371's trick — so the min-id
    * hub of any overflowed hyperplane bucket is always the cluster's
    * own most-negative copy regardless of which background vectors
    * cohabit the (coarse, 2^8-per-table) bucket, making the bounded
    * form's expected output exactly 5·C star pairs at threshold 1.0.
    */
  def embCorpus(s: SparkSession, baseDir: String, c: Int): DataFrame = {
    val base = s.read.parquet(s"$baseDir/embeddings.parquet")
      .select(col("vec_id").as("id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val seeds = base.filter(col("id") < 5)
    val copies = seeds
      .select(col("id"), col("v"),
        explode(sequence(lit(1), lit(c))).as("k"))
      .select((-(col("id") * 100000L + col("k"))).as("id"), col("v"))
    base.unionByName(copies)
      .repartition(s.sparkContext.defaultParallelism)
  }

  /** Background + 5 near-dup clusters of size C. Cluster member ids
    * are 10_000_000 + seed*100_000 + k (disjoint from doc_ids).
    */
  def corpus(s: SparkSession, baseDir: String, c: Int): DataFrame = {
    val docs = s.read.parquet(s"$baseDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val seeds = docs.filter(col("doc_id") < 5)
    val copies = seeds
      .select(col("doc_id"), split(col("text"), "\\s+").as("toks"),
        explode(sequence(lit(0), lit(c - 1))).as("k"))
      .select(
        (lit(10000000L) + col("doc_id") * 100000L + col("k")).as("doc_id"),
        array_join(
          zip_with(col("toks"),
            sequence(lit(0), size(col("toks")) - 1),
            (t, i) => when(i === pmod(col("k"), lit(40)),
              concat(lit("uniq"), col("doc_id"), lit("_"), col("k")))
              .otherwise(t)),
          " ").as("text"))
    docs.unionByName(copies)
      .repartition(s.sparkContext.defaultParallelism)
  }

  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse(Harness.sfDir)
    val spark = Harness.session()
    // Each corpus is staged to parquet, not localCheckpointed: the
    // hygiene between operators unpersists every persistent RDD, and a
    // checkpoint's blocks cannot be recomputed once dropped.
    val stageRoot = java.nio.file.Files.createTempDirectory("graft_adv_").toString
    def staged(df: DataFrame, name: String): DataFrame = {
      df.write.mode("overwrite").parquet(s"$stageRoot/$name")
      spark.read.parquet(s"$stageRoot/$name")
    }

    println(f"${"C"}%6s ${"op"}%-22s ${"rows"}%12s ${"secs"}%8s  note")
    for (c <- Seq(125, 250, 500, 1000)) {
      val df = staged(corpus(spark, baseDir, c), s"docs_$c")

      // --- lshBucketStats: the accounting frame ---
      Harness.hygiene(spark)
      val stats = Dedup.lshBucketStats(df, "doc_id", "text", maxBucket = 64)
        .agg(max(col("n")).as("max_bucket"),
          sum("unbounded_pairs").cast("long").as("ub"),
          sum("bounded_pairs").cast("long").as("b"))
        .collect()(0)
      println(f"$c%6d ${"bucket_stats"}%-22s ${""}%12s ${""}%8s  " +
        s"max_bucket=${stats.get(0)} unbounded_mass=${stats.getLong(1)} bounded_mass=${stats.getLong(2)}")

      // --- q23 family: unbounded pairs (the blowup) ---
      Harness.hygiene(spark)
      val (tU, nU) = timed {
        Dedup.minhashLshPairs(df, "doc_id", "text", threshold = 0.5).count()
      }
      println(f"$c%6d ${"lsh_unbounded"}%-22s $nU%12d $tU%8.2f  pairs ~ 5*C(C,2) expected=${5L * c * (c - 1) / 2}")

      // --- round-13 guard: bounded star ---
      Harness.hygiene(spark)
      val (tB, nB) = timed {
        Dedup.minhashLshPairsBounded(df, "doc_id", "text",
          threshold = 0.5, maxBucket = 64).count()
      }
      println(f"$c%6d ${"lsh_bounded"}%-22s $nB%12d $tB%8.2f  star ~ 5*(C-1) expected=${5L * (c - 1)}")
      // r14 (verdict item 6): the banded-ids persist's live footprint
      // under the duplication corpus — cache rows are (id, band_key)
      // grain, one per doc×band REGARDLESS of bucket skew, so the
      // bytes must track corpus size, never C².
      val si = spark.sparkContext.getRDDStorageInfo
      println(f"$c%6d ${"lsh_bounded_cache"}%-22s ${""}%12s ${""}%8s  " +
        f"mem=${si.map(_.memSize).sum / 1048576.0}%.1fMB disk=${si.map(_.diskSize).sum / 1048576.0}%.1fMB nRdd=${si.length}")

      // --- q158 family: components over bounded pairs ---
      Harness.hygiene(spark)
      val (tC, compSizes) = timed {
        val pairs = Dedup.minhashLshPairsBounded(df, "doc_id", "text",
          threshold = 0.5, maxBucket = 64)
        Components.connectedComponents(pairs, "id_a", "id_b")
          .groupBy("component").count()
          .groupBy("count").count()
          .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
      }
      println(f"$c%6d ${"components_bounded"}%-22s ${compSizes.map(_._2).sum}%12d $tC%8.2f  " +
        s"size->n ${compSizes.mkString(",")} (expect 5 comps of $c)")

      // --- attribution: is any cluster-membership loss the STAR's
      // doing, or plain LSH recall? Same components over the
      // UNBOUNDED pairs; if the histograms match, the guard costs
      // zero connectivity on this corpus and the residual misses are
      // banding recall (shared by both forms).
      Harness.hygiene(spark)
      val compSizesU = {
        val pairs = Dedup.minhashLshPairs(df, "doc_id", "text", threshold = 0.5)
        Components.connectedComponents(pairs, "id_a", "id_b")
          .groupBy("component").count()
          .groupBy("count").count()
          .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
      }
      println(f"$c%6d ${"components_unbounded"}%-22s ${compSizesU.map(_._2).sum}%12d ${""}%8s  " +
        s"size->n ${compSizesU.mkString(",")} (loss attribution vs bounded)")

      // --- q336 family: cross decontamination, |eval|=100 ---
      Harness.hygiene(spark)
      val evalSet = df.filter(
        (col("doc_id") >= 10000000L && pmod(col("doc_id"), lit(100000L)) < 10) ||
          (col("doc_id") >= 100 && col("doc_id") < 150))
        .select((col("doc_id") + 900000000L).as("doc_id"), col("text"))
      val (tX, nX) = timed {
        Dedup.minhashLshPairsCross(evalSet, df, "doc_id", "text",
          threshold = 0.5).count()
      }
      println(f"$c%6d ${"cross_decontam"}%-22s $nX%12d $tX%8.2f  ~ 50*C expected=${50L * c} (linear in C)")

      // --- q106 family: PPJoin prefix self-join ---
      Harness.hygiene(spark)
      val (tP, pp) = timed {
        val sig = df.select(col("doc_id"),
          graft.expr.ShingleExpression.shingleHashes(col("text"), 3).as("sh"))
          .filter(size(col("sh")) >= 1)
        val withPre = SetSimJoin.prefixIndexed(sig, "doc_id", "sh", 0.5)
        val cand = SetSimJoin.prefixCandidates(withPre, 0.5).localCheckpoint(true)
        val nCand = cand.count()
        val nVer = SetSimJoin.verifyCandidates(withPre, cand, 0.5).count()
        (nCand, nVer)
      }
      println(f"$c%6d ${"ppjoin_cand/verified"}%-22s ${pp._1}%12d $tP%8.2f  verified=${pp._2} (pair contract: output itself is Θ(C²))")
    }

    // ===== embedding LSH (q26/q371 family): same adversary, vector
    // modality — 5 clusters of C EXACT vector copies over the sf
    // background. Identical vectors collide in EVERY table, so the
    // unbounded banded join's candidate mass is the full 5·C(C+1,2)
    // all-pairs set; the bounded guard must collapse each cluster to
    // exactly C star pairs (hub = most-negative copy, q371's
    // determinism argument) while components still reassemble the 5
    // clusters of C+1.
    for (c <- Seq(250, 500, 1000, 2000)) {
      val df = staged(embCorpus(spark, baseDir, c), s"emb_$c")

      Harness.hygiene(spark)
      val (tU, nU) = timed {
        Dedup.embeddingPairsLshBanded(df, "id", "v", dim = 64,
          threshold = 1.0).count()
      }
      println(f"$c%6d ${"emb_lsh_unbounded"}%-22s $nU%12d $tU%8.2f  pairs ~ 5*C(C+1,2) expected=${5L * (c + 1) * c / 2}")

      Harness.hygiene(spark)
      val (tB, nB) = timed {
        Dedup.embeddingPairsLshBandedBounded(df, "id", "v", dim = 64,
          threshold = 1.0, maxBucket = 64).count()
      }
      println(f"$c%6d ${"emb_lsh_bounded"}%-22s $nB%12d $tB%8.2f  star ~ 5*C expected=${5L * c}")

      Harness.hygiene(spark)
      val (tC, compSizes) = timed {
        val pairs = Dedup.embeddingPairsLshBandedBounded(df, "id", "v",
          dim = 64, threshold = 1.0, maxBucket = 64)
        Components.connectedComponents(pairs, "id_a", "id_b")
          .groupBy("component").count()
          .groupBy("count").count()
          .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
      }
      println(f"$c%6d ${"emb_components"}%-22s ${compSizes.map(_._2).sum}%12d $tC%8.2f  " +
        s"size->n ${compSizes.mkString(",")} (expect 5 comps of ${c + 1})")
    }
    spark.stop()
  }
}
