package graft

import org.apache.spark.sql.functions._

import graft.operators.{Components, Dedup}

/** Adversarial-duplication stress gates (round 13): LSH band buckets
  * and the exact-Jaccard verify are quadratic WITHIN a near-dup
  * cluster, and a corpus where 30-50% of docs sit in a few giant
  * clusters (mirror-site floods, boilerplate storms) is exactly the
  * input a 100 TB dedup run will eventually meet. These tests pin the
  * bounded-bucket guard ([[Dedup.minhashLshPairsBounded]]):
  *
  *  - candidate/pair emission LINEAR in cluster size above the cap
  *    (exact star formula on exact-dup clusters);
  *  - CONNECTIVITY preserved — connected components over the bounded
  *    pairs reassemble every planted cluster exactly, same as the
  *    unbounded all-pairs form;
  *  - the unbounded form really is quadratic on the same corpus
  *    (the measured blowup the guard exists for), via
  *    [[Dedup.lshBucketStats]]'s accounting columns.
  */
class AdversarialDedupSpec extends SparkSpec {
  import spark.implicits._

  /** A paragraph of distinct word-salad per seed (deterministic). */
  private def salad(seed: Int): String =
    (0 until 40).map(i => s"w${graft.expr.Splitmix.mix64(seed * 1000L + i) % 100000}")
      .mkString(" ")

  /** Corpus: `nClusters` exact-duplicate clusters of `clusterSize`
    * docs each, plus `nBackground` distinct docs. Cluster c's member k
    * has id c*100000 + k; background ids start at 50_000_000.
    */
  private def adversarial(nClusters: Int, clusterSize: Int, nBackground: Int) = {
    val clustered = for {
      c <- 0 until nClusters
      k <- 0 until clusterSize
    } yield (c * 100000L + k, salad(c))
    val background = (0 until nBackground)
      .map(b => (50000000L + b, salad(1000 + b)))
    (clustered ++ background).toDF("doc_id", "text")
  }

  test("bounded LSH: star emission is exactly linear in cluster size above the cap") {
    // 3 clusters of 40 on 60 background docs — 2/3 of the corpus is dups.
    val df = adversarial(nClusters = 3, clusterSize = 40, nBackground = 60)
    val pairs = Dedup.minhashLshPairsBounded(df, "doc_id", "text",
      threshold = 1.0, maxBucket = 8).collect()
    // Every bucket of a 40-doc exact cluster has 40 members > 8 → star:
    // exactly (size-1) pairs per cluster, hub = min id.
    assert(pairs.length == 3 * 39, s"expected 117 star pairs, got ${pairs.length}")
    val byHub = pairs.groupBy(_.getLong(0))
    assert(byHub.keySet == Set(0L, 100000L, 200000L), "hub must be each cluster's min id")
    assert(byHub.values.forall(_.length == 39))
    assert(pairs.forall(_.getDouble(2) == 1.0))
    spark.catalog.clearCache()
  }

  test("bounded LSH: clusters at or below the cap keep classic all-pairs") {
    val df = adversarial(nClusters = 2, clusterSize = 5, nBackground = 40)
    val pairs = Dedup.minhashLshPairsBounded(df, "doc_id", "text",
      threshold = 1.0, maxBucket = 8).collect()
    assert(pairs.length == 2 * 10, s"expected C(5,2) per cluster, got ${pairs.length}")
    spark.catalog.clearCache()
  }

  test("connectivity: components over bounded pairs == components over unbounded pairs") {
    val df = adversarial(nClusters = 4, clusterSize = 25, nBackground = 50)
    def comps(pairs: org.apache.spark.sql.DataFrame) =
      Components.connectedComponents(pairs, "id_a", "id_b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bounded = comps(Dedup.minhashLshPairsBounded(df, "doc_id", "text",
      threshold = 1.0, maxBucket = 8))
    val unbounded = comps(Dedup.minhashLshPairs(df, "doc_id", "text",
      threshold = 1.0))
    assert(bounded == unbounded,
      "star edges must reassemble exactly the clusters all-pairs edges do")
    // and the clusters themselves are correct: every member maps to hub
    (0 until 4).foreach { c =>
      (0 until 25).foreach { k =>
        assert(bounded(c * 100000L + k) == c * 100000L,
          s"cluster $c member $k must land in the hub component")
      }
    }
    spark.catalog.clearCache()
  }

  test("embedding LSH guard: giant identical-vector cluster stars to the min-id hub") {
    // 1 cluster of 30 exact-duplicate vectors (ids 0..29) + 60 distinct
    // background vectors (ids 1000+): every hyperplane bucket holding
    // the cluster has >= 30 members > cap 8, so the only planted
    // emissions are star pairs (0, k); background cohabitants die at
    // the threshold (deterministic splitmix vectors, cosine << 1).
    val dim = 16
    def vec(seed: Int): Seq[Double] =
      (0 until dim).map(i =>
        (java.lang.Math.floorMod(graft.expr.Splitmix.mix64(seed * 977L + i), 2001L)
          - 1000L).toDouble / 1000.0)
    val cluster = (0 until 30).map(k => (k.toLong, vec(42)))
    val background = (0 until 60).map(b => (1000L + b, vec(100 + b)))
    val df = (cluster ++ background).toDF("id", "v")
    val pairs = operators.Dedup.embeddingPairsLshBandedBounded(
      df, "id", "v", dim = dim, threshold = 1.0, maxBucket = 8).collect()
    assert(pairs.length == 29, s"expected 29 star pairs, got ${pairs.length}")
    assert(pairs.forall(r => r.getLong(0) == 0L && r.getDouble(2) == 1.0))
    assert(pairs.map(_.getLong(1)).toSet == (1L to 29L).toSet)
    spark.catalog.clearCache()
  }

  test("accounting: unbounded pair mass is quadratic in cluster size, bounded is linear") {
    def mass(clusterSize: Int): (Long, Long) = {
      val df = adversarial(nClusters = 2, clusterSize = clusterSize, nBackground = 30)
      val stats = Dedup.lshBucketStats(df, "doc_id", "text", maxBucket = 8)
        .agg(sum("unbounded_pairs").cast("long"), sum("bounded_pairs").cast("long"))
        .collect()(0)
      (stats.getLong(0), stats.getLong(1))
    }
    val (u1, b1) = mass(20)
    val (u2, b2) = mass(80) // 4x the cluster size
    // Unbounded: 8 bands x C(n,2) per cluster → ~16x growth at 4x size.
    assert(u2.toDouble / u1 > 10.0, s"unbounded should grow ~16x, got $u1 -> $u2")
    // Bounded: 8 bands x (n-1) per cluster → ~4x growth (pre-dedup star).
    assert(b2.toDouble / b1 < 6.0, s"bounded should grow ~4x, got $b1 -> $b2")
    spark.catalog.clearCache()
  }

  test("bounded LSH: an exact-dup cluster whose bucket hub is only a near-dup keeps its pairs") {
    // Doc 1 is `base`; docs 10..29 are 20 copies of `base + " dup"` —
    // one extra shingle, so Jaccard < 1 to doc 1 yet (checked below)
    // the same 8 band keys. Every bucket of the cluster has 21 members
    // > 8 with doc 1 as its min-id hub, and a star to doc 1 alone
    // would lose every threshold-1.0 pair of the copies.
    val base = (0 until 20).map(k => salad(500 + k)).mkString(" ")
    val planted = (1L, base) +: (10L until 30L).map(id => (id, base + " dup"))
    val df = planted.toDF("doc_id", "text").unionByName(adversarial(0, 0, 30))
    val keys = Seq(base, base + " dup").toDF("text")
      .select(graft.functions.TextFunctions.lshBandKeys(
        graft.expr.MinHashExpression.minhashHashed(
          graft.expr.ShingleExpression.shingleHashes(col("text"), 3), 32), 8, 4))
      .collect().map(_.getSeq[Long](0))
    assert(keys(0) == keys(1), "precondition: the near-dup shares all 8 band keys")
    val pairs = Dedup.minhashLshPairsBounded(df, "doc_id", "text",
      threshold = 1.0, maxBucket = 8).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet ==
      (11L until 30L).map(10L -> _).toSet,
      "the copies must star to their own class's min id, not to the near-dup hub")
    assert(pairs.forall(_.getDouble(2) == 1.0))
    spark.catalog.clearCache()
  }

  test("emission rules agree: bounded above every bucket size and the cross join equal the self-join") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val docs = spark.read.parquet(s"${sf("sf0.01")}/documents.parquet").select("doc_id", "text")
    val cap = docs.count().toInt + 1
    val self = rows(Dedup.minhashLshPairs(docs, "doc_id", "text", bands = 16))
    assert(self.nonEmpty, "fixture must produce pairs or the differential is vacuous")
    assert(rows(Dedup.minhashLshPairsBounded(docs, "doc_id", "text", bands = 16,
      maxBucket = cap)) == self)
    assert(rows(Dedup.minhashLshPairsCross(docs, docs, "doc_id", "text", bands = 16)
      .filter(col("id_l") < col("id_r"))) == self)
    // Vectors: q26's planted twins over the first 300 fixture embeddings.
    val base = spark.read.parquet(s"${sf("sf0.01")}/embeddings.parquet")
      .filter(col("vec_id") < 300)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    val twins = base.select((col("vec_id") + 100000).as("vec_id"),
      zip_with(col("v"), sequence(lit(0), lit(63)), (x, j) =>
        x + lit(0.015) * ((col("vec_id") * 31 + j.cast("long") * 7) % 5 - 2)
          .cast("double")).as("v"))
    val vecs = base.unionByName(twins)
    val banded = rows(Dedup.embeddingPairsLshBanded(vecs, "vec_id", "v", dim = 64,
      threshold = 0.95))
    assert(banded.nonEmpty, "construction must plant near-dup pairs")
    assert(rows(Dedup.embeddingPairsLshBandedBounded(vecs, "vec_id", "v", dim = 64,
      threshold = 0.95, maxBucket = 601)) == banded)
    spark.catalog.clearCache()
  }
}
