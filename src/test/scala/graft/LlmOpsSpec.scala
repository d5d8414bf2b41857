package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{Dedup, Multimodal}

/** Construction-based ground-truth tests for the LLM-pipeline operators
  * (SURVEY §2.4 E19-E21 + the north-star dedup/similarity/multimodal
  * surface): planted near-duplicates must be found, planted distinct
  * docs must not be.
  */
class LlmOpsSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog near the riverbank " +
    "while autumn leaves drift slowly across the quiet water in the morning light"
  private val nearDup = base.replace("quick", "swift") // one-token edit
  private val distinct1 = "completely different content about database systems and " +
    "distributed query execution engines with columnar storage formats"
  private val distinct2 = "astronomy observations of distant galaxies reveal patterns " +
    "in cosmic microwave background radiation measurements"

  private def docsDF = Seq(
    (0L, base), (1L, nearDup), (2L, distinct1), (3L, distinct2), (4L, base))
    .toDF("doc_id", "text")

  test("exact dedup: identical texts collapse to min id, hash collisions impossible by construction") {
    val out = Dedup.exact(docsDF, "doc_id", "text").orderBy("keep_id").collect()
    assert(out.length == 4)
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((0L, 2L), (1L, 1L), (2L, 1L), (3L, 1L))) // doc 4 absorbed into doc 0
  }

  test("minhash-LSH finds the planted near-dup pair and the exact dup, not the distinct docs") {
    val pairs = Dedup.minhashLshPairs(docsDF, "doc_id", "text",
      shingleSize = 3, numHashes = 32, bands = 8, threshold = 0.5)
      .orderBy("id_a", "id_b").collect()
    val keys = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(keys.contains((0L, 4L)), "exact duplicate must be a candidate pair")
    assert(keys.contains((0L, 1L)), "one-token-edit near-dup must survive LSH + jaccard>=0.5")
    assert(!keys.exists(p => p._1 == 2L || p._2 == 2L || p._1 == 3L || p._2 == 3L),
      "distinct docs must not pair")
    val exactPair = pairs.find(r => r.getLong(0) == 0L && r.getLong(1) == 4L).get
    assert(exactPair.getDouble(2) == 1.0)
  }

  test("simhash: identical docs hamming 0, near-dup small, distinct docs far") {
    val fps = docsDF.select(col("doc_id"),
      TextFunctions.simhash64(TextFunctions.tokens(col("text"))).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(0L) == fps(4L))
    assert(java.lang.Long.bitCount(fps(0L) ^ fps(1L)) <= 8)
    assert(java.lang.Long.bitCount(fps(0L) ^ fps(2L)) > 8)
    val pairs = Dedup.simhashPairs(docsDF, "doc_id", "text", maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 4L)))
  }

  test("winnowing fingerprints: shared content overlaps, distinct content doesn't") {
    val fp = docsDF.select(col("doc_id"),
      TextFunctions.fingerprints(col("text"), k = 5, window = 4).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert(fp(0L) == fp(4L))
    val overlapNear = fp(0L).intersect(fp(1L)).size.toDouble / fp(0L).union(fp(1L)).size
    val overlapFar = fp(0L).intersect(fp(2L)).size.toDouble / fp(0L).union(fp(2L)).size
    assert(overlapNear > 0.5 && overlapFar < 0.1)
  }

  test("language id picks the profile language; und for no stopwords") {
    val df = Seq(
      (1L, "the cat and the dog went to the market in the morning"),
      (2L, "der hund und die katze sind nicht mit dem auto zu hause"),
      (3L, "le chat est dans la maison et les oiseaux pour une fois"),
      (4L, "el perro y el gato es una historia para los amigos"),
      (5L, "zzz qqq xxx www")).toDF("id", "text")
    val out = df.select(col("id"),
      TextFunctions.languageId(TextFunctions.tokens(col("text"))).as("lang"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "en", 2L -> "de", 3L -> "fr", 4L -> "es", 5L -> "und"))
  }

  test("embedding near-dup: LSH buckets achieve full recall vs exact at high threshold") {
    val dim = 8
    // 3 clusters of 2 near-identical one-hot vectors (cosine ≈ 0.99995
    // within a cluster, ≈ 0 across) + 2 lone orthogonal vectors.
    def vec(axis: Int, jitter: Float): Seq[Float] =
      (0 until dim).map(j =>
        if (j == axis) 1f else if (j == axis + 1) jitter else 0f)
    val emb = Seq(
      (0L, vec(0, 0f)), (1L, vec(0, 0.01f)),
      (2L, vec(2, 0f)), (3L, vec(2, 0.01f)),
      (4L, vec(4, 0f)), (5L, vec(4, 0.01f)),
      (6L, vec(6, 0f)), (7L, vec(7, 0f)))
      .toDF("vec_id", "embedding")
    val exact = Dedup.embeddingPairsExact(emb, "vec_id", "embedding", 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact == Set((0L, 1L), (2L, 3L), (4L, 5L)))
    val lsh = Dedup.embeddingPairsLshBanded(emb, "vec_id", "embedding", dim, 0.999, numPlanes = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact, "near-identical vectors share all hyperplane signs → full recall")
    spark.catalog.clearCache()
  }

  test("blocked exact pairs ≡ naive crossJoin exact pairs (the q25 bench form)") {
    // Real fixture data so the differential exercises arbitrary block
    // assignments, cross-block AND diagonal-cell pairs, at a threshold
    // low enough to produce many pairs. Several block counts, including
    // B larger than some blocks' population.
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .filter(col("vec_id") < 300)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val naive = pairSet(Dedup.embeddingPairsExact(emb, "vec_id", "embedding", 0.3))
    assert(naive.nonEmpty, "fixture must produce pairs or the differential is vacuous")
    for (b <- Seq(1, 4, 16, 64)) {
      val blocked = pairSet(
        Dedup.embeddingPairsExactBlocked(emb, "vec_id", "embedding", 0.3, blocks = b))
      assert(blocked == naive, s"blocked(B=$b) diverged from naive all-pairs")
    }
  }

  test("multimodal: featurize runs partition-parallel with deterministic fake codec") {
    val media = Multimodal.syntheticMedia(spark, s"${sf()}/documents.parquet")
    val feats = Multimodal.featurize(media.repartition(4), Multimodal.FakeCodec)
    val rows = feats.collect()
    assert(rows.length == media.count().toInt)
    val r0 = rows.find(_.media_id == 0L).get
    assert(r0.n_bytes > 0 && r0.feature.length == Multimodal.FeatureDim)
    assert(math.abs(r0.feature.sum - 1.0f) < 1e-3, "histogram features L1-normalized")
    // determinism across partitionings
    val again = Multimodal.featurize(media.repartition(2), Multimodal.FakeCodec)
      .filter(_.media_id == 0L).collect()(0)
    assert(again.byte_mean == r0.byte_mean && again.byte_entropy == r0.byte_entropy)
  }

  test("multimodal: batched featurize chunks the partition iterator and matches row-at-a-time") {
    val media = Multimodal.syntheticMedia(spark, s"${sf()}/documents.parquet")
    val single = Multimodal.featurize(media.repartition(3), Multimodal.FakeCodec)
      .collect().map(f => f.media_id -> f.byte_mean).toMap
    val batched = Multimodal.featurizeBatched(media.repartition(3), Multimodal.FakeCodec, batchSize = 7)
      .collect().map(f => f.media_id -> f.byte_mean).toMap
    assert(batched == single)
  }

  test("multimodal: frame sampling explodes video rows only, executor-side") {
    val media = Multimodal.syntheticMedia(spark, s"${sf()}/documents.parquet")
    val frames = Multimodal.sampleFrames(media, everyMs = 500)
    val kinds = media.collect().map(m => m.media_id -> m).toMap
    val byId = frames.groupBy("media_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    byId.keys.foreach(id => assert(kinds(id).kind == "video"))
    val sample = byId.keys.head
    assert(byId(sample) == kinds(sample).duration_ms / 500 + 1)
  }

  test("token counts and quality columns are sane on a known sentence") {
    val df = Seq((1L, "The quick brown fox, it jumps over 42 lazy dogs!")).toDF("id", "text")
    val tc = df.select(TextFunctions.tokenCounts(col("text")): _*).collect()(0)
    assert(tc.getInt(0) == 10) // ws tokens
    assert(tc.getInt(2) == 10) // alnum tokens
    val q = df.select(TextFunctions.qualityColumns(col("text")): _*).collect()(0)
    assert(q.getInt(0) == 10 && q.getInt(4) == 1)
  }
}
