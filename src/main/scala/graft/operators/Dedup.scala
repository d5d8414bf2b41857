package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.CacheRegistry.TrackedPersist
import graft.expr.MinHashExpression.minhashHashed
import graft.expr.ShingleExpression.shingleHashes
import graft.expr.VectorExpressions.{dot, lshBucketKeys}

import graft.functions.TextFunctions._

/** Near-duplicate detection operators for LLM training-data curation
  * (BASELINE.json north star). Three families, all shuffle-frugal:
  *
  *  - MinHash + LSH banding: O(n) signature pass, shuffle keyed by
  *    8-byte band-bucket hashes (never by document bodies), candidate
  *    pairs only within buckets, exact-Jaccard re-rank. The standard
  *    100 TB-scale text dedup (Broder resemblance + banding).
  *  - SimHash: one 64-bit fingerprint per doc; near-dups = small
  *    Hamming distance, candidates via fingerprint prefix buckets.
  *  - Embedding cosine: exact threshold join (quadratic, for
  *    verification) and a banded random-hyperplane LSH variant (the
  *    scale path).
  *
  * Both LSH families run one pipeline: a band builder per family
  * (shingle hashes → MinHash bands, or normalized vectors → hyperplane
  * sign buckets) into one candidate builder and one verify step. All
  * candidate-pair joins key on `id_a < id_b` so each pair appears
  * exactly once.
  *
  * CALLER RELEASES THE CACHE: the LSH pair functions persist their
  * band index and payload lazily through [[graft.CacheRegistry]].
  * After materializing the result, call `CacheRegistry.releaseAll()`
  * (or clear the session's cache) — long sessions (notebooks,
  * services) that call them repeatedly without releasing accumulate
  * cached corpora in the block manager. Bench/Verify release per query.
  */
object Dedup {

  /** Exact dedup keyed by a 128-bit content hash (xxhash64 of the text
    * plus xxhash64 of (text, const) — two decorrelated 64-bit
    * functions): keeps the min-id doc per distinct `textCol`,
    * counts the duplicates it absorbs. The shuffle carries ONLY
    * (h1, h2, id) — 24 bytes/row, never the document body — which is
    * what makes this viable at 100 TB. 128 bits ⇒ collision
    * probability ~n²/2¹²⁹ (≪ 10⁻¹⁸ even at a trillion docs). Grouping
    * by the text itself (see q06's oracle form) is the exact-equality
    * alternative when bodies are small enough to shuffle.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol),
      xxhash64(col(textCol)).as("__h1"),
      xxhash64(col(textCol), lit(7)).as("__h2"))
      .groupBy(col("__h1"), col("__h2"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "n_copies")

  /** One side of an LSH pair join: the persisted payload per id (its
    * `value` column — shingle hashes or the normalized vector) and the
    * persisted (id, band_key) index built from it. `score` names the
    * verified similarity and `fn` computes it from two payloads.
    */
  private final case class Bands(payload: DataFrame, keys: DataFrame,
      value: String, score: String, fn: (Column, Column) => Column)

  /** (id, hs): the sorted distinct shingle HASHES of each text in one
    * codegen expression (graft.expr.ShingleHashes). Empty ⟺ fewer than
    * `shingleSize` tokens.
    */
  private def shingled(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int): DataFrame =
    df.select(col(idCol).as("id"), shingleHashes(col(textCol), shingleSize).as("hs"))

  /** (id, band_key): one row per band of each doc's MinHash signature.
    * The signature is computed from the hashes directly — MinHashSignature's
    * own first step is xxhash64 of each shingle string, so MinHashFromHashes
    * computes the identical signature without materializing the strings.
    */
  private def bandKeys(hashed: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    hashed
      .withColumn("sig", minhashHashed(col("hs"), numHashes))
      .select(col("id"), explode(lshBandKeys(col("sig"), bands, numHashes / bands)).as("band_key"))
  }

  /** The text band index. Both frames persist (lazily, so plan-only
    * callers run no job; MEMORY_AND_DISK spills rather than OOMs):
    *  - the shingle hashes feed the signature build and both verify
    *    joins — without the cache each consumer re-tokenizes the corpus
    *    (the r3 q53 regression). The cache sits BELOW the non-empty
    *    filter (r13): with the filter inside the cached subtree,
    *    pushdown inlined shingle_hashes into the filter condition and
    *    the cache build evaluated it twice per row;
    *  - the band keys feed every consumer of the candidate builder —
    *    without the cache each re-runs the MinHash signature over every
    *    doc (the dominant map CPU); 16 B/row · bands, orders smaller
    *    than the shingle frame.
    */
  private def textBands(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, numHashes: Int, bands: Int): Bands = {
    val hashed = shingled(df, idCol, textCol, shingleSize).persistTracked()
      .filter(size(col("hs")) >= 1)
    Bands(hashed, bandKeys(hashed, numHashes, bands).persistTracked(),
      "hs", "jaccard", jaccardSortedLongs)
  }

  /** Candidate pairs (id_a < id_b) from a band index, deduped across
    * bands BEFORE the verify step, so each pair is scored exactly once
    * (a pair colliding in k bands would otherwise score k times).
    * Candidates-first: the band self-join carries ONLY (band_key, id) —
    * 16 bytes/row, never payloads — which at 100 TB is the difference
    * between shuffling O(n · bands · |payload|) and O(n · bands · 16)
    * bytes.
    *
    * With `maxBucket`, a bucket of more than `maxBucket` members emits a
    * STAR (semantics: [[minhashLshPairsBounded]]): each member pairs
    * with the smallest id of its exact-content class (`xxhash64` of the
    * payload), each class's smallest id with the bucket's min-id hub.
    * Equal payloads have equal band keys, so a class sits whole in
    * every bucket holding one of its members and its smallest id is
    * found once per corpus. Cost: one groupBy on the band key (size +
    * hub) and one on the content hash (class min), each joined back on
    * its key — equi-joins AQE can skew-split, never a single-task
    * window buffer.
    */
  private def candidates(b: Bands, maxBucket: Option[Int]): DataFrame = {
    def allPairs(keys: DataFrame) = keys.select(col("band_key"), col("id").as("id_a"))
      .join(keys.select(col("band_key"), col("id").as("id_b")), Seq("band_key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    val cand = maxBucket match {
      case None => allPairs(b.keys)
      case Some(cap) =>
        require(cap >= 2, "maxBucket must allow at least one pair")
        val stats = b.keys.groupBy("band_key")
          .agg(count(lit(1)).as("__n"), min(col("id")).as("__hub"))
        val tagged = b.keys.join(stats, Seq("band_key"))
        val content = b.payload.select(col("id"), xxhash64(col(b.value)).as("__c"))
        val firsts = content
          .join(content.groupBy("__c").agg(min(col("id")).as("__first")), Seq("__c"))
        val star = tagged.filter(col("__n") > cap).join(firsts, Seq("id"))
          .select(when(col("id") === col("__first"), col("__hub"))
            .otherwise(col("__first")).as("id_a"), col("id").as("id_b"))
          .filter(col("id_a") =!= col("id_b"))
        allPairs(tagged.filter(col("__n") <= cap).select(col("band_key"), col("id")))
          .unionByName(star)
    }
    cand.dropDuplicates("id_a", "id_b")
  }

  /** Scores each candidate pair: attaches each side's payload by two
    * id-keyed joins of the (small) candidate set, rounds the score to 4
    * places and keeps pairs at or above `threshold`. The id columns are
    * the candidate frame's own (id_a, id_b or id_l, id_r).
    */
  private def verify(cand: DataFrame, a: Bands, b: Bands, threshold: Double): DataFrame = {
    val Seq(idA, idB) = cand.columns.toSeq
    cand
      .join(a.payload.select(col("id").as(idA), col(a.value).as("__va")), Seq(idA))
      .join(b.payload.select(col("id").as(idB), col(b.value).as("__vb")), Seq(idB))
      .select(col(idA), col(idB), round(a.fn(col("__va"), col("__vb")), 4).as(a.score))
      .filter(col(a.score) >= threshold)
  }

  /** MinHash-LSH candidate pairs with exact-Jaccard re-rank. Jaccard of
    * distinct-hash arrays equals Jaccard of the shingle strings absent a
    * 64-bit collision (~|vocab|²/2⁶⁵ — the same accepted trade as
    * q49/q106, and one the string-exact oracle would expose at once).
    *
    * @param numHashes signature length (bands * rowsPerBand)
    * @param bands     LSH bands; P(candidate | jaccard=s) =
    *                  1 - (1 - s^rowsPerBand)^bands
    * @param threshold keep pairs with exact shingle-Jaccard >= threshold
    * @return (id_a, id_b, jaccard) one row per near-dup pair
    */
  def minhashLshPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.5): DataFrame = {
    val b = textBands(df, idCol, textCol, shingleSize, numHashes, bands)
    verify(candidates(b, None), b, b, threshold)
  }

  /** MinHash-LSH near-dup pairs with a BOUNDED per-band bucket — the
    * adversarial-duplication guard (round 13). [[minhashLshPairs]]'s
    * band self-join emits all C(n,2) pairs of every bucket; on benign
    * corpora buckets are O(1), but a corpus where a large fraction of
    * docs sit in a few giant near-dup clusters (scraped mirror sites,
    * boilerplate floods) puts the WHOLE cluster in one bucket per
    * band, and candidate pairs go quadratic in cluster size — the
    * classic LSH failure mode at 100 TB. Guard: buckets with more than
    * `maxBucket` members switch from all-pairs to a STAR in two steps —
    * each member pairs with the smallest id of its exact-content class
    * (same shingle-hash set), and each class's smallest id pairs with
    * the bucket's min-id hub — so per-bucket emission drops from O(n²)
    * to n−1 while CONNECTIVITY within the bucket is preserved (all
    * members reach each other through the hub), which is the property
    * the downstream connected-components dedup (q158's pipeline)
    * actually consumes.
    *
    * Semantics vs the unbounded form:
    *  - an exact-duplicate cluster's output is exactly
    *    {(min_id, other) | other ∈ cluster} in every overflowed bucket,
    *    whatever the hub is — even a near-dup sharing all bands, whose
    *    hub edges fail a threshold of 1.0 — which is what the q370
    *    oracle pins in SQL;
    *  - pair-level recall for non-identical pairs that collide ONLY in
    *    overflowed buckets is reduced to class-to-hub pairs (documented
    *    trade — the FAISS-style bucket cap); connectivity through the
    *    hub survives wherever the verify keeps the hub edges.
    */
  def minhashLshPairsBounded(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.5,
      maxBucket: Int = 64): DataFrame = {
    val b = textBands(df, idCol, textCol, shingleSize, numHashes, bands)
    verify(candidates(b, Some(maxBucket)), b, b, threshold)
  }

  /** Per-band bucket-size accounting for the LSH stress/telemetry
    * ledger: one row per (bucket-size) with the bucket count and the
    * candidate pairs an UNBOUNDED all-pairs band join would emit from
    * buckets of that size (Σ C(n,2) before cross-band dedup) next to
    * what the `maxBucket`-bounded form emits (C(n,2) capped / star
    * n−1). This is the "measure, don't guess" frame the round-13
    * adversarial rehearsal records — quadratic blowup shows up here
    * as the unbounded column exploding while the bounded one stays
    * linear in cluster size. Reads the band keys unpersisted: one pass.
    */
  def lshBucketStats(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8,
      maxBucket: Int = 64): DataFrame =
    bandKeys(shingled(df, idCol, textCol, shingleSize).filter(size(col("hs")) >= 1),
        numHashes, bands)
      .groupBy("band_key").agg(count(lit(1)).as("n"))
      .groupBy("n").agg(
        count(lit(1)).as("n_buckets"),
        sum(col("n") * (col("n") - 1) / 2).as("unbounded_pairs"),
        sum(when(col("n") <= maxBucket, col("n") * (col("n") - 1) / 2)
          .otherwise(col("n") - 1)).as("bounded_pairs"))
      .orderBy(col("n"))

  /** Cross-corpus MinHash-LSH pairs: LEFT (e.g. a benchmark/eval set)
    * against RIGHT (the training corpus) — the decontamination join
    * (Dolma/RefinedWeb-style): which right-side docs near-duplicate
    * ANY left-side doc. Each side is a [[minhashLshPairs]] band index,
    * but the band join is ASYMMETRIC — left bands join right bands
    * only, so candidate count scales with |left|·collisions, never
    * |right|² (the self-join would spend almost all its work on
    * right×right pairs this caller discards).
    *
    * @return (id_l, id_r, jaccard) — one row per cross pair at or
    *         above the threshold
    */
  def minhashLshPairsCross(
      left: DataFrame,
      right: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.5): DataFrame = {
    val l = textBands(left, idCol, textCol, shingleSize, numHashes, bands)
    val r = textBands(right, idCol, textCol, shingleSize, numHashes, bands)
    val cand = l.keys.select(col("band_key"), col("id").as("id_l"))
      .join(r.keys.select(col("band_key"), col("id").as("id_r")), Seq("band_key"))
      .select("id_l", "id_r")
      .dropDuplicates("id_l", "id_r")
    verify(cand, l, r, threshold)
  }

  /** SimHash near-dup pairs: candidates share one of four 16-bit
    * fingerprint quadrants (any pair within Hamming distance <= 3 must
    * agree on at least one quadrant — pigeonhole), verified by exact
    * Hamming distance.
    */
  def simhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3): DataFrame = {
    val fps = df.select(col(idCol).as("id"), simhash64(tokens(col(textCol))).as("fp"))
      .withColumn("quadrant", explode(
        transform(sequence(lit(0), lit(3)),
          q => concat_ws(":", q.cast("string"),
            call_function("shiftright", col("fp"), q * lit(16)).bitwiseAND(lit(0xFFFFL)).cast("string")))))
    val a = fps.select(col("quadrant"), col("id").as("id_a"), col("fp").as("fp_a"))
    val b = fps.select(col("quadrant"), col("id").as("id_b"), col("fp").as("fp_b"))
    a.join(b, Seq("quadrant"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", hamming64(col("fp_a"), col("fp_b")))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Pre-normalized vectors: the norm is computed in its OWN projection
    * step so CollapseProject won't inline the O(d) dot product into
    * every element's division (which would make normalization O(d²)).
    */
  private def normalized(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("id"), transform(col(vecCol), x => x.cast("double")).as("v"))
      .select(col("id"), col("v"), sqrt(dot(col("v"), col("v"))).as("norm"))
      .select(col("id"), transform(col("v"), x => x / col("norm")).as("nv"))

  /** Exact embedding near-dup pairs: all pairs with cosine >= threshold.
    * Quadratic — the verification baseline. Pre-normalizes each vector
    * once (O(n·d)) so the pair stage is a single dot product.
    */
  def embeddingPairsExact(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double): DataFrame = {
    val normed = normalized(df, idCol, vecCol)
    val a = normed.select(col("id").as("id_a"), col("nv").as("nv_a"))
    val b = normed.select(col("id").as("id_b"), col("nv").as("nv_b"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", round(dot(col("nv_a"), col("nv_b")), 4))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** Exact all-pairs cosine via TRIANGLE BLOCKING: same O(n²) compute
    * as [[embeddingPairsExact]] (exact all-pairs is inherently
    * quadratic — LSH/IVF are the sub-quadratic scale paths), but
    * restructured from one `CartesianProduct` into an EQUI-join over
    * upper-triangle block cells, which is how the job actually
    * survives a cluster:
    *
    *  - each row lands in block `pmod(hash(id), B)`; the left
    *    replica fans out to cells (blk, blk..B-1), the right replica
    *    to cells (0..blk, blk), so every unordered pair of blocks
    *    meets in exactly ONE cell (p ≤ q) — the replication factor is
    *    (B+1)/2 per side, half the naive B×B grid;
    *  - the cell key (bi, bj) is an equi-join key, so the pair stage
    *    is a ShuffledHashJoin/SortMergeJoin with B(B+1)/2 bounded
    *    cells (~ (2n/B)² pairs each) instead of a single nested-loop
    *    whose per-task size Spark can neither bound nor AQE-replan;
    *  - cross-block cells (p < q) produce each pair once in arbitrary
    *    id order; diagonal cells (p = q) produce both orders — the
    *    `bi < bj || id_a < id_b` filter plus least/greatest
    *    normalization keep exactly one row per pair either way.
    *
    * B should scale with n so a cell's pair count stays ~constant
    * (B ∝ n / rows-per-task); 16 cells/side at bench scale.
    */
  def embeddingPairsExactBlocked(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      blocks: Int = 16): DataFrame = {
    val withBlk = normalized(df, idCol, vecCol)
      .select(col("id"), col("nv"), pmod(xxhash64(col("id")), lit(blocks)).as("blk"))
    val left = withBlk.select(
      col("blk").as("bi"), explode(sequence(col("blk"), lit(blocks - 1))).as("bj"),
      col("id").as("id_a"), col("nv").as("nv_a"))
    val right = withBlk.select(
      explode(sequence(lit(0), col("blk"))).as("bi"), col("blk").as("bj"),
      col("id").as("id_b"), col("nv").as("nv_b"))
    left.join(right, Seq("bi", "bj"))
      .filter(col("bi") < col("bj") || col("id_a") < col("id_b"))
      .withColumn("cosine", round(dot(col("nv_a"), col("nv_b")), 4))
      .filter(col("cosine") >= threshold)
      .select(
        least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"),
        col("cosine"))
  }

  /** tables×numPlanes hyperplanes, each component uniform in [-1, 1]:
    * a deterministic pure function of (plane, dim-index) through the
    * shared splitmix64 finalizer ([[graft.expr.Splitmix]]) — no RNG
    * state to ship, the matrix rebuilds identically on every driver.
    */
  private def planeMatrix(dim: Int, numPlanes: Int, tables: Int): Array[Array[Double]] =
    Array.tabulate(tables * numPlanes, dim) { (p, j) =>
      Math.floorMod(graft.expr.Splitmix.mix64(p * 1000003L + j), 2000001L) / 1000000.0 - 1.0
    }

  /** The vector band index: the normalized vectors persist for the
    * verify joins, the (id, band_key) index persists for the candidate
    * builder (16 B/row · tables, replacing a second numPlanes·tables
    * hyperplane-projection pass over every vector).
    */
  private def vectorBands(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, numPlanes: Int, tables: Int): Bands = {
    require(numPlanes < 56, "table index must fit above the plane bits")
    val normed = normalized(df, idCol, vecCol).persistTracked()
    val keys = lshBucketKeys(col("nv"), planeMatrix(dim, numPlanes, tables), numPlanes, tables)
    Bands(normed, normed.select(col("id"), explode(keys).as("band_key")).persistTracked(),
      "nv", "cosine", dot)
  }

  /** BANDED multi-table hyperplane LSH near-dup pairs (Charikar sign
    * bits, the OR-of-ANDs construction [[minhashLshPairs]] uses for
    * MinHash): `tables` independent plane sets of `numPlanes` sign bits
    * each, a pair is a candidate if it collides in ANY table, so recall
    * for a pair at angle θ is 1 − (1 − (1 − θ/π)^numPlanes)^tables —
    * near-dup pairs (cosine ≳ 0.98, per-table collision ~0.64 at 8
    * planes) survive with miss probability ~1e-11 at 24 tables while
    * background near-orthogonal pairs stay spread across 2^numPlanes
    * buckets per table. Verified by exact cosine.
    */
  def embeddingPairsLshBanded(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      threshold: Double,
      numPlanes: Int = 8,
      tables: Int = 24): DataFrame = {
    val b = vectorBands(df, idCol, vecCol, dim, numPlanes, tables)
    verify(candidates(b, None), b, b, threshold)
  }

  /** [[embeddingPairsLshBanded]] with the BOUNDED per-bucket guard of
    * [[minhashLshPairsBounded]]: a hyperplane bucket with more than
    * `maxBucket` members — which at 100 TB means an embedding-level
    * duplicate flood, e.g. the same boilerplate page embedded millions
    * of times — emits a STAR instead of all pairs, so per-bucket
    * emission is O(n) while connectivity (what SemDeDup-style cluster
    * dedup consumes downstream) is preserved. Same recall trade as the
    * text form.
    */
  def embeddingPairsLshBandedBounded(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      threshold: Double,
      numPlanes: Int = 8,
      tables: Int = 24,
      maxBucket: Int = 64): DataFrame = {
    val b = vectorBands(df, idCol, vecCol, dim, numPlanes, tables)
    verify(candidates(b, Some(maxBucket)), b, b, threshold)
  }

  /** Brute-force cosine top-k neighbors of one probe vector (the exact
    * ANN baseline; plans as broadcast of the probe + TakeOrdered).
    */
  def cosineTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      probe: DataFrame,
      k: Int): DataFrame = {
    val base = normalized(df, idCol, vecCol)
    val q = normalized(probe.select(lit(0L).as("pid"), col(vecCol)), "pid", vecCol)
      .select(col("nv").as("qnv"))
    base.crossJoin(broadcast(q))
      .select(col("id"), round(dot(col("nv"), col("qnv")), 4).as("sim"))
      .orderBy(col("sim").desc, col("id").asc)
      .limit(k)
  }
}
