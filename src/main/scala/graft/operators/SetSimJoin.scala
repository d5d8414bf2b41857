package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.CacheRegistry.TrackedPersist

/** Exact set-similarity self-join via prefix filtering (the PPJoin
  * family — Chaudhuri et al. ICDE'06 SSJoin, Xiao et al. WWW'08; public
  * algorithms). Finds every pair of rows whose element sets have
  * Jaccard similarity >= theta, WITHOUT an all-pairs comparison and
  * WITHOUT probabilistic signatures (contrast `Dedup.minhashLshPairs`,
  * which trades exactness for fewer candidates; this operator is its
  * deterministic-exact complement — same spec, different machinery).
  *
  * Why it scales: two sets with Jaccard >= theta MUST share at least
  * one element among the first `n - ceil(theta*n) + 1` elements of
  * each, once both are sorted by one global total order (if the
  * prefixes were disjoint, the overlap is at most the suffix length
  * ceil(theta*n) - 1 on either side, which is below the
  * theta/(1+theta) * (na+nb) overlap the threshold demands). So only
  * rows sharing a PREFIX element are candidates. Ordering rarest-first
  * makes prefixes carry the least-frequent elements, collapsing the
  * candidate count; two further standard filters cut the survivors:
  *
  *   - length filter: J >= θ forces min(na,nb) >= θ·max(na,nb)
  *     (J <= min/max), applied inside the candidate join;
  *   - positional filter: a match at prefix positions (pa, pb) bounds
  *     the overlap by 1 + min(na−pa, nb−pb), which must reach
  *     ceil(θ/(1+θ)·(na+nb)). Taking the MINIMUM matching positions
  *     per pair only loosens the bound (safe — never drops a true
  *     pair), so it composes with the groupBy that dedupes candidates.
  *
  * Elements travel as xxhash64 codes, not strings: an 8-byte shuffle
  * key and an O(1)-compare verify array instead of ~20-byte strings.
  * A 64-bit collision could merge two distinct elements (altering a
  * Jaccard in the 15th decimal of probability: ~|vocab|²/2^65) — the
  * same accepted trade as the q49 shingle-hash join, and one the
  * string-exact oracle would immediately expose.
  *
  * The global total order is the HASH VALUE itself, not the classic
  * rarest-first document-frequency order. The theorem needs only SOME
  * total order, and df-ordering costs a frequency aggregation plus an
  * element-keyed join of every (id, element) pair — two shuffles of
  * the widest data in the job — before any filtering happens. Hash
  * order is free (each row sorts its own array locally, zero
  * shuffles), and for high-cardinality elements like word shingles
  * (df≈1 for almost all) it is statistically indistinguishable from
  * rarest-first: a prefix element is "frequent" only by hash luck, at
  * rate |hot elements|/|vocab|. The trade to revisit for LOW-
  * cardinality element universes (e.g. small tag sets), where
  * rarest-first pays for itself.
  *
  * Shuffle shape at 100 TB: a map-only set build (tokenize → hash →
  * per-row sort, then localCheckpoint — the "build the index once"
  * persistence point feeding all four downstream legs), one equi-join
  * keyed on prefix-element hashes, one verify join keyed on pair ids —
  * every stage hash-partitioned on a real key; no global window, no
  * driver state, no cartesian product.
  */
object SetSimJoin {

  /** @param docs   input with an id column and an array<string> set column
    *               (duplicates in the array are collapsed — set semantics)
    * @param theta  Jaccard threshold in (0, 1]
    * @return (id_a, id_b, jaccard) with id_a < id_b, jaccard rounded to 4
    */
  def prefixJaccardSelfJoin(
      docs: DataFrame,
      idCol: String,
      setCol: String,
      theta: Double): DataFrame =
    // Map-only index build: set-ify PER ROW (array_distinct — a map,
    // not the shuffle a global distinct() would cost), hash every
    // element, sort the hash array locally — that sort IS the global
    // total order (see doc header). No shuffle until the candidate
    // join.
    prefixJaccardSelfJoinHashed(
      docs.select(
        col(idCol).as("id"),
        sort_array(array_distinct(transform(col(setCol), e => xxhash64(e)))).as("els")),
      "id", "els", theta)

  /** Same join over PRE-hashed sets: `hashedCol` must already be a
    * sorted, duplicate-free array<long> of element hashes (e.g. from
    * the fused codegen `expr/ShingleExpression.shingleHashes`, which
    * produces the index-build projection in one pass instead of the
    * interpreted 4-HOF tower — that tower, not the joins, dominated
    * q106's profile at sf0.1).
    */
  def prefixJaccardSelfJoinHashed(
      docs: DataFrame,
      idCol: String,
      hashedCol: String,
      theta: Double): DataFrame = {
    val withPre = prefixIndexed(docs, idCol, hashedCol, theta)
    verifyCandidates(withPre, prefixCandidates(withPre, theta), theta)
  }

  /** Stage 1 of the PPJoin pipeline: normalize to (id, els, n, plen)
    * and EAGERLY checkpoint (this frame feeds the prefix explode and
    * both verify sides). Exposed so ScaleRehearsal.components can time
    * the join's three stages independently — same plan as the fused
    * entry point.
    */
  def prefixIndexed(
      docs: DataFrame,
      idCol: String,
      hashedCol: String,
      theta: Double): DataFrame = {
    require(theta > 0 && theta <= 1, "theta in (0, 1]")
    docs
      .select(col(idCol).as("id"), col(hashedCol).as("els"))
      .withColumn("n", size(col("els")))
      .withColumn(
        "plen", (col("n") - ceil(lit(theta) * col("n")) + 1).cast("int"))
      .localCheckpoint(true)
  }

  /** Stage 2: candidate pairs — shared prefix element + length filter,
    * deduped by a groupBy that keeps the minimum matching positions,
    * then the positional overlap bound.
    */
  def prefixCandidates(withPre: DataFrame, theta: Double): DataFrame = {
    val pre = withPre.select(col("id"), col("n"),
      posexplode(slice(col("els"), lit(1), col("plen"))).as(Seq("p", "el")))
    val minOverlap = ceil(lit(theta / (1 + theta)) * (col("na") + col("nb")))
    pre.as("a")
      .join(pre.as("b"),
        col("a.el") === col("b.el") && col("a.id") < col("b.id") &&
          least(col("a.n"), col("b.n")) >= lit(theta) * greatest(col("a.n"), col("b.n")))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.n").as("na"), col("b.n").as("nb"),
        col("a.p").as("pa"), col("b.p").as("pb"))
      .groupBy("id_a", "id_b", "na", "nb")
      .agg(min("pa").as("pa"), min("pb").as("pb"))
      .filter(lit(1) + least(col("na") - col("pa") - 1, col("nb") - col("pb") - 1)
        >= minOverlap)
  }

  /** Stage 3: exact Jaccard on the full element-hash arrays (AQE
    * broadcasts the checkpointed index when it is small; at scale it
    * is an equi-join on the pair ids).
    */
  def verifyCandidates(withPre: DataFrame, cand: DataFrame,
      theta: Double): DataFrame = {
    val sets = withPre.select(col("id"), col("els"))
    cand
      .join(sets.toDF("id_a", "ea"), "id_a")
      .join(sets.toDF("id_b", "eb"), "id_b")
      // r14: count-only two-pointer merge (SortedIntersectCount) —
      // `els` is sorted+distinct by the entry-point contract, and
      // array_intersect built a boxing hash set plus the intersection
      // array per candidate pair just to take its size.
      .withColumn("inter",
        graft.expr.SortedIntersectExpression.sortedIntersectCount(
          col("ea"), col("eb")).cast("int"))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= theta)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Directional CONTAINMENT join: pairs (a, b) where at least
    * `minContainment` of a's shingle set also occurs in b —
    * |A∩B| / |A|, the ASYMMETRIC complement of the Jaccard join
    * above. Jaccard misses subset duplication by construction (a
    * quote embedded in a 10x longer document has J ≈ 0.1 however
    * verbatim the quote), and containment is the measure corpus
    * curation actually wants for quote/excerpt/boilerplate-inclusion
    * detection.
    *
    * Machinery: a document-frequency-capped INVERTED INDEX join.
    * Shingles occurring in more than `maxDf` documents are excluded
    * from the index — and, deliberately, from BOTH the numerator and
    * the denominator, so the reported score is containment over the
    * discriminative shingle vocabulary (stop-shingles like "of the
    * and" can neither create nor dilute a match; this is the same
    * df-side cut every production prefix-filter system applies, made
    * part of the operator's contract so an external oracle can
    * reproduce it exactly). The cap also bounds the join fan-out: one
    * shingle contributes at most maxDf² candidate pairs, so the skew
    * of natural language ("the the the") cannot melt a reducer.
    *
    * Shuffle shape at 100 TB: one map-side explode to (id, shingle
    * hash), one df aggregation + equi-join to apply the cap, the
    * index self-join on the 8-byte hash, then a count aggregation on
    * pair ids — every stage hash-partitioned on a real key, fan-out
    * bounded by maxDf, no cartesian product. The index is consumed
    * three times (sizes + both join sides) and so is persisted;
    * released by the caller's session hygiene (Bench/Verify unpersist
    * between queries), as with Dedup.minhashLshPairs.
    *
    * @param docs        input with an id column and an array<string>
    *                    TOKEN column (already tokenized)
    * @param shingleSize word-shingle width (3 = classic)
    * @param maxDf       inverted-index document-frequency cap
    * @param minContainment emit threshold in (0, 1]
    * @return (a_id, b_id, n_common, containment) — directional, both
    *         orientations of a pair may appear
    */
  def containmentJoin(
      docs: DataFrame,
      idCol: String,
      tokensCol: String,
      shingleSize: Int,
      maxDf: Long,
      minContainment: Double): DataFrame =
    containmentJoinFromIndex(
      containmentIndex(docs, idCol, tokensCol, shingleSize, maxDf),
      minContainment)

  /** The df-capped inverted index (a_id, sh) the containment join
    * runs on — exposed separately so callers can MATERIALIZE it once
    * per corpus snapshot (it is corpus-derived and deterministic for a
    * fixed (shingleSize, maxDf) dial) and feed repeated joins from the
    * staged columnar frame instead of rebuilding the explode + df-cap
    * per run.
    */
  def containmentIndex(
      docs: DataFrame,
      idCol: String,
      tokensCol: String,
      shingleSize: Int,
      maxDf: Long): DataFrame = {
    val idx0 = docs
      .select(col(idCol).as("a_id"),
        explode(array_distinct(
          graft.functions.TextFunctions.wordShingles(col(tokensCol), shingleSize))).as("shs"))
      .select(col("a_id"), xxhash64(col("shs")).as("sh"))
    val keep = idx0.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("sh")
    idx0.join(keep, "sh")
  }

  /** Containment join over a prebuilt [[containmentIndex]] frame
    * (columns a_id, sh). Same semantics as [[containmentJoin]]; the
    * index is consumed three times (sizes + both join sides) and so
    * is persisted here regardless of where it came from.
    */
  def containmentJoinFromIndex(
      index: DataFrame,
      minContainment: Double): DataFrame = {
    val idx = index.persistTracked()
    val sizes = idx.groupBy("a_id").agg(count(lit(1)).as("sz"))
    idx.join(idx.select(col("sh"), col("a_id").as("b_id")), "sh")
      .filter(col("a_id") =!= col("b_id"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("n_common"))
      .join(sizes, "a_id")
      .withColumn("containment", col("n_common").cast("double") / col("sz"))
      .filter(col("containment") >= minContainment)
      .select(col("a_id"), col("b_id"), col("n_common"),
        round(col("containment"), 4).as("containment"))
  }
}
