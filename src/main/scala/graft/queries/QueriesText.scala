package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.CacheRegistry.TrackedPersist

import graft.operators.{Compaction, PrefixSum}
import graft.sources.Tables
import graft.functions.TextFunctions
import graft.operators.Dedup

/** Query family: text analysis & corpus curation — tokenizers, n-grams, quality, BPE, selection/mixing.
  * Split from the monolithic Queries.scala (round 13) with def
  * bodies and oracle SQL byte-verbatim; surfaced unchanged via
  * [[Queries.all]] / [[Queries.oracle]]. */
private[graft] trait QueriesText { this: Queries.type =>

  /** E21: tokenize + word count, top 20 — the fused native tokenizer
    * (graft.expr.Tokens: one scan, no regex, no empties) feeds the
    * explode inside one codegen stage; the agg shuffles only distinct
    * words (map-side combine), top-k is TakeOrderedAndProject.
    */
  def q07_text_wordcount(s: SparkSession, dir: String): DataFrame =
    tokenCounts(s, dir, "word", "cnt")
      .orderBy(col("cnt").desc, col("word").asc)
      .limit(20)

  /** North-star text analysis: language-ID + quality scoring per doc
    * (heuristic stopword profiles; Gopher/C4-style signals). One
    * narrow projection — no shuffle until the final order.
    */
  def q21_lang_quality(s: SparkSession, dir: String): DataFrame =
    tWide(s, dir, "documents")
      // tokens in their own projection: every downstream expression
      // references the attribute, so the (interpreted) split+filter
      // runs once per row, not once per reference
      .select(col("doc_id"), col("lang"), col("text"),
        TextFunctions.tokens(col("text")).as("toks"))
      .select(
        Seq(col("doc_id"), col("lang").as("tagged_lang"),
          TextFunctions.languageId(col("toks")).as("pred_lang")) ++
          TextFunctions.qualityColumns(col("text"), col("toks")): _*)
      .orderBy("doc_id")

  /** North-star token counting: whitespace / BPE-ish / alnum / est. */
  def q22_token_counts(s: SparkSession, dir: String): DataFrame =
    tWide(s, dir, "documents")
      .select(Seq(col("doc_id")) ++ TextFunctions.tokenCounts(col("text")): _*)
      .orderBy("doc_id")

  /** North-star n-gram Jaccard as a standalone judged operator:
    * word-trigram similarity over a deterministic pair set (every 5th
    * doc against its successor) — the same `jaccard` primitive the
    * MinHash re-rank uses, here with a direct SQL oracle.
    */
  def q36_ngram_jaccard(s: SparkSession, dir: String): DataFrame = {
    // Fused hashed shingle sets (see q106): Jaccard over distinct
    // hashes == Jaccard over shingle strings absent a 64-bit collision.
    // Reads the per-dir staged signature table (shingle3Staged).
    val sh = shingle3Staged(s, dir)
    val a = sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
      .filter(col("id_a") % 5 === 0)
    val b = sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    a.join(b, col("id_b") === col("id_a") + 1)
      .select(col("id_a"), col("id_b"),
        round(TextFunctions.jaccardSortedLongs(col("sh_a"), col("sh_b")), 4).as("jaccard"))
      .orderBy("id_a")
  }

  /** Training-corpus assembly — the end-to-end curation composition:
    * tokenize → quality gate → exact dedup (keep min doc_id per text)
    * → greedy token-budget cut (cumulative tokens by doc_id). Each
    * stage is one declarative op; the only shuffles are the dedup
    * window and the final global running sum. At 100 TB the budget cut
    * runs per-shard (salted budget) or via a two-pass prefix-sum; the
    * greedy-by-id form here is the auditable deterministic spec.
    */
  def q42_corpus_filter(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.PrefixSum
    val toks = TextFunctions.tokens(col("text"))
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text"), size(toks).as("n_tokens"))
      .filter(col("n_tokens").between(5, 1000))
    val dedupW = Window.partitionBy(col("text")).orderBy(col("doc_id").asc)
    val deduped = docs
      .withColumn("rn", row_number().over(dedupW))
      .filter(col("rn") === 1)
      .select("doc_id", "lang", "n_tokens")
    // Budget cut via PrefixSum: cost-based — at test SFs Catalyst's
    // size estimate picks the single-partition window (optimal small),
    // past the threshold the two-pass distributed scan kicks in.
    PrefixSum.runningTotal(deduped, "doc_id", "n_tokens", "cum_tokens")
      .filter(col("cum_tokens") - col("n_tokens") < 10000)
      .select("doc_id", "lang", "n_tokens", "cum_tokens")
      .orderBy("doc_id")
  }

  /** Blocklist redaction — the shape of PII scrubbing over a training
    * corpus (same regexp machinery; the synthetic corpus carries no
    * PII so the blocklist stands in): count and remove matches in one
    * projection, all codegen'd, no UDF.
    */
  def q47_scrub(s: SparkSession, dir: String): DataFrame = {
    val pat = "\\b(customer|spark)\\b"
    tWide(s, dir, "documents")
      .select(
        col("doc_id"),
        regexp_count(col("text"), lit(pat)).as("n_redacted"),
        length(regexp_replace(col("text"), pat, "[REDACTED]")).as("scrubbed_len"))
      .filter(col("n_redacted") > 0)
      .orderBy("doc_id")
  }

  /** Tokenizer-vocabulary build + coverage: top-V words by frequency
    * (TakeOrderedAndProject — never a global rank window; vocab ≪
    * corpus by Heaps' law so the top-k heap is the scale path), then
    * corpus coverage of that vocab. One wordcount shuffle feeds both.
    */
  def q48_vocab(s: SparkSession, dir: String): DataFrame = {
    val counts = tokenCounts(s, dir, "word", "cnt")
    val vocab = counts.orderBy(col("cnt").desc, col("word").asc).limit(20)
    vocab.agg(count(lit(1)).as("n_vocab"), sum("cnt").as("covered_tokens"))
      .crossJoin(counts.agg(sum("cnt").as("total_tokens")))
      .select(col("n_vocab"), col("total_tokens"), col("covered_tokens"),
        round(col("covered_tokens") / col("total_tokens"), 4).as("coverage"))
  }

  /** Training-sequence packing (concat-then-chunk, how LLM pretraining
    * actually packs): the corpus token stream in doc_id order is cut
    * every 2048 tokens; a doc belongs to the chunk where it STARTS.
    * The running total uses operators/PrefixSum — cost-based: a
    * two-pass distributed scan (per-partition totals → broadcast
    * offsets → partitioned window) above its size threshold, the
    * single-partition window below it. Chunk stats aggregate per
    * chunk.
    */
  def q55_pack_chunks(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.PrefixSum
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), size(TextFunctions.tokens(col("text"))).as("n_tokens"))
    PrefixSum.runningTotal(docs, "doc_id", "n_tokens", "cum_tokens")
      .withColumn("chunk", expr("(cum_tokens - n_tokens) div 2048"))
      .groupBy("chunk")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("chunk_tokens"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .orderBy("chunk")
  }

  /** Text normalization + normalized-form dedup grouping: lowercase,
    * strip non-alphanumerics, collapse whitespace — then group docs by
    * the normalized body. Spark groups on the 8-byte xxhash64 of the
    * normalized form (the shuffle never carries bodies — q45's
    * precedent); the oracle groups the string itself.
    */
  def q56_normalize(s: SparkSession, dir: String): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9\\s]", " "), "\\s+", " "))
    val w = Window.partitionBy("__h")
    tWide(s, dir, "documents")
      .select(col("doc_id"), norm.as("__norm"))
      .select(col("doc_id"), xxhash64(col("__norm")).as("__h"),
        length(col("__norm")).as("norm_len"))
      .withColumn("n_same_norm", count(lit(1)).over(w))
      .withColumn("canonical_id", min("doc_id").over(w))
      .select("doc_id", "norm_len", "n_same_norm", "canonical_id")
      .orderBy("doc_id")
  }

  /** Repetition detection (Gopher-style quality signal): per doc, the
    * fraction of word bigrams that are repeats. Emitted as integer
    * basis points via exact integer division (never a cross-engine
    * float round).
    */
  def q57_repetition(s: SparkSession, dir: String): DataFrame =
    // Distinct-bigram count from the fused hashed shingle set (q106's
    // expression) — same count as the string form modulo a within-doc
    // 64-bit collision (≤ ~300 bigrams/doc → P ≈ 300²/2⁶⁵).
    tWide(s, dir, "documents")
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"),
        graft.expr.ShingleExpression.shingleHashes(col("text"), 2).as("bh"))
      .select(col("doc_id"),
        greatest(size(col("toks")) - 1, lit(0)).as("n_bigrams"),
        size(col("bh")).as("n_distinct"))
      .withColumn("n_repeated", col("n_bigrams") - col("n_distinct"))
      .withColumn("dup_bp", when(col("n_bigrams") > 0,
        expr("((n_bigrams - n_distinct) * 10000) div n_bigrams")).otherwise(lit(0L)))
      .orderBy("doc_id")

  /** Document frequency + IDF over the corpus vocabulary, top 25 terms
    * by df: one distinct-(doc,word) explode, a count shuffle, and a
    * TakeOrderedAndProject top-k (never a global sort). The corpus
    * size rides in via a broadcast 1-row cross join (q48's shape).
    */
  def q58_doc_freq(s: SparkSession, dir: String): DataFrame = {
    val docs = tWide(s, dir, "documents")
    val words = docs.select(col("doc_id"),
      explode(array_distinct(TextFunctions.tokens(col("text")))).as("word"))
    val dfCounts = words.groupBy("word").agg(count(lit(1)).as("df"))
    val total = docs.agg(count(lit(1)).as("n_docs"))
    dfCounts.crossJoin(broadcast(total))
      .orderBy(col("df").desc, col("word").asc)
      .limit(25)
      .select(col("word"), col("df"), col("n_docs"),
        round(log((col("n_docs") + 1).cast("double") / (col("df") + 1)), 4).as("idf"))
      .orderBy(col("df").desc, col("word").asc)
  }

  /** Corpus analysis: top-3 5-gram shingles per language by document
    * frequency. Two-level aggregation (per-(lang,ngram) doc counts →
    * per-lang rank ≤ 3); WindowGroupLimit prunes each partition to 3
    * rows before the rank sort at scale.
    */
  def q63_top_ngrams(s: SparkSession, dir: String): DataFrame = {
    val counts = tWide(s, dir, "documents")
      .select(col("lang"), col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 5)
      .select(col("lang"), explode(TextFunctions.wordShingles(col("toks"), 5)).as("ng"))
      .groupBy("lang", "ng")
      .agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("lang").orderBy(col("n_docs").desc, col("ng").asc)
    counts.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("lang", "rn", "ng", "n_docs")
      .orderBy("lang", "rn")
  }

  /** Character-entropy quality score per document — the Shannon-entropy
    * filter that catches mojibake/binary-garbage docs (abnormally high)
    * and boilerplate/repetition (abnormally low). Single-pass form
    * H = log2(L) − Σ n·log2(n) / L over per-char counts, so the whole
    * thing is two hash aggregations (char counts, then per-doc fold) —
    * no per-doc buffers, fully partial+final at any scale. The explode
    * multiplies rows by doc length, hence tWide (CPU-heavy map stage).
    */
  def q74_entropy(s: SparkSession, dir: String): DataFrame =
    tWide(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
      .groupBy("doc_id", "ch")
      .agg(count(lit(1)).cast("double").as("n"))
      .groupBy("doc_id")
      .agg((log2(sum("n")) - sum(col("n") * log2(col("n"))) / sum("n")).as("h"))
      .select(col("doc_id"), round(col("h"), 2).as("entropy_bits"))
      .orderBy("doc_id")

  /** TF-IDF top terms per document. tf and df are integer aggregates;
    * idf = ln(N/df) enters only the score VALUE (rounded, q74's log
    * precedent) — ranking uses (tf DESC, word ASC), pure integers, so
    * cross-engine float noise cannot reorder rows. Two hash-agg
    * shuffles (doc×word, word) + one broadcast of the tiny df side.
    */
  def q81_tfidf(s: SparkSession, dir: String): DataFrame = {
    val words = tWide(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
    val tf = words.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    // df derives from tf — one row per (doc, word) already — so the
    // corpus is exploded ONCE, not re-scanned for a distinct pass.
    val df = tf.groupBy("word").agg(count(lit(1)).as("df"))
    // Corpus size as a 1-row broadcast aggregate (q58/q66/q101's
    // pattern) — an eager docs.count() here would run a real Spark job
    // at query-CONSTRUCTION time (even for plan-only inspections) and
    // scan documents twice inside the timed body.
    val nDocs = t(s, dir, "documents")
      .agg(count(lit(1)).cast("double").as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tf").desc, col("word").asc)
    tf.join(broadcast(df), "word")
      .crossJoin(broadcast(nDocs))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("rnk"), col("word"), col("tf"),
        round(col("tf") * log(col("n_docs") / col("df")), 3).as("tfidf"))
      .orderBy("doc_id", "rnk")
  }

  /** BM25 relevance (k1=1.2, b=0.75) of every document against a fixed
    * term set. avgdl is a sum of integer token counts — exact in
    * doubles, so both engines divide identical numbers; output rows are
    * keyed/ordered by doc_id alone (no float-ordered top-k). One
    * explode+agg shuffle; per-term df and avgdl broadcast as 1-row/
    * tiny sides.
    */
  def q82_bm25(s: SparkSession, dir: String): DataFrame =
    bm25Scored(s, dir).orderBy("doc_id")

  /** q82's scored frame WITHOUT the presentation sort — factored out
    * (r14) so q160's rank leg consumes the unordered frame: the
    * trailing orderBy survived Catalyst into q160's plan as a range
    * Exchange + Sort immediately re-sorted by the rank window.
    */
  private[graft] def bm25Scored(s: SparkSession, dir: String): DataFrame = {
    val terms = Seq("spark", "join", "window")
    val k1 = 1.2; val b = 0.75
    // n as a 1-row broadcast next to avgdl (see q81's note — no eager
    // count() job at construction time, no second documents scan).
    val nDocs = t(s, dir, "documents")
      .agg(count(lit(1)).cast("double").as("n_docs"))
    // The query's term list is FIXED, so per-term tf pivots into
    // columns of ONE per-doc aggregation: the corpus is tokenized and
    // exploded exactly once, and dl + all tf_t land in the same
    // map-side-combined groupBy — where the former shape exploded the
    // corpus twice (dl branch + tf branch) and shuffled a tf⋈dl join.
    // df/avgdl then derive from the n_docs-row frame (a second pass
    // over PER-DOC rows, not the corpus) as a 1-row broadcast.
    // r14: perDoc is persisted — the stats aggregate and the scored
    // projection are its two consumers, and each previously re-ran the
    // corpus tokenize+explode+agg (q160's plan carried the whole
    // subtree twice; AQE exchange reuse only deduped the scan). The
    // cached frame is doc-grain (one narrow row per doc), the shape
    // the r13 persist rule admits (expensive derived compute, not a
    // re-scannable projection).
    val perDoc = tWide(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("dl"),
        terms.map(t0 => sum(when(col("word") === t0, 1L).otherwise(0L)).as(s"tf_$t0")): _*)
      .persistTracked()
    val stats = perDoc.agg(
      (sum("dl") / count(lit(1))).as("avgdl"),
      terms.map(t0 => sum((col(s"tf_$t0") > 0).cast("long")).as(s"df_$t0")): _*)
    val norm = col("dl") / col("avgdl")
    val score = terms.map { t0 =>
      val tf = col(s"tf_$t0"); val dfc = col(s"df_$t0")
      val idf = log(lit(1.0) + (col("n_docs") - dfc + lit(0.5)) / (dfc + lit(0.5)))
      when(tf > 0, idf * tf * (lit(k1) + 1) /
        (tf + lit(k1) * (lit(1 - b) + lit(b) * norm))).otherwise(lit(0.0))
    }.reduce(_ + _)
    val nTerms = terms.map(t0 => (col(s"tf_$t0") > 0).cast("long")).reduce(_ + _)
    perDoc.crossJoin(broadcast(stats)).crossJoin(broadcast(nDocs))
      .filter(nTerms > 0)
      .select(col("doc_id"), round(score, 3).as("bm25"), nTerms.as("n_terms"))
  }

  /** Length-bucketed batch planning: docs grouped into 32-token length
    * buckets; per bucket the doc/token totals and the number of 8-doc
    * training batches (integer ceil — no FP). The split a training
    * loader uses to minimize padding waste. One explode-free projection
    * (size of split) + one hash agg.
    */
  def q85_length_buckets(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select((size(split(col("text"), " "))).as("tokens"))
      .withColumn("bucket", (col("tokens") / lit(32)).cast("long"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), sum("tokens").as("sum_tokens"),
        ((count(lit(1)) + 7) / 8).cast("long").as("n_batches"))
      .orderBy("bucket")

  /** Deterministic train/val/test split assignment (90/5/5) by
    * multiplicative hash of the doc id — reproducible across engines,
    * runs, and cluster sizes (q41's hash family), which is what makes
    * dataset splits auditable. Pure projection + one hash agg.
    */
  def q90_split_assign(s: SparkSession, dir: String): DataFrame = {
    val bucket = pmod(pmod(col("doc_id") * lit(2654435761L), lit(4294967296L)), lit(100L))
    t(s, dir, "documents")
      .withColumn("split",
        when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test"))
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
      .orderBy("split", "lang")
  }

  /** Bigram language-model table: per left-word, the top-3 following
    * words with conditional probability. Pairing is array arithmetic
    * over the token list (no self-join — at 100 TB a positional
    * self-join would shuffle the corpus twice); p = n/total is one
    * division of exact integers, identical in both engines; ranking is
    * integer-keyed (n DESC, w2 ASC).
    */
  def q91_bigram_lm(s: SparkSession, dir: String): DataFrame = {
    val toks = filter(split(col("text"), " "), w => length(w) > 0)
    val pairs = tWide(s, dir, "documents")
      .select(toks.as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(explode(transform(
        sequence(lit(1), size(col("ws")) - 1),
        i => struct(element_at(col("ws"), i).as("w1"),
          element_at(col("ws"), i + 1).as("w2")))).as("b"))
      .select(col("b.w1"), col("b.w2"))
    val counts = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("n"))
    val totals = counts.groupBy("w1").agg(sum("n").as("tot"))
    val w = Window.partitionBy(col("w1")).orderBy(col("n").desc, col("w2").asc)
    counts.join(totals, "w1")
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("w1"), col("rnk"), col("w2"), col("n"),
        round(col("n").cast("double") / col("tot"), 4).as("p"))
      .orderBy("w1", "rnk")
  }

  /** Stopword-filtered suffix-stripped token counts (a Porter-lite
    * stemmer as pure codegen'd regexp chain — every rule anchored at
    * `$` so "replace all" vs "replace first" engine semantics cannot
    * diverge). r13 optimization: the corpus aggregates on the RAW
    * token first (map-side-combined wordcount shuffle), and the regex
    * chain runs over the VOCABULARY-sized count frame — before, the
    * stem projection sat under the stopword filter and pushdown
    * inlined the 6-regex chain into the filter, so every corpus token
    * occurrence paid the chain 2-3× (12 regexp_replace calls in the
    * committed before-plan's Filter). Σ token-counts per stem ≡ the
    * per-occurrence count, so results are bit-identical; top-30 still
    * plans TakeOrderedAndProject.
    */
  def q107_stem_topwords(s: SparkSession, dir: String): DataFrame = {
    val stop = Seq(
      "the", "and", "for", "are", "but", "not", "you", "all", "can", "was",
      "one", "our", "out", "has", "his", "her", "how", "its", "may", "new",
      "now", "see", "two", "way", "who", "did", "that", "with", "this",
      "from", "they", "have", "will", "what", "been", "were", "each",
      "which", "their", "would", "there", "about")
    val tok = regexp_replace(col("tok"), "[^a-z]", "")
    val stem = Seq(
      ("(ies|ied)$", "i"), ("sses$", "ss"), ("([^su])s$", "$1"),
      ("^(.{4,})ing$", "$1"), ("^(.{3,})ed$", "$1"))
      .foldLeft(tok) { case (c, (p, r)) => regexp_replace(c, p, r) }
    tokenCounts(s, dir, "tok", "c")
      .select(stem.as("stem"), col("c"))
      .persistTracked()
      .filter(length(col("stem")) >= 3 && !col("stem").isin(stop: _*))
      .groupBy("stem").agg(sum(col("c")).as("n"))
      .orderBy(col("n").desc, col("stem").asc)
      .limit(30)
  }

  /** First-order Markov transition matrix over per-user event streams:
    * P(next=B | cur=A) from lead() pairs. One shuffle for the user
    * window, one partial+final count on the (cur, next) key; the
    * per-cur totals table is |event types|² rows at most — broadcast
    * back. p is a single exact-integer division, rounded identically
    * on both engines.
    */
  def q112_transition_matrix(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val c = t(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("cur_type"))
      .withColumn("next_type", lead(col("cur_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy("cur_type", "next_type").agg(count(lit(1)).as("n"))
    val tot = c.groupBy("cur_type").agg(sum("n").as("tot"))
    c.join(broadcast(tot), "cur_type")
      .select(col("cur_type"), col("next_type"), col("n"),
        round(col("n") / col("tot"), 4).as("p"))
      .orderBy("cur_type", "next_type")
  }

  /** Bigram-LM document scoring (perplexity-proxy quality filter):
    * train a conditional-probability table on 90% of docs (q91's LM
    * shape), score the held-out 10% as the sum of per-bigram scaled
    * probabilities. The score is INTEGER end-to-end — each bigram
    * contributes floor(n·10⁴/tot), summed as longs — so no float
    * reduction order can flip the hash compare. Unseen bigrams (OOV)
    * contribute 0 and are counted separately. Scale: bigram explode is
    * map-side; the LM build and the score join shuffle on the bigram
    * key (high cardinality, partial-agg combined).
    */
  def q113_lm_score(s: SparkSession, dir: String): DataFrame = {
    val toks = tWide(s, dir, "documents")
      .select(col("doc_id"),
        filter(split(col("text"), " "), w => length(w) > 0).as("ws"))
      .filter(size(col("ws")) >= 2)
    val bigrams = toks.select(col("doc_id"),
        explode(zip_with(
          slice(col("ws"), lit(1), size(col("ws")) - 1),
          slice(col("ws"), lit(2), size(col("ws")) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val lm = bigrams.filter(col("doc_id") % 10 =!= 0)
      .groupBy("w1", "w2").agg(count(lit(1)).as("n"))
    val tot = lm.groupBy("w1").agg(sum("n").as("tot"))
    val probs = lm.join(tot, "w1")
      .select(col("w1"), col("w2"),
        floor(col("n") * lit(10000) / col("tot")).as("pscaled"))
    bigrams.filter(col("doc_id") % 10 === 0)
      .join(probs, Seq("w1", "w2"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("pscaled").isNull, 1).otherwise(0)).as("n_oov"),
        coalesce(sum("pscaled"), lit(0L)).as("score"))
      .orderBy("doc_id")
  }

  /** Quality-percentile corpus filtering — the canonical "keep the top
    * 75% by quality, per language" curation pass: score each doc
    * (mean word length, q21's metric, rounded — the determinism
    * contract), take the per-language 25th-percentile threshold via
    * q40's type-1 rank-equality pattern (never interpolated), keep
    * docs at-or-above it, and account for the surviving token mass.
    * The per-group window is exact and fine while groups fit a
    * reducer; the 100 TB form swaps the threshold computation for the
    * GK sketch (operators/Quantiles) with identical downstream
    * plumbing.
    */
  def q161_quality_filter(s: SparkSession, dir: String): DataFrame = {
    // Two corpus passes BY CHOICE (r13, measured): the threshold
    // branch needs the rank window, the account branch only the
    // doc-grain scores — keeping the account branch window-free lets
    // its aggregate partial-combine map-side below its exchange. A
    // persistTracked() on `scored` (one pass + cache) measured SLOWER
    // at sf0.1 (cache-build barrier > the deduplicated tokenize), and
    // routing the account through the window subtree for AQE exchange
    // reuse measured slower still (column pruning makes the two
    // subtrees differ, so nothing reuses and the window runs twice).
    val scored = tWide(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text"),
        TextFunctions.tokens(col("text")).as("toks"))
      .select(Seq(col("doc_id"), col("lang")) ++
        TextFunctions.qualityColumns(col("text"), col("toks")): _*)
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        col("mean_word_len").as("score"))
    val ranked = scored
      .withColumn("rn", row_number().over(Window.partitionBy("lang")
        .orderBy(col("score").asc, col("doc_id").asc)))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("lang")))
    val thr = ranked.groupBy("lang")
      .agg(max(when(col("rn") === greatest(lit(1L), ceil(lit(0.25) * col("n"))),
        col("score"))).as("p25"))
    scored.join(broadcast(thr), "lang")
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_total"),
        sum((col("score") >= col("p25")).cast("long")).as("n_kept"),
        round(min(col("p25")), 4).as("p25_threshold"),
        round(sum(when(col("score") >= col("p25"), col("n_tokens")).otherwise(0))
          .cast("double") / sum(col("n_tokens")), 4).as("kept_token_share"))
      .orderBy("lang")
  }

  /** Boilerplate n-gram detection — the C4/RefinedWeb-style corpus
    * cleanup step: per `source` (the domain analogue), find word
    * bigrams that recur across >= 5 of the source's documents
    * (navigation chrome, footers, templates) and report the blast
    * radius (distinct n-grams, total doc hits, affected docs).
    *
    * Scale shape: the n-gram relation (corpus tokens exploded, the
    * big axis) is shuffled ONCE on (source, ng) with map-side
    * combine; the boilerplate set that survives the threshold is
    * orders smaller and BROADCAST back for the affected-doc pass, so
    * the corpus is scanned twice but never cached — at 100 TB a
    * persisted exploded-n-gram frame would be several times corpus
    * size, while a re-scan through the fused codegen tokenizer is a
    * cheap streaming pass.
    */
  def q164_boilerplate_ngrams(s: SparkSession, dir: String): DataFrame = {
    // r13 persisted the doc-grain token frame (3 consumers); r14's
    // ScaleHundred prove-or-revert MEASURED it and REVERTED: at 10x
    // the persist tree was ~30% SLOWER (6.7 vs 5.0 s cold) and at
    // 100x flat (34.0 vs 34.9 s) — the 43 MB→467 MB token-array cache
    // build serializes three consumers that otherwise pipeline in
    // parallel, and the tokenizer re-runs are cheaper than the
    // barrier at both decades (dev/PERF_LEDGER.md, r14 section).
    val docs = tWide(s, dir, "documents")
      .select(col("source"), col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
    val ngrams = docs.select(col("source"), col("doc_id"),
      explode(TextFunctions.wordShingles(col("toks"), 2)).as("ng"))
    val byNg = ngrams.groupBy("source", "ng").agg(count(lit(1)).as("nd"))
    val boiler = byNg.filter(col("nd") >= 5)
    val perSrc = boiler.groupBy("source")
      .agg(count(lit(1)).as("n_boiler"), sum("nd").as("boiler_doc_hits"))
    val docsHit = ngrams
      .join(broadcast(boiler.select("source", "ng")), Seq("source", "ng"))
      .select("source", "doc_id").distinct()
      .groupBy("source").agg(count(lit(1)).as("docs_hit"))
    docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
      .join(perSrc, Seq("source"), "left")
      .join(docsHit, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_boiler"), lit(0L)).as("n_boiler"),
        coalesce(col("boiler_doc_hits"), lit(0L)).as("boiler_doc_hits"),
        coalesce(col("docs_hit"), lit(0L)).as("docs_hit"))
      .orderBy("source")
  }

  /** Zipf rank-frequency fit over the corpus vocabulary: OLS slope of
    * ln(freq) on ln(rank) for the top-1000 words — the corpus-health
    * diagnostic (natural language sits near slope −1; template/spam
    * corpora flatten it). Rank comes from PrefixSum.globalRank on
    * (−count, word) — distributed, deterministic tie-break — and the
    * fit is the single-pass co-moment `regr_slope`/`regr_intercept`
    * (q102's shape), so the whole query is two aggregations however
    * large the vocabulary.
    */
  def q170_zipf_slope(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.PrefixSum
    val counts = tokenCounts(s, dir, "w", "c")
    val ranked = PrefixSum.globalRank(
      counts.select(col("w"), col("c"), (-col("c")).as("negc")), Seq("negc", "w"), "r")
    val vocab = counts.agg(count(lit(1)).as("n_vocab"))
    ranked.filter(col("r") <= 1000)
      .agg(count(lit(1)).as("n_top"),
        round(regr_slope(log(col("c")), log(col("r"))), 4).as("zipf_slope"),
        round(regr_intercept(log(col("c")), log(col("r"))), 4).as("zipf_intercept"))
      .crossJoin(broadcast(vocab)) // 1-row frame (q145's pattern)
      .select(col("n_vocab"), col("n_top"), col("zipf_slope"), col("zipf_intercept"))
  }

  /** First-order Markov transition matrix over per-user event
    * sequences: P(next event_type | event_type). `lead` over a window
    * partitioned by user — state is one row per user per partition, so
    * the shuffle is the only cost and it scales with users, never with
    * a global sort. (event_id breaks ts ties deterministically; the
    * regenerated events table has µs timestamps but same-µs pairs
    * would otherwise make `lead` nondeterministic.) The transition
    * matrix is the input to session simulation / anomaly scoring.
    */
  def q173_markov_transitions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("to_type", lead("event_type", 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p",
        round(col("n") / sum("n").over(Window.partitionBy("from_type")), 4))
      .orderBy("from_type", "to_type")
  }

  /** Benford first-digit audit over extended prices — the fabricated-
    * data / ingestion-bug detector. Digit extraction goes through
    * exact integer arithmetic (`round(x*100)::BIGINT` → first char),
    * NOT floor(log10): prices have 2 decimals, so the integer route is
    * bit-exact in both engines while log10 can straddle a power-of-ten
    * boundary differently per libm. One narrow scan + a ≤9-row
    * aggregate; the total for shares comes from re-aggregating the
    * 9-row frame (q101's 1-row broadcast pattern — ReuseExchange makes
    * the second scan free), and the expected share is the closed form
    * log10(1+1/d).
    */
  def q175_benford(s: SparkSession, dir: String): DataFrame = {
    val byDigit = t(s, dir, "lineitem")
      .select(substring(round(col("l_extendedprice") * 100, 0).cast("long").cast("string"), 1, 1)
        .cast("int").as("digit"))
      .groupBy("digit")
      .agg(count(lit(1)).as("n"))
    val total = byDigit.agg(sum("n").as("tot"))
    byDigit.crossJoin(broadcast(total))
      .withColumn("obs_share", round(col("n") / col("tot"), 4))
      .withColumn("benford_share", round(log(10.0, lit(1.0) + lit(1.0) / col("digit")), 4))
      .withColumn("abs_dev", round(abs(col("obs_share") - col("benford_share")), 4))
      .select("digit", "n", "obs_share", "benford_share", "abs_dev")
      .orderBy("digit")
  }

  /** Per-document bigram-LM perplexity — the perplexity-filtering /
    * curriculum-binning signal every pretraining pipeline computes:
    * exp(mean −ln p̂(w2|w1)) under the corpus's own add-k-smoothed
    * bigram model (k=0.5, vocab = distinct successor tokens). Shape:
    * ONE bigram explode persisted and consumed three times (c(w1,w2),
    * c(w1), and the per-doc join); the model joins are equi-joins on
    * Zipf-skewed keys (AQE skew-split handles the head word), partial
    * aggs are map-side. Self-scored: no external LM needed — template
    * docs score low, lexical soup scores high.
    */
  def q180_doc_perplexity(s: SparkSession, dir: String): DataFrame = {
    // r14: the per-occurrence bigram explode is NOT persisted — the
    // corpus-sized (doc_id, source, w1, w2) cache is exactly the shape
    // q164's 10x/100x measurement reverted (the barrier serializes
    // consumers that otherwise pipeline, and the tokenize re-run is
    // cheaper than the cache build). Everything model-sized derives
    // from the persisted vocab²-grain cb instead: c1(w1) = Σ_w2 c12
    // (counts of the same rows, long arithmetic — bit-identical) and
    // v = distinct w2 over cb (r13). The explode now runs twice (cb
    // build, per-doc scoring join) instead of feeding three cache
    // scans.
    val bi = docBigrams(s, dir)
    val cb = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .persistTracked()
    val cu = cb.groupBy("w1").agg(sum("c12").as("c1"))
    val v = cb.agg(countDistinct("w2").as("v")) // 1-row broadcast
    bi.join(cb, Seq("w1", "w2")).join(cu, Seq("w1")).crossJoin(broadcast(v))
      .withColumn("nll", -log((col("c12") + 0.5) / (col("c1") + lit(0.5) * col("v"))))
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_bigrams"), round(exp(avg("nll")), 4).as("ppl"))
      .orderBy("doc_id")
  }

  /** PMI collocations: adjacent word pairs with pointwise mutual
    * information ln(p(ab)/(p(a)p(b))) well above chance — the phrase/
    * multiword-expression miner (and the scoring step ahead of q76's
    * co-occurrence counts). Unigram probabilities use ALL token
    * occurrences, bigram probability the adjacent-pair count; a min
    * count floor (5) kills the noise PMI is notorious for at c=1.
    * Top-50 by (pmi, pair) plans TakeOrderedAndProject.
    */
  def q181_pmi_collocations(s: SparkSession, dir: String): DataFrame = {
    // r14: persist the VOCAB-grain unigram counts, not the corpus-
    // sized per-occurrence explode (the q164-revert rule / q325's c1
    // pattern): uni feeds three consumers (both PMI join legs + the
    // total), and nu = Σ cw over uni is the occurrence total exactly
    // (long arithmetic — bit-identical to counting the explode).
    // The explode now runs once, into the unigram aggregation.
    val uni = tokenCounts(s, dir, "w", "cw").persistTracked()
    val nu = uni.agg(sum("cw").as("nu")) // 1-row broadcast
    // Persist the AGGREGATED counts (|vocab²| rows, small), not the
    // explode: bi feeds both the PMI branch and the nb total — without
    // this the corpus-wide bigram explode runs twice.
    val bi = docBigrams(s, dir).groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .persistTracked()
    val nb = bi.agg(sum("c12").as("nb")) // 1-row broadcast
    bi.filter(col("c12") >= 5)
      .join(uni.select(col("w").as("w1"), col("cw").as("ca")), "w1")
      .join(uni.select(col("w").as("w2"), col("cw").as("cb")), "w2")
      .crossJoin(broadcast(nu)).crossJoin(broadcast(nb))
      .select(col("w1"), col("w2"), col("c12"),
        round(log((col("c12").cast("double") / col("nb")) /
          ((col("ca").cast("double") / col("nu")) * (col("cb").cast("double") / col("nu")))), 4)
          .as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(50)
  }

  /** Token-budget corpus selection (corpus assembly's greedy step):
    * rank documents by a quality score (lexical diversity — distinct/
    * total token ratio), take in descending order while the running
    * token total stays within budget. The cumulative sum routes
    * through PrefixSum.runningTotal on a (−score, id) struct key —
    * distributed two-pass above the cost threshold, never a global
    * single-partition sort at scale.
    */
  def q185_budget_select(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.PrefixSum
    val budget = 20000L
    val sc = tWide(s, dir, "documents")
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"),
        (size(array_distinct(col("toks"))).cast("double") / size(col("toks"))).as("score"),
        size(col("toks")).cast("long").as("cost"))
      .withColumn("ord", struct((-col("score")).as("negs"), col("doc_id")))
    PrefixSum.runningTotal(sc, "ord", "cost", "cum")
      .filter(col("cum") <= budget)
      .agg(count(lit(1)).as("n_selected"),
        sum("cost").as("total_tokens"),
        round(min("score"), 4).as("min_score"))
  }

  /** Exact phrase search over the positional window index: every
    * (doc, token-offset) occurrence of a 3-token phrase (the opening
    * phrase of doc 0 — taken from the corpus so the query always has
    * hits). The phrase's window hash is computed by the SAME fused
    * expression on a 1-row frame and broadcast; the scan then filters
    * the positional-hash explosion — at 100 TB this is the
    * inverted-positional-index probe (hash → postings), with the df
    * of one phrase bounding the result, not the corpus.
    */
  def q186_phrase_search(s: SparkSession, dir: String): DataFrame = {
    val docs = tWide(s, dir, "documents")
    val phrase = docs.filter(col("doc_id") === 0)
      .select(concat_ws(" ", slice(TextFunctions.tokens(col("text")), 1, 3)).as("ph"))
      .select(graft.expr.ShingleExpression.positionalShingleHashes(col("ph"), 3)(0).as("ph_h"))
    docs
      .select(col("doc_id"),
        posexplode(graft.expr.ShingleExpression.positionalShingleHashes(col("text"), 3))
          .as(Seq("pos", "h")))
      .join(broadcast(phrase), col("h") === col("ph_h"))
      .select("doc_id", "pos")
      .orderBy("doc_id", "pos")
  }

  /** Per-document n-gram novelty — the redundancy/memorization curve:
    * the fraction of a doc's 8-token windows whose FIRST corpus
    * occurrence (by ascending doc_id — ingestion order) is this doc.
    * Crawl-style corpora decay in novelty over time; a flat 1.0 means
    * no cross-document repetition at all. min-by-key + join-back on
    * the window hash: the Zipf-headed join is AQE skew territory, the
    * aggregates are map-side partial. Within-doc repeats count as
    * novel by contract (this measures CROSS-doc redundancy; q164/q178
    * cover within-doc and span-level).
    */
  def q187_ngram_novelty(s: SparkSession, dir: String): DataFrame = {
    val pos = tWide(s, dir, "documents")
      .select(col("doc_id"),
        explode(graft.expr.ShingleExpression.positionalShingleHashes(col("text"), 8))
          .as("h"))
    val first = pos.groupBy("h").agg(min("doc_id").as("first_doc"))
    pos.join(first, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        round(avg((col("first_doc") === col("doc_id")).cast("double")), 4).as("novelty"))
      .orderBy("doc_id")
  }

  /** Cross-split n-gram leakage audit: after the q90 hash split
    * (train/val/test via the Knuth multiplicative hash — pure integer
    * arithmetic, oracle-reproducible), count DISTINCT 8-token windows
    * present in BOTH splits of each pair — the leakage a benchmark
    * decontamination pass (q49's cross-corpus form) must catch within
    * one corpus. Per-split distinct windows first (set semantics from
    * the fused sorted-distinct shingle expression), then a self-join
    * on the window hash with split_a < split_b.
    */
  def q190_split_leakage(s: SparkSession, dir: String): DataFrame = {
    val bucket = pmod(pmod(col("doc_id") * lit(2654435761L), lit(4294967296L)), lit(100L))
    val ws = tWide(s, dir, "documents")
      .withColumn("split",
        when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test"))
      .select(col("split"),
        explode(graft.expr.ShingleExpression.shingleHashes(col("text"), 8)).as("h"))
      .distinct()
    ws.as("a").join(ws.as("b"),
        col("a.h") === col("b.h") && col("a.split") < col("b.split"))
      .groupBy(col("a.split").as("split_a"), col("b.split").as("split_b"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy("split_a", "split_b")
  }

  /** DSIR-style data selection (importance resampling, Xie et al.
    * 2023): score every pool document by how target-like its hashed
    * n-gram features are — here target = the English subset, pool =
    * everything else, features = bigrams hashed into 4096 buckets
    * (first 3 hex chars of md5, identical hex in both engines). The
    * weight is the mean per-feature log-ratio
    * ln p̂_target(f) − ln p̂_pool(f) under add-0.5-smoothed bucket
    * models. Scale shape: the feature space is FIXED at 4096 buckets
    * regardless of corpus size, so both LM count tables broadcast; the
    * corpus is exploded once (persisted — measured cheaper than
    * re-running the md5 feature hashing at the 100x tier), consumed
    * by the fold aggregation and the scoring join; totals derive
    * from the tiny aggregated tables, never a re-scan; top-k plans
    * TakeOrderedAndProject.
    */
  def q192_dsir_select(s: SparkSession, dir: String): DataFrame = {
    val B = 4096
    val feats = tWide(s, dir, "documents")
      .select(col("doc_id"), col("lang"), TextFunctions.tokens(col("text")).as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), col("lang"),
        explode(transform(sequence(lit(1), size(col("ws")) - 1),
          i => substring(md5(concat_ws(" ",
            element_at(col("ws"), i), element_at(col("ws"), i + 1))), 1, 3))).as("f"))
      .persistTracked()
    // r14 follow-up: dropping this persist was MEASURED and REJECTED
    // (PersistAb: 100x rep2 10.86 vs 8.79 s — the md5 feature hashing
    // re-run costs more than the 100 MB cache round-trip; sf0.1 was
    // faster but the scale tiers rule).
    // r14 (the q203/q192 fold pattern): raw and en-target counts in ONE
    // aggregation — sum(when(lang='en')) is exactly the en count where
    // present and 0 where absent, which is what the left join +
    // coalesce produced — so the raw/target groupBys stop re-reading
    // the cached feature stream twice each (rc and tc each had two
    // consumers), and both totals ride one 1-row broadcast.
    val rcx = feats.groupBy("f").agg(count(lit(1)).as("cr"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ct"))
    val tot = rcx.agg(sum("cr").as("nr"), sum("ct").as("nt"))
    val lr = rcx.crossJoin(broadcast(tot))
      .select(col("f"),
        (log((col("ct") + 0.5) / (col("nt") + lit(0.5) * B)) -
          log((col("cr") + 0.5) / (col("nr") + lit(0.5) * B))).as("lr"))
    feats.filter(col("lang") =!= "en")
      .join(broadcast(lr), "f")
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_feats"), round(avg("lr"), 4).as("dsir_w"))
      .orderBy(desc("dsir_w"), col("doc_id"))
      .limit(25)
  }

  /** BPE merge learning (operators/Bpe): the first 5 byte-pair merges
    * of a tokenizer trained on this corpus, with their weighted
    * frequencies. The corpus is scanned ONCE into the word-frequency
    * table; each merge round runs over that vocabulary-sized frame
    * only (see Bpe.scala for the 100 TB argument). Rows-only:
    * the argmax-then-rewrite iteration has no SQL form; BpeSpec pins a
    * differential against the driver-local reference implementation
    * plus hand-computed merges on a crafted corpus.
    */
  def q193_bpe_merges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // r14: the learned merges are STAGED per dataset dir
    // ([[bpeMergesStaged]] — the q23/q106/q171 staging pattern applied
    // to the tokenizer model): the first consumer in a JVM pays the
    // full word-count + k merge rounds; q199 replays the same model.
    bpeMergesStaged(s, dir, k = 5)
      .toDF("step", "left", "right", "freq")
      .orderBy("step")
  }

  /** BPE tokenizer APPLICATION (q193 learns, this encodes): learn the
    * same 5 merges as q193 on the corpus word table (each learning
    * round is a driver-materialized job — k is the latency knob, and
    * the encode stage is what this query judges), then encode that
    * vocabulary by replaying the merges in order — `Bpe.encode` chains the greedy
    * folds into one narrow codegen map, no shuffle, no UDF. Output =
    * top subword tokens by weighted frequency with how many distinct
    * words they appear in — the vocabulary a downstream tokenizer
    * would ship. Rows-only: the argmax-then-rewrite learning loop has
    * no SQL form; BpeSpec pins encode == the training loop's final
    * symbol state AND a driver-local reference encoder. At 100 TB the
    * corpus is scanned once (the word count); learning and encoding
    * both run over the vocabulary-sized frame (persisted — consumed by
    * the k learning rounds and the encode pass).
    */
  def q199_bpe_encode(s: SparkSession, dir: String): DataFrame = {
    // r14: word table and merge model both STAGED per dataset dir
    // (shared with q193 — see bpeMergesStaged); the per-run work is
    // exactly the judged encode pass + the subword rollup. The r13
    // persist of wc is gone with the re-learning: the staged word
    // table is read once, by encode.
    val wc = wordCountStaged(s, dir)
    val merges = bpeMergesStaged(s, dir, k = 5)
    operators.Bpe.encode(wc, merges)
      .select(col("n"), explode(col("syms")).as("subword"))
      .groupBy("subword").agg(sum("n").as("freq"), count(lit(1)).as("n_words"))
      .orderBy(desc("freq"), col("subword"))
      .limit(25)
  }

  /** Gopher-style quality rule-set (Rae et al. 2021 §A1.1 family):
    * reject documents failing word-count >= 30, mean word length <= 5,
    * >= 2 stopwords, or top-word dominance <= 20%. Output = the
    * rejected docs with their metrics and a '|'-joined reason string.
    * Every PREDICATE is exact integer arithmetic (sum_len > 5·n,
    * top_c·5 > n) so pass/fail decisions are oracle-identical; floats
    * appear only in the displayed rounded metrics. Shape: token stats
    * are one narrow map (fused tokens + aggregate/filter HOFs); the
    * top-word count is explode → two-level agg (map-side combined, the
    * only shuffle); the token frame is persisted across its two
    * consumers. The full Gopher set (symbol ratio, bullet fraction,
    * ellipsis lines) composes identically — these four are the ones
    * this corpus exercises in both directions.
    */
  def q200_gopher_rules(s: SparkSession, dir: String): DataFrame = {
    val stopList = Seq("the", "a", "of", "to", "and", "in", "is", "that")
    // r14 (the q181 aggregate-first rule): ONE explode pass → per-
    // (doc, word) counts → per-doc rollup. Every old `base` column is
    // a linear functional of the (doc_id, w, c) frame (n_words = Σc,
    // sum_len = Σ len(w)·c, stops = Σc over the stop list — all
    // occurrence counts, exact long arithmetic) and top_c = max c, so
    // the doc-grain token-array cache (q164's reverted shape), its
    // second corpus pass and the base⋈top join all disappear. Docs
    // with zero tokens produce no explode rows — exactly the rows the
    // old size(ws) > 0 filter dropped. Casts mirror the old column
    // types (size/int, aggregate/long).
    val base = tokenCounts(s, dir, "w", "c", "doc_id")
      .groupBy("doc_id").agg(
        sum("c").cast("int").as("n_words"),
        sum(length(col("w")).cast("long") * col("c")).as("sum_len"),
        sum(when(col("w").isInCollection(stopList), col("c")).otherwise(0L))
          .cast("int").as("stops"),
        max("c").as("top_c"))
    base
      .select(col("doc_id"), col("n_words"), col("sum_len"), col("stops"), col("top_c"),
        concat_ws("|",
          when(col("n_words") < 30, lit("short")),
          when(col("sum_len") > col("n_words") * 5, lit("mean_word_len")),
          when(col("stops") < 2, lit("no_stopwords")),
          when(col("top_c") * 5 > col("n_words"), lit("top_word_dom"))).as("reasons"))
      .filter(col("reasons") =!= "")
      .select(col("doc_id"), col("n_words"),
        round(col("sum_len").cast("double") / col("n_words"), 4).as("mean_wlen"),
        col("stops"),
        round(col("top_c").cast("double") / col("n_words"), 4).as("top_share"),
        col("reasons"))
      .orderBy("doc_id")
  }

  /** Domain-shift audit: KL(P_lang ‖ P_en) over add-0.5-smoothed token
    * unigram distributions on the UNION vocabulary — the drift number
    * a mixture-balancing pass (q62) reads before reweighting sources.
    * Shape: one tokenize+count pass per (lang, word); the vocab×lang
    * grid (vocab is lexicon-sized, langs a handful) is built by
    * cross-joining the broadcast lang list, so every distribution is
    * over the SAME support — absent words get the smoothing floor,
    * which is what makes KL finite and the two engines agree term by
    * term; per-lang totals and the vocab size are broadcast 1-row
    * aggregates of already-aggregated frames, never corpus re-scans.
    */
  def q203_kl_divergence(s: SparkSession, dir: String): DataFrame = {
    val c = tokenCounts(s, dir, "w", "n", "lang").persistTracked()
    // Vocab + the en reference counts in ONE aggregation over the
    // persisted count table (was: a distinct pass for the vocab AND a
    // separate broadcast join for the en leg — the conditional sum
    // yields exactly the en count where present and NULL where absent,
    // which is what the left join produced).
    val vocab = c.groupBy("w")
      .agg(sum(when(col("lang") === "en", col("n"))).as("en_n"))
    val nv = vocab.agg(count(lit(1)).as("v"))
    val tot = c.groupBy("lang").agg(sum("n").as("t"))
    val ent = tot.filter(col("lang") === "en").select(col("t").as("en_t"))
    val langs = tot.filter(col("lang") =!= "en").select("lang")
    val grid = vocab.crossJoin(broadcast(langs))
      .join(c, Seq("lang", "w"), "left")
      .join(broadcast(tot), "lang")
      .crossJoin(broadcast(ent)).crossJoin(broadcast(nv))
    val p = (coalesce(col("n"), lit(0L)) + 0.5) / (col("t") + lit(0.5) * col("v"))
    val q = (coalesce(col("en_n"), lit(0L)) + 0.5) / (col("en_t") + lit(0.5) * col("v"))
    grid.groupBy("lang")
      .agg(round(sum(p * log(p / q)), 4).as("kl"))
      .orderBy("lang")
  }

  /** Chi-square token selection: the 15 tokens whose document-level
    * presence most separates lang='en' from the rest — the feature-
    * selection step before training a lightweight classifier (q126 is
    * the contingency-table form over fixed cells; this ranks an OPEN
    * vocabulary). Presence set = per-doc array_distinct (map-side,
    * inside the tokenize projection) + explode — NO global distinct
    * shuffle exists; class totals ride in as a broadcast 1-row
    * aggregate, never an eager count. The chi2
    * numerator/denominator stay in EXACT 64-bit integers (max ~N⁴ ≪
    * 2^63 at any judged SF) with ONE final division, so the ranking is
    * engine-identical; df≥5 is the textbook applicability floor and the
    * all-docs guard drops the degenerate zero-denominator token.
    */
  def q207_chi2_select(s: SparkSession, dir: String): DataFrame = {
    // Presence dedup happens WITHIN each doc map-side (array_distinct
    // before the explode) — no global DISTINCT shuffle; the word agg
    // partial-aggregates map-side (q302's one-pass shape).
    // r14 follow-up: dropping this persist (tot prunes to a lang-only
    // scan, pres becomes the single tokenize pass) was MEASURED and
    // REJECTED — 10x wall 2.85 vs 1.27 s, busy 2.10 vs 1.62 s against
    // the cached shape with flat controls; the 100x tier cannot run
    // this query (the exact-integer chi2 term overflows long beyond
    // judged scales, both shapes alike), so the 10x verdict stands.
    val docs0 = tWide(s, dir, "documents")
      .select(col("lang"),
        graft.functions.TextFunctions.tokens(col("text")).as("toks"))
      .persistTracked()
    val pres = docs0
      .select((col("lang") === "en").cast("long").as("is_en"),
        explode(array_distinct(col("toks"))).as("word"))
    val tot = docs0
      .agg(sum((col("lang") === "en").cast("long")).as("n_en"),
        sum((col("lang") =!= "en").cast("long")).as("n_oth"))
    val adbc = col("a") * (col("n_oth") - col("b")) - col("b") * (col("n_en") - col("a"))
    pres.groupBy("word")
      .agg(sum("is_en").as("a"), sum(lit(1L) - col("is_en")).as("b"))
      .filter(col("a") + col("b") >= 5)
      .crossJoin(broadcast(tot))
      .filter(col("a") + col("b") < col("n_en") + col("n_oth"))
      .withColumn("chi2", round(
        ((col("n_en") + col("n_oth")) * adbc * adbc) /
          ((col("a") + col("b")) * (col("n_en") + col("n_oth") - col("a") - col("b")) *
            col("n_en") * col("n_oth")), 4))
      .orderBy(col("chi2").desc, col("word").asc)
      .limit(15)
      .select("word", "a", "b", "chi2")
  }

  /** Gini coefficient of the per-language token-frequency distribution
    * — the inequality number behind "a few head words dominate this
    * slice" (q170's Zipf slope is the power-law FIT; Gini is the
    * distribution-free summary). Ranks are per-language windows over
    * the VOCABULARY-sized frequency frame (never corpus rows); the
    * numerator 2·Σr·x − (n+1)·Σx and denominator n·Σx stay in exact
    * 64-bit integers (Σr·x ≤ n·Σx ≪ 2^63 for any real vocabulary),
    * one final division.
    */
  def q208_gini_tokens(s: SparkSession, dir: String): DataFrame = {
    val wc = tokenCounts(s, dir, "word", "cnt", "lang")
    val w = Window.partitionBy("lang").orderBy(col("cnt").asc, col("word").asc)
    wc.withColumn("r", row_number().over(w).cast("long"))
      .groupBy("lang")
      .agg(count(lit(1)).as("vocab"), sum("cnt").as("total"),
        sum(col("r") * col("cnt")).as("rx"))
      .withColumn("gini", round(
        (lit(2L) * col("rx") - (col("vocab") + 1L) * col("total")) /
          (col("vocab") * col("total")), 4))
      .select("lang", "vocab", "total", "gini")
      .orderBy("lang")
  }

  /** Rank-biased overlap (Webber et al. 2010) between two document
    * rankings — "did the reranker change what the top of the list looks
    * like", the list-similarity eval q189's nDCG (one ranking vs
    * graded labels) cannot answer. Rankings: by raw length vs by
    * distinct-token count; prefix RBO at depth 20 with p=1/2 so every
    * p^d weight is an EXACT dyadic double in both engines (arbitrary p
    * would put `pow` in the hash-compared path). Both top-20s plan
    * TakeOrderedAndProject; the depth×overlap join is 20×20-bounded,
    * so the only corpus-scale work is the distinct-count aggregation.
    */
  def q209_rbo(s: SparkSession, dir: String): DataFrame = {
    val depth = 20
    // row_number over an already-TakeOrdered 20-row frame: the global
    // window is bounded by `depth`, never corpus-sized.
    def ranked(df: DataFrame, score: Column, rank: String): DataFrame =
      df.orderBy(score.desc, col("doc_id").asc).limit(depth)
        .withColumn(rank,
          row_number().over(Window.orderBy(score.desc, col("doc_id").asc)).cast("long"))
        .select(col("doc_id"), col(rank))
    val a = ranked(t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
      col("n_chars"), "ra")
    val b = ranked(
      tWide(s, dir, "documents")
        .select(col("doc_id"), explode(graft.functions.TextFunctions.tokens(col("text"))).as("w"))
        .groupBy("doc_id").agg(countDistinct("w").as("nd")),
      col("nd"), "rb")
    val ov = a.join(b, "doc_id").select(greatest(col("ra"), col("rb")).as("md"))
    val depths = s.range(1, depth + 1).toDF("d")
    depths.join(ov, col("md") <= col("d"), "left")
      .groupBy("d").agg(count(col("md")).as("ov"))
      .agg(
        round(sum(pow(lit(0.5), col("d")) * col("ov") / col("d")), 4).as("rbo"),
        max(when(col("d") === depth, col("ov"))).as("ov20"))
  }

  /** Tokenizer-vocabulary coverage: build the top-500 corpus vocabulary
    * and report each language's out-of-vocabulary token rate — the
    * coverage audit run before committing to a fixed vocab (an OOV rate
    * that differs 10× across languages means the tokenizer starves
    * them). The (lang, word)-grain
    * count table is persisted because it feeds BOTH the vocabulary
    * build and the coverage rollup; the vocabulary itself is a
    * TakeOrdered-500 frame that BROADCASTS into the coverage join, so
    * the corpus-scale side never shuffles. Exact integer counts, one
    * final division.
    */
  def q210_oov_rate(s: SparkSession, dir: String): DataFrame = {
    // r14 (the q181 aggregate-first rule): persist the (lang, word)-
    // GRAIN counts, not the occurrence stream. The vocabulary is the
    // same top-500 (global cnt = Σ over langs of c — counts of the
    // same rows, same (cnt desc, word asc) tie order) and the coverage
    // rollup sums c instead of counting occurrence rows — exact long
    // arithmetic either way. The corpus explodes once, into a
    // map-side-combined aggregation; the cache shrinks from
    // occurrence-grain to lexicon×lang-grain.
    val lw = tokenCounts(s, dir, "word", "c", "lang").persistTracked()
    val vocab = lw.groupBy("word").agg(sum("c").as("cnt"))
      .orderBy(col("cnt").desc, col("word").asc).limit(500)
      .select(col("word"), lit(1L).as("in_v"))
    lw.join(broadcast(vocab), Seq("word"), "left")
      .groupBy("lang")
      .agg(sum("c").as("n_tokens"),
        sum(when(col("in_v").isNull, col("c")).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate", round(col("n_oov") / col("n_tokens"), 4))
      .orderBy("lang")
  }

  /** Temperature-scaled mixture weights (α = 1/2, the mT5/XLM-R
    * up-sampling rule): per-language sampling weight n_l^α / Σ n_l^α
    * and the implied up-sampling factor vs natural proportions — the
    * mixture table a multilingual pre-training run feeds its sampler.
    * All corpus-scale work is one map-side-combined count; the 5-row
    * language frame carries every float (sqrt is correctly rounded
    * IEEE, the Σ over languages is rounded per the determinism
    * contract).
    */
  def q211_temperature_mix(s: SparkSession, dir: String): DataFrame = {
    val counts = t(s, dir, "documents").groupBy("lang")
      .agg(count(lit(1)).as("n_docs"))
    val tot = counts.agg(sum(sqrt(col("n_docs"))).as("z"), sum("n_docs").as("n"))
    counts.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_docs"),
        round(sqrt(col("n_docs")) / col("z"), 6).as("weight"),
        round((sqrt(col("n_docs")) / col("z")) / (col("n_docs") / col("n")), 4)
          .as("upsample"))
      .orderBy("lang")
  }

  /** Quantile normalization of the embedding matrix (the microarray /
    * feature-preprocessing standard): every dimension's values are
    * replaced by the MEAN value at that rank across all 64 dimensions,
    * forcing identical marginal distributions — the cross-feature
    * calibration step before distance-based ops (q08/q34) when dims
    * have incomparable scales. Ranks are windows PARTITIONED BY dim
    * (64-way parallel distributed sorts, never one global window);
    * the rank-profile is a 1-per-rank aggregate joined back on rank.
    * Output is the per-dim envelope of the normalized matrix: every
    * dim must now share min/max (the defining invariant, asserted in
    * the spec) — reported for the first 8 dims.
    */
  def q216_quantile_normalize(s: SparkSession, dir: String): DataFrame = {
    val cells = tWide(s, dir, "embeddings")
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("vec_id"), col("dim"), col("x").cast("double").as("x"))
    val ranked = cells.withColumn("rk",
      row_number().over(Window.partitionBy("dim").orderBy(col("x").asc, col("vec_id").asc)))
    val profile = ranked.groupBy("rk")
      .agg(round(avg("x"), 6).as("q"))
    ranked.join(profile, "rk")
      .filter(col("dim") < 8)
      .groupBy("dim")
      .agg(count(lit(1)).as("n"), round(min("q"), 6).as("min_norm"),
        round(max("q"), 6).as("max_norm"), round(avg("q"), 4).as("mean_norm"))
      .orderBy("dim")
  }

  /** Class-balanced downsampling: every language keeps exactly
    * min-class-size docs, chosen by deterministic content-free hash
    * order (md5 of the id — both engines reproduce the SAME sample, no
    * RNG state to ship) — the rebalancing step before training on a
    * skewed multilingual corpus (q211 reweights the sampler; this
    * materializes a balanced subset). The quota is a broadcast 1-row
    * aggregate-of-aggregates; ranking is a window over each language
    * partition of the doc-id frame. Broadcast bound at 100 TB: the
    * quota derives from one count per LANGUAGE (≈200 rows for every
    * language tag in use — fixed by the label space, not the corpus),
    * collapsed to a single min row before broadcasting; the
    * per-language rank windows are hash-partitioned corpus work, never
    * driver-side.
    */
  def q219_class_balance(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"), col("lang"))
    val quota = d.groupBy("lang").agg(count(lit(1)).as("n"))
      .agg(min("n").as("quota"))
    d.withColumn("h", md5(col("doc_id").cast("string")))
      .withColumn("rk", row_number().over(
        Window.partitionBy("lang").orderBy(col("h").asc, col("doc_id").asc)).cast("long"))
      .crossJoin(broadcast(quota))
      .filter(col("rk") <= col("quota"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_kept"), sum("doc_id").as("id_checksum"))
      .orderBy("lang")
  }

  /** Regex pre-tokenizer profile — the BPE-style pretokenization pass
    * (runs of letters | runs of digits | single other-non-space, over
    * lowercased text) that q07's whitespace tokenizer deliberately
    * isn't: "don't!" counts 3 tokens here (don, ', t + !), digits
    * split from words, CJK falls to per-character — the token-count
    * accounting a budgeted pretraining corpus is costed with. The
    * ASCII-explicit character classes keep the scanner, Java regex,
    * and RE2 semantics identical (no unicode-class divergence in the
    * hash path); one fused-scanner scan + explode, all counts
    * map-side combined.
    */
  def q229_regex_tokens(s: SparkSession, dir: String): DataFrame = {
    // fused scanner ≡ regexp_extract_all(lower(text),
    // '[a-z]+|[0-9]+|[^a-z0-9\s]', 0) — TokensSpec differential. The
    // regex form measured ~100 s PRE-JIT cold at sf0.1 (1.3 s warm):
    // a bench that runs each plan once pays that every time, and a
    // 100 TB corpus pays the regex-engine constant forever (q07's
    // fused-tokenizer argument, repeated).
    tWide(s, dir, "documents")
      .select(col("lang"),
        explode(graft.expr.PretokenizeExpression.pretokens(col("text"))).as("tok"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_tokens"),
        count_distinct(col("tok")).as("n_distinct"),
        sum(when(col("tok").rlike("^[a-z]"), 1L).otherwise(0L)).as("n_alpha"),
        sum(when(col("tok").rlike("^[0-9]"), 1L).otherwise(0L)).as("n_num"),
        sum(when(col("tok").rlike("^[a-z0-9]"), 0L).otherwise(1L)).as("n_other"))
      .orderBy("lang")
  }

  /** Log-odds-ratio with informative Dirichlet prior (Monroe, Colaresi
    * & Quinn 2008, "Fightin' Words"): which tokens distinguish the
    * 'web' source from the rest, scored by the prior-smoothed log-odds
    * z — the corpus-comparison statistic that fixes both χ²'s
    * overweighting of rare words (the prior shrinks them) and plain
    * log-odds' variance blindness (the z normalizes); on the SAME
    * en-vs-rest split as q207, the two rankings differ exactly where
    * the prior matters. Pooled corpus counts ARE the prior
    * (α_w = pooled count · α₀/N). Counts
    * are exact integers from one tokenize pass aggregated once to
    * vocab grain (persisted there); ln/sqrt of exact rationals follow q198/q203's
    * engine-agreement precedent, rounded.
    */
  def q231_log_odds_terms(s: SparkSession, dir: String): DataFrame = {
    // r14 (the q181 aggregate-first rule): persist the UNFILTERED
    // vocab-grain (word → a, b) counts and derive the class totals as
    // Σa/Σb over them (sums of the same occurrence rows, exact long
    // arithmetic) — the occurrence-stream cache is gone and the corpus
    // explodes once, into a map-side-combined aggregation.
    val cnts = tWide(s, dir, "documents")
      .select((col("lang") === "en").cast("long").as("is_web"),
        explode(graft.functions.TextFunctions.tokens(col("text"))).as("word"))
      .groupBy("word")
      .agg(sum("is_web").as("a"), sum(lit(1L) - col("is_web")).as("b"))
      .persistTracked()
    val counts = cnts.filter(col("a") + col("b") >= 10)
    val tot = cnts.agg(sum("a").as("na"), sum("b").as("nb"))
    // α_w proportional to the pooled corpus: alpha = (a+b) * a0 / (na+nb),
    // a0 = 1000 pseudo-tokens. All in exact rationals via doubles.
    val a0 = lit(1000.0)
    val alpha = (col("a") + col("b")) * a0 / (col("na") + col("nb"))
    val lw = log((col("a") + alpha) / (col("na") + a0 - col("a") - alpha))
    val lb = log((col("b") + alpha) / (col("nb") + a0 - col("b") - alpha))
    val varz = lit(1.0) / (col("a") + alpha) + lit(1.0) / (col("b") + alpha)
    counts.crossJoin(broadcast(tot))
      // + 0.0 folds IEEE −0.0 to 0.0 (stringified-hash parity; DuckDB
      // prints 0.0 where Java would print −0.0)
      .withColumn("z", round((lw - lb) / sqrt(varz), 4) + lit(0.0))
      .orderBy(col("z").desc, col("word").asc)
      .limit(15)
      .select("word", "a", "b", "z")
  }

  /** Pairwise corpus-similarity matrix: exact vocabulary Jaccard
    * between every language pair — the corpus-level relatedness signal
    * (shared loanwords/named entities) that q203's KL reads
    * distributionally; Jaccard reads it set-wise. One tokenize pass →
    * distinct (lang, word); the pair frame joins vocabularies on the
    * word (vocabulary-sized, never corpus-sized) and |A∪B| comes from
    * |A|+|B|−|A∩B| — intersection is the only join, union is
    * arithmetic. Exact integers, one final division.
    */
  def q236_vocab_overlap(s: SparkSession, dir: String): DataFrame = {
    val vocab = tWide(s, dir, "documents")
      .select(col("lang"), explode(graft.functions.TextFunctions.tokens(col("text"))).as("word"))
      .distinct()
      .persistTracked()
    val sizes = vocab.groupBy("lang").agg(count(lit(1)).as("n"))
    val inter = vocab.as("a")
      .join(vocab.as("b"), col("a.word") === col("b.word") && col("a.lang") < col("b.lang"))
      .groupBy(col("a.lang").as("lang_a"), col("b.lang").as("lang_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(broadcast(sizes.select(col("lang").as("lang_a"), col("n").as("na"))), "lang_a")
      .join(broadcast(sizes.select(col("lang").as("lang_b"), col("n").as("nb"))), "lang_b")
      .select(col("lang_a"), col("lang_b"), col("na"), col("nb"), col("inter"),
        round(col("inter") / (col("na") + col("nb") - col("inter")), 4).as("jaccard"))
      .orderBy("lang_a", "lang_b")
  }

  /** Heaps-law vocabulary-growth fit: β from ln V(n) ~ β·ln n over the
    * cumulative (tokens-seen, vocab-seen) curve in ingestion (doc_id)
    * order — q170's Zipf slope describes the FREQUENCY distribution,
    * Heaps' β predicts how much NEW vocabulary the next TB brings
    * (the number that sizes a growing tokenizer vocab). New-word
    * credit = min-doc_id first occurrence (one vocabulary-sized agg);
    * both cumulatives ride the cost-based PrefixSum.runningTotal; the
    * least-squares slope is one aggregate over the doc-grain curve
    * (ln per q170's engine-agreement precedent, rounded).
    */
  def q246_heaps_law(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.PrefixSum
    // r14 follow-up: replacing this persist with a map-only size(ws)
    // perDoc leg + a tokenize re-run in firstOcc was MEASURED and
    // REJECTED (PersistAb 10x 2.76 vs 2.01 s, 100x 5.73 vs 5.01 s —
    // the second tokenize pass costs more than the cache round-trip
    // here; min-doc_id first-occurrence needs the full stream).
    val toks = tWide(s, dir, "documents")
      .select(col("doc_id"), explode(graft.functions.TextFunctions.tokens(col("text"))).as("w"))
      .persistTracked()
    val perDoc = toks.groupBy("doc_id").agg(count(lit(1)).as("n_toks"))
    val firstOcc = toks.groupBy("w").agg(min("doc_id").as("fo"))
      .groupBy("fo").agg(count(lit(1)).as("new_words"))
    val curve0 = perDoc
      .join(firstOcc, col("doc_id") === col("fo"), "left")
      .select(col("doc_id"), col("n_toks"), coalesce(col("new_words"), lit(0L)).as("nw"))
    val curve = PrefixSum.runningTotal(
      PrefixSum.runningTotal(curve0, "doc_id", "nw", "vv"),
      "doc_id", "n_toks", "nn")
    val x = log(col("nn")); val y = log(col("vv"))
    curve.filter(col("vv") > 0)
      .agg(count(lit(1)).as("n_docs"), max("vv").as("vocab_final"),
        max("nn").as("tokens_final"),
        round((count(lit(1)) * sum(x * y) - sum(x) * sum(y)) /
          (count(lit(1)) * sum(x * x) - sum(x) * sum(x)), 4).as("heaps_beta"))
  }

  /** Per-column Shannon entropy over `orders` — the profiling number
    * that finds key candidates (H ≈ ln n → unique), constants (H = 0),
    * and encoding opportunities (low H → dictionary/RLE, feeding
    * q237's advisor). One scan builds one (column, value) histogram
    * ([[valueCounts]], map-side combined); the per-column totals
    * (n = Σcnt, k = histogram groups, the null group included) are a
    * broadcast aggregate of it, and one vocabulary-sized entropy fold
    * per column reads both. ln per the engine-agreement precedent,
    * rounded; n and distinct exact.
    */
  def q247_column_entropy(s: SparkSession, dir: String): DataFrame = {
    val hist = valueCounts(t(s, dir, "orders"), "column_name",
      "o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
    val tot = hist.groupBy("column_name").agg(sum("cnt").as("n"), count(lit(1)).as("k"))
    hist.join(broadcast(tot), "column_name")
      .groupBy(col("column_name"), col("n").as("n_rows"), col("k").as("n_distinct"))
      .agg(round(-sum((col("cnt") / col("n")) * log(col("cnt") / col("n"))), 4)
        .as("entropy_nats"))
      .withColumn("key_score", round(col("entropy_nats") / log(col("n_rows")), 4))
      .orderBy("column_name")
  }

  /** Bigram conditional entropy rate per language: H(w₂|w₁) =
    * H(bigrams) − H(unigrams) — the information-theoretic redundancy
    * number behind compression-based quality scores (q172 measures
    * zlib's OPINION of redundancy; this is the model-free quantity,
    * and a language whose rate collapses is template spam). Both
    * entropies are vocabulary-sized histogram folds, each off its own
    * tokenize pass (map-side aggregated — no occurrence cache); ln per the engine-agreement precedent, counts exact.
    */
  def q252_entropy_rate(s: SparkSession, dir: String): DataFrame = {
    // r14: the doc-grain token-array cache is gone (q164's revert
    // rule) — the unigram and bigram histogram legs each tokenize the
    // corpus once and aggregate map-side to (lang, word) grain; the
    // re-tokenize is cheaper than building and double-reading a
    // corpus-sized array cache at every measured tier.
    val toks = tWide(s, dir, "documents")
      .select(col("lang"), col("doc_id"),
        graft.functions.TextFunctions.tokens(col("text")).as("ws"))
      .filter(size(col("ws")) >= 2)
    val uni = toks.select(col("lang"), explode(col("ws")).as("w"))
      .groupBy("lang", "w").agg(count(lit(1)).as("c"))
    val bi = toks.select(col("lang"), explode(
        zip_with(slice(col("ws"), lit(1), size(col("ws")) - 1),
          slice(col("ws"), lit(2), size(col("ws")) - 1),
          (a, b) => concat_ws(" ", a, b))).as("w"))
      .groupBy("lang", "w").agg(count(lit(1)).as("c"))
    def entropy(hist: DataFrame, name: String): DataFrame = {
      val tot = hist.groupBy("lang").agg(sum("c").as("n"))
      hist.join(broadcast(tot), "lang")
        .groupBy("lang")
        .agg((-sum((col("c") / col("n")) * log(col("c") / col("n")))).as(name),
          first(col("n")).as(s"${name}_n"))
    }
    entropy(uni, "h_uni").join(entropy(bi, "h_bi"), "lang")
      .select(col("lang"), col("h_uni_n").as("n_tokens"),
        round(col("h_uni"), 4).as("h_unigram"),
        round(col("h_bi"), 4).as("h_bigram"),
        round(col("h_bi") - col("h_uni"), 4).as("entropy_rate"))
      .orderBy("lang")
  }

  /** Pairwise Jensen-Shannon divergence between every two sources'
    * token distributions — the symmetric, bounded drift matrix behind
    * q203's one-vs-rest KL (JSD is what you threshold when deciding
    * whether two crawls can share a training mixture weight). One
    * fused-tokenizer pass builds per-source word counts; the dense
    * vocab×source grid (sources are a bounded dimension — broadcast)
    * fills the zero cells both KL halves need, and the pair frame is
    * an equi-join ON WORD (shuffle keyed by the unbounded dimension,
    * filtered to ordered source pairs — never a pair×vocab nested
    * loop). Zero-probability terms contribute 0 by the standard
    * convention; guards keep every log argument positive under ANSI.
    */
  def q271_js_divergence(s: SparkSession, dir: String): DataFrame = {
    val counts = tokenCounts(s, dir, "word", "n", "source")
    val totals = counts.groupBy("source").agg(sum("n").as("tot"))
    val dense = counts.select("word").distinct()
      .crossJoin(broadcast(totals))
      .join(counts, Seq("source", "word"), "left")
      .select(col("source"), col("word"),
        (coalesce(col("n"), lit(0L)) / col("tot")).as("p"))
    val a = dense.select(col("source").as("sa"), col("word"), col("p").as("pa"))
    val b = dense.select(col("source").as("sb"), col("word"), col("p").as("pb"))
    val m = (col("pa") + col("pb")) / 2.0
    a.join(b, Seq("word")).filter(col("sa") < col("sb"))
      .withColumn("c",
        when(col("pa") > 0, col("pa") / 2.0 * log(col("pa") / m)).otherwise(0.0) +
          when(col("pb") > 0, col("pb") / 2.0 * log(col("pb") / m)).otherwise(0.0))
      .groupBy("sa", "sb").agg(round(sum("c"), 6).as("jsd"))
      .orderBy("sa", "sb")
  }

  /** Token-coverage curve: what fraction of all corpus tokens the top
    * 10 / 100 / 1000 most-frequent words cover — the number that
    * sizes a vocabulary (q48) or a stopword list, and the empirical
    * face of q170's Zipf fit. One fused-tokenizer count pass; ranking
    * is [[PrefixSum.globalRank]] on (−count, word) (integer-keyed —
    * float noise cannot reorder it) and the cumulative token mass is
    * the distributed runningTotal over that rank, so no step is a
    * mandatory single-partition window over the vocabulary. Counts
    * exact; one division per checkpoint row.
    */
  def q281_token_coverage(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.PrefixSum
    val counts = tokenCounts(s, dir, "word", "n")
      .withColumn("neg", -col("n"))
    val ranked = PrefixSum.globalRank(counts, Seq("neg", "word"), "r")
    val cum = PrefixSum.runningTotal(ranked, "r", "n", "cum")
    val tot = counts.agg(sum("n").as("total"), count(lit(1)).as("vocab"))
    cum.filter(col("r").isin(10L, 25L, 50L, 100L, 1000L))
      .crossJoin(broadcast(tot))
      .select(col("r").as("top_k"), col("cum").as("tokens_covered"),
        col("total").as("total_tokens"), col("vocab").as("vocab_size"),
        round(col("cum") / col("total"), 6).as("coverage"))
      .orderBy("top_k")
  }

  /** Per-user inter-event burstiness B = (σ−μ)/(σ+μ) over gap times —
    * the Goh-Barabási parameter separating Poisson-like activity
    * (B ≈ 0) from bursty sessions (B → 1) and metronomes (B → −1);
    * the shape number behind q87's raw gap telemetry that decides
    * session-window widths. Gaps are EXACT integer microseconds from
    * one per-user lag window (user-partitioned — embarrassingly
    * parallel); each user's μ/σ come from exact integer moments, and
    * only users with ≥ 5 gaps enter the corpus summary (B is
    * meaningless below that). The summary reports mean B and the
    * bursty/regular split.
    */
  def q282_burstiness(s: SparkSession, dir: String): DataFrame = {
    // SECOND-grain exact integers: gap² in microseconds overflows
    // int64 (10-day gap ⇒ ~1e30); seconds keep every moment exact.
    // floor(µs/1e6) is the same IEEE double op on both engines.
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("event_id"),
        floor(unix_micros(col("ts").cast("timestamp")) / lit(1e6))
          .cast("long").as("t"))
    // event_id tie-break: equal timestamps within a user must order
    // identically on both engines or the gap sequence diverges
    val gaps = ev
      .withColumn("gap",
        col("t") - lag("t", 1).over(
          Window.partitionBy("user_id").orderBy("t", "event_id")))
      .filter(col("gap").isNotNull)
    val perUser = gaps.groupBy("user_id")
      .agg(count(lit(1)).as("ng"), sum("gap").as("sg"),
        sum(col("gap") * col("gap")).as("qg"))
      .filter(col("ng") >= 5)
    val mu = col("sg") / col("ng")
    val sd = sqrt(col("qg") / col("ng") - mu * mu)
    val b = (sd - mu) / (sd + mu)
    perUser.agg(count(lit(1)).as("n_users"),
      round(sum(b) / count(lit(1)), 4).as("mean_b"),
      sum(when(b > 0, 1L).otherwise(0L)).as("n_bursty"),
      sum(when(b <= 0, 1L).otherwise(0L)).as("n_regular"))
  }

  /** Mutual information (nats) between event type and weekday, with
    * both marginal entropies — the magnitude readout behind q126's
    * chi-square yes/no ("DO they depend" vs "how many bits does one
    * tell you about the other"); MI/min(H) is the standard normalized
    * association for feature-redundancy pruning. The contingency
    * frame is ≤ types×7 cells; marginals and the grand total ride in
    * as bounded broadcasts; every probability is a single division of
    * exact counts and the three entropy sums are rounded once each.
    *
    * Unlike the chi-square family (q126/q313, which must COMPLETE the
    * grid because an empty cell still contributes (0−E)²/E = E), the
    * observed-cells enumeration here is exact by the 0·log 0 = 0
    * limit convention: an empty cell's p·log(p/(px·py)) term is
    * identically zero, so dropping it changes nothing
    * (ContingencyAuditSpec pins this on a perfect-association table
    * whose off-diagonal cells are empty).
    */
  def q285_mutual_information(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "events")
      .select(col("event_type").as("et"), dayofweek(col("ts")).cast("long").as("wd"))
    val cells = base.groupBy("et", "wd").agg(count(lit(1)).as("nxy"))
    val mx = cells.groupBy("et").agg(sum("nxy").as("nx"))
    val my = cells.groupBy("wd").agg(sum("nxy").as("ny"))
    val tot = cells.agg(sum("nxy").as("n"))
    val pxy = col("nxy") / col("n")
    val mi = cells
      .join(broadcast(mx), "et").join(broadcast(my), "wd")
      .crossJoin(broadcast(tot))
      .agg(round(sum(pxy *
        log(pxy / ((col("nx") / col("n")) * (col("ny") / col("n"))))), 6)
        .as("mi_nats"))
    val hType = mx.crossJoin(broadcast(tot))
      .agg(round(-sum((col("nx") / col("n")) * log(col("nx") / col("n"))), 6)
        .as("h_type"))
    val hWd = my.crossJoin(broadcast(tot))
      .agg(round(-sum((col("ny") / col("n")) * log(col("ny") / col("n"))), 6)
        .as("h_weekday"))
    mi.crossJoin(broadcast(hType)).crossJoin(broadcast(hWd))
  }

  /** SAX symbolization of the daily-revenue series: z-normalize
    * against the series moments (1-row broadcast), map each day onto
    * the standard 4-symbol Gaussian breakpoints (±0.6745, 0), and
    * fold each ISO week into one SAX word — the representation
    * time-series indexes and motif/anomaly miners work on (two weeks
    * with the same word are shape-equal at this resolution; q227/q86
    * flag points, SAX compares SHAPES). The word is an order-pinned
    * fold (array_sort over (day, symbol) structs — collect_list alone
    * is partition-order nondeterministic); weeks truncate to ISO
    * Monday on both engines.
    */
  def q287_sax_words(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(round(sum("value"), 2).as("rev"))
    val mom = daily.agg(count(lit(1)).cast("double").as("n"),
      sum("rev").as("s1"), sum(col("rev") * col("rev")).as("s2"))
    val mean = col("s1") / col("n")
    val sd = sqrt((col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1))
    val z = (col("rev") - mean) / sd
    val sym = when(z < -0.6745, "a").when(z < 0, "b")
      .when(z < 0.6745, "c").otherwise("d")
    daily.crossJoin(broadcast(mom))
      .select(date_trunc("week", col("day")).cast("date").as("week"),
        col("day"), sym.as("sym"))
      .groupBy("week")
      .agg(count(lit(1)).as("n_days"),
        array_join(transform(
          array_sort(collect_list(struct(col("day"), col("sym")))),
          x => x.getField("sym")), "").as("sax_word"))
      .orderBy("week")
  }

  /** Information-gain split scoring — the decision-stump step: for
    * each purchase-value decile boundary, how many nats of event-type
    * entropy a "value < boundary" split removes, flagging the best
    * split (the inner loop of tree learning and MDL discretization;
    * q285 says the columns are associated, this finds WHERE to cut).
    * One pass bins rows into (type, decile) cells via q93's exact
    * rank arithmetic; every split's below/above tallies are then
    * cumulative sums over the ≤ types×10 cell frame — 9 candidate
    * splits share one scan. Entropies are exact-count divisions with
    * the standard 0·ln0 = 0 guard, one rounding per row.
    */
  def q289_info_gain_split(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.PrefixSum
    val p = t(s, dir, "events")
      .filter(col("event_type").isin("purchase", "click", "view"))
      .select(col("event_id"), col("event_type").as("et"), col("value"))
    val k = 10L
    val nDf = p.agg(count(lit(1)).as("__n"))
    val ranked = PrefixSum.globalRank(p, Seq("value", "event_id"), "r")
      .crossJoin(broadcast(nDf))
    val q = floor(col("__n") / k); val rem = col("__n") % k
    val bin = when(col("r") <= rem * (q + 1), (col("r") - 1) / (q + 1))
      .otherwise(rem + (col("r") - rem * (q + 1) - 1) / q)
      .cast("long") + 1
    // r13 optimization: persisted — this ≤ types×10-row frame is
    // consumed three times (dense grid join, per-type totals, grand
    // total), and each consumption re-ran the full globalRank pass
    // over the events fact upstream. A ≤30-row cache removes those
    // re-executions; results are bit-identical.
    val cells = ranked.withColumn("decile", bin)
      .groupBy("et", "decile").agg(count(lit(1)).as("c"))
      .persistTracked()
    // DENSE type×decile grid: a type absent from a decile must still
    // carry its running below-count forward (a cum over the sparse
    // cell frame would skip those splits)
    val typesDf = s.createDataFrame(
      Seq("click", "purchase", "view").map(Tuple1(_))).toDF("et")
    val decilesDf = s.createDataFrame((1L to 10L).map(Tuple1(_))).toDF("decile")
    val wcum = Window.partitionBy("et").orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val below = typesDf.crossJoin(decilesDf)
      .join(cells, Seq("et", "decile"), "left")
      .withColumn("c0", coalesce(col("c"), lit(0L)))
      .withColumn("nb", sum("c0").over(wcum))
      .filter(col("decile") <= 9)
      .select(col("et"), col("decile").as("split"), col("nb"))
    val typeTot = cells.groupBy("et").agg(sum("c").as("nt"))
    val grand = cells.agg(sum("c").as("n"))
    val bs = below.groupBy("split").agg(sum("nb").as("bb"))
    def plogp(num: Column, den: Column): Column =
      when(num > 0, (num / den) * log(num / den)).otherwise(lit(0.0))
    val joined = below
      .join(broadcast(typeTot), "et").crossJoin(broadcast(grand))
      .join(broadcast(bs), "split")
      .withColumn("na", col("nt") - col("nb"))
      .withColumn("aa", col("n") - col("bb"))
    // IG = H(type) − weighted child entropies; with plogp = Σ p·ln p
    // (the NEGATIVE entropy) that is (bb/n)·hbn + (aa/n)·han − htn
    val ig = joined.groupBy("split")
      .agg(first(col("bb")).as("n_below"),
        round((first(col("bb")) / first(col("n"))) *
          sum(plogp(col("nb"), col("bb"))) +
          (first(col("aa")) / first(col("n"))) *
            sum(plogp(col("na"), col("aa"))) -
          sum(plogp(col("nt"), col("n"))), 6).as("info_gain"))
    val best = ig.agg(max("info_gain").as("best_ig"))
    ig.crossJoin(broadcast(best))
      .select(col("split"), col("n_below"), col("info_gain"),
        (col("info_gain") === col("best_ig")).as("is_best"))
      .orderBy("split")
  }

  /** Power-law tail exponent of the part-popularity distribution via
    * the Hill MLE: α = 1 + n/Σ ln(dᵢ/d_min) over parts ordered at
    * least d_min = 25 times (the upper half of the synthetic demand
    * range) — the number that says whether demand is
    * heavy-tailed enough for q94/q37-style hot-key treatment to
    * matter (α ≲ 2.5: a few parts dominate; α large: near-uniform).
    * Degrees are exact distinct-order counts per part (one grouped
    * aggregate); the tail filter and count are exact; the single ln
    * sum is the only float, rounded once with the α arithmetic.
    */
  def q293_powerlaw_alpha(s: SparkSession, dir: String): DataFrame = {
    val dmin = 25L
    val deg = t(s, dir, "lineitem")
      .groupBy("l_partkey")
      .agg(countDistinct("l_orderkey").as("d"))
    val all = deg.agg(count(lit(1)).as("n_parts"))
    deg.filter(col("d") >= dmin)
      .agg(count(lit(1)).as("n_tail"),
        sum(log(col("d") / lit(dmin.toDouble))).as("lsum"))
      .crossJoin(broadcast(all))
      .select(col("n_parts"), lit(dmin).as("d_min"), col("n_tail"),
        round(lit(1.0) + col("n_tail") / col("lsum"), 4).as("hill_alpha"))
  }

  /** Corpus health scorecard — the one-row summary a training-data
    * pipeline prints before anything else runs: document and exact
    * token counts, vocabulary size, the exact-duplicate share
    * (content-hash distinct vs rows, q06's measure as a RATE), mean
    * document length, and the language mix's top share. Two scans
    * (one fused-tokenizer pass for tokens, one explode for the
    * vocabulary) folded by 1-row broadcasts; every number is an exact
    * count until its single output division.
    */
  def q300_corpus_scorecard(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions
    val docs = tWide(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"), col("text"),
        size(TextFunctions.tokens(col("text"))).cast("long").as("ntok"))
    val base = docs.agg(count(lit(1)).as("n_docs"),
      sum("ntok").as("n_tokens"),
      countDistinct(md5(col("text"))).as("n_unique"),
      sum("n_chars").as("chars"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"))
    val vocab = tWide(s, dir, "documents")
      .select(explode(TextFunctions.tokens(col("text"))).as("w"))
      .agg(countDistinct("w").as("vocab_size"))
    base.crossJoin(broadcast(vocab))
      .select(col("n_docs"), col("n_tokens"), col("vocab_size"),
        round((col("n_docs") - col("n_unique")) / col("n_docs").cast("double"), 6)
          .as("exact_dup_rate"),
        round(col("chars") / col("n_docs").cast("double"), 2).as("avg_chars"),
        round(col("n_en") / col("n_docs").cast("double"), 6).as("en_share"))
  }

  /** N-gram LM perplexity scoring with STUPID BACKOFF — the
    * CCNet/KenLM-style quality filter that ranks documents by how
    * "language-like" they read, the workhorse between q192's DSIR and
    * q203's corpus-level KL. A bigram model is trained on the
    * even-doc_id half of the corpus (hash-deterministic split, no RNG)
    * and the odd half is scored HELD-OUT, so the backoff path (unseen
    * bigram → 0.4 × add-half-smoothed unigram) really fires. Per-doc
    * score is the mean negative log-probability over its bigrams —
    * ppl = exp(nll) is monotone in it, and staying on the log scale
    * keeps cross-engine exp() out of the hash (q302's rule).
    *
    * Scale: bigrams come from a codegen `zip_with` over the token
    * array (no per-doc window); count frames are corpus-derived and
    * therefore SHUFFLE on their token keys, never broadcast (only the
    * 1-row (N, V) normalizer broadcasts); scoring is three equi-joins
    * — (w1,w2), w1, w2 — with AQE handling the stopword-head skew,
    * then one doc_id shuffle for the per-doc mean. Single-token docs
    * have no bigrams and drop out in both engines.
    */
  def q325_ngram_perplexity(s: SparkSession, dir: String): DataFrame =
    ngramPerplexityScored(s, dir).orderBy("doc_id")

  /** q325's scored frame WITHOUT the presentation sort — factored out
    * (r14, bm25Scored's pattern) so q326's cache build does not pay a
    * doc_id sort it immediately re-ranks by (lang, nll, doc_id): the
    * sort sat INSIDE the persisted subtree, where EliminateSorts
    * cannot reach it.
    */
  private[graft] def ngramPerplexityScored(s: SparkSession, dir: String): DataFrame = {
    // r13 optimization: persisted — the train-bigram branch, the
    // unigram branch and the held-out scoring branch each re-ran the
    // tokenizer over the full corpus (3 passes). Doc-grain token
    // arrays (q329/q342's established cache shape); released by
    // Bench/Verify hygiene. Bit-identical results.
    val toksAll = tWide(s, dir, "documents").select(col("doc_id"), col("lang"),
      graft.functions.TextFunctions.tokens(col("text")).as("l"))
      .persistTracked()
    // greatest(…, 0): a 0/1-token doc must yield an empty bigram array,
    // not a negative slice length (which throws).
    val bg = zip_with(
      slice(col("l"), lit(1), greatest(size(col("l")) - 1, lit(0))),
      slice(col("l"), lit(2), greatest(size(col("l")) - 1, lit(0))),
      (a, b) => struct(a.as("w1"), b.as("w2")))
    val bi = toksAll
      .select(col("doc_id"), col("lang"), explode(bg).as("b"))
      .select(col("doc_id"), col("lang"), col("b.w1"), col("b.w2"))
    val train = bi.filter(col("doc_id") % 2 === 0)
    val c2 = train.groupBy("w1", "w2").agg(count(lit(1)).as("n2"))
    // r14: c1 persisted — its THREE consumers (the nn/v rollup and the
    // two unigram join legs) each re-ran the cache-read + explode +
    // count aggregation. Vocabulary-grain (two narrow columns), the
    // expensive-derived-compute shape the r13 persist rule admits.
    val c1 = toksAll.filter(col("doc_id") % 2 === 0)
      .select(explode(col("l")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n1"))
      .persistTracked()
    val nv = c1.agg(sum("n1").as("nn"), count(lit(1)).as("v"))
    val scored = bi.filter(col("doc_id") % 2 === 1)
      .join(c2, Seq("w1", "w2"), "left")
      .join(c1.select(col("w").as("w1"), col("n1").as("n1w1")), Seq("w1"), "left")
      .join(c1.select(col("w").as("w2"), col("n1").as("n1w2")), Seq("w2"), "left")
      .crossJoin(broadcast(nv))
      .withColumn("logp",
        when(col("n2").isNotNull, log(col("n2") / col("n1w1")))
          .otherwise(log(lit(0.4)) +
            log((coalesce(col("n1w2"), lit(0L)) + lit(0.5)) /
              (col("nn") + lit(0.5) * col("v")))))
    scored.groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_bigrams"), round(-avg(col("logp")), 4).as("nll"))
  }

  /** CCNet-style perplexity bucketing over q325's held-out scores: each
    * language's scored docs split into head/middle/tail by exact nll
    * terciles — the partition CCNet uses to keep the well-modeled
    * "head" slice of a crawl and drop the tail. A language-PARTITIONED
    * `ntile(3)` would put each language in one task — and one language
    * is most of any real crawl, so that is a global sort in disguise.
    * Instead: ONE cost-based PrefixSum.globalRank over the composite
    * (lang, nll, doc_id) order, within-language rank recovered by
    * subtracting per-language exclusive offsets (a ≤#languages-row
    * frame), and the tercile from q138's exact-ntile integer
    * arithmetic — every stage partition-parallel. Ranking on the
    * ALREADY-ROUNDED nll with a doc_id tiebreak keeps the order
    * engine-stable. Output is the per-(lang, bucket) audit a curation
    * run reads: doc count, nll envelope, mean.
    */
  def q326_perplexity_buckets(s: SparkSession, dir: String): DataFrame = {
    // r13 optimization: persisted — the rank pass and the per-language
    // offset aggregate BOTH consume the scored frame, and without the
    // cache each re-executed q325's whole pipeline (tokenize + the
    // three LM joins) end to end. The cache is doc-grain (4 narrow
    // columns), far smaller than the bigram streams it derives from;
    // released by Bench/Verify hygiene (Dedup's caller contract).
    // r14: consume the UNORDERED helper (the doc_id presentation sort
    // sat inside the cached subtree) and MATERIALIZE the cache with a
    // count before globalRank reads its size: an unmaterialized
    // InMemoryRelation reports its child's estimate, and q325's
    // join-tower estimate blew the small-input gate, sending this
    // ~doc-count frame down the distributed rank path (an eager
    // mid-query checkpoint + count + offset collect). The count
    // pre-pays the cache build the rank pass needed anyway; once
    // materialized the gate sees the TRUE cached bytes — so the same
    // code still takes the distributed path when the data is actually
    // big (the cost-based contract, now fed measured stats).
    val scored = ngramPerplexityScored(s, dir).persistTracked()
    scored.count()
    val ranked = PrefixSum.globalRank(scored, Seq("lang", "nll", "doc_id"), "gr")
    // Per-language counts + exclusive offsets: bounded by the language
    // label space (≤ ~200 rows at ANY corpus size) — the window is over
    // that frame, never doc rows.
    val offsets = scored.groupBy("lang").agg(count(lit(1)).as("nl"))
      .withColumn("off", coalesce(
        sum("nl").over(Window.orderBy("lang")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val q3 = expr("nl div 3")
    val rem = col("nl") % 3
    val r = col("gr") - col("off")
    val bin = (when(r <= rem * (q3 + 1), (r - 1) / (q3 + 1))
      .otherwise(rem + (r - rem * (q3 + 1) - 1) / q3)
      .cast("long") + 1)
    val bucketed = ranked.join(broadcast(offsets), "lang")
      .withColumn("b", bin)
      .withColumn("bucket",
        when(col("b") === 1, "1_head").when(col("b") === 2, "2_middle")
          .otherwise("3_tail"))
    bucketed.groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n_docs"),
        round(min("nll"), 4).as("min_nll"),
        round(max("nll"), 4).as("max_nll"),
        round(avg("nll"), 4).as("mean_nll"))
      .orderBy("lang", "bucket")
  }

  /** Length-grouped batching for training (the padding-waste
    * minimizer every LLM data loader runs): pack docs into fixed-size
    * batches of B=32 in TOKEN-LENGTH order vs naive arrival order, and
    * report the padded-token bill for each — a batch pads every member
    * to its longest doc, so grouping similar lengths is the classic
    * free lunch (length-sorted waste is provably ≤ any other grouping
    * into equal batches of the same order type). Both global orders
    * ride the cost-based PrefixSum.globalRank (never a raw
    * single-partition window); batch membership is pure integer
    * arithmetic on the rank, and the per-batch max/sum aggregate
    * shuffles on the n/B-cardinality batch key. Complements
    * q55_pack_chunks (greedy token packing into a fixed context) —
    * this is the padded-batch regime, that one the packed-sequence
    * regime.
    */
  def q329_length_batching(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.PrefixSum
    val b = 32
    // Persisted: BOTH rank passes consume this frame, and the
    // tokenizer map over the corpus is the query's dominant cost —
    // without the cache each globalRank re-scans and re-tokenizes
    // (Dedup's contract: caller hygiene — Bench/Verify — releases it).
    val docs = tWide(s, dir, "documents").select(col("doc_id"),
      size(graft.functions.TextFunctions.tokens(col("text")))
        .cast("long").as("n_tok"))
      .persistTracked()
    def packCost(ordered: DataFrame, strategy: String): DataFrame =
      ordered.withColumn("batch", expr(s"(r - 1) div $b"))
        .groupBy("batch")
        .agg(count(lit(1)).as("nb"), max("n_tok").as("mx"),
          sum("n_tok").as("tok"))
        .agg(count(lit(1)).as("n_batches"),
          sum(col("nb") * col("mx")).as("padded_tokens"),
          sum(col("tok")).as("real_tokens"))
        .select(lit(strategy).as("strategy"), col("n_batches"),
          col("padded_tokens"), col("real_tokens"),
          round((col("padded_tokens") - col("real_tokens")) * lit(100.0) /
            col("padded_tokens"), 2).as("waste_pct"))
    packCost(PrefixSum.globalRank(docs, Seq("n_tok", "doc_id"), "r"),
        "1_length_sorted")
      .unionByName(
        packCost(PrefixSum.globalRank(docs, Seq("doc_id"), "r"), "2_arrival"))
      .orderBy("strategy")
  }

  /** Temperature-based epoch mixing, MATERIALIZED (q211 computes the
    * α=0.5 sampling weights; this actually builds the epoch-expanded
    * training list those weights imply): each language's integer
    * repeat factor is ceil(upsample) capped to [1,4] — low-resource
    * languages repeat across epochs, the head language runs once —
    * and every (doc, epoch) copy gets a deterministic interleave key
    * from modular arithmetic ((doc_id mod M)·1000003 + epoch·7919
    * mod M, M = 1e9+7 — pre-modded so it is overflow-safe at any id:
    * hash-free so both engines agree bit-for-bit, uniform enough to
    * shard the training order without a global shuffle). Expansion is
    * a codegen explode(sequence(1, rep)) against a BROADCAST
    * ≤#languages-row factor table — the fact never shuffles to
    * expand; the audit rollup is a two-level language-grain aggregate
    * whose checksum folds the modulus at both levels (overflow-proof
    * at any corpus size — see the inline note).
    */
  def q330_epoch_mix(s: SparkSession, dir: String): DataFrame = {
    val docs = tWide(s, dir, "documents").select("doc_id", "lang")
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
    val z = counts.agg(sum(sqrt(col("n_docs"))).as("z"),
      sum(col("n_docs")).as("n"))
    val reps = counts.crossJoin(broadcast(z))
      .withColumn("rep", least(lit(4L), greatest(lit(1L),
        ceil((sqrt(col("n_docs")) / col("z")) /
          (col("n_docs") / col("n"))))))
      .select("lang", "n_docs", "rep")
    // Two-LEVEL mod reduction for the checksum: a single sum(k) % M
    // overflows Long once a group exceeds ~9.2e9 copies (real at
    // 100 TB). Level 1 folds the mod inside 65536 shards per language
    // (map-side combined; each partial < M), level 2 sums ≤65536
    // partials (< 65536·M ≪ 2^63). Each shard's raw sum stays exact
    // up to ~9.2e9 copies, i.e. ~6e14 copies per LANGUAGE — orders of
    // magnitude past a 100 TB corpus; grow the shard count with the
    // corpus if that bound ever binds. The key itself pre-mods doc_id
    // (q338's form) so the multiply never wraps at any id — the raw
    // doc_id·1000003 form wraps negative in Spark and ERRORS in
    // DuckDB past ~9.2e12, i.e. the engines would diverge.
    val m = lit(1000000007L)
    docs.join(broadcast(reps), "lang")
      .select(col("lang"), col("n_docs"), col("rep"), col("doc_id"),
        explode(sequence(lit(1L), col("rep"))).as("epoch"))
      .withColumn("k",
        ((col("doc_id") % m) * lit(1000003L) + col("epoch") * lit(7919L)) % m)
      .groupBy(col("lang"), (col("doc_id") % 65536).as("shard"))
      .agg(max("n_docs").as("n_docs"), max("rep").as("rep"),
        count(lit(1)).as("cnt"), min("k").as("mn"), max("k").as("mx"),
        (sum("k") % m).as("psum"))
      .groupBy("lang")
      .agg(max("n_docs").as("n_docs"), max("rep").as("repeat_factor"),
        sum("cnt").as("n_expanded"),
        min("mn").as("min_key"), max("mx").as("max_key"),
        (sum("psum") % m).as("key_checksum"))
      .orderBy("lang")
  }

  /** Deterministic per-stratum eval-holdout picker: the fixed
    * k-per-language eval sample every training run re-derives (and
    * must re-derive IDENTICALLY). Sample position is hash-free
    * mod-arithmetic ((doc_id mod M)·1000003 mod M — overflow-safe at
    * any id, identical in both engines), selection is top-k by
    * position through the typed TopKByScore Aggregator — per-group
    * state O(k) with map-side trim, so the head language of a crawl
    * costs one k-row buffer per partition where a lang-PARTITIONED
    * window would sort it in one task (q326's argument, solved with
    * the aggregate instead of the rank). Output is the eval manifest
    * itself: (lang, doc_id), ≤ k·#languages rows.
    */
  def q338_eval_holdout(s: SparkSession, dir: String): DataFrame = {
    val m = 1000000007L
    val k = 20
    val topk = udaf(operators.TopKByScore(k))
    t(s, dir, "documents")
      .select(col("lang"),
        ((col("doc_id") % m) * lit(1000003L) % m).as("score"), col("doc_id"))
      .groupBy("lang")
      .agg(topk(col("score"), col("doc_id")).as("sel"))
      .select(col("lang"), explode(col("sel")).as("t"))
      .select(col("lang"), col("t._2").as("doc_id"))
      .orderBy("lang", "doc_id")
  }

  /** BPE judged at the FIRST-MERGE dial (k = 1): the single driver
    * round of Bpe.learnMerges is exactly the operator's distributed
    * core — corpus tokenize → (word, n) vocabulary → adjacent-symbol
    * pair explode weighted by word count → argmax with the
    * (freq desc, left, right) tie-break — and at k = 1 there is no
    * iterative rewrite yet, so the WHOLE round is SQL-expressible and
    * DuckDB-judged (the q357/q359 exact-dial pattern). All counts are
    * integers: no float boundary exists at any SF. The k = 5
    * production dial (q193) stays rows-only because merge rounds ≥ 2
    * see a symbol state only the greedy left-to-right fold produces;
    * BpeSpec's differential tests pin that fold against the local
    * reference. Scale shape is q193's: the corpus scan happens once
    * (the word count), the pair agg runs over the vocabulary-sized
    * frame with map-side partials.
    */
  def q360_bpe_first_merge(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wc = tokenCounts(s, dir, "word", "n")
    operators.Bpe.learnMerges(wc, k = 1)
      .toDF("step", "left", "right", "freq")
      .orderBy("step")
  }

  /** BPE tokenizer APPLICATION judged at the k = 1 exact dial (q364,
    * twin of q199): ONE learned merge (q360's oracle-judged argmax)
    * replayed by Bpe.encode's greedy left-to-right fold. For a
    * single-character pair (l, r) — always the case at k = 1, symbols
    * start as chars — the greedy fold is exactly leftmost-first
    * non-overlapping substring replacement ("aaaa" → ["aa","aa"],
    * "aaa" → ["aa","a"]; BpeSpec's fixture), which both engines'
    * replace() implements identically, so the encode pass becomes
    * SQL-expressible: replace l||r with a sentinel char (probed
    * absent from the corpus at every SF), split to chars, map the
    * sentinel back. Judged output = q199's shape (top subwords by
    * weighted frequency). All counts integers — no float boundary at
    * any SF. The k = 5 production dial (q199) stays rows-only: merges
    * ≥ 2 act on multi-char symbol states only the fold carries.
    */
  def q364_bpe_encode_k1(s: SparkSession, dir: String): DataFrame = {
    val wc = tokenCounts(s, dir, "word", "n").persistTracked()
    val merges = operators.Bpe.learnMerges(wc, k = 1)
    operators.Bpe.encode(wc, merges)
      .select(col("n"), explode(col("syms")).as("subword"))
      .groupBy("subword").agg(sum("n").as("freq"), count(lit(1)).as("n_words"))
      .orderBy(desc("freq"), col("subword"))
      .limit(25)
  }

  /** END-TO-END text-curation pipeline — the TEXT-modality flagship
    * beside q322's media pipeline, composing the judged operators in
    * the order a Dolma/RefinedWeb-class run executes them as ONE
    * declarative plan:
    *   (1) QUALITY GATE — exact-integer Gopher-style rules (≥30
    *       tokens, mean word length ≤ 5 as sum_len ≤ 5·n — integer
    *       predicates so pass/fail is engine-identical, q200's rule);
    *   (2) NEAR-DUP DROP — MinHash-LSH pairs over the survivors
    *       (q23's machinery), keep-first semantics: drop any doc with
    *       a lower-id partner at jaccard ≥ 0.5 (pairwise, exactly
    *       expressible in SQL; the exact all-pairs oracle is safe by
    *       the planted-dup gap);
    *   (3) PACKING AUDIT — inclusive token running-total over the
    *       unique survivors (cost-based PrefixSum, q55's concat-then-
    *       chunk semantics) counting docs that STRADDLE a 2048-token
    *       context boundary.
    * Output is the per-source curation funnel: docs in → past
    * quality → past dedup, token mass kept, boundary straddlers —
    * sources that lose every doc stay visible with zeros (left joins
    * from the input grain). Every stage is a judged operator; the
    * flagship judges their COMPOSITION.
    */
  def q342_text_curation(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Dedup, PrefixSum}
    val toks = graft.functions.TextFunctions.tokens(col("text"))
    // Persisted: consumed by the per-source input counts, the quality
    // gate, AND (via quality) the LSH build — one tokenize pass
    // (caller hygiene releases it, Dedup's contract).
    // r14 follow-up: the token ARRAY is projected out before the
    // persist — no consumer reads `l`, only the derived scalars and
    // `text` (the LSH build re-shingles from text), so caching the
    // arrays paid serialization and memory for nothing. Bit-identical.
    val docs = tWide(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("text"), toks.as("l"))
      .withColumn("n_tok", size(col("l")).cast("long"))
      .withColumn("sum_len",
        aggregate(transform(col("l"), t => length(t)), lit(0), _ + _)
          .cast("long"))
      .drop("l")
      .persistTracked()
    val quality = docs.filter(col("n_tok") >= 30 &&
      col("sum_len") <= lit(5L) * col("n_tok"))
    val dropIds = Dedup.minhashLshPairs(quality, "doc_id", "text",
        shingleSize = 3, numHashes = 32, bands = 16, threshold = 0.5)
      .select(col("id_b").as("doc_id")).distinct()
    val unique = quality.join(dropIds, Seq("doc_id"), "left_anti")
      .select("doc_id", "source", "n_tok")
    val packed = PrefixSum.runningTotal(unique, "doc_id", "n_tok", "cum")
      .withColumn("straddles",
        expr("(cum - n_tok) div 2048") =!= expr("(cum - 1) div 2048"))
    val base = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
    val qc = quality.groupBy("source").agg(count(lit(1)).as("n_quality"))
    val uc = packed.groupBy("source").agg(count(lit(1)).as("n_unique"),
      sum("n_tok").as("tokens_kept"),
      count(when(col("straddles"), lit(1))).as("n_straddlers"))
    base.join(qc, Seq("source"), "left").join(uc, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_quality"), lit(0L)).as("n_quality"),
        coalesce(col("n_unique"), lit(0L)).as("n_unique"),
        coalesce(col("tokens_kept"), lit(0L)).as("tokens_kept"),
        coalesce(col("n_straddlers"), lit(0L)).as("n_straddlers"))
      .orderBy("source")
  }

  private[graft] def textAll: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q07_text_wordcount" -> (q07_text_wordcount _),
    "q21_lang_quality"  -> (q21_lang_quality _),
    "q22_token_counts"  -> (q22_token_counts _),
    "q36_ngram_jaccard" -> (q36_ngram_jaccard _),
    "q42_corpus_filter" -> (q42_corpus_filter _),
    "q47_scrub"         -> (q47_scrub _),
    "q48_vocab"         -> (q48_vocab _),
    "q55_pack_chunks"   -> (q55_pack_chunks _),
    "q56_normalize"     -> (q56_normalize _),
    "q57_repetition"    -> (q57_repetition _),
    "q58_doc_freq"      -> (q58_doc_freq _),
    "q63_top_ngrams"    -> (q63_top_ngrams _),
    "q74_entropy"       -> (q74_entropy _),
    "q81_tfidf"         -> (q81_tfidf _),
    "q82_bm25"          -> (q82_bm25 _),
    "q85_length_buckets" -> (q85_length_buckets _),
    "q90_split_assign"  -> (q90_split_assign _),
    "q91_bigram_lm"     -> (q91_bigram_lm _),
    "q107_stem_topwords" -> (q107_stem_topwords _),
    "q112_transition_matrix" -> (q112_transition_matrix _),
    "q113_lm_score"     -> (q113_lm_score _),
    "q161_quality_filter" -> (q161_quality_filter _),
    "q164_boilerplate_ngrams" -> (q164_boilerplate_ngrams _),
    "q170_zipf_slope"   -> (q170_zipf_slope _),
    "q173_markov_transitions" -> (q173_markov_transitions _),
    "q175_benford"      -> (q175_benford _),
    "q180_doc_perplexity" -> (q180_doc_perplexity _),
    "q181_pmi_collocations" -> (q181_pmi_collocations _),
    "q185_budget_select" -> (q185_budget_select _),
    "q186_phrase_search" -> (q186_phrase_search _),
    "q187_ngram_novelty" -> (q187_ngram_novelty _),
    "q190_split_leakage" -> (q190_split_leakage _),
    "q192_dsir_select"  -> (q192_dsir_select _),
    "q193_bpe_merges"   -> (q193_bpe_merges _),
    "q199_bpe_encode"   -> (q199_bpe_encode _),
    "q200_gopher_rules" -> (q200_gopher_rules _),
    "q203_kl_divergence" -> (q203_kl_divergence _),
    "q207_chi2_select"  -> (q207_chi2_select _),
    "q208_gini_tokens"  -> (q208_gini_tokens _),
    "q209_rbo"          -> (q209_rbo _),
    "q210_oov_rate"     -> (q210_oov_rate _),
    "q211_temperature_mix" -> (q211_temperature_mix _),
    "q216_quantile_normalize" -> (q216_quantile_normalize _),
    "q219_class_balance" -> (q219_class_balance _),
    "q229_regex_tokens" -> (q229_regex_tokens _),
    "q231_log_odds_terms" -> (q231_log_odds_terms _),
    "q236_vocab_overlap" -> (q236_vocab_overlap _),
    "q246_heaps_law"    -> (q246_heaps_law _),
    "q247_column_entropy" -> (q247_column_entropy _),
    "q252_entropy_rate" -> (q252_entropy_rate _),
    "q271_js_divergence" -> (q271_js_divergence _),
    "q281_token_coverage" -> (q281_token_coverage _),
    "q282_burstiness"   -> (q282_burstiness _),
    "q285_mutual_information" -> (q285_mutual_information _),
    "q287_sax_words"    -> (q287_sax_words _),
    "q289_info_gain_split" -> (q289_info_gain_split _),
    "q293_powerlaw_alpha" -> (q293_powerlaw_alpha _),
    "q300_corpus_scorecard" -> (q300_corpus_scorecard _),
    "q325_ngram_perplexity" -> (q325_ngram_perplexity _),
    "q326_perplexity_buckets" -> (q326_perplexity_buckets _),
    "q329_length_batching" -> (q329_length_batching _),
    "q330_epoch_mix"    -> (q330_epoch_mix _),
    "q338_eval_holdout" -> (q338_eval_holdout _),
    "q342_text_curation" -> (q342_text_curation _),
    "q360_bpe_first_merge" -> (q360_bpe_first_merge _),
    "q364_bpe_encode_k1" -> (q364_bpe_encode_k1 _),
  )

  private[graft] def textOracle: Map[String, String] = Map(
    "q07_text_wordcount" ->
      """SELECT word, count(*) AS cnt FROM (
        |  SELECT unnest(string_split_regex(lower(text), '\s+')) AS word
        |  FROM documents)
        |WHERE word <> '' GROUP BY word
        |ORDER BY cnt DESC, word ASC LIMIT 20""".stripMargin,
    "q21_lang_quality" -> {
      val profiles = graft.functions.TextFunctions.stopwordProfiles
      def lst(ws: Seq[String]) = ws.map(w => s"'$w'").mkString("[", ", ", "]")
      val hits = profiles.map { case (l, ws) =>
        s"len(list_distinct(list_intersect(toks, ${lst(ws)}))) AS h_$l"
      }.mkString(",\n        ")
      val bestExpr = profiles.map(p => s"h_${p._1}").mkString("greatest(", ", ", ")")
      val caseArms = profiles.map { case (l, _) =>
        s"WHEN h_$l = best AND best > 0 THEN '$l'"
      }.mkString(" ")
      s"""WITH tok AS (
        |  SELECT doc_id, lang, text,
        |    list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS toks
        |  FROM documents),
        |sc AS (
        |  SELECT doc_id, lang, text, toks,
        |        $hits
        |  FROM tok),
        |best AS (SELECT *, $bestExpr AS best FROM sc)
        |SELECT doc_id, lang AS tagged_lang,
        |  CASE $caseArms ELSE 'und' END AS pred_lang,
        |  len(toks) AS n_tokens,
        |  round(CASE WHEN len(toks) > 0
        |    THEN list_sum(list_transform(toks, t -> len(t)))::DOUBLE / len(toks)
        |    ELSE 0.0 END, 4) AS mean_word_len,
        |  round((length(text) - length(regexp_replace(text,
        |    '[.,;:!?''"()\\[\\]{}]', '', 'g')))::DOUBLE / greatest(length(text), 1), 4)
        |    AS punct_ratio,
        |  round(len(list_distinct(list_intersect(toks, ${lst(profiles.head._2)})))::DOUBLE
        |    / greatest(len(toks), 1), 4) AS stopword_ratio,
        |  CASE WHEN len(toks) BETWEEN 5 AND 100000
        |    AND (CASE WHEN len(toks) > 0
        |         THEN list_sum(list_transform(toks, t -> len(t)))::DOUBLE / len(toks)
        |         ELSE 0.0 END) BETWEEN 2 AND 12
        |    THEN 1 ELSE 0 END AS quality_keep
        |FROM best ORDER BY doc_id""".stripMargin
    },
    "q22_token_counts" ->
      """SELECT doc_id,
        |  len(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) AS ws_tokens,
        |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS bpe_splits,
        |  len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS alnum_tokens,
        |  length(text) // 4 AS est_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q360_bpe_first_merge" ->
      """WITH w AS (
        |  SELECT word, count(*)::BIGINT AS n FROM (
        |    SELECT unnest(string_split_regex(lower(text), '\s+')) AS word FROM documents)
        |  WHERE word <> '' GROUP BY word),
        |p AS (
        |  SELECT unnest([{'l': word[i:i], 'r': word[i+1:i+1]}
        |                 for i in range(1, length(word))]) AS pr, n
        |  FROM w WHERE length(word) >= 2)
        |SELECT 1 AS step, pr.l AS "left", pr.r AS "right", sum(n)::BIGINT AS freq
        |FROM p GROUP BY 1, 2, 3
        |ORDER BY freq DESC, "left", "right" LIMIT 1""".stripMargin,
    "q364_bpe_encode_k1" ->
      """WITH w AS (
        |  SELECT word, count(*)::BIGINT AS n FROM (
        |    SELECT unnest(string_split_regex(lower(text), '\s+')) AS word FROM documents)
        |  WHERE word <> '' GROUP BY word),
        |pr AS (
        |  SELECT unnest([{'l': word[i:i], 'r': word[i+1:i+1]}
        |                 for i in range(1, length(word))]) AS pr, n
        |  FROM w WHERE length(word) >= 2),
        |m AS (SELECT pr.l AS l, pr.r AS r FROM pr GROUP BY 1, 2
        |      ORDER BY sum(n) DESC, l, r LIMIT 1),
        |enc AS (SELECT w.n, replace(w.word, m.l || m.r, chr(1)) AS e FROM w, m),
        |sym AS (SELECT n, CASE WHEN c = chr(1) THEN (SELECT l || r FROM m)
        |                       ELSE c END AS subword
        |        FROM enc, unnest(string_split(e, '')) t(c))
        |SELECT subword, sum(n)::BIGINT AS freq, count(*)::BIGINT AS n_words
        |FROM sym GROUP BY subword ORDER BY freq DESC, subword LIMIT 25""".stripMargin,
    "q36_ngram_jaccard" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    list_distinct([array_to_string(toks[i:i+2], ' ')
        |                   for i in range(1, len(toks) - 1)]) AS sh
        |  FROM d WHERE len(toks) >= 3)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(len(list_intersect(a.sh, b.sh))::DOUBLE /
        |        (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4) AS jaccard
        |FROM s a JOIN s b ON b.doc_id = a.doc_id + 1
        |WHERE a.doc_id % 5 = 0
        |ORDER BY id_a""".stripMargin,
    "q42_corpus_filter" ->
      """WITH q AS (
        |  SELECT doc_id, lang, text,
        |    len(list_filter(string_split_regex(lower(text), '\s+'),
        |        t -> t <> '')) AS n_tokens
        |  FROM documents),
        |f AS (SELECT * FROM q WHERE n_tokens BETWEEN 5 AND 1000),
        |d AS (
        |  SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        |  FROM f),
        |c AS (
        |  SELECT doc_id, lang, n_tokens,
        |    sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
        |      ::BIGINT AS cum_tokens
        |  FROM d WHERE rn = 1)
        |SELECT doc_id, lang, n_tokens, cum_tokens FROM c
        |WHERE cum_tokens - n_tokens < 10000 ORDER BY doc_id""".stripMargin,
    "q47_scrub" ->
      """SELECT doc_id,
        |  len(regexp_extract_all(text, '\b(customer|spark)\b')) AS n_redacted,
        |  length(regexp_replace(text, '\b(customer|spark)\b', '[REDACTED]', 'g'))
        |    AS scrubbed_len
        |FROM documents
        |WHERE len(regexp_extract_all(text, '\b(customer|spark)\b')) > 0
        |ORDER BY doc_id""".stripMargin,
    "q48_vocab" ->
      """WITH w AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |    t -> t <> '')) AS word FROM documents),
        |c AS (SELECT word, count(*) AS cnt FROM w GROUP BY word),
        |v AS (SELECT word, cnt FROM c ORDER BY cnt DESC, word LIMIT 20)
        |SELECT (SELECT count(*) FROM v) AS n_vocab,
        |  (SELECT sum(cnt) FROM c)::BIGINT AS total_tokens,
        |  (SELECT sum(cnt) FROM v)::BIGINT AS covered_tokens,
        |  round((SELECT sum(cnt) FROM v)::DOUBLE /
        |        (SELECT sum(cnt) FROM c), 4) AS coverage""".stripMargin,
    "q55_pack_chunks" ->
      """WITH q AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(lower(text), '\s+'),
        |        t -> t <> '')) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |    sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
        |      ::BIGINT AS cum
        |  FROM q)
        |SELECT (cum - n_tokens) // 2048 AS chunk, count(*) AS n_docs,
        |  sum(n_tokens)::BIGINT AS chunk_tokens,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM c GROUP BY 1 ORDER BY chunk""".stripMargin,
    "q56_normalize" ->
      """WITH n AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(regexp_replace(lower(text),
        |      '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')) AS norm
        |  FROM documents)
        |SELECT doc_id, length(norm) AS norm_len,
        |  count(*) OVER (PARTITION BY norm) AS n_same_norm,
        |  min(doc_id) OVER (PARTITION BY norm) AS canonical_id
        |FROM n ORDER BY doc_id""".stripMargin,
    "q57_repetition" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS toks
        |  FROM documents),
        |b AS (
        |  SELECT doc_id,
        |    greatest(len(toks) - 1, 0) AS n_bigrams,
        |    len(list_distinct([array_to_string(toks[i:i+1], ' ')
        |                       for i in range(1, len(toks))])) AS n_distinct
        |  FROM d)
        |SELECT doc_id, n_bigrams, n_distinct,
        |  n_bigrams - n_distinct AS n_repeated,
        |  CASE WHEN n_bigrams > 0
        |    THEN ((n_bigrams - n_distinct) * 10000) // n_bigrams
        |    ELSE 0 END AS dup_bp
        |FROM b ORDER BY doc_id""".stripMargin,
    "q58_doc_freq" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    unnest(list_distinct(list_filter(string_split_regex(lower(text), '\s+'),
        |      t -> t <> ''))) AS word
        |  FROM documents),
        |c AS (SELECT word, count(*) AS df FROM w GROUP BY word),
        |t AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT word, df, n_docs,
        |  round(ln((n_docs + 1)::DOUBLE / (df + 1)), 4) AS idf
        |FROM c CROSS JOIN t
        |ORDER BY df DESC, word ASC LIMIT 25""".stripMargin,
    "q63_top_ngrams" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT lang,
        |    unnest(list_distinct([array_to_string(toks[i:i+4], ' ')
        |                          for i in range(1, len(toks) - 3)])) AS ng
        |  FROM d WHERE len(toks) >= 5),
        |c AS (SELECT lang, ng, count(*) AS n_docs FROM s GROUP BY lang, ng),
        |r AS (
        |  SELECT lang, ng, n_docs,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY n_docs DESC, ng ASC) AS rn
        |  FROM c)
        |SELECT lang, rn, ng, n_docs FROM r WHERE rn <= 3
        |ORDER BY lang, rn""".stripMargin,
    "q74_entropy" ->
      """WITH chars AS (
        |  SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents
        |), counts AS (
        |  SELECT doc_id, ch, count(*)::DOUBLE AS n FROM chars GROUP BY doc_id, ch
        |)
        |SELECT doc_id,
        |  round(log2(sum(n)) - sum(n * log2(n)) / sum(n), 2) AS entropy_bits
        |FROM counts GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q81_tfidf" ->
      """WITH words AS (
        |  SELECT doc_id, w AS word FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) t
        |  WHERE length(w) > 0),
        |tf AS (SELECT doc_id, word, count(*) AS tf FROM words GROUP BY doc_id, word),
        |df AS (SELECT word, count(*) AS df FROM (
        |    SELECT DISTINCT doc_id, word FROM words) u GROUP BY word),
        |n AS (SELECT count(*)::DOUBLE AS n FROM documents),
        |r AS (SELECT tf.doc_id, tf.word, tf.tf, df.df,
        |    row_number() OVER (PARTITION BY tf.doc_id
        |                       ORDER BY tf.tf DESC, tf.word ASC) AS rnk
        |  FROM tf JOIN df USING (word))
        |SELECT doc_id, rnk, word, tf,
        |  round(tf * ln((SELECT n FROM n) / df), 3) AS tfidf
        |FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,
    "q82_bm25" ->
      """WITH words AS (
        |  SELECT doc_id, w AS word FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) t
        |  WHERE length(w) > 0),
        |dl AS (SELECT doc_id, count(*) AS dl FROM words GROUP BY doc_id),
        |avgdl AS (SELECT sum(dl)::DOUBLE / count(*) AS avgdl FROM dl),
        |tf AS (SELECT doc_id, word, count(*) AS tf FROM words
        |       WHERE word IN ('spark', 'join', 'window') GROUP BY doc_id, word),
        |df AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
        |n AS (SELECT count(*)::DOUBLE AS n FROM documents)
        |SELECT tf.doc_id,
        |  round(sum(ln(1.0 + ((SELECT n FROM n) - df + 0.5) / (df + 0.5))
        |            * tf * (1.2 + 1)
        |            / (tf + 1.2 * ((1 - 0.75) + 0.75 * dl / avgdl))), 3) AS bm25,
        |  count(*) AS n_terms
        |FROM tf JOIN df USING (word) JOIN dl USING (doc_id) CROSS JOIN avgdl
        |GROUP BY tf.doc_id ORDER BY tf.doc_id""".stripMargin,
    "q85_length_buckets" ->
      """WITH d AS (SELECT len(string_split(text, ' ')) AS tokens FROM documents)
        |SELECT tokens // 32 AS bucket, count(*) AS n_docs,
        |  sum(tokens)::BIGINT AS sum_tokens,
        |  ((count(*) + 7) // 8)::BIGINT AS n_batches
        |FROM d GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q90_split_assign" ->
      """WITH d AS (
        |  SELECT *, ((doc_id * 2654435761) % 4294967296) % 100 AS bucket
        |  FROM documents)
        |SELECT CASE WHEN bucket < 90 THEN 'train'
        |            WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split,
        |  lang, count(*) AS n_docs, sum(n_chars)::BIGINT AS sum_chars
        |FROM d GROUP BY 1, 2 ORDER BY split, lang""".stripMargin,
    "q91_bigram_lm" ->
      """WITH w AS (
        |  SELECT list_filter(string_split(text, ' '), x -> x <> '') AS ws
        |  FROM documents),
        |b AS (SELECT ws[i] AS w1, ws[i+1] AS w2 FROM (
        |    SELECT ws, unnest(range(1, len(ws))) AS i FROM w
        |    WHERE len(ws) >= 2) t),
        |c AS (SELECT w1, w2, count(*) AS n FROM b GROUP BY w1, w2),
        |tot AS (SELECT w1, sum(n)::BIGINT AS tot FROM c GROUP BY w1),
        |r AS (SELECT c.w1, c.w2, c.n, tot.tot,
        |    row_number() OVER (PARTITION BY c.w1
        |                       ORDER BY c.n DESC, c.w2 ASC) AS rnk
        |  FROM c JOIN tot USING (w1))
        |SELECT w1, rnk, w2, n, round(n::DOUBLE / tot, 4) AS p
        |FROM r WHERE rnk <= 3 ORDER BY w1, rnk""".stripMargin,
    "q107_stem_topwords" ->
      """WITH tk AS (
        |  SELECT regexp_replace(unnest(
        |      list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')),
        |    '[^a-z]', '', 'g') AS tok
        |  FROM documents),
        |st AS (
        |  SELECT regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |      regexp_replace(tok, '(ies|ied)$', 'i'),
        |      'sses$', 'ss'), '([^su])s$', '\1'),
        |      '^(.{4,})ing$', '\1'), '^(.{3,})ed$', '\1') AS stem
        |  FROM tk)
        |SELECT stem, count(*) AS n FROM st
        |WHERE length(stem) >= 3 AND stem NOT IN (
        |  'the','and','for','are','but','not','you','all','can','was','one',
        |  'our','out','has','his','her','how','its','may','new','now','see',
        |  'two','way','who','did','that','with','this','from','they','have',
        |  'will','what','been','were','each','which','their','would','there',
        |  'about')
        |GROUP BY stem ORDER BY n DESC, stem ASC LIMIT 30""".stripMargin,
    "q112_transition_matrix" ->
      """WITH s AS (
        |  SELECT event_type AS cur_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |                           ORDER BY ts, event_id) AS next_type
        |  FROM events),
        |c AS (SELECT cur_type, next_type, count(*) AS n FROM s
        |      WHERE next_type IS NOT NULL GROUP BY cur_type, next_type),
        |tt AS (SELECT cur_type, sum(n)::BIGINT AS tot FROM c GROUP BY cur_type)
        |SELECT c.cur_type, c.next_type, c.n,
        |  round(c.n::DOUBLE / tt.tot, 4) AS p
        |FROM c JOIN tt ON c.cur_type = tt.cur_type
        |ORDER BY c.cur_type, c.next_type""".stripMargin,
    "q113_lm_score" ->
      """WITH w AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
        |  FROM documents),
        |b AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2 FROM (
        |    SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM w
        |    WHERE len(ws) >= 2) t),
        |lm AS (SELECT w1, w2, count(*) AS n FROM b
        |       WHERE doc_id % 10 <> 0 GROUP BY w1, w2),
        |tt AS (SELECT w1, sum(n)::BIGINT AS tot FROM lm GROUP BY w1),
        |p AS (SELECT lm.w1, lm.w2,
        |        floor(lm.n * 10000 / tt.tot)::BIGINT AS pscaled
        |      FROM lm JOIN tt ON lm.w1 = tt.w1),
        |tst AS (SELECT b.doc_id, p.pscaled FROM b
        |        LEFT JOIN p ON b.w1 = p.w1 AND b.w2 = p.w2
        |        WHERE b.doc_id % 10 = 0)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  sum(CASE WHEN pscaled IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_oov,
        |  coalesce(sum(pscaled), 0)::BIGINT AS score
        |FROM tst GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q161_quality_filter" ->
      """WITH tok AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS toks
        |  FROM documents),
        |sc AS (
        |  SELECT doc_id, lang, len(toks) AS n_tokens,
        |    round(CASE WHEN len(toks) > 0
        |      THEN list_sum(list_transform(toks, t -> len(t)))::DOUBLE / len(toks)
        |      ELSE 0.0 END, 4) AS score
        |  FROM tok),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY lang ORDER BY score, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM sc),
        |thr AS (
        |  SELECT lang,
        |    max(CASE WHEN rn = greatest(1, ceil(0.25 * n)) THEN score END) AS p25
        |  FROM r GROUP BY lang)
        |SELECT sc.lang, count(*) AS n_total,
        |  sum(CASE WHEN score >= p25 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
        |  round(min(p25), 4) AS p25_threshold,
        |  round(sum(CASE WHEN score >= p25 THEN n_tokens ELSE 0 END)::DOUBLE /
        |        sum(n_tokens), 4) AS kept_token_share
        |FROM sc JOIN thr USING (lang)
        |GROUP BY sc.lang ORDER BY lang""".stripMargin,
    "q164_boilerplate_ngrams" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS toks
        |  FROM documents),
        |docs AS (SELECT doc_id, source, toks FROM d WHERE len(toks) >= 2),
        |s AS (
        |  SELECT source, doc_id,
        |    unnest(list_distinct([array_to_string(toks[i:i+1], ' ')
        |                          for i in range(1, len(toks))])) AS ng
        |  FROM docs),
        |c AS (SELECT source, ng, count(*) AS nd FROM s GROUP BY source, ng),
        |b AS (SELECT source, ng, nd FROM c WHERE nd >= 5),
        |ps AS (SELECT source, count(*) AS n_boiler, sum(nd) AS hits FROM b GROUP BY source),
        |dh AS (SELECT source, count(DISTINCT doc_id) AS docs_hit
        |       FROM s JOIN b USING (source, ng) GROUP BY source),
        |nd2 AS (SELECT source, count(*) AS n_docs FROM docs GROUP BY source)
        |SELECT nd2.source, n_docs,
        |  coalesce(n_boiler, 0) AS n_boiler,
        |  coalesce(hits, 0)::BIGINT AS boiler_doc_hits,
        |  coalesce(docs_hit, 0) AS docs_hit
        |FROM nd2 LEFT JOIN ps USING (source) LEFT JOIN dh USING (source)
        |ORDER BY nd2.source""".stripMargin,
    "q170_zipf_slope" ->
      """WITH toks AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) AS w
        |  FROM documents),
        |c AS (SELECT w, count(*) AS c FROM toks GROUP BY w),
        |r AS (SELECT w, c, row_number() OVER (ORDER BY c DESC, w ASC) AS r FROM c),
        |t AS (SELECT * FROM r WHERE r <= 1000)
        |SELECT (SELECT count(*) FROM c)::BIGINT AS n_vocab,
        |  count(*)::BIGINT AS n_top,
        |  round(regr_slope(ln(c), ln(r)), 4) AS zipf_slope,
        |  round(regr_intercept(ln(c), ln(r)), 4) AS zipf_intercept
        |FROM t""".stripMargin,
    "q173_markov_transitions" ->
      """WITH seq AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |c AS (
        |  SELECT from_type, to_type, count(*)::BIGINT AS n
        |  FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  round(n * 1.0 / sum(n) OVER (PARTITION BY from_type), 4) AS p
        |FROM c ORDER BY from_type, to_type""".stripMargin,
    "q175_benford" ->
      """WITH digits AS (
        |  SELECT CAST(substr(CAST(CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
        |  FROM lineitem),
        |c AS (SELECT digit, count(*)::BIGINT AS n FROM digits GROUP BY digit)
        |SELECT digit, n,
        |  round(n * 1.0 / (SELECT sum(n) FROM c), 4) AS obs_share,
        |  round(log10(1.0 + 1.0 / digit), 4) AS benford_share,
        |  round(abs(round(n * 1.0 / (SELECT sum(n) FROM c), 4)
        |            - round(log10(1.0 + 1.0 / digit), 4)), 4) AS abs_dev
        |FROM c ORDER BY digit""".stripMargin,
    "q180_doc_perplexity" ->
      """WITH d AS (
        |  SELECT doc_id, source, list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS ws
        |  FROM documents),
        |dd AS (SELECT doc_id, source, ws FROM d WHERE len(ws) >= 2),
        |bi AS (
        |  SELECT doc_id, source, b.w1 AS w1, b.w2 AS w2
        |  FROM (SELECT doc_id, source,
        |          unnest([{'w1': ws[i], 'w2': ws[i+1]} for i in range(1, len(ws))]) AS b
        |        FROM dd)),
        |cb AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY 1, 2),
        |cu AS (SELECT w1, count(*) AS c1 FROM bi GROUP BY 1),
        |vv AS (SELECT count(DISTINCT w2) AS v FROM bi)
        |SELECT b.doc_id, b.source, count(*)::BIGINT AS n_bigrams,
        |  round(exp(avg(-ln((c12 + 0.5) / (c1 + 0.5 * v)))), 4) AS ppl
        |FROM bi b JOIN cb USING (w1, w2) JOIN cu USING (w1) CROSS JOIN vv
        |GROUP BY 1, 2 ORDER BY doc_id""".stripMargin,
    "q181_pmi_collocations" ->
      """WITH d AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS ws
        |  FROM documents),
        |toks AS (SELECT unnest(ws) AS w FROM d),
        |uni AS (SELECT w, count(*) AS cw FROM toks GROUP BY w),
        |nu AS (SELECT count(*) AS nu FROM toks),
        |dd AS (SELECT ws FROM d WHERE len(ws) >= 2),
        |bi AS (
        |  SELECT b.w1 AS w1, b.w2 AS w2, count(*) AS c12
        |  FROM (SELECT unnest([{'w1': ws[i], 'w2': ws[i+1]} for i in range(1, len(ws))]) AS b
        |        FROM dd)
        |  GROUP BY 1, 2),
        |nb AS (SELECT sum(c12) AS nb FROM bi)
        |SELECT w1, w2, c12::BIGINT AS c12,
        |  round(ln((c12 * 1.0 / nb) / ((ca * 1.0 / nu) * (cb * 1.0 / nu))), 4) AS pmi
        |FROM (SELECT bi.w1, bi.w2, bi.c12, a.cw AS ca, b.cw AS cb
        |      FROM bi JOIN uni a ON bi.w1 = a.w JOIN uni b ON bi.w2 = b.w
        |      WHERE bi.c12 >= 5)
        |CROSS JOIN nu CROSS JOIN nb
        |ORDER BY pmi DESC, w1, w2 LIMIT 50""".stripMargin,
    "q185_budget_select" ->
      """WITH d AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS toks
        |  FROM documents),
        |sc AS (
        |  SELECT doc_id,
        |    len(list_distinct(toks)) * 1.0 / len(toks) AS score,
        |    len(toks)::BIGINT AS cost
        |  FROM d WHERE len(toks) > 0),
        |r AS (SELECT *, sum(cost) OVER (ORDER BY score DESC, doc_id
        |        ROWS UNBOUNDED PRECEDING) AS cum FROM sc)
        |SELECT count(*)::BIGINT AS n_selected, sum(cost)::BIGINT AS total_tokens,
        |  round(min(score), 4) AS min_score
        |FROM r WHERE cum <= 20000""".stripMargin,
    "q186_phrase_search" ->
      """WITH d AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS toks
        |  FROM documents),
        |p AS (SELECT array_to_string(toks[1:3], ' ') AS ph FROM d WHERE doc_id = 0),
        |occ AS (
        |  SELECT doc_id,
        |    unnest([i-1 for i in range(1, len(toks)-1) if array_to_string(toks[i:i+2], ' ') = ph]) AS pos
        |  FROM d CROSS JOIN p WHERE len(toks) >= 3)
        |SELECT doc_id, pos FROM occ ORDER BY doc_id, pos""".stripMargin,
    "q187_ngram_novelty" ->
      """WITH d AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, unnest([array_to_string(toks[i:i+7], ' ') for i in range(1, len(toks)-6)]) AS w
        |  FROM d WHERE len(toks) >= 8),
        |f AS (SELECT w, min(doc_id) AS first_doc FROM g GROUP BY w)
        |SELECT g.doc_id, count(*)::BIGINT AS n_windows,
        |  round(avg(CASE WHEN f.first_doc = g.doc_id THEN 1.0 ELSE 0.0 END), 4) AS novelty
        |FROM g JOIN f USING (w)
        |GROUP BY 1 ORDER BY doc_id""".stripMargin,
    "q190_split_leakage" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    ((doc_id * 2654435761) % 4294967296) % 100 AS bucket,
        |    list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS toks
        |  FROM documents),
        |ws AS (
        |  SELECT DISTINCT split, w FROM (
        |    SELECT CASE WHEN bucket < 90 THEN 'train'
        |                WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split,
        |      unnest([array_to_string(toks[i:i+7], ' ') for i in range(1, len(toks)-6)]) AS w
        |    FROM d WHERE len(toks) >= 8))
        |SELECT a.split AS split_a, b.split AS split_b, count(*)::BIGINT AS n_shared
        |FROM ws a JOIN ws b ON a.w = b.w AND a.split < b.split
        |GROUP BY 1, 2 ORDER BY split_a, split_b""".stripMargin,
    "q192_dsir_select" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS ws
        |  FROM documents),
        |dd AS (SELECT doc_id, lang, ws FROM d WHERE len(ws) >= 2),
        |feats AS (
        |  SELECT doc_id, lang, substr(md5(b.w1 || ' ' || b.w2), 1, 3) AS f
        |  FROM (SELECT doc_id, lang,
        |          unnest([{'w1': ws[i], 'w2': ws[i+1]} for i in range(1, len(ws))]) AS b
        |        FROM dd)),
        |rc AS (SELECT f, count(*) AS cr FROM feats GROUP BY f),
        |tc AS (SELECT f, count(*) AS ct FROM feats WHERE lang = 'en' GROUP BY f),
        |nr AS (SELECT sum(cr) AS nr FROM rc),
        |nt AS (SELECT sum(ct) AS nt FROM tc),
        |lr AS (SELECT rc.f AS f,
        |         ln((coalesce(tc.ct, 0) + 0.5) / (nt.nt + 0.5 * 4096))
        |       - ln((rc.cr + 0.5) / (nr.nr + 0.5 * 4096)) AS lr
        |       FROM rc LEFT JOIN tc ON rc.f = tc.f CROSS JOIN nt CROSS JOIN nr)
        |SELECT doc_id, lang, count(*)::BIGINT AS n_feats, round(avg(lr.lr), 4) AS dsir_w
        |FROM feats JOIN lr ON feats.f = lr.f
        |WHERE lang <> 'en'
        |GROUP BY doc_id, lang
        |ORDER BY dsir_w DESC, doc_id LIMIT 25""".stripMargin,
    "q200_gopher_rules" ->
      """WITH d AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS ws
        |  FROM documents),
        |dd AS (SELECT doc_id, ws FROM d WHERE len(ws) > 0),
        |base AS (SELECT doc_id, len(ws) AS n_words,
        |    list_sum([len(w) for w in ws]) AS sum_len,
        |    len(list_filter(ws,
        |      w -> w IN ('the','a','of','to','and','in','is','that'))) AS stops
        |  FROM dd),
        |top AS (SELECT doc_id, max(c) AS top_c FROM (
        |    SELECT doc_id, w, count(*) AS c
        |    FROM (SELECT doc_id, unnest(ws) AS w FROM dd) GROUP BY doc_id, w)
        |  GROUP BY doc_id),
        |j AS (SELECT base.doc_id AS doc_id, n_words, sum_len, stops, top_c,
        |    concat_ws('|',
        |      CASE WHEN n_words < 30 THEN 'short' END,
        |      CASE WHEN sum_len > n_words * 5 THEN 'mean_word_len' END,
        |      CASE WHEN stops < 2 THEN 'no_stopwords' END,
        |      CASE WHEN top_c * 5 > n_words THEN 'top_word_dom' END) AS reasons
        |  FROM base JOIN top ON base.doc_id = top.doc_id)
        |SELECT doc_id, n_words, round(sum_len * 1.0 / n_words, 4) AS mean_wlen,
        |  stops, round(top_c * 1.0 / n_words, 4) AS top_share, reasons
        |FROM j WHERE reasons <> '' ORDER BY doc_id""".stripMargin,
    "q203_kl_divergence" ->
      """WITH toks AS (SELECT lang,
        |    unnest(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) AS w
        |  FROM documents),
        |c AS (SELECT lang, w, count(*)::BIGINT AS n FROM toks GROUP BY 1, 2),
        |vocab AS (SELECT DISTINCT w FROM c),
        |nv AS (SELECT count(*) AS v FROM vocab),
        |tot AS (SELECT lang, sum(n) AS t FROM c GROUP BY lang),
        |en AS (SELECT w, n AS en_n FROM c WHERE lang = 'en'),
        |ent AS (SELECT t AS en_t FROM tot WHERE lang = 'en'),
        |grid AS (SELECT v.w, l.lang, c.n FROM vocab v
        |  CROSS JOIN (SELECT lang FROM tot WHERE lang <> 'en') l
        |  LEFT JOIN c ON c.w = v.w AND c.lang = l.lang)
        |SELECT g.lang AS lang,
        |  round(sum( ((coalesce(g.n, 0) + 0.5) / (tot.t + 0.5 * nv.v)) *
        |    ln( ((coalesce(g.n, 0) + 0.5) / (tot.t + 0.5 * nv.v)) /
        |        ((coalesce(en.en_n, 0) + 0.5) / (ent.en_t + 0.5 * nv.v)) ) ), 4) AS kl
        |FROM grid g
        |JOIN tot ON tot.lang = g.lang
        |LEFT JOIN en ON en.w = g.w
        |CROSS JOIN ent CROSS JOIN nv
        |GROUP BY g.lang ORDER BY g.lang""".stripMargin,
    "q207_chi2_select" ->
      """WITH pres AS (
        |  SELECT DISTINCT doc_id, is_en, word FROM (
        |    SELECT doc_id, (lang = 'en')::BIGINT AS is_en,
        |      unnest(string_split_regex(lower(text), '\s+')) AS word
        |    FROM documents) WHERE word <> ''),
        |tot AS (SELECT sum((lang = 'en')::BIGINT)::BIGINT AS n_en,
        |               sum((lang <> 'en')::BIGINT)::BIGINT AS n_oth FROM documents),
        |g AS (SELECT word, sum(is_en)::BIGINT AS a, sum(1 - is_en)::BIGINT AS b
        |      FROM pres GROUP BY word HAVING sum(is_en) + sum(1 - is_en) >= 5)
        |SELECT word, a, b,
        |  round(((n_en + n_oth) * (a * (n_oth - b) - b * (n_en - a))
        |           * (a * (n_oth - b) - b * (n_en - a)))::DOUBLE /
        |        ((a + b) * (n_en + n_oth - a - b) * n_en * n_oth), 4) AS chi2
        |FROM g, tot
        |WHERE a + b < n_en + n_oth
        |ORDER BY chi2 DESC, word ASC LIMIT 15""".stripMargin,
    "q208_gini_tokens" ->
      """WITH wc AS (
        |  SELECT lang, word, count(*)::BIGINT AS cnt FROM (
        |    SELECT lang, unnest(string_split_regex(lower(text), '\s+')) AS word
        |    FROM documents) WHERE word <> '' GROUP BY lang, word),
        |r AS (SELECT lang, cnt,
        |    row_number() OVER (PARTITION BY lang ORDER BY cnt ASC, word ASC)::BIGINT AS r
        |  FROM wc)
        |SELECT lang, count(*)::BIGINT AS vocab, sum(cnt)::BIGINT AS total,
        |  round((2 * sum(r * cnt) - (count(*) + 1) * sum(cnt))::DOUBLE /
        |        (count(*) * sum(cnt)), 4) AS gini
        |FROM r GROUP BY lang ORDER BY lang""".stripMargin,
    "q209_rbo" ->
      """WITH a AS (
        |  SELECT doc_id, row_number() OVER (ORDER BY n_chars DESC, doc_id ASC)::BIGINT AS ra
        |  FROM documents ORDER BY n_chars DESC, doc_id ASC LIMIT 20),
        |wd AS (SELECT doc_id, count(DISTINCT word)::BIGINT AS nd FROM (
        |    SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS word
        |    FROM documents) WHERE word <> '' GROUP BY doc_id),
        |b AS (SELECT doc_id, row_number() OVER (ORDER BY nd DESC, doc_id ASC)::BIGINT AS rb
        |  FROM wd ORDER BY nd DESC, doc_id ASC LIMIT 20),
        |ov AS (SELECT greatest(a.ra, b.rb) AS md FROM a JOIN b USING (doc_id)),
        |ds AS (SELECT d::BIGINT AS d FROM generate_series(1, 20) AS t(d)),
        |o AS (SELECT d, count(md)::BIGINT AS ov
        |      FROM ds LEFT JOIN ov ON md <= d GROUP BY d)
        |SELECT round(sum(pow(0.5, d) * ov / d), 4) AS rbo,
        |  max(CASE WHEN d = 20 THEN ov END)::BIGINT AS ov20
        |FROM o""".stripMargin,
    "q210_oov_rate" ->
      """WITH tok AS (
        |  SELECT lang, word FROM (
        |    SELECT lang, unnest(string_split_regex(lower(text), '\s+')) AS word
        |    FROM documents) WHERE word <> ''),
        |vocab AS (SELECT word FROM (
        |    SELECT word, count(*) AS cnt FROM tok GROUP BY word)
        |  ORDER BY cnt DESC, word ASC LIMIT 500)
        |SELECT lang, count(*)::BIGINT AS n_tokens,
        |  sum(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_oov,
        |  round(sum(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END)::DOUBLE / count(*), 4)
        |    AS oov_rate
        |FROM tok t LEFT JOIN vocab v ON t.word = v.word
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "q211_temperature_mix" ->
      """WITH c AS (SELECT lang, count(*)::BIGINT AS n_docs FROM documents GROUP BY lang),
        |tot AS (SELECT sum(sqrt(n_docs)) AS z, sum(n_docs)::BIGINT AS n FROM c)
        |SELECT lang, n_docs,
        |  round(sqrt(n_docs) / z, 6) AS weight,
        |  round((sqrt(n_docs) / z) / (n_docs::DOUBLE / n), 4) AS upsample
        |FROM c, tot ORDER BY lang""".stripMargin,
    "q216_quantile_normalize" ->
      """WITH cells AS (
        |  SELECT vec_id, (i - 1)::INTEGER AS dim, embedding[i]::DOUBLE AS x
        |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)),
        |ranked AS (SELECT vec_id, dim, x,
        |    row_number() OVER (PARTITION BY dim ORDER BY x ASC, vec_id ASC) AS rk
        |  FROM cells),
        |profile AS (SELECT rk, round(avg(x), 6) AS q FROM ranked GROUP BY rk)
        |SELECT dim, count(*)::BIGINT AS n, round(min(q), 6) AS min_norm,
        |  round(max(q), 6) AS max_norm, round(avg(q), 4) AS mean_norm
        |FROM ranked r JOIN profile p ON r.rk = p.rk
        |WHERE dim < 8
        |GROUP BY dim ORDER BY dim""".stripMargin,
    "q219_class_balance" ->
      """WITH q AS (SELECT min(n)::BIGINT AS quota FROM (
        |    SELECT count(*) AS n FROM documents GROUP BY lang)),
        |r AS (SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(doc_id::VARCHAR) ASC, doc_id ASC)::BIGINT AS rk
        |  FROM documents)
        |SELECT lang, count(*)::BIGINT AS n_kept, sum(doc_id)::BIGINT AS id_checksum
        |FROM r, q WHERE rk <= quota
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "q229_regex_tokens" ->
      """WITH toks AS (
        |  SELECT lang, unnest(regexp_extract_all(lower(text),
        |    '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS tok
        |  FROM documents)
        |SELECT lang, count(*)::BIGINT AS n_tokens,
        |  count(DISTINCT tok)::BIGINT AS n_distinct,
        |  sum(CASE WHEN regexp_matches(tok, '^[a-z]') THEN 1 ELSE 0 END)::BIGINT AS n_alpha,
        |  sum(CASE WHEN regexp_matches(tok, '^[0-9]') THEN 1 ELSE 0 END)::BIGINT AS n_num,
        |  sum(CASE WHEN regexp_matches(tok, '^[a-z0-9]') THEN 0 ELSE 1 END)::BIGINT AS n_other
        |FROM toks GROUP BY lang ORDER BY lang""".stripMargin,
    "q231_log_odds_terms" ->
      """WITH toks AS (
        |  SELECT (lang = 'en')::BIGINT AS is_web,
        |    unnest(string_split_regex(lower(text), '\s+')) AS word
        |  FROM documents),
        |t2 AS (SELECT * FROM toks WHERE word <> ''),
        |counts AS (SELECT word, sum(is_web)::BIGINT AS a,
        |    sum(1 - is_web)::BIGINT AS b
        |  FROM t2 GROUP BY word HAVING sum(is_web) + sum(1 - is_web) >= 10),
        |tot AS (SELECT sum(is_web)::BIGINT AS na, sum(1 - is_web)::BIGINT AS nb FROM t2)
        |SELECT word, a, b,
        |  round((ln((a + (a + b) * 1000.0 / (na + nb)) /
        |            (na + 1000.0 - a - (a + b) * 1000.0 / (na + nb))) -
        |         ln((b + (a + b) * 1000.0 / (na + nb)) /
        |            (nb + 1000.0 - b - (a + b) * 1000.0 / (na + nb)))) /
        |        sqrt(1.0 / (a + (a + b) * 1000.0 / (na + nb)) +
        |             1.0 / (b + (a + b) * 1000.0 / (na + nb))), 4) AS z
        |FROM counts, tot
        |ORDER BY z DESC, word ASC LIMIT 15""".stripMargin,
    "q236_vocab_overlap" ->
      """WITH vocab AS (
        |  SELECT DISTINCT lang, word FROM (
        |    SELECT lang, unnest(string_split_regex(lower(text), '\s+')) AS word
        |    FROM documents) WHERE word <> ''),
        |sizes AS (SELECT lang, count(*)::BIGINT AS n FROM vocab GROUP BY lang),
        |inter AS (SELECT a.lang AS lang_a, b.lang AS lang_b, count(*)::BIGINT AS inter
        |  FROM vocab a JOIN vocab b ON a.word = b.word AND a.lang < b.lang
        |  GROUP BY 1, 2)
        |SELECT lang_a, lang_b, sa.n AS na, sb.n AS nb, inter,
        |  round(inter::DOUBLE / (sa.n + sb.n - inter), 4) AS jaccard
        |FROM inter JOIN sizes sa ON sa.lang = lang_a
        |           JOIN sizes sb ON sb.lang = lang_b
        |ORDER BY lang_a, lang_b""".stripMargin,
    "q246_heaps_law" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS w
        |  FROM documents),
        |t2 AS (SELECT * FROM toks WHERE w <> ''),
        |perdoc AS (SELECT doc_id, count(*)::BIGINT AS n_toks FROM t2 GROUP BY doc_id),
        |fo AS (SELECT fo, count(*)::BIGINT AS new_words FROM (
        |    SELECT w, min(doc_id) AS fo FROM t2 GROUP BY w) GROUP BY fo),
        |curve0 AS (SELECT p.doc_id, p.n_toks,
        |    coalesce(f.new_words, 0)::BIGINT AS nw
        |  FROM perdoc p LEFT JOIN fo f ON f.fo = p.doc_id),
        |curve AS (SELECT doc_id,
        |    sum(nw) OVER w AS vv, sum(n_toks) OVER w AS nn
        |  FROM curve0
        |  WINDOW w AS (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |pts AS (SELECT ln(nn) AS x, ln(vv) AS y, vv, nn FROM curve WHERE vv > 0)
        |SELECT count(*)::BIGINT AS n_docs, max(vv)::BIGINT AS vocab_final,
        |  max(nn)::BIGINT AS tokens_final,
        |  round((count(*) * sum(x * y) - sum(x) * sum(y)) /
        |        (count(*) * sum(x * x) - sum(x) * sum(x)), 4) AS heaps_beta
        |FROM pts""".stripMargin,
    "q247_column_entropy" ->
      """WITH e AS (
        |  SELECT column_name, n_rows, n_distinct, entropy_nats FROM (
        |    SELECT 'o_orderkey' AS column_name, sum(cnt)::BIGINT AS n_rows,
        |      count(*)::BIGINT AS n_distinct,
        |      round(-sum((cnt::DOUBLE / n) * ln(cnt::DOUBLE / n)), 4) AS entropy_nats
        |    FROM (SELECT o_orderkey::VARCHAR AS v, count(*)::BIGINT AS cnt
        |          FROM orders GROUP BY 1),
        |         (SELECT count(*)::BIGINT AS n FROM orders)
        |    UNION ALL
        |    SELECT 'o_custkey', sum(cnt), count(*),
        |      round(-sum((cnt::DOUBLE / n) * ln(cnt::DOUBLE / n)), 4)
        |    FROM (SELECT o_custkey::VARCHAR AS v, count(*)::BIGINT AS cnt
        |          FROM orders GROUP BY 1),
        |         (SELECT count(*)::BIGINT AS n FROM orders)
        |    UNION ALL
        |    SELECT 'o_orderstatus', sum(cnt), count(*),
        |      round(-sum((cnt::DOUBLE / n) * ln(cnt::DOUBLE / n)), 4)
        |    FROM (SELECT o_orderstatus AS v, count(*)::BIGINT AS cnt
        |          FROM orders GROUP BY 1),
        |         (SELECT count(*)::BIGINT AS n FROM orders)
        |    UNION ALL
        |    SELECT 'o_orderpriority', sum(cnt), count(*),
        |      round(-sum((cnt::DOUBLE / n) * ln(cnt::DOUBLE / n)), 4)
        |    FROM (SELECT o_orderpriority AS v, count(*)::BIGINT AS cnt
        |          FROM orders GROUP BY 1),
        |         (SELECT count(*)::BIGINT AS n FROM orders)))
        |SELECT column_name, n_rows::BIGINT AS n_rows,
        |  n_distinct::BIGINT AS n_distinct, entropy_nats,
        |  round(entropy_nats / ln(n_rows), 4) AS key_score
        |FROM e ORDER BY column_name""".stripMargin,
    "q252_entropy_rate" ->
      """WITH d AS (
        |  SELECT lang,
        |    list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS ws
        |  FROM documents),
        |dd AS (SELECT lang, ws FROM d WHERE len(ws) >= 2),
        |uni AS (SELECT lang, w, count(*)::BIGINT AS c FROM (
        |    SELECT lang, unnest(ws) AS w FROM dd) GROUP BY lang, w),
        |bi AS (SELECT lang, w, count(*)::BIGINT AS c FROM (
        |    SELECT lang, unnest([ws[i] || ' ' || ws[i+1]
        |      for i in range(1, len(ws))]) AS w FROM dd) GROUP BY lang, w),
        |un AS (SELECT lang, sum(c)::BIGINT AS n FROM uni GROUP BY lang),
        |bn AS (SELECT lang, sum(c)::BIGINT AS n FROM bi GROUP BY lang),
        |hu AS (SELECT uni.lang,
        |    -sum((c::DOUBLE / n) * ln(c::DOUBLE / n)) AS h_uni,
        |    any_value(n)::BIGINT AS n_tokens
        |  FROM uni JOIN un ON un.lang = uni.lang GROUP BY uni.lang),
        |hb AS (SELECT bi.lang,
        |    -sum((c::DOUBLE / n) * ln(c::DOUBLE / n)) AS h_bi
        |  FROM bi JOIN bn ON bn.lang = bi.lang GROUP BY bi.lang)
        |SELECT hu.lang, n_tokens,
        |  round(h_uni, 4) AS h_unigram, round(h_bi, 4) AS h_bigram,
        |  round(h_bi - h_uni, 4) AS entropy_rate
        |FROM hu JOIN hb ON hb.lang = hu.lang
        |ORDER BY hu.lang""".stripMargin,
    "q271_js_divergence" ->
      """WITH toks AS (
        |  SELECT source, unnest(string_split_regex(lower(text), '\s+')) AS word
        |  FROM documents),
        |counts AS (SELECT source, word, count(*)::BIGINT AS n FROM toks
        |  WHERE word <> '' GROUP BY source, word),
        |totals AS (SELECT source, sum(n)::BIGINT AS tot FROM counts GROUP BY source),
        |vocab AS (SELECT DISTINCT word FROM counts),
        |dense AS (SELECT t.source, v.word,
        |    coalesce(c.n, 0) / t.tot AS p
        |  FROM vocab v CROSS JOIN totals t
        |  LEFT JOIN counts c ON c.source = t.source AND c.word = v.word)
        |SELECT a.source AS sa, b.source AS sb,
        |  round(sum(
        |    CASE WHEN a.p > 0 THEN a.p / 2.0 * ln(a.p / ((a.p + b.p) / 2.0))
        |         ELSE 0 END +
        |    CASE WHEN b.p > 0 THEN b.p / 2.0 * ln(b.p / ((a.p + b.p) / 2.0))
        |         ELSE 0 END), 6) AS jsd
        |FROM dense a JOIN dense b ON a.word = b.word AND a.source < b.source
        |GROUP BY a.source, b.source ORDER BY sa, sb""".stripMargin,
    "q281_token_coverage" ->
      """WITH counts AS (
        |  SELECT word, count(*)::BIGINT AS n FROM (
        |    SELECT unnest(string_split_regex(lower(text), '\s+')) AS word
        |    FROM documents) WHERE word <> '' GROUP BY word),
        |ranked AS (SELECT n,
        |    row_number() OVER (ORDER BY -n ASC, word ASC)::BIGINT AS r
        |  FROM counts),
        |cum AS (SELECT r, sum(n) OVER (ORDER BY r
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum
        |  FROM ranked),
        |tot AS (SELECT sum(n)::BIGINT AS total, count(*)::BIGINT AS vocab
        |  FROM counts)
        |SELECT r AS top_k, cum AS tokens_covered, total AS total_tokens,
        |  vocab AS vocab_size, round(cum::DOUBLE / total, 6) AS coverage
        |FROM cum, tot WHERE r IN (10, 25, 50, 100, 1000) ORDER BY top_k""".stripMargin,
    "q282_burstiness" ->
      """WITH ev AS (SELECT user_id, event_id,
        |    floor(epoch_us(ts) / 1000000.0)::BIGINT AS t FROM events),
        |gaps AS (SELECT user_id,
        |    t - lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS gap
        |  FROM ev),
        |pu AS (SELECT user_id, count(*)::BIGINT AS ng, sum(gap)::BIGINT AS sg,
        |    sum(gap * gap)::BIGINT AS qg
        |  FROM gaps WHERE gap IS NOT NULL GROUP BY user_id
        |  HAVING count(*) >= 5),
        |b AS (SELECT (sqrt(qg / ng - (sg / ng) * (sg / ng)) - sg / ng) /
        |    (sqrt(qg / ng - (sg / ng) * (sg / ng)) + sg / ng) AS b FROM pu)
        |SELECT count(*)::BIGINT AS n_users,
        |  round(sum(b) / count(*), 4) AS mean_b,
        |  sum(CASE WHEN b > 0 THEN 1 ELSE 0 END)::BIGINT AS n_bursty,
        |  sum(CASE WHEN b <= 0 THEN 1 ELSE 0 END)::BIGINT AS n_regular
        |FROM b""".stripMargin,
    "q285_mutual_information" ->
      """WITH base AS (SELECT event_type AS et, dayofweek(ts)::BIGINT AS wd
        |  FROM events),
        |cells AS (SELECT et, wd, count(*)::BIGINT AS nxy FROM base
        |  GROUP BY et, wd),
        |mx AS (SELECT et, sum(nxy)::BIGINT AS nx FROM cells GROUP BY et),
        |my AS (SELECT wd, sum(nxy)::BIGINT AS ny FROM cells GROUP BY wd),
        |tot AS (SELECT sum(nxy)::BIGINT AS n FROM cells),
        |mi AS (SELECT round(sum((nxy / n) *
        |    ln((nxy / n) / ((nx / n) * (ny / n)))), 6) AS mi_nats
        |  FROM cells JOIN mx USING (et) JOIN my USING (wd), tot),
        |ht AS (SELECT round(-sum((nx / n) * ln(nx / n)), 6) AS h_type
        |  FROM mx, tot),
        |hw AS (SELECT round(-sum((ny / n) * ln(ny / n)), 6) AS h_weekday
        |  FROM my, tot)
        |SELECT mi_nats, h_type, h_weekday FROM mi, ht, hw""".stripMargin,
    "q287_sax_words" ->
      """WITH daily AS (
        |  SELECT ts::DATE AS day, round(sum(value), 2) AS rev FROM events
        |  WHERE event_type = 'purchase' GROUP BY 1),
        |mom AS (SELECT count(*)::DOUBLE AS n, sum(rev) AS s1,
        |    sum(rev * rev) AS s2 FROM daily),
        |sy AS (SELECT date_trunc('week', day)::DATE AS week, day,
        |    CASE WHEN (rev - s1 / n) /
        |        sqrt((s2 - s1 * s1 / n) / (n - 1)) < -0.6745 THEN 'a'
        |      WHEN (rev - s1 / n) /
        |        sqrt((s2 - s1 * s1 / n) / (n - 1)) < 0 THEN 'b'
        |      WHEN (rev - s1 / n) /
        |        sqrt((s2 - s1 * s1 / n) / (n - 1)) < 0.6745 THEN 'c'
        |      ELSE 'd' END AS sym
        |  FROM daily, mom)
        |SELECT week, count(*)::BIGINT AS n_days,
        |  string_agg(sym, '' ORDER BY day) AS sax_word
        |FROM sy GROUP BY week ORDER BY week""".stripMargin,
    "q289_info_gain_split" ->
      """WITH p AS (SELECT event_id, event_type AS et, value FROM events
        |  WHERE event_type IN ('purchase', 'click', 'view')),
        |nn AS (SELECT count(*)::BIGINT AS n FROM p),
        |rk AS (SELECT et,
        |    row_number() OVER (ORDER BY value, event_id)::BIGINT AS r FROM p),
        |cells AS (SELECT et,
        |    CASE WHEN r <= (n % 10) * (n // 10 + 1)
        |      THEN (r - 1) // (n // 10 + 1)
        |      ELSE (n % 10) + (r - (n % 10) * (n // 10 + 1) - 1) // (n // 10)
        |    END + 1 AS decile, count(*)::BIGINT AS c
        |  FROM rk, nn GROUP BY 1, 2),
        |grid AS (SELECT t.et, d.decile, coalesce(c.c, 0)::BIGINT AS c0
        |  FROM (VALUES ('click'), ('purchase'), ('view')) t(et)
        |  CROSS JOIN (SELECT unnest(range(1, 11))::BIGINT AS decile) d
        |  LEFT JOIN cells c ON c.et = t.et AND c.decile = d.decile),
        |below AS (SELECT et, decile AS split,
        |    sum(c0) OVER (PARTITION BY et ORDER BY decile
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS nb
        |  FROM grid WHERE decile <= 9),
        |tt AS (SELECT et, sum(c)::BIGINT AS nt FROM cells GROUP BY et),
        |g AS (SELECT sum(c)::BIGINT AS n FROM cells),
        |bs AS (SELECT split, sum(nb)::BIGINT AS bb FROM below GROUP BY split),
        |j AS (SELECT b.split, b.nb, tt.nt, g.n, bs.bb,
        |    tt.nt - b.nb AS na, g.n - bs.bb AS aa
        |  FROM below b JOIN tt USING (et) CROSS JOIN g
        |  JOIN bs ON b.split = bs.split),
        |ig AS (SELECT split, first(bb) AS n_below,
        |    round((first(bb) / first(n)) *
        |      sum(CASE WHEN nb > 0 THEN (nb / bb) * ln(nb / bb) ELSE 0 END) +
        |      (first(aa) / first(n)) *
        |      sum(CASE WHEN na > 0 THEN (na / aa) * ln(na / aa) ELSE 0 END) -
        |      sum(CASE WHEN nt > 0 THEN (nt / n) * ln(nt / n) ELSE 0 END), 6)
        |      AS info_gain
        |  FROM j GROUP BY split),
        |best AS (SELECT max(info_gain) AS big FROM ig)
        |SELECT split, n_below, info_gain, info_gain = big AS is_best
        |FROM ig, best ORDER BY split""".stripMargin,
    "q293_powerlaw_alpha" ->
      """WITH deg AS (SELECT l_partkey, count(DISTINCT l_orderkey)::BIGINT AS d
        |  FROM lineitem GROUP BY l_partkey),
        |allp AS (SELECT count(*)::BIGINT AS n_parts FROM deg),
        |tail AS (SELECT count(*)::BIGINT AS n_tail,
        |    sum(ln(d / 25.0)) AS lsum FROM deg WHERE d >= 25)
        |SELECT n_parts, 25::BIGINT AS d_min, n_tail,
        |  round(1.0 + n_tail / lsum, 4) AS hill_alpha
        |FROM tail, allp""".stripMargin,
    "q300_corpus_scorecard" ->
      """WITH d AS (SELECT doc_id, lang, n_chars, text,
        |    len(list_filter(string_split_regex(lower(text), '\s+'),
        |      t -> t <> ''))::BIGINT AS ntok
        |  FROM documents),
        |base AS (SELECT count(*)::BIGINT AS n_docs, sum(ntok)::BIGINT AS n_tokens,
        |    count(DISTINCT md5(text))::BIGINT AS n_unique,
        |    sum(n_chars)::BIGINT AS chars,
        |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS n_en
        |  FROM d),
        |v AS (SELECT count(DISTINCT word)::BIGINT AS vocab_size FROM (
        |  SELECT unnest(string_split_regex(lower(text), '\s+')) AS word
        |  FROM documents) WHERE word <> '')
        |SELECT n_docs, n_tokens, vocab_size,
        |  round((n_docs - n_unique) / n_docs::DOUBLE, 6) AS exact_dup_rate,
        |  round(chars / n_docs::DOUBLE, 2) AS avg_chars,
        |  round(n_en / n_docs::DOUBLE, 6) AS en_share
        |FROM base, v""".stripMargin,
    "q325_ngram_perplexity" ->
      """WITH d AS (SELECT doc_id, lang,
        |    list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS l
        |  FROM documents),
        |toks AS (SELECT doc_id, lang, i, l[i] AS w
        |  FROM d, unnest(range(1, len(l) + 1)) AS t(i)),
        |bi AS (SELECT doc_id, lang, w AS w1,
        |    lead(w) OVER (PARTITION BY doc_id ORDER BY i) AS w2
        |  FROM toks),
        |tr AS (SELECT w1, w2, count(*)::BIGINT AS n2 FROM bi
        |  WHERE doc_id % 2 = 0 AND w2 IS NOT NULL GROUP BY 1, 2),
        |u AS (SELECT w, count(*)::BIGINT AS n1 FROM toks
        |  WHERE doc_id % 2 = 0 GROUP BY 1),
        |nv AS (SELECT sum(n1)::BIGINT AS nn, count(*)::BIGINT AS v FROM u),
        |sc AS (SELECT b.doc_id, b.lang,
        |    CASE WHEN tr.n2 IS NOT NULL THEN ln(tr.n2 / u1.n1::DOUBLE)
        |         ELSE ln(0.4) + ln((coalesce(u2.n1, 0) + 0.5) /
        |                           (nv.nn + 0.5 * nv.v)) END AS logp
        |  FROM bi b
        |  LEFT JOIN tr ON tr.w1 = b.w1 AND tr.w2 = b.w2
        |  LEFT JOIN u u1 ON u1.w = b.w1
        |  LEFT JOIN u u2 ON u2.w = b.w2
        |  CROSS JOIN nv
        |  WHERE b.doc_id % 2 = 1 AND b.w2 IS NOT NULL)
        |SELECT doc_id, lang, count(*)::BIGINT AS n_bigrams,
        |  round(-avg(logp), 4) AS nll
        |FROM sc GROUP BY doc_id, lang ORDER BY doc_id""".stripMargin,
    "q326_perplexity_buckets" ->
      """WITH d AS (SELECT doc_id, lang,
        |    list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS l
        |  FROM documents),
        |toks AS (SELECT doc_id, lang, i, l[i] AS w
        |  FROM d, unnest(range(1, len(l) + 1)) AS t(i)),
        |bi AS (SELECT doc_id, lang, w AS w1,
        |    lead(w) OVER (PARTITION BY doc_id ORDER BY i) AS w2
        |  FROM toks),
        |tr AS (SELECT w1, w2, count(*)::BIGINT AS n2 FROM bi
        |  WHERE doc_id % 2 = 0 AND w2 IS NOT NULL GROUP BY 1, 2),
        |u AS (SELECT w, count(*)::BIGINT AS n1 FROM toks
        |  WHERE doc_id % 2 = 0 GROUP BY 1),
        |nv AS (SELECT sum(n1)::BIGINT AS nn, count(*)::BIGINT AS v FROM u),
        |sc AS (SELECT b.doc_id, b.lang,
        |    CASE WHEN tr.n2 IS NOT NULL THEN ln(tr.n2 / u1.n1::DOUBLE)
        |         ELSE ln(0.4) + ln((coalesce(u2.n1, 0) + 0.5) /
        |                           (nv.nn + 0.5 * nv.v)) END AS logp
        |  FROM bi b
        |  LEFT JOIN tr ON tr.w1 = b.w1 AND tr.w2 = b.w2
        |  LEFT JOIN u u1 ON u1.w = b.w1
        |  LEFT JOIN u u2 ON u2.w = b.w2
        |  CROSS JOIN nv
        |  WHERE b.doc_id % 2 = 1 AND b.w2 IS NOT NULL),
        |docs AS (SELECT doc_id, lang, round(-avg(logp), 4) AS nll
        |  FROM sc GROUP BY doc_id, lang),
        |bk AS (SELECT lang, nll,
        |    ntile(3) OVER (PARTITION BY lang ORDER BY nll ASC, doc_id ASC) AS b
        |  FROM docs)
        |SELECT lang,
        |  CASE b WHEN 1 THEN '1_head' WHEN 2 THEN '2_middle'
        |    ELSE '3_tail' END AS bucket,
        |  count(*)::BIGINT AS n_docs,
        |  round(min(nll), 4) AS min_nll,
        |  round(max(nll), 4) AS max_nll,
        |  round(avg(nll), 4) AS mean_nll
        |FROM bk GROUP BY lang, bucket ORDER BY lang, bucket""".stripMargin,
    // The engine side computes this through a REAL streaming query
    // (file-source micro-batches, broadcast dim join per batch,
    // Complete-mode stateful aggregation) — the oracle is the plain
    // batch join it must converge to.
    "q329_length_batching" ->
      """WITH d AS (SELECT doc_id,
        |    len(list_filter(string_split_regex(lower(text), '\s+'),
        |        t -> t <> ''))::BIGINT AS n_tok
        |  FROM documents),
        |r1 AS (SELECT n_tok,
        |    (row_number() OVER (ORDER BY n_tok, doc_id) - 1) // 32 AS batch
        |  FROM d),
        |r2 AS (SELECT n_tok,
        |    (row_number() OVER (ORDER BY doc_id) - 1) // 32 AS batch
        |  FROM d),
        |b1 AS (SELECT batch, count(*)::BIGINT AS nb, max(n_tok) AS mx,
        |    sum(n_tok)::BIGINT AS tok FROM r1 GROUP BY 1),
        |b2 AS (SELECT batch, count(*)::BIGINT AS nb, max(n_tok) AS mx,
        |    sum(n_tok)::BIGINT AS tok FROM r2 GROUP BY 1),
        |s1 AS (SELECT '1_length_sorted' AS strategy,
        |    count(*)::BIGINT AS n_batches, sum(nb * mx)::BIGINT AS padded_tokens,
        |    sum(tok)::BIGINT AS real_tokens FROM b1),
        |s2 AS (SELECT '2_arrival' AS strategy,
        |    count(*)::BIGINT AS n_batches, sum(nb * mx)::BIGINT AS padded_tokens,
        |    sum(tok)::BIGINT AS real_tokens FROM b2)
        |SELECT strategy, n_batches, padded_tokens, real_tokens,
        |  round((padded_tokens - real_tokens) * 100.0 / padded_tokens, 2)
        |    AS waste_pct
        |FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2)
        |ORDER BY strategy""".stripMargin,
    "q330_epoch_mix" ->
      """WITH c AS (SELECT lang, count(*)::BIGINT AS n_docs
        |  FROM documents GROUP BY 1),
        |z AS (SELECT sum(sqrt(n_docs)) AS z, sum(n_docs)::BIGINT AS n FROM c),
        |r AS (SELECT lang, n_docs,
        |    least(4, greatest(1, ceil((sqrt(n_docs) / z.z) /
        |      (n_docs::DOUBLE / z.n))::BIGINT)) AS rep
        |  FROM c CROSS JOIN z),
        |e AS (SELECT d.lang, r.n_docs, r.rep, d.doc_id,
        |    unnest(range(1, r.rep + 1)) AS epoch
        |  FROM documents d JOIN r USING (lang)),
        |k AS (SELECT lang, n_docs, rep,
        |    ((doc_id % 1000000007) * 1000003 + epoch * 7919)
        |      % 1000000007 AS k FROM e)
        |SELECT lang, max(n_docs) AS n_docs, max(rep) AS repeat_factor,
        |  count(*)::BIGINT AS n_expanded, min(k) AS min_key, max(k) AS max_key,
        |  (sum(k) % 1000000007)::BIGINT AS key_checksum
        |FROM k GROUP BY lang ORDER BY lang""".stripMargin,
    "q338_eval_holdout" ->
      """WITH s AS (
        |  SELECT lang, doc_id,
        |    (doc_id % 1000000007) * 1000003 % 1000000007 AS score
        |  FROM documents),
        |r AS (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang
        |                       ORDER BY score DESC, doc_id) AS rk
        |  FROM s)
        |SELECT lang, doc_id FROM r WHERE rk <= 20
        |ORDER BY lang, doc_id""".stripMargin,
    "q342_text_curation" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS l
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, source, l, len(l)::BIGINT AS n_tok,
        |    coalesce(list_sum(list_transform(l, t -> len(t))), 0)::BIGINT AS sum_len
        |  FROM d),
        |q AS (SELECT * FROM m WHERE n_tok >= 30 AND sum_len <= 5 * n_tok),
        |s AS (
        |  SELECT doc_id,
        |    list_distinct([array_to_string(l[i:i+2], ' ')
        |                   for i in range(1, len(l) - 1)]) AS sh
        |  FROM q WHERE len(l) >= 3),
        |dup AS (
        |  SELECT DISTINCT b.doc_id AS drop_id
        |  FROM s a, s b
        |  WHERE a.doc_id < b.doc_id
        |    AND len(list_intersect(a.sh, b.sh))::DOUBLE /
        |        (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5),
        |u AS (
        |  SELECT doc_id, source, n_tok FROM q
        |  WHERE doc_id NOT IN (SELECT drop_id FROM dup)),
        |r AS (
        |  SELECT source, n_tok,
        |    sum(n_tok) OVER (ORDER BY doc_id) AS cum FROM u),
        |base AS (SELECT source, count(*)::BIGINT AS n_docs FROM m GROUP BY 1),
        |qc AS (SELECT source, count(*)::BIGINT AS n_quality FROM q GROUP BY 1),
        |uc AS (
        |  SELECT source, count(*)::BIGINT AS n_unique,
        |    sum(n_tok)::BIGINT AS tokens_kept,
        |    count(CASE WHEN (cum - n_tok) // 2048 <> (cum - 1) // 2048
        |               THEN 1 END)::BIGINT AS n_straddlers
        |  FROM r GROUP BY 1)
        |SELECT base.source, base.n_docs,
        |  coalesce(qc.n_quality, 0) AS n_quality,
        |  coalesce(uc.n_unique, 0) AS n_unique,
        |  coalesce(uc.tokens_kept, 0) AS tokens_kept,
        |  coalesce(uc.n_straddlers, 0) AS n_straddlers
        |FROM base LEFT JOIN qc USING (source) LEFT JOIN uc USING (source)
        |ORDER BY source""".stripMargin,
  )
}
