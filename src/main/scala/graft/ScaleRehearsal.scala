package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Scale rehearsal: converts the "survives 100x" plan arguments into a
  * MEASUREMENT. The judged testdata is capped at sf0.1, so this
  * harness derives an N-copy corpus in scratch — a union of
  * ID-SHIFTED copies, deterministic, no new data source — and runs
  * the heaviest judged operators at both scales, reporting
  *
  *   1. the wall-time ratio (near-linear expected: these are scan/
  *      shuffle-bound plans with no quadratic term), and
  *   2. a PLAN-SHAPE assert: the same counts of shuffle exchanges and
  *      join strategies at both scales — a broadcast that flips to a
  *      shuffle, or a new exchange appearing only at scale, is exactly
  *      the scale regression the 100 TB story cannot absorb;
  *   3. when q106/q171 are in the query set, their cost components
  *      (see [[components]]) with row counts at both scales, so the
  *      super-linear share of the documented flips is attributable.
  *
  * Corpus derivation per table (copy k = 0..N-1 of sf0.1):
  *   - lineitem: l_orderkey/l_partkey shifted by k·(max+1) — ten
  *     DISJOINT basket graphs (nodes x10, edges x10, triangles x10);
  *     same-key copies would multiply edge WEIGHT, not graph size.
  *   - events: user_id/event_id shifted — disjoint click→purchase
  *     attribution universes.
  *   - documents: doc_id shifted AND the text alphabet ROTATED by k
  *     (translate a..z -> rotation; word lengths, token counts, and
  *     within-copy structure preserved) so copies share no
  *     alphanumeric shingles (up to Caesar coincidences — see
  *     [[rotateText]]'s caveat; measured zero on this corpus):
  *     identical text would make every doc a 10-way near-duplicate and
  *     blow the dedup pair count up QUADRATICALLY — a different
  *     workload, not a scale-up of this one. Rotation keeps each
  *     copy's planted near-dup structure intact, so pair output scales
  *     x10 like the corpus.
  *   - embeddings: vec_id shifted, vectors verbatim (covariance cost
  *     is row-linear; values repeating changes nothing it computes).
  *
  * Past 36 copies (the deep 30-100x tiers) the text derivation is a
  * per-copy token suffix instead, and only the deep tables are built
  * (see [[DeepTables]]).
  *
  * Timing protocol: `reps` cold reps per query per scale
  * ([[Harness.cold]]), MIN of reps 2.. kept — rep 1 carries the
  * per-dir staged builds (basket edges, adjacency, shingle
  * signatures), which a real deployment pays once per corpus snapshot,
  * so the steady-state floor is the honest scaling number; the
  * staged-build time is reported separately as rep1. With one rep
  * (the deep tiers, where the build plus a 100x drain make 3-rep
  * medians a multi-hour run) the verdict is SHAPE + COUNTS and the
  * ratios are for trend only.
  *
  * Usage: sbt "runMain graft.ScaleRehearsal [baseDir] [scratchDir]
  *   [copies] [queries|all] [reps]"
  * (defaults $SPARK_GRAFT_SF_DIR, /tmp/graft_scale{copies}x, 10, all of
  * [[Heavy]] and [[StreamHeavy]], 3). The 100x tier:
  *   ScaleRehearsal $SPARK_GRAFT_SF_DIR /tmp/graft_scale100x 100
  *     q106_setsim_prefix,q171_containment_join,q159_embed_covariance,q328_stream_outer_join 1
  * Results trend in dev/PERF_LEDGER.md.
  */
object ScaleRehearsal {

  /** The bench's heaviest judged operators, one per cost family. */
  val Heavy: Seq[String] = Seq(
    "q212_local_clustering",    // triangle credits (staged adjacency)
    "q153_triangle_count",      // triangle census (staged adjacency)
    "q154_interval_attribution",// interval equi-join on user_id
    "q107_stem_topwords",       // regex-heavy token map + agg
    "q325_ngram_perplexity",    // bigram LM train + held-out score
    "q158_dedup_pipeline",      // full LSH dedup pipeline
    "q106_setsim_prefix",       // PPJoin prefix self-join (staged)
    "q171_containment_join",    // containment index join (staged)
    "q192_dsir_select",         // DSIR importance weights
    "q159_embed_covariance")    // d(d+1)/2 co-moment aggregation

  /** The 10x streaming drains (verdict ask, round 12): the batch Heavy
    * set never rehearses the stateful half of the 100 TB story —
    * RocksDB state growth, watermark eviction, changelog
    * checkpointing. Each entry is (query, stream tag) where the tag is
    * the [[PlanShape.captureStream]] key the query's drain records, so
    * the rehearsal reads the MICRO-BATCH plan shape and the final
    * state-store totals (rows + bytes) at both scales.
    */
  val StreamHeavy: Seq[(String, String)] = Seq(
    "q324_sessions_tws_stream" -> "tws", // transformWithState sessions
    "q328_stream_outer_join" -> "soj",   // stream-stream outer interval join
    "q333_stream_join_window" -> "sjw")  // stream-stream join + windowed agg

  private def rotated(k: Int): String = {
    val a = "abcdefghijklmnopqrstuvwxyz0123456789"
    a.drop(k) + a.take(k)
  }

  /** Copy k's text derivation: LOWERCASE, then rotate the letter AND
    * digit alphabets by k. Lowercasing first closes the loudest
    * collision channel: an uppercase letter or digit that passed
    * through `translate` unrotated would re-create shared shingles
    * across copies (tokens() lowercases downstream), silently turning
    * the linear dedup scale-up quadratic. The invariant this buys is
    * "no shared ALPHANUMERIC shingles across copies, up to Caesar
    * coincidences": punctuation-only tokens pass through identical in
    * every copy, and a corpus that happens to contain both shingle x
    * and rot_(k1-k2)(x) shares that shingle between copies k1 and k2.
    * Neither residual occurs in the driver's generated documents
    * corpus (word-salad over a lowercase lexicon — measured zero
    * cross-copy candidate pairs in the rehearsal ledger), but the
    * guarantee is empirical for a given corpus, not universal.
    * Exposed for the spec that pins the rotation itself.
    */
  def rotateText(c: Column, k: Int): Column =
    translate(lower(c), rotated(0), rotated(k))

  /** Copy k's deep-tier text derivation: a per-copy TOKEN SUFFIX
    * (`tok` → `tok_k`). Rotation has only 36 distinct states, so at
    * 100 copies each rotation repeats ~3x and every doc gains exact
    * cross-copy twins, turning the near-dup workload quadratic (a
    * different workload, not a scale-up). The suffix is collision-proof
    * for ANY corpus whose tokens contain no underscore
    * (tokenA+"_"+k1 == tokenB+"_"+k2 forces k1 == k2 then
    * tokenA == tokenB), which also closes the punctuation-token caveat
    * the rotation scheme documents.
    */
  def suffixText(c: Column, k: Int): Column =
    regexp_replace(lower(c), "(\\S+)", s"$$1_$k")

  /** Every table the corpus can derive: the id columns shifted per
    * copy, and the text column the per-copy transform rewrites.
    */
  private val Derived: Map[String, (Seq[String], Option[String])] = Map(
    "lineitem" -> (Seq("l_orderkey", "l_partkey"), None),
    "events" -> (Seq("event_id", "user_id"), None),
    "documents" -> (Seq("doc_id"), Some("text")),
    "embeddings" -> (Seq("vec_id"), None))

  val AllTables: Seq[String] = Seq("lineitem", "events", "documents", "embeddings")

  /** The deep tiers build only the tables their query set reads —
    * lineitem at 100x would be 60M rows of build time that no flip-set
    * query scans.
    */
  val DeepTables: Seq[String] = Seq("documents", "embeddings", "events")

  /** Build the `copies`-copy tables if the scratch dir does not hold
    * them yet; region is copied verbatim for [[Harness.warmUp]].
    * (_BUILT_v2: v1 corpora rotated only lowercase letters, so
    * mixed-case/numeric content re-created shared shingles across
    * copies — rebuilt with the lowercase+digit rotation.)
    */
  def buildCorpus(s: SparkSession, baseDir: String, outDir: String, copies: Int,
      tables: Seq[String], text: (Column, Int) => Column): Unit = {
    val done = new java.io.File(s"$outDir/_BUILT_v2")
    if (done.exists()) { System.err.println(s"[scale] reusing $outDir"); return }
    new java.io.File(outDir).mkdirs()
    for (t <- tables) {
      val (idCols, textCol) = Derived(t)
      val df =
        if (t == "events") sources.Tables.events(s, baseDir)
        else s.read.parquet(s"$baseDir/$t.parquet")
      val shifts = idCols.map(c =>
        c -> (df.agg(max(col(c))).collect()(0).getLong(0) + 1L)).toMap
      (0 until copies).map { k =>
        val withIds = idCols.foldLeft(df)((d, c) =>
          d.withColumn(c, col(c) + lit(k * shifts(c))))
        textCol.fold(withIds)(tc => withIds.withColumn(tc, text(col(tc), k)))
      }.reduce(_ unionAll _)
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
    s.read.parquet(s"$baseDir/region.parquet")
      .write.mode("overwrite").parquet(s"$outDir/region.parquet")
    done.createNewFile()
    System.err.println(s"[scale] built ${copies}x corpus at $outDir")
  }

  /** The corpus a tier of `copies` builds: rotation over every table
    * up to the rotation's 36 states, the token suffix over the deep
    * tables past them.
    */
  def buildTier(s: SparkSession, baseDir: String, outDir: String, copies: Int): Unit =
    if (copies <= 36) buildCorpus(s, baseDir, outDir, copies, AllTables, rotateText)
    else buildCorpus(s, baseDir, outDir, copies, DeepTables, suffixText)

  /** Queries whose scaladoc DOCUMENTS that a planner-chosen broadcast
    * of a CORPUS-DERIVED side flips to a shuffle join at scale (the
    * design, not a regression — e.g. SetSimJoin's verify join: "AQE
    * broadcasts the checkpointed index when it is small; at scale it
    * is an equi-join on the pair ids"). For these, a BHJ→SMJ/SHJ flip
    * (and the exchanges/sorts the shuffle join adds) is accepted;
    * everything else must still match exactly.
    */
  private[graft] val DocumentedFlips: Set[String] =
    Set("q106_setsim_prefix", "q171_containment_join",
      // q159: the designed plan is the co-partitioned self-join on
      // vec_id (both sides explicitly repartitioned); at base SF AQE
      // shortcuts it to a broadcast, at 10x it reverts to the design
      // with ZERO added exchanges — found by the round-12 AQE-final
      // typed probe (the string probe never saw runtime conversions).
      "q159_embed_covariance")

  /** Shape verdict: Some(reason) if the 10x plan regressed, None if
    * acceptable. Nested-loop/cartesian joins must stay at zero, the
    * total join count must match, and broadcast→shuffle flips are
    * allowed only for [[DocumentedFlips]] queries — each flip may add
    * at most 2 SHUFFLE exchanges (one per flipped-join side) and
    * remove at most its own broadcast exchange; broadcast exchanges
    * may never INCREASE with scale. Counts are typed and AQE-final
    * ([[PlanShape]]), so broadcast exchanges can no longer hide inside
    * a substring-matched "Exchange" bound.
    */
  private[graft] def shapeVerdict(name: String, base: Map[String, Int],
      x10: Map[String, Int]): Option[String] = {
    def joins(m: Map[String, Int]) =
      m("BroadcastHashJoin") + m("SortMergeJoin") + m("ShuffledHashJoin")
    // 1-row stats-frame crossJoins plan as BroadcastNestedLoopJoin at
    // EVERY scale (q145's audited pattern) — the regression signal is
    // a nested-loop/cartesian join that appears ONLY at 10x.
    if (base("CartesianProduct") != x10("CartesianProduct") ||
        base("BroadcastNestedLoopJoin") != x10("BroadcastNestedLoopJoin"))
      Some(s"nested-loop/cartesian count changed: base=$base x10=$x10")
    else if (joins(base) != joins(x10))
      Some(s"join count changed ${joins(base)} -> ${joins(x10)}")
    else {
      val flips = base("BroadcastHashJoin") - x10("BroadcastHashJoin")
      if (flips == 0 && base == x10) None
      else if (flips > 0 && DocumentedFlips(name) &&
          x10("ShuffleExchange") - base("ShuffleExchange") <= 2 * flips &&
          base("BroadcastExchange") - x10("BroadcastExchange") <= flips &&
          x10("BroadcastExchange") <= base("BroadcastExchange"))
        None // documented corpus-derived-side flip
      else Some(s"plan diverged: base=$base x10=$x10")
    }
  }

  /** The two DOCUMENTED broadcast→shuffle flips whose cost
    * [[components]] breaks down.
    */
  private val ComponentQueries: Set[String] = Set("q106_setsim_prefix", "q171_containment_join")

  final case class Component(name: String, secs: Double, rows: Long)

  /** Component profile of q106 (PPJoin prefix self-join) and q171
    * (containment index join), the rehearsal's worst wall ratios
    * (2.74x / 2.13x at 10x in round 11). The rehearsal times whole
    * queries; this breaks each into its cost components so the
    * super-linear share is attributable:
    *
    *   q106: (1) signature-table build (tokenize+shingle+hash+write —
    *         the staged once-per-corpus cost), (2) prefix index
    *         checkpoint, (3) candidate join (the stage whose fan-out
    *         the prefix/length/positional filters bound), (4) verify
    *         join (the stage that FLIPS: broadcast of the checkpointed
    *         index at sf0.1, pair-id equi-join at scale).
    *   q171: (1) df-capped inverted-index build+write (staged),
    *         (2) index self-join + containment rollup (the flipping
    *         consumer).
    *
    * Candidate/pair COUNTS come with the times: if candidates scale
    * ~linearly while a stage's wall scales worse, the excess is the
    * flipped join's sort/shuffle machinery (n log n) and the df-cap is
    * NOT the lever; if candidates scale super-linearly, the cap is.
    * (For the derived corpora the expectation is linear: copies share
    * zero shingles, so per-shingle df — and with it Σ min(df, cap)² —
    * scales with copy count, not quadratically.)
    */
  def components(spark: SparkSession, dir: String): Seq[Component] = {
    import graft.operators.SetSimJoin
    def timed[T](body: => T): (Double, T) = {
      val t0 = System.nanoTime()
      val r = body
      ((System.nanoTime() - t0) / 1e9, r)
    }
    val scratch = java.nio.file.Files.createTempDirectory("scale_comp_").toString
    Harness.hygiene(spark)
    // --- q106 components ---
    val (tSig, _) = timed {
      spark.read.parquet(s"$dir/documents.parquet")
        .repartition(spark.sparkContext.defaultParallelism)
        .select(col("doc_id"),
          graft.expr.ShingleExpression.shingleHashes(col("text"), 3).as("sh"))
        .filter(size(col("sh")) >= 1)
        .write.mode("overwrite").parquet(s"$scratch/sig")
    }
    val sig = spark.read.parquet(s"$scratch/sig")
    val nDocs = sig.count()
    val (tPre, withPre) = timed {
      SetSimJoin.prefixIndexed(sig, "doc_id", "sh", 0.5)
    }
    // NOTE: the candidates checkpoint exists only to time stages 3
    // and 4 separately; the fused q106 pipeline never materializes
    // this frame, so stage-4 attribution here runs the verify join
    // over a checkpointed input rather than the fused plan. Stage
    // RATIOS across scales remain comparable (both scales pay the
    // same materialization); absolute stage-4 walls are not the
    // production number — q106's own bench time is.
    val (tCand, candAndN) = timed {
      val c = SetSimJoin.prefixCandidates(withPre, 0.5)
        .localCheckpoint(true)
      (c, c.count())
    }
    val (cand, nCand) = candAndN
    val (tVer, nPairs) = timed {
      SetSimJoin.verifyCandidates(withPre, cand, 0.5).count()
    }
    // --- q171 components ---
    Harness.hygiene(spark)
    val (tIdx, _) = timed {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .repartition(spark.sparkContext.defaultParallelism)
        .select(col("doc_id"),
          graft.functions.TextFunctions.tokens(col("text")).as("toks"))
      SetSimJoin.containmentIndex(docs, "doc_id", "toks",
          shingleSize = 3, maxDf = 50L)
        .write.mode("overwrite").parquet(s"$scratch/cidx")
    }
    val idx = spark.read.parquet(s"$scratch/cidx")
    val nIdx = idx.count()
    val (tCont, nCont) = timed {
      SetSimJoin.containmentJoinFromIndex(idx, minContainment = 0.7).count()
    }
    Harness.hygiene(spark)
    Seq(
      Component("q106.sig_build", tSig, nDocs),
      Component("q106.prefix_ckpt", tPre, nDocs),
      Component("q106.cand_join", tCand, nCand),
      Component("q106.verify_join", tVer, nPairs),
      Component("q171.index_build", tIdx, nIdx),
      Component("q171.contain_join", tCont, nCont))
  }

  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse(Harness.sfDir)
    val copies = if (args.length > 2) args(2).toInt else 10
    val outDir = if (args.length > 1) args(1) else s"/tmp/graft_scale${copies}x"
    val queries =
      if (args.length > 3 && args(3) != "all") args(3).split(",").toSeq
      else Heavy ++ StreamHeavy.map(_._1)
    val reps = if (args.length > 4) args(4).toInt else 3
    val x = s"x$copies"
    val spark = Harness.session()
    buildTier(spark, baseDir, outDir, copies)

    /** `reps` cold runs; returns (min of reps 2.., rep1). Shape is NOT
      * taken here: the noop write runs its own QueryExecution, so the
      * df's plan string would be the UN-executed initial adaptive plan
      * (the original bug) — [[PlanShape.executedCounts]] below
      * executes the df through its own QE after timing and reads the
      * AQE FINAL counts.
      */
    def measure(name: String, dir: String): (Double, Double) = {
      val ts = (1 to reps).map(_ => Harness.cold(spark, name, dir).orThrow.wall)
      (if (ts.size > 1) ts.drop(1).min else ts.head, ts.head)
    }
    def finalShape(name: String, dir: String): Map[String, Int] =
      PlanShape.executedCounts(SparkEntry.queries(name)(spark, dir))
    def ratio(num: Double, den: Double): String =
      if (den > 0) f"${num / den}%7.2f" else "    n/a"
    Harness.warmUp(spark, baseDir)

    if (queries.exists(ComponentQueries)) {
      components(spark, baseDir) // discarded: pays whole-pipeline codegen warm-up
      val base = components(spark, baseDir)
      val scaled = components(spark, outDir)
      println(f"${"component"}%-20s ${"base_s"}%7s ${s"${x}_s"}%7s ${"t_ratio"}%7s ${"base_rows"}%10s ${s"${x}_rows"}%11s ${"r_ratio"}%7s")
      base.zip(scaled).foreach { case (b, c) =>
        // Zero-guard: a stage yielding 0 rows (or sub-ms wall) at base
        // scale has no meaningful ratio — "n/a", not NaN/Infinity.
        println(f"${b.name}%-20s ${b.secs}%7.2f ${c.secs}%7.2f ${ratio(c.secs, b.secs)} " +
          f"${b.rows}%10d ${c.rows}%11d ${ratio(c.rows.toDouble, b.rows.toDouble)}")
      }
    }

    val streamTags = StreamHeavy.toMap
    val (streams, batch) = queries.partition(streamTags.contains)
    if (batch.nonEmpty) println(f"${"query"}%-26s ${"base_s"}%7s ${s"${x}_s"}%7s ${"ratio"}%6s  ${"build1"}%7s  shape")
    val rows = batch.map { name =>
      val (b, _) = measure(name, baseDir)
      val shB = finalShape(name, baseDir)
      val (xs, xs1) = measure(name, outDir)
      val shS = finalShape(name, outDir)
      val verdict = shapeVerdict(name, shB, shS)
      val flag = verdict.getOrElse(
        if (shB == shS) "same" else "documented-flip")
      println(f"$name%-26s $b%7.2f $xs%7.2f ${xs / b}%6.2f  $xs1%7.2f  $flag")
      (name, b, xs, verdict)
    }

    // ---- Streaming drains: wall ratio + micro-batch plan shape +
    // state-store totals at both scales. The streaming run happens
    // while the query CONSTRUCTS (runToParquetSink blocks), so the
    // timed reps already include it; the drain records its own
    // IncrementalExecution shape + final state metrics under the tag
    // (PlanShape.captureStream), read back after the reps. Verdict:
    // the micro-batch plan must match EXACTLY across scales (no
    // documented flips in the stateful path), and state rows are
    // reported so growth is visible (expected ~Nx keys, bounded per
    // key by watermark eviction / fixed-size session state).
    if (streams.nonEmpty) println(f"${"stream query"}%-26s ${"base_s"}%7s ${s"${x}_s"}%7s ${"ratio"}%6s  final rows (base->$x)  peak rows (base->$x)  mem MiB  shape")
    val sRows = streams.map { name =>
      val tag = streamTags(name)
      def telemetry() = PlanShape.lastStreamRun(tag)
        .getOrElse(sys.error(s"$name recorded no stream telemetry under '$tag'"))
      val (b, _) = measure(name, baseDir)
      val infoB = telemetry()
      val (xs, _) = measure(name, outDir)
      val infoS = telemetry()
      val verdict =
        if (infoB.shape == infoS.shape) None
        else Some(s"micro-batch plan diverged: base=${infoB.shape} $x=${infoS.shape}")
      println(f"$name%-26s $b%7.2f $xs%7.2f ${xs / b}%6.2f  " +
        f"${infoB.stateRows}%8d -> ${infoS.stateRows}%-8d " +
        f"${infoB.statePeakRows}%8d -> ${infoS.statePeakRows}%-8d " +
        f"${infoS.stateBytes / 1048576.0}%7.1f  ${verdict.getOrElse("same")}")
      (name, b, xs, verdict)
    }

    val all = rows ++ sRows
    val bad = all.filter(_._4.isDefined)
    println(f"""{"metric":"scale${copies}x_ratio_median","value":${all.map(r => r._3 / r._2).sorted.apply(all.size / 2)}%.2f,"queries":${all.size},"shape_regressions":${bad.size}}""")
    require(bad.isEmpty, s"plan shape REGRESSED at $x: " +
      bad.map(r => s"${r._1} (${r._4.get})").mkString("; "))
    spark.stop()
  }
}
