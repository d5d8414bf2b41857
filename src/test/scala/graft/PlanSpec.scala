package graft

/** Physical-plan shape assertions for the headline queries — the
  * properties that decide 100 TB viability are plan properties, not
  * result properties, so they are pinned here: filter/column pushdown
  * into the parquet scan, partial (map-side) aggregation, broadcast
  * vs shuffle join selection, TakeOrderedAndProject for top-k, and
  * the absence of nested-loop joins in the binned interval join.
  */
class PlanSpec extends SparkSpec {

  import org.apache.spark.sql.execution.{CodegenMode, FormattedMode}

  private def plan(name: String): String =
    Queries.all(name)(spark, sf()).queryExecution.executedPlan.toString

  private def formatted(name: String): String =
    Queries.all(name)(spark, sf()).queryExecution.explainString(FormattedMode)

  test("q01 agg: shipdate filter pushed to parquet; partial+final hash aggregation") {
    val p = plan("q01_agg_pricing")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"filter not pushed:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final HashAggregate:\n$p")
  }

  test("q01 agg: scan reads only referenced columns") {
    val p = formatted("q01_agg_pricing")
    val read = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    val cols = read.split(",").map(_.split(":")(0).trim).toSet
    assert(cols == Set("l_quantity", "l_extendedprice", "l_discount",
      "l_returnflag", "l_linestatus", "l_shipdate"),
      s"column pruning failed, scan reads: $cols")
  }

  test("q02 dims broadcast: two BroadcastHashJoins, no shuffle join") {
    val p = plan("q02_join_broadcast")
    assert("BroadcastHashJoin".r.findAllIn(p).size == 2, s"expected 2 BHJ:\n$p")
    assert(!p.contains("SortMergeJoin"), s"dims must not SMJ:\n$p")
  }

  test("q05 top-k plans TakeOrderedAndProject (no global sort)") {
    val p = plan("q05_topk_orders")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$p")
  }

  test("q44 interval join: equi-join on (key, bin), never a nested-loop range join") {
    val p = plan("q44_interval_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"interval join must not plan a nested loop:\n$p")
  }

  test("q38 as-of join: one shuffle on the key, no join operator at all") {
    val p = plan("q38_asof_join")
    assert(!p.contains("Join"), s"union+window as-of must be join-free:\n$p")
    assert(p.contains("Window"), s"expected window operator:\n$p")
  }

  test("nested-loop joins appear ONLY in the documented bounded/broadcast cases") {
    // Each allowed entry is a 1-row broadcast aggregate or a <=5-row
    // banded dimension. Anything else planning a nested loop is a
    // regression. (q25 left this list when its exact all-pairs moved
    // to the triangle-blocked equi-join.)
    val allowed = Set("q08_cosine_topk", "q10_join_range", "q11_distinct",
      "q24_simhash_hamming", "q34_ann_ivf", "q48_vocab",
      // q357: q24's oracle-judged md5 dial — same bounded 50-doc frame
      "q357_simhash_md5",
      // q152: q34's disk-layout mirror (same 1-row probe broadcast)
      "q152_ann_ivf_disk",
      // q58/q66/q81/q82/q101: 1-row broadcast aggregates (corpus size,
      // min/max envelope, avgdl, grand total)
      "q58_doc_freq", "q66_value_histogram", "q81_tfidf", "q82_bm25",
      "q101_share_of_total",
      // q110: the probe set (~1% of vectors) is broadcast over the base
      // corpus by design — the base side never shuffles
      "q110_knn_classify",
      // q126: 1-row broadcast grand total (q101's pattern) + the
      // bounded event_type×cohort grid completion (q313's pattern)
      "q126_chisq",
      // q138: 1-row broadcast decile boundaries (was an eager count()
      // at construction time)
      "q138_decile_lift",
      // q93: 1-row broadcast row count (was an eager count(), same fix)
      "q93_equidepth_bins",
      // q145: cross join of two 1-row aggregates (estimate ∥ actual)
      "q145_join_cardinality",
      // q104: 1-row narrow distinct-count sub-aggs crossJoined onto the
      // base profile agg (replaces the RewriteDistinctAggregates Expand)
      "q104_profile",
      // q153: cross join of four 1-row census aggregates (tri/wedges/
      // nodes/edges) — the triangle enumeration itself is equi-joins
      "q153_triangle_count",
      // q160: 1-row probe-vector broadcast cross join (q08's pattern)
      // plus q82's 1-row avgdl/n_docs broadcasts
      "q160_hybrid_rrf",
      // q168: 1-row broadcast [min,max] PC1 range frame (q81's pattern)
      "q168_pca_power",
      // q362: q168's exact-dial twin — same 1-row range frame
      "q362_pca_first_step",
      // q363/q366: 1-row broadcast metric/search-summary frame onto
      // the bounded per-dimension weight/codebook rows (q145's pattern)
      "q363_probe_first_step", "q366_pq_mean_dial", "q367_ivfpq_mean_dial",
      // q170: 1-row broadcast vocab count (q145's pattern)
      "q170_zipf_slope",
      // q175: 1-row broadcast digit-count total (q101's pattern)
      "q175_benford",
      // q180/q181: 1-row broadcast vocab size / unigram+bigram totals
      "q180_doc_perplexity", "q181_pmi_collocations",
      // q184: 1-row broadcast [min,max] score envelope (q81's pattern)
      "q184_calibration_bins",
      // q192: 1-row broadcast LM totals nt/nr (q181's pattern)
      "q192_dsir_select",
      // q202: 1-row broadcast basket total N (q145's pattern)
      "q202_assoc_rules",
      // q203: 1-row broadcast en-total/vocab-size + the broadcast
      // lang-list grid cross join (bounded by #languages)
      "q203_kl_divergence",
      // q206/q211/q215/q217/q219: 1-row broadcast aggregates (CDF
      // totals, Σ√n normalizer, purchase frontier, balance quota —
      // q101's pattern)
      "q206_ks_test", "q211_temperature_mix", "q215_decayed_engagement",
      "q217_rfm_segments", "q219_class_balance",
      // q207: 1-row broadcast class totals (n_en/n_oth)
      "q207_chi2_select",
      // q209: the depth×overlap membership join is ≤20×20 by
      // construction (both sides are TakeOrdered-20 derivatives)
      "q209_rbo",
      // q226: the τ-b pair enumeration is ≤100×100 by construction
      // (both sides the same TakeOrdered-100 leaderboard)
      "q226_kendall_tau",
      // q227: 1-row broadcast series mean (q101's pattern)
      "q227_cusum_drift",
      // q231: 1-row broadcast class totals (q207's pattern)
      "q231_log_odds_terms",
      // q232: cross join of two 1-row check aggregates (q145's pattern)
      "q232_data_contract",
      // q233: 100-row broadcast replica dimension over the USER frame
      // (bounded by B=100 by construction)
      "q233_bootstrap_ci",
      // q234: 1-row broadcast mean + denominator (q101's pattern)
      "q234_acf",
      // q238: 1-row broadcast total/mean (q101's pattern)
      "q238_partition_skew",
      // q239/q242: 1-row broadcast frontier/boundary (q215's pattern)
      "q239_diff_in_diff", "q242_feature_matrix",
      // q254: day-grain C(n,2) pair self-join (bounded by calendar days)
      // + 1-row broadcast pair count
      "q254_theil_sen",
      // q255: cross join of two 1-row aggregates (within-club edges ∥
      // club size — q145's pattern)
      "q255_rich_club",
      // q257: 1-row broadcast moment vector (q101's pattern)
      "q257_multivariate_outliers",
      // q259/q260: 1-row broadcast totals (q145/q93's patterns)
      "q259_anova_weekday", "q260_whale_curve",
      // q262/q263: 1-row broadcast frontier / envelope+totals
      // (q215/q81's patterns)
      "q262_kaplan_meier", "q263_psi_drift",
      // q265: C(7,2)-bounded weekday pair self-join (q254's pattern)
      // + 1-row broadcast MSW
      "q265_tukey_hsd",
      // q268: 5-row probe broadcast over the corpus (q110's pattern)
      "q268_hard_negatives",
      // q269/q270: 1-row broadcast count/median aggregates (q93's
      // pattern, per side for q270)
      "q269_runs_test", "q270_qq_deciles",
      // q271: bounded source-dimension totals broadcast over the vocab
      // (the dense-grid fill; the pair frame itself is a word equi-join)
      "q271_js_divergence",
      // q273: day-grain C(n,2) pair self-join (q254's pattern) + 1-row
      // broadcast tie-variance aggregate
      "q273_mann_kendall",
      // q277: 1-row broadcast moment aggregate (q101's pattern)
      "q277_grubbs",
      // q280: 1-row broadcast count + quartile picks (q269's pattern)
      "q280_tukey_fences",
      // q281: 1-row broadcast corpus totals (q170's pattern)
      "q281_token_coverage",
      // q283: 4-row watermark dimension broadcast (q10's banded pattern)
      "q283_watermark_impact",
      // q284: 1-row broadcast count/span aggregates per candidate key
      "q284_sort_advisor",
      // q285/q286: 1-row broadcast totals / span+gap aggregates
      "q285_mutual_information", "q286_delta_bitwidth",
      // q287/q288: 1-row broadcast moments / gap totals
      "q287_sax_words", "q288_session_timeout",
      // q289: 3×10 bounded type×decile grid + 1-row total/best
      "q289_info_gain_split",
      // q291: 1-row count aggregates crossJoined into the advisor rows
      // (q145's pattern)
      "q291_join_order_advisor",
      // q293/q294: 1-row broadcast catalog/revenue totals
      "q293_powerlaw_alpha", "q294_catalog_coldstart",
      // q295: 1-row broadcast count + median pick (q269's pattern)
      "q295_mood_median",
      // q297/q298: 1-row broadcast totals/mean (q227/q234's patterns)
      "q297_changepoint_sse", "q298_effective_n",
      // q299/q300: 1-row broadcast confusion totals / vocab leg
      "q299_cohen_kappa", "q300_corpus_scorecard",
      // q301: 1-row broadcast edge total m + Q sum (25-row community frame)
      "q301_modularity",
      // q302: 1-row broadcast class totals + tested-token count m
      "q302_fdr_bh",
      // q303: 1-row broadcast day0 + burn-in (mu0, sd0) onto the
      // day-grain frame
      "q303_ewma_chart",
      // q307: four 1-row count aggregates crossJoined into the audit row
      "q307_blocking_quality",
      // q308: 1-row broadcast (N, tie3) totals onto the weekday frame
      "q308_kruskal_wallis",
      // q309: 1-row broadcast corpus total + in-graph sum (singleton fill)
      "q309_component_sizes",
      // q310: 1-row broadcast pooled-moment row onto the 3-stratum frame
      "q310_simpson_audit",
      // q313: bounded r×c grid completion (distinct et × distinct wd,
      // ≤ #event_types×7 rows) + 1-row broadcast dims onto the cell frame
      "q313_cramers_v",
      // q316: PAVA minimax over the ≤10-row calibration-bin frame —
      // three bounded non-equi self-joins (≤10³ combinations) + the
      // 1-row broadcast score envelope (q184's pattern)
      "q316_isotonic_calibration",
      // q325/q326: 1-row broadcast (N, V) LM normalizer onto the
      // scoring frame (q145's pattern; q326 composes q325)
      "q325_ngram_perplexity", "q326_perplexity_buckets",
      // q330: 1-row broadcast (Z, N) temperature normalizer onto the
      // ≤#languages-row factor frame (q211's pattern)
      // (q341's 1-row cutoff crossJoin runs inside the streaming
      // construction; the asserted plan is the post-stream read-back,
      // so it needs NO exemption here — adding one would weaken the
      // guard for its returned frame.)
      "q330_epoch_mix")
    for ((name, fn) <- Queries.all) {
      val p = fn(spark, sf()).queryExecution.executedPlan.toString
      val nested = p.contains("BroadcastNestedLoopJoin") || p.contains("CartesianProduct")
      assert(!nested || allowed(name),
        s"$name grew an undocumented nested-loop join")
    }
  }

  test("global (empty-partitioning) WindowExec appears ONLY in cost-gated PrefixSum " +
    "or bounded-grain frames") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    // A WindowExec with an empty partitionSpec moves ALL input rows to
    // one task — the single-partition sort that is correct at sf0.1 and
    // a scale-killer at 100 TB. Every surviving site must be one of:
    //
    // (a) COST-GATED: the global order rides PrefixSum.globalRank /
    //     runningTotal / runningMaxExclusive, whose documented contract
    //     plans the single window ONLY below the 64 MB stats threshold
    //     (where one task is strictly better) and the distributed
    //     two-pass rank above it. The distributed path's partitioned
    //     window + correctness are pinned by ScaleSpec (1M-row
    //     bijection), GraphOpsSpec:125 (plan shape) and Round3OpsSpec.
    //     At this suite's sf0.001 the gate always picks the single
    //     window, which is why these queries surface here at all.
    val costGated = Set(
      "q42_corpus_filter", "q55_pack_chunks", "q93_equidepth_bins",
      "q139_gap_islands", "q160_hybrid_rrf", "q170_zipf_slope",
      "q183_auc", "q185_budget_select", "q189_retrieval_metrics",
      "q206_ks_test", "q214_sorted_neighborhood", "q217_rfm_segments",
      "q246_heaps_law", "q261_mann_whitney", "q264_skyline",
      "q270_qq_deciles", "q281_token_coverage", "q284_sort_advisor",
      "q286_delta_bitwidth", "q289_info_gain_split", "q292_codec_advisor",
      "q295_mood_median", "q302_fdr_bh", "q307_blocking_quality",
      "q308_kruskal_wallis", "q329_length_batching", "q342_text_curation")
    // (b) BOUNDED-GRAIN: the window input is aggregated to a frame
    //     whose cardinality is fixed by construction — day-grain series
    //     (bounded by the calendar span, ~365 rows/yr at ANY corpus
    //     size), decile/replica/top-k frames, ≤64-row bit-width
    //     buckets. One task over a bounded frame is the efficient plan.
    val bounded = Map(
      // 10-row decile frame cumulative (the fact rank itself is
      // cost-gated PrefixSum in the same query)
      "q138_decile_lift" -> "cum share over the 10-row decile frame",
      "q260_whale_curve" -> "cum cents over the 10-row decile frame",
      // both rank legs are TakeOrdered-20 derivatives (.limit(depth))
      "q209_rbo" -> "depth-20 leaderboard ranks (limit before window)",
      // day-grain daily series — bounded by calendar span
      "q227_cusum_drift" -> "day-grain CUSUM scan",
      "q234_acf" -> "day-grain lag frames",
      "q256_rolling_slope" -> "day-grain 7-day regression frames",
      "q266_seasonal_decompose" -> "day-grain 7-day centered MA",
      "q269_runs_test" -> "day-grain median rank + lag (2 windows)",
      "q280_tukey_fences" -> "day-grain quartile ranks",
      "q297_changepoint_sse" -> "day-grain prefix moments",
      "q298_effective_n" -> "day-grain lag-1 autocorrelation",
      "q303_ewma_chart" -> "day-grain 60-day EWMA range frame",
      // B=100 bootstrap replica frame (fixed by construction)
      "q233_bootstrap_ci" -> "100-row replicate percentile rank",
      // session-gap bit-width buckets: ≤64 rows by construction
      "q288_session_timeout" -> "≤64-row gap-bit-width cumulative",
      // distinct session durations in days — calendar-bounded
      "q262_kaplan_meier" -> "duration-grain survival cumulative",
      // day-pair slope frame: C(days,2), calendar-bounded
      "q254_theil_sen" -> "day-pair slope median rank",
      // doc rank is cost-gated PrefixSum; the only other global window
      // is the per-language offset scan over the ≤#languages-row frame
      "q326_perplexity_buckets" -> "language-count offsets (≤~200 rows) + cost-gated rank")
    val offenders = Queries.all.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val n = planNodes(fn(spark, sf()).queryExecution.executedPlan).count {
        case w: WindowExec => w.partitionSpec.isEmpty
        case _ => false
      }
      if (n > 0 && !costGated(name) && !bounded.contains(name)) Some(s"$name($n)")
      else None
    }
    assert(offenders.isEmpty,
      s"undocumented empty-partitioning WindowExec in: ${offenders.mkString(", ")} — " +
        "either route the order through PrefixSum (cost-gated) or add a bounded-grain " +
        "justification to the allowlist above")
  }

  test("q302/q207 tokenize once: exactly ONE parquet scan of documents in the plan") {
    // The r7 finding: two branches (presence explode + class totals)
    // each re-scanned and re-tokenized the corpus. Both queries now
    // persist the doc-grain tokenize and dedup presence map-side
    // (array_distinct), so the executed plan must contain exactly one
    // documents scan and no global DISTINCT of exploded tokens.
    for (name <- Seq("q302_fdr_bh", "q207_chi2_select")) {
      val p = Queries.all(name)(spark, sf())
        .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
      val scans = "documents\\.parquet".r.findAllIn(p).size
      assert(scans <= 1, s"$name re-scans documents ($scans sites):\n$p")
    }
  }

  test("q237/q247 scan their table once; q292 at most 2 scans and 2 windows") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.window.WindowExec
    // One (column, value) histogram per report, not one scan → aggregate
    // pipeline per column. Read from the executed (AQE final) plan; the
    // shuffle and join counts are left unpinned, since AQE picks them
    // per run on small inputs.
    def executed(name: String) = {
      val df = Queries.all(name)(spark, sf())
      df.queryExecution.toRdd.foreachPartition(_ => ())
      PlanShape.nodes(df.queryExecution.executedPlan)
    }
    def scans(ns: Seq[org.apache.spark.sql.execution.SparkPlan]) =
      ns.count(_.isInstanceOf[FileSourceScanExec])
    for (name <- Seq("q237_dict_advisor", "q247_column_entropy")) {
      val n = scans(executed(name))
      assert(n == 1, s"$name scans its table $n times")
    }
    val q292 = executed("q292_codec_advisor")
    val windows = q292.count(_.isInstanceOf[WindowExec])
    assert(scans(q292) <= 2 && windows <= 2,
      s"q292: ${scans(q292)} scans, $windows windows")
  }

  test("q192 DSIR: scoring join broadcasts the 4096-bucket LM table; top-k is TakeOrdered") {
    val p = plan("q192_dsir_select")
    assert(p.contains("BroadcastHashJoin"),
      s"bounded feature-LM table must broadcast into the scoring join:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"no join in q192 may shuffle the corpus side:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$p")
  }

  test("q84 z-order layout is join-free: projection + one agg shuffle only") {
    val p = plan("q84_zorder_layout")
    assert(!p.contains("Join"), s"z-value must be pure column arithmetic:\n$p")
  }

  test("q25 blocked exact pairs: equi-join on block cells, no CartesianProduct") {
    val p = plan("q25_embed_neardup")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"blocked all-pairs must plan an equi-join:\n$p")
  }

  test("q80 bloom dedup confirms via hash joins, never a nested loop") {
    val p = plan("q80_bloom_dedup")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"bloom confirm path must stay a hash join:\n$p")
  }

  test("q155 bucketed join: sort-merge join with NO exchange on the join key") {
    val p = plan("q155_bucketed_join")
    assert(p.contains("SortMergeJoin"), s"merge hint must force SMJ:\n$p")
    assert(!p.contains("Exchange hashpartitioning(o_custkey")
      && !p.contains("Exchange hashpartitioning(c_custkey"),
      s"bucket layout must satisfy the join keys shuffle-free:\n$p")
  }

  test("q153 triangle count: wedge close is an equi-join (degree orientation bounds fan-out)") {
    val p = plan("q153_triangle_count")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"),
      s"triangle enumeration must plan hash/merge equi-joins:\n$p")
  }

  test("q169 bloom join: probe filter sits below the join, and the join shuffles (no broadcast)") {
    val p = plan("q169_bloom_join")
    assert(p.contains("ShuffledHashJoin"),
      s"the judged form pins the shuffle-join regime the bloom exists for:\n$p")
    assert(!p.contains("BroadcastHashJoin"),
      s"a broadcast join would make the bloom prune a nonexistent shuffle:\n$p")
    // The UDF probe must appear as a Filter on the lineitem side —
    // i.e. the pruning happens BEFORE rows enter the exchange.
    assert(p.contains("mightContain") || p.toLowerCase.contains("udf"),
      s"bloom probe filter missing from the physical plan:\n$p")
  }

  test("q89 global sort plans a range-partitioning exchange, not a single-partition sort") {
    val p = plan("q89_global_sort")
    assert(p.toLowerCase.contains("rangepartitioning"),
      s"global ORDER BY must range-partition:\n$p")
  }

  test("headline queries stay inside whole-stage codegen") {
    for (q <- Seq("q01_agg_pricing", "q03_join_fact", "q17_math")) {
      val p = Queries.all(q)(spark, sf()).queryExecution.explainString(CodegenMode)
      assert(p.contains("WholeStageCodegen subtree"), s"$q fell out of codegen:\n$p")
    }
  }
}
