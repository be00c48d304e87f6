package graft

/** Plan-regression gate: every SparkEntry query is PLANNED (not run)
  * against sf0.001 and its physical plan checked for the scale
  * anti-patterns that would sink a 100 TB run — the automated face of
  * SURVEY §6's per-operator review loop.
  *
  * Rules:
  *   - no CartesianProduct, ever;
  *   - BroadcastNestedLoopJoin only where a tiny broadcast side is the
  *     DESIGN (query-set probes, block-tiled pair generation, bulk
  *     as-of's range join against a handful of query rows);
  *   - every plan must build (planning exceptions fail loudly here
  *     rather than at driver time).
  */
class PlanAuditSpec extends SparkSpec {

  // Queries whose plans legitimately contain a broadcast nested-loop
  // join: the broadcast side is a bounded query/probe set or the
  // deliberately tiny side of a tiled self-join, never corpus-sized.
  private val bnlWhitelist = Set(
    "ann_topk",         // corpus ⨝ broadcast(5 probe vectors)
    "ann_quantized",    // corpus ⨝ broadcast(5 probe code vectors)
    "tfidf_topk",       // scored terms ⨝ broadcast(1-row corpus count)
    "bm25_topk",        // posting join ⨝ broadcast(1-row corpus stats)
    "pmi_bigrams",      // pair counts ⨝ broadcast(1-row bigram total)
    "mixture_sample",   // source counts ⨝ broadcast(1-row corpus total)
    "dedup_embedding",  // block-tiled all-pairs: broadcast block spine
    "ann_recall_report", // contains ann_topk's corpus ⨝ broadcast(5 probes)
    "knn_classify",     // corpus ⨝ broadcast(20 probe vectors)
    "domain_mix",       // per-source rows ⨝ broadcast(1-row corpus totals)
    "dsir_weights",     // vocab rows ⨝ broadcast(1-row model totals)
    "dup_rate_sample",  // 1-row full leg ⨯ broadcast(1-row sampled leg)
    "diversification_ratio", // 1-row asset leg ⨯ broadcast(1-row portfolio leg)
    "dataset_card",     // 1-row summary ⨝ broadcast(1-row dup stats)
    "source_jsd",       // top-K vocab ⨝ broadcast(1-row totals + source list)
    "intrinsic_dim",    // bounded sample ⨝ broadcast(1-row sample pool)
    "m2_ratio",         // per-asset rows ⨝ broadcast(1-row market σ)
    "ngram_coverage",   // cut rows ⨝ broadcast(1-row corpus token total)
    "token_mass_concentration", // distinct-length rows ⨝ broadcast(1-row totals/cuts)
    "fama_macbeth",     // gamma series ⨯ broadcast(1-row pass-2 summary)
    "keyness_terms")    // (source, token) counts ⨯ broadcast(1-row corpus total)

  test("key predicates reach the parquet scan as PushedFilters") {
    val sfDir = "/root/testdata/sf0.001"
    // point lookup: equality on the key pushes through the panel aliases
    val point = SparkEntry.queries("point_lookup")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(point.contains("PushedFilters:") && point.contains("user_id"),
      s"point_lookup scan lost its pushdown:\n$point")
    // range scan: the OR-of-AND composite bound is not pushable, but the
    // implied asset BETWEEN bound must be (row-group pruning at rest)
    val range = SparkEntry.queries("range_scan")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(range.contains("GreaterThanOrEqual(user_id") &&
      range.contains("LessThanOrEqual(user_id"),
      s"range_scan lost its implied pushable asset bound:\n$range")
    // bulk as-of pruned variant: the runtime-derived asset set must
    // reach the scan (In(user_id, …)) — without it the store is read whole
    val bulk = SparkEntry.queries("asof_bulk_pruned")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(bulk.contains("In(user_id"),
      s"asof_bulk_pruned lost its runtime asset-set pushdown:\n$bulk")
  }

  test("column pruning reaches the scan (ReadSchema is minimal)") {
    val sfDir = "/root/testdata/sf0.001"
    // lang_id touches doc_id/text/lang — n_chars and source must not be read
    val plan = SparkEntry.queries("lang_id")(spark, sfDir)
      .queryExecution.executedPlan.toString
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("text") && !readSchema.contains("n_chars") &&
      !readSchema.contains("source"), s"lang_id over-reads: $readSchema")
    // mixture_sample is metadata-only routing: document TEXT must never
    // reach its scans (at 100 TB the text column IS the corpus)
    val mix = SparkEntry.queries("mixture_sample")(spark, sfDir)
      .queryExecution.executedPlan.toString
    val mixSchemas = mix.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(mixSchemas.nonEmpty && mixSchemas.forall(!_.contains("text")),
      s"mixture_sample reads document text: $mixSchemas")
    // global_shuffle deals order from doc_id alone: reading text to
    // assign (shard, pos) would move the whole corpus through the hash
    val shuf = SparkEntry.queries("global_shuffle")(spark, sfDir)
      .queryExecution.executedPlan.toString
    val shufSchemas = shuf.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(shufSchemas.nonEmpty && shufSchemas.forall(!_.contains("text")),
      s"global_shuffle reads document text: $shufSchemas")
  }

  test("shuffle-exchange budgets hold for the single-shuffle operator families") {
    val sfDir = "/root/testdata/sf0.001"
    def shuffles(name: String): Int =
      SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString
        .linesIterator.count(l => l.contains("Exchange") &&
          !l.contains("BroadcastExchange") && !l.contains("ReusedExchange"))
    // one keyed shuffle + the presentation sort — anything more means a
    // derived aggregate stopped riding its input's partitioning
    for (q <- Seq("overnight_gap", "vol_of_vol", "prefix_dups",
        "embedding_norm_stats", "token_length_quantiles"))
      assert(shuffles(q) <= 2, s"$q grew beyond shuffle+sort: ${shuffles(q)}")
    // benchmark-relative family: two panel builds (asset_id), the
    // per-date market aggregate, presentation sort — the asset-side
    // aggregate itself must stay exchange-free (broadcast join
    // preserves the streamed side's partitioning)
    for (q <- Seq("information_ratio", "downside_beta", "treynor"))
      assert(shuffles(q) <= 5, s"$q exceeded the family budget: ${shuffles(q)}")
    assert(shuffles("vocab_overlap") <= 4,
      s"vocab_overlap exceeded word-count + rank + overlap: ${shuffles("vocab_overlap")}")
    // round-7 bar/return wave: every op rides ONE asset_id shuffle
    // (bar build / LWW window / folds share the partitioning) plus the
    // presentation sort
    for (q <- Seq("aroon", "mfi", "elder_ray", "force_index", "vortex",
        "chaikin_osc", "kelly_fraction", "tail_ratio", "rolling_sharpe"))
      assert(shuffles(q) <= 2, s"$q grew beyond shuffle+sort: ${shuffles(q)}")
    // round-7 pipeline wave: gopher_rules is scan + sort only; the
    // others are bounded-aggregate chains (rank windows and per-dim /
    // per-label aggregates re-use or broadcast their partitioning)
    assert(shuffles("gopher_rules") <= 1,
      s"gopher_rules must stay map-only + sort: ${shuffles("gopher_rules")}")
    assert(shuffles("token_gini") <= 3,
      s"token_gini exceeded rank + agg + sort: ${shuffles("token_gini")}")
    assert(shuffles("embedding_anisotropy") <= 3,
      s"embedding_anisotropy exceeded dim-agg + total + sort: ${shuffles("embedding_anisotropy")}")
    assert(shuffles("doc_outliers") <= 5,
      s"doc_outliers exceeded centroid build + rank + sort: ${shuffles("doc_outliers")}")
    assert(shuffles("dsir_weights") <= 5,
      s"dsir_weights exceeded vocab agg + totals + token join + doc agg + sort: ${shuffles("dsir_weights")}")
    // round-7 third wave: the bar indicators stay at shuffle+sort;
    // dedup_normalized is exactly exactDedup's shape
    for (q <- Seq("rogers_satchell", "trix", "dpo", "coppock",
        "corwin_schultz", "dedup_normalized"))
      assert(shuffles(q) <= 2, s"$q grew beyond shuffle+sort: ${shuffles(q)}")
    assert(shuffles("vol_cone") <= 8,
      s"vol_cone exceeded 3 horizon builds + count + window + agg: ${shuffles("vol_cone")}")
    for (q <- Seq("adx", "mass_index", "yang_zhang", "tsi", "choppiness",
        "eom", "elder_impulse", "awesome_osc", "chandelier_exit", "stoch_rsi", "pvo"))
      assert(shuffles(q) <= 2, s"$q grew beyond shuffle+sort: ${shuffles(q)}")
    assert(shuffles("temperature_mix") <= 4,
      s"temperature_mix exceeded source agg + totals windows + sort: ${shuffles("temperature_mix")}")
    assert(shuffles("cluster_purity") <= 6,
      s"cluster_purity exceeded assign + label agg + rank + sort: ${shuffles("cluster_purity")}")
    // round-7 fourth wave: the per-asset aggregates ride the single
    // asset_id shuffle; kendall_tau adds the per-date market agg and
    // the pair self-join's second probe side; m2_ratio adds the market
    // series agg chain (its 1-row σ joins back via broadcast)
    for (q <- Seq("ad_line", "ultimate_osc", "runs_test", "hill_tail",
        "cornish_fisher", "volume_profile"))
      assert(shuffles(q) <= 2, s"$q grew beyond shuffle+sort: ${shuffles(q)}")
    assert(shuffles("kendall_tau") <= 4,
      s"kendall_tau exceeded rets + market agg + pair explode + sort: ${shuffles("kendall_tau")}")
    assert(shuffles("m2_ratio") <= 6,
      s"m2_ratio exceeded rets + market chain + sort: ${shuffles("m2_ratio")}")
    // round-7 fifth wave (pipeline): the hash-family passes stay at
    // one combinable shuffle + sort; fertility is scan + lang agg;
    // coverage is word count + bounded top-k window + cut agg + total
    for (q <- Seq("suffix_dups", "tokenizer_fertility"))
      assert(shuffles(q) <= 2, s"$q grew beyond shuffle+sort: ${shuffles(q)}")
    assert(shuffles("dup_length_bias") <= 3,
      s"dup_length_bias exceeded hash window + flag agg + sort: ${shuffles("dup_length_bias")}")
    assert(shuffles("ngram_coverage") <= 6,
      s"ngram_coverage exceeded count + topk + cuts + total + sort: ${shuffles("ngram_coverage")}")
    assert(shuffles("lsh_bucket_histogram") <= 4,
      s"lsh_bucket_histogram exceeded bucket agg + size agg + sort: ${shuffles("lsh_bucket_histogram")}")
    // round-7 sixth wave: vpin rides tick_imbalance's single shuffle;
    // sterling joins two asset-keyed aggregates; the band histogram is
    // banding + two bounded aggregates
    assert(shuffles("vpin") <= 2,
      s"vpin grew beyond shuffle+sort: ${shuffles("vpin")}")
    assert(shuffles("sterling_ratio") <= 5,
      s"sterling_ratio exceeded 2 panel builds + join + sort: ${shuffles("sterling_ratio")}")
    assert(shuffles("minhash_band_histogram") <= 4,
      s"minhash_band_histogram exceeded banding + 2 aggs + sort: ${shuffles("minhash_band_histogram")}")
    // round-7 seventh wave
    for (q <- Seq("gain_loss_ratio", "pii_stats"))
      assert(shuffles(q) <= 2, s"$q grew beyond shuffle+sort: ${shuffles(q)}")
    assert(shuffles("readability") <= 1,
      s"readability must stay map-only + sort: ${shuffles("readability")}")
    assert(shuffles("xsec_ic") <= 3,
      s"xsec_ic exceeded panel + date agg + sort: ${shuffles("xsec_ic")}")
    // round-7 eighth wave: every bar/candle op rides ONE asset_id
    // shuffle (bar build, windows, folds and the heikin-ashi groupBy
    // all share it) plus the presentation sort
    for (q <- Seq("balance_of_power", "qstick", "rvi", "nvi_pvi",
        "bipower_var", "heikin_ashi"))
      assert(shuffles(q) <= 2, s"$q grew beyond shuffle+sort: ${shuffles(q)}")
    // round-7 ninth wave (pipeline): lexical_diversity is map-only +
    // sort; line_dups is line agg + doc agg (the line join reuses the
    // explode's shuffle); the entropy/JSD/funnel reports are bounded
    // aggregate chains over one or two corpus scans
    assert(shuffles("lexical_diversity") <= 1,
      s"lexical_diversity must stay map-only + sort: ${shuffles("lexical_diversity")}")
    assert(shuffles("line_dups") <= 4,
      s"line_dups exceeded line agg + join + doc agg + sort: ${shuffles("line_dups")}")
    assert(shuffles("bigram_entropy") <= 6,
      s"bigram_entropy exceeded 2 count aggs + 2 source aggs + join + sort: ${shuffles("bigram_entropy")}")
    assert(shuffles("source_jsd") <= 8,
      s"source_jsd exceeded count aggs + dense join + source agg + sort: ${shuffles("source_jsd")}")
    assert(shuffles("filter_funnel") <= 5,
      s"filter_funnel exceeded gate join + source agg + sort: ${shuffles("filter_funnel")}")
    assert(shuffles("edit_similarity") <= 8,
      s"edit_similarity exceeded banding + pair agg + text join + DP spread + sort: ${shuffles("edit_similarity")}")
    // round-7 tenth wave: the risk/return aggregates ride one asset_id
    // shuffle + sort; mahalanobis adds the dim-bounded stat build and
    // the per-label rank window
    for (q <- Seq("kst", "rachev_ratio", "pain_index", "vol_clustering"))
      assert(shuffles(q) <= 2, s"$q grew beyond shuffle+sort: ${shuffles(q)}")
    assert(shuffles("mahalanobis_outliers") <= 6,
      s"mahalanobis_outliers exceeded stat build + rank + sort: ${shuffles("mahalanobis_outliers")}")
    // round-7 eleventh wave: supertrend rides the single asset_id
    // shuffle; connors_rsi re-partitions for the islands windows
    // ((asset,sgn) then (asset,sgn,grp)) before returning to asset_id;
    // intrinsic_dim is a bounded sample against a 1-row broadcast pool
    assert(shuffles("supertrend") <= 2,
      s"supertrend grew beyond shuffle+sort: ${shuffles("supertrend")}")
    assert(shuffles("connors_rsi") <= 6,
      s"connors_rsi exceeded islands windows + sort: ${shuffles("connors_rsi")}")
    assert(shuffles("intrinsic_dim") <= 4,
      s"intrinsic_dim exceeded sample + pool + agg: ${shuffles("intrinsic_dim")}")
    // round-7 twelfth wave: dema_tema/psar ride the single asset_id
    // shuffle; mcclellan adds the market-level date aggregate and its
    // single-partition breadth windows; the two observability ops are
    // one kernel scan + bounded aggregate
    for (q <- Seq("dema_tema", "psar"))
      assert(shuffles(q) <= 2, s"$q grew beyond shuffle+sort: ${shuffles(q)}")
    assert(shuffles("mcclellan") <= 4,
      s"mcclellan exceeded panel + date agg + breadth window: ${shuffles("mcclellan")}")
    assert(shuffles("simhash_bit_balance") <= 3,
      s"simhash_bit_balance exceeded kernel scan + bit agg + sort: ${shuffles("simhash_bit_balance")}")
    assert(shuffles("winnow_density") <= 1,
      s"winnow_density must stay map-only + sort: ${shuffles("winnow_density")}")
    // round-7 thirteenth wave: the volume indicators ride the single
    // asset_id shuffle; contamination_curve is three decontaminate
    // shapes unioned (distinct + broadcast-join + agg per k)
    for (q <- Seq("klinger_osc", "ppo", "relative_volume", "up_down_vol_ratio"))
      assert(shuffles(q) <= 2, s"$q grew beyond shuffle+sort: ${shuffles(q)}")
    assert(shuffles("contamination_curve") <= 12,
      s"contamination_curve exceeded 3x(distinct + two-phase distinct aggs) + sort: ${shuffles("contamination_curve")}")
    // round-7 fourteenth wave: the trend/volume indicators (including
    // the fisher fold) ride the single asset_id shuffle; burstiness is
    // a two-phase distinct agg + bounded top-K; band_sweep is one
    // signature pass + three bounded (bucket agg + 1-row agg) chains
    for (q <- Seq("fisher_transform", "sma_cross", "price_volume_corr",
        "trend_intensity"))
      assert(shuffles(q) <= 2, s"$q grew beyond shuffle+sort: ${shuffles(q)}")
    assert(shuffles("token_burstiness") <= 4,
      s"token_burstiness exceeded word agg + top-K + sort: ${shuffles("token_burstiness")}")
    assert(shuffles("band_sweep") <= 9,
      s"band_sweep exceeded 3x(bucket agg + 1-row agg) + sort: ${shuffles("band_sweep")}")
    // round-7 fifteenth wave: breadth/dispersion add the market-level
    // date aggregate on top of the asset shuffle; char_class_profile
    // is scan + one combinable aggregate
    for (q <- Seq("high_low_index", "xsec_dispersion"))
      assert(shuffles(q) <= 3, s"$q exceeded panel + date agg + sort: ${shuffles(q)}")
    assert(shuffles("autocorr_profile") <= 2,
      s"autocorr_profile grew beyond shuffle+sort: ${shuffles("autocorr_profile")}")
    assert(shuffles("char_class_profile") <= 2,
      s"char_class_profile exceeded scan + agg + sort: ${shuffles("char_class_profile")}")
    // round-7 sixteenth wave: whole-history risk aggregates on the
    // single asset_id shuffle
    for (q <- Seq("martin_ratio", "dar", "skip_days_impact",
        "intraday_overnight_split"))
      assert(shuffles(q) <= 2, s"$q grew beyond shuffle+sort: ${shuffles(q)}")
    for (q <- Seq("range_contraction"))
      assert(shuffles(q) <= 2, s"$q grew beyond shuffle+sort: ${shuffles(q)}")
    assert(shuffles("hapax_ratio") <= 3,
      s"hapax_ratio exceeded word agg + source agg + sort: ${shuffles("hapax_ratio")}")
    for (q <- Seq("volatility_ratio", "acceleration"))
      assert(shuffles(q) <= 2, s"$q grew beyond shuffle+sort: ${shuffles(q)}")
    assert(shuffles("length_by_lang") <= 2,
      s"length_by_lang exceeded lang agg + sort: ${shuffles("length_by_lang")}")
    assert(shuffles("beta_stability") <= 6,
      s"beta_stability exceeded rolling-beta chain + asset agg: ${shuffles("beta_stability")}")
    // round-8 wave A/B: the panel ops ride the single asset_id shuffle
    // (windows, folds and per-asset aggregates share it) + sort; the
    // calendar-bucket ops add one (asset, bucket) aggregate; the corpus
    // profiles are explode + one combinable aggregate (+ rank/joins for
    // the overlap matrix, all K-bounded)
    for (q <- Seq("kama", "rolling_moments", "dist_from_high", "gap_stats",
        "vol_regime", "fractal_pivots", "round_price_clustering"))
      assert(shuffles(q) <= 2, s"$q grew beyond shuffle+sort: ${shuffles(q)}")
    for (q <- Seq("dow_seasonality", "turn_of_month", "volume_seasonality"))
      assert(shuffles(q) <= 3, s"$q exceeded panel + bucket agg + sort: ${shuffles(q)}")
    for (q <- Seq("word_length_profile", "stopword_profile", "mixed_lang_docs"))
      assert(shuffles(q) <= 2, s"$q exceeded scan + source agg + sort: ${shuffles(q)}")
    assert(shuffles("char_trigram_entropy") <= 3,
      s"char_trigram_entropy exceeded trigram agg + source agg + sort: ${shuffles("char_trigram_entropy")}")
    assert(shuffles("source_overlap_matrix") <= 7,
      s"source_overlap_matrix exceeded count + rank + pair join + size joins + sort: ${shuffles("source_overlap_matrix")}")
    // round-8 wave C
    for (q <- Seq("price_percentile"))
      assert(shuffles(q) <= 2, s"$q grew beyond shuffle+sort: ${shuffles(q)}")
    for (q <- Seq("resample_weekly"))
      assert(shuffles(q) <= 3, s"$q exceeded panel + week agg + sort: ${shuffles(q)}")
    for (q <- Seq("quality_length_matrix", "quantization_error_by_dim"))
      assert(shuffles(q) <= 2, s"$q exceeded scan + bucket agg + sort: ${shuffles(q)}")
    assert(shuffles("dup_text_mass") <= 3,
      s"dup_text_mass exceeded hash window + source agg + sort: ${shuffles("dup_text_mass")}")
    // round-8 wave D
    for (q <- Seq("range_expansion", "ibs"))
      assert(shuffles(q) <= 2, s"$q grew beyond shuffle+sort: ${shuffles(q)}")
    assert(shuffles("underwater_duration") <= 4,
      s"underwater_duration exceeded panel + episode agg + join + sort: ${shuffles("underwater_duration")}")
    for (q <- Seq("cross_lang_dups", "near_dup_length_ratio"))
      assert(shuffles(q) <= 7,
        s"$q exceeded banding join + pair distinct + lookups + agg + sort: ${shuffles(q)}")
    // round-8 wave E
    assert(shuffles("shingle_df_histogram") <= 4,
      s"shingle_df_histogram exceeded fanout + df agg + bucket agg + sort: ${shuffles("shingle_df_histogram")}")
    assert(shuffles("token_mass_concentration") <= 6,
      s"token_mass_concentration exceeded length agg + cum window + cut/mass aggs: ${shuffles("token_mass_concentration")}")
    assert(shuffles("weekly_consistency") <= 4,
      s"weekly_consistency exceeded panel + week agg + runs agg + sort: ${shuffles("weekly_consistency")}")
    // round-9 wave F: the momentum/stretch indicators and the gap-fill
    // aggregate all ride the single asset_id shuffle (windows, folds
    // and the per-asset groupBy share the bar/LWW build's
    // partitioning) + sort; cluster purity joins the broadcast-labeled
    // corpus and runs two bounded aggregates; estimate error is the
    // minhash_verified shape (banding self-join + melt + pinned verify
    // spread) plus the signature compare
    for (q <- Seq("chande_momentum", "vhf", "imi", "disparity", "gap_fill_rate"))
      assert(shuffles(q) <= 2, s"$q grew beyond shuffle+sort: ${shuffles(q)}")
    assert(shuffles("cluster_source_purity") <= 5,
      s"cluster_source_purity exceeded label join + 2 aggs + sort: ${shuffles("cluster_source_purity")}")
    assert(shuffles("minhash_estimate_error") <= 8,
      s"minhash_estimate_error exceeded banding + pair agg + melt + verify spread + sort: ${shuffles("minhash_estimate_error")}")
    // round-9 wave G: rwi/leverage_effect ride the single asset_id
    // shuffle; mansfield_rs adds the per-date market aggregate
    // (broadcast back — the beta shape); rare_token_docs is the
    // two-stage DF-table shape; max_char_run is one compiled pass
    for (q <- Seq("rwi", "leverage_effect"))
      assert(shuffles(q) <= 2, s"$q grew beyond shuffle+sort: ${shuffles(q)}")
    assert(shuffles("mansfield_rs") <= 4,
      s"mansfield_rs exceeded panel + market agg + sort: ${shuffles("mansfield_rs")}")
    assert(shuffles("rare_token_docs") <= 5,
      s"rare_token_docs exceeded df agg + join + doc agg + sort: ${shuffles("rare_token_docs")}")
    assert(shuffles("max_char_run") <= 1,
      s"max_char_run must stay map-only + sort: ${shuffles("max_char_run")}")
    // round-9 wave H: order-flow/vpt ride the asset shuffle; the
    // signature plot runs one (asset,bucket)+asset chain per frequency
    // (4 freqs, unioned); the threshold curve aggregates a
    // checkpointed witness base 3 times; word decontamination is the
    // eval-broadcast shape + one doc aggregate
    for (q <- Seq("order_flow_autocorr", "vpt"))
      assert(shuffles(q) <= 2, s"$q grew beyond shuffle+sort: ${shuffles(q)}")
    assert(shuffles("vol_signature") <= 10,
      s"vol_signature exceeded 4x(bucket window + asset agg) + sort: ${shuffles("vol_signature")}")
    assert(shuffles("semantic_threshold_curve") <= 7,
      s"semantic_threshold_curve exceeded 3 single-row aggs + sort: ${shuffles("semantic_threshold_curve")}")
    assert(shuffles("decontaminate_words") <= 5,
      s"decontaminate_words exceeded eval distinct + fanout + doc agg + sort: ${shuffles("decontaminate_words")}")
    // round-9 wave I: stc's six window passes and the breakout
    // aggregate ride the single asset shuffle; survivor-quality adds
    // the rank window over the labeled corpus; token budget is two
    // bounded aggregates around broadcast rate joins; the venn is
    // joins between checkpointed duplicates-sized pair sets
    for (q <- Seq("stc", "donchian_breakout"))
      assert(shuffles(q) <= 2, s"$q grew beyond shuffle+sort: ${shuffles(q)}")
    assert(shuffles("dedup_survivors_quality") <= 6,
      s"dedup_survivors_quality exceeded label join + rank + agg + sort: ${shuffles("dedup_survivors_quality")}")
    assert(shuffles("token_budget_sample") <= 5,
      s"token_budget_sample exceeded source agg + doc agg + sort: ${shuffles("token_budget_sample")}")
    assert(shuffles("dedup_method_venn") <= 10,
      s"dedup_method_venn exceeded pair-set joins + union agg: ${shuffles("dedup_method_venn")}")
    // round-9 wave J: tick_bars re-keys from the asset window to the
    // (asset, bar) aggregate; doc_chunks is map-only; the compact row
    // audits as its post-compaction broadcast probe
    assert(shuffles("tick_bars") <= 3,
      s"tick_bars exceeded asset window + bar agg + sort: ${shuffles("tick_bars")}")
    assert(shuffles("doc_chunks") <= 1,
      s"doc_chunks must stay map-only + sort: ${shuffles("doc_chunks")}")
    assert(shuffles("minhash_index_compact") <= 5,
      s"minhash_index_compact exceeded probe distinct + sort: ${shuffles("minhash_index_compact")}")
    // round-10 wave: the skew-safe as-of pays (key,slice) window +
    // carry agg/distinct/window + carry-back join + sort — bounded,
    // and every stage is hot-key-spread by construction; the findb
    // rows are connector scans (the distributed WRITE's own shuffle
    // runs inside the lambda, not in the returned plan) + sort; the
    // crash-window row returns two checkpointed 1-row aggregates
    assert(shuffles("asof_join_skew") <= 8,
      s"asof_join_skew exceeded sliced window + carry chain + sort: ${shuffles("asof_join_skew")}")
    assert(shuffles("findb_roundtrip") <= 1,
      s"findb_roundtrip read must stay scan + sort: ${shuffles("findb_roundtrip")}")
    assert(shuffles("findb_read_pruned") <= 1,
      s"findb_read_pruned must stay pruned scan + sort: ${shuffles("findb_read_pruned")}")
    // r11: the directory store reads like any other store — pruned
    // single scan + sort; metadata-only assembly must not add plan cost
    assert(shuffles("findb_dir_store") <= 1,
      s"findb_dir_store must stay pruned scan + sort: ${shuffles("findb_dir_store")}")
    assert(shuffles("findb_bulk_asof") <= 4,
      s"findb_bulk_asof exceeded broadcast join + rank window + sort: ${shuffles("findb_bulk_asof")}")
    assert(shuffles("tickstore_compact_atomic") <= 2,
      s"tickstore_compact_atomic exceeded two checkpointed aggs + sort: ${shuffles("tickstore_compact_atomic")}")
    // wave K: the rolling ops ride the single asset shuffle (+ the
    // per-date market agg broadcast back for corr, the beta shape);
    // pairs_signal adds ONE pair window to the spread's plan; the
    // corpus pipeline is gate join + md5 rep shuffle + source rollups
    assert(shuffles("rolling_corr") <= 5,
      s"rolling_corr exceeded panel + market agg + sort: ${shuffles("rolling_corr")}")
    assert(shuffles("rolling_var") <= 2,
      s"rolling_var grew beyond shuffle+sort: ${shuffles("rolling_var")}")
    assert(shuffles("pairs_signal") <= 9,
      s"pairs_signal exceeded spread plan + pair window + sort: ${shuffles("pairs_signal")}")
    assert(shuffles("corpus_pipeline") <= 7,
      s"corpus_pipeline exceeded gate join + rep shuffle + rollups: ${shuffles("corpus_pipeline")}")
    assert(shuffles("pairs_adf") <= 9,
      s"pairs_adf exceeded spread plan + pair aggregation + sort: ${shuffles("pairs_adf")}")
    // wave M: the panel rollups ride ONE asset shuffle (+ the date
    // rollup for trin); the document profiles are map-only scans into
    // a #sources-row aggregate
    for (q <- Seq("rolling_ols_trend", "ewma_vol"))
      assert(shuffles(q) <= 2, s"$q grew beyond shuffle+sort: ${shuffles(q)}")
    assert(shuffles("jarque_bera") <= 2,
      s"jarque_bera exceeded asset shuffle + sort: ${shuffles("jarque_bera")}")
    assert(shuffles("trin") <= 3,
      s"trin exceeded asset shuffle + date rollup + sort: ${shuffles("trin")}")
    for (q <- Seq("line_profile", "sentence_stats"))
      assert(shuffles(q) <= 2, s"$q exceeded source rollup + sort: ${shuffles(q)}")
    // wave N: upside_potential is the beta-family single-shuffle shape;
    // zweig_breadth adds the #dates-row date rollup + unkeyed windows;
    // code_detect is a map-only scan + sort
    assert(shuffles("upside_potential") <= 2,
      s"upside_potential grew beyond shuffle+sort: ${shuffles("upside_potential")}")
    assert(shuffles("zweig_breadth") <= 4,
      s"zweig_breadth exceeded asset shuffle + date rollup + windows: ${shuffles("zweig_breadth")}")
    assert(shuffles("code_detect") <= 1,
      s"code_detect must stay map-only + sort: ${shuffles("code_detect")}")
    // r10 session waves AN-BB: the recursive/ring panel ops ride ONE
    // asset shuffle + the presentation sort; the cross-sectional pair
    // adds the date stage; keyness is three count aggregates + a
    // token join + the per-source rank
    for (q <- Seq("renko", "garch_filter", "hurst_dfa", "es_backtest",
        "vol_target_nav", "woodie_pivots", "demark_pivots", "anchored_vwap",
        "island_reversals", "info_discreteness", "adjusted_sharpe",
        "equity_curve_r2", "ibs"))
      assert(shuffles(q) <= 2, s"$q grew beyond shuffle+sort: ${shuffles(q)}")
    assert(shuffles("pacf") <= 2,
      s"pacf grew beyond shuffle+sort: ${shuffles("pacf")}")
    assert(shuffles("pattern_entropy") <= 4,
      s"pattern_entropy exceeded asset window + code agg + asset agg + sort: ${shuffles("pattern_entropy")}")
    for (q <- Seq("tail_dependence", "variance_decomposition", "dual_beta"))
      assert(shuffles(q) <= 5, s"$q exceeded the beta-family budget: ${shuffles(q)}")
    assert(shuffles("fama_macbeth") <= 6,
      s"fama_macbeth exceeded asset + date agg + summary + sort: ${shuffles("fama_macbeth")}")
    assert(shuffles("quintile_spread") <= 5,
      s"quintile_spread exceeded asset + date rank/agg + sort: ${shuffles("quintile_spread")}")
    assert(shuffles("rebalance_nav") <= 5,
      s"rebalance_nav exceeded asset + week aggs + chain + sort: ${shuffles("rebalance_nav")}")
    assert(shuffles("hasbrouck_lambda") <= 6,
      s"hasbrouck_lambda exceeded the kyle_lambda family budget: ${shuffles("hasbrouck_lambda")}")
    assert(shuffles("keyness_terms") <= 9,
      s"keyness_terms exceeded count aggs + token join + rank + sort: ${shuffles("keyness_terms")}")
  }

  test("single-key reads plan no exchange and keep their scan pruning") {
    def exchanges(plan: String): Int = plan.linesIterator.count(_.contains("Exchange"))
    // the registry's panel reads: one stage, key predicates still pushed
    for ((q, asset) <- Seq("asof_point" -> 7, "point_lookup" -> 5)) {
      val plan = SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
        .queryExecution.executedPlan.toString
      assert(exchanges(plan) === 0, s"$q plans an exchange:\n$plan")
      assert(plan.contains("PushedFilters: [") && plan.contains(s"EqualTo(user_id,$asset)"),
        s"$q scan lost its pushdown:\n$plan")
    }
    // a TickStore read: the derived month bound must still reach the
    // scan as PartitionFilters (directory pruning) beside PushedFilters
    spark.experimental.extraOptimizations = Seq(graft.plans.DeriveMonthPartitionFilter)
    try {
      val store = RevisedTickStore.read(spark)
      for ((name, df, months) <- Seq(
          ("asOfRange", graft.operators.AsOf.asOfRange(store, 1L, "2020-01-25", "2020-02-10",
            "2020-12-31 00:00:00"), Seq("2020-01", "2020-02")),
          ("pointLookup", graft.operators.KeyValue.pointLookup(store, 1L, "2020-02-29"), Seq("2020-02")))) {
        val plan = df.queryExecution.executedPlan.toString
        assert(exchanges(plan) === 0, s"$name over a TickStore plans an exchange:\n$plan")
        assert(plan.contains("PushedFilters: [") && plan.contains("EqualTo(asset_id,1)"),
          s"$name over a TickStore lost its pushdown:\n$plan")
        val pf = plan.linesIterator.filter(_.contains("PartitionFilters")).mkString
        for (m <- months)
          assert(pf.matches(s""".*PartitionFilters: \\[[^\\]]*date_month[^\\]]*$m[^\\]]*\\].*"""),
            s"$name over a TickStore lost its month pruning: $pf")
      }
    } finally spark.experimental.extraOptimizations = Nil
  }

  test("a findb single-asset read plans one LocalTableScan and runs no job") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files.createTempDirectory("audit_findb").toString + "/panel.db"
    graft.sources.findb.FindbWriter.write(path, 16 + 4 * 16,
      (0L until 40L).map(i => (i / 10, 20240101 + (i % 10).toInt, 1000L + i, i.toFloat)))
    // the benchmark's panel shape and its caller-side select
    def panel(raw: org.apache.spark.sql.DataFrame) = raw.select(col("asset_id"),
      to_date(col("date").cast("string"), "yyyyMMdd").as("date"),
      timestamp_seconds(col("timestamp")).as("ts"), col("value").cast("double").as("value"),
      lit(0L).as("seq"))
    val raw = spark.read.format("graft.sources.findb.FindbDataSource").load(path)
    def read(p: org.apache.spark.sql.DataFrame) =
      graft.operators.AsOf.asOfRange(p, 2L, "2024-01-01", "2024-01-31", "2030-01-01 00:00:00")
        .select(col("asset_id"), datediff(col("date"), lit("2024-01-01").cast("date")).cast("long"),
          unix_seconds(col("ts")), (col("value") * 4).cast("long"))
    val routed = read(panel(raw))
    val plan = routed.queryExecution.executedPlan
    assert(plan.isInstanceOf[org.apache.spark.sql.execution.LocalTableScanExec], s"findb read:\n$plan")
    for (op <- Seq("BatchScan", "WholeStageCodegen", "Window", "Exchange"))
      assert(!plan.toString.contains(op), s"findb read plans $op:\n$plan")

    // jobs per collect, counted by a listener; a marker job flushes the
    // (asynchronous) listener bus before the count is read
    val jobs = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(g => jobs.merge(g, 1, (a: Integer, b: Integer) => a + b))
    }
    val sc = spark.sparkContext
    def jobsOf(group: String)(body: => Any): Int = {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-marker", "flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (!jobs.containsKey(s"$group-marker") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(jobs.containsKey(s"$group-marker"), "listener bus did not drain")
      Option(jobs.get(group)).map(_.intValue).getOrElse(0)
    }
    sc.addSparkListener(listener)
    try {
      val got = routed.collect().toSeq
      assert(got.size === 10)
      assert(jobsOf("audit-findb-routed")(read(panel(raw)).collect()) === 0)
      // control: the window plan over a non-routable panel runs a job
      assert(jobsOf("audit-findb-window")(read(panel(raw.filter(lit(true)))).collect()) >= 1)
    } finally sc.removeSparkListener(listener)
  }

  test("the backward as-of joins plan the one-pass merge, not a window") {
    for (q <- Seq("asof_join", "asof_join_inclusive")) {
      val plan = SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
        .queryExecution.executedPlan.toString
      assert(plan.contains("AsOfJoin") && !plan.contains("Window"), s"$q:\n$plan")
    }
  }

  test("no query plan contains a cartesian product or unplanned BNL join") {
    val sfDir = "/root/testdata/sf0.001"
    // The replay/lifecycle harness rows EXECUTE their streaming or
    // store pipeline inside the lambda and return an already-collected
    // static frame — auditing that residue plan is meaningless (their
    // real operator plans are the batch twins audited above; streaming
    // joins reject cartesian shapes at analysis time anyway), so they
    // are planned out of this loop rather than paying a full execution
    // per audit.
    val harness = (n: String) =>
      n.startsWith("stream_") || n.startsWith("tickstore_") ||
        n.startsWith("findb_")
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot(q => harness(q._1)).flatMap { case (name, fn) =>
      val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
      val cartesian = plan.contains("CartesianProduct")
      val bnl = plan.contains("BroadcastNestedLoopJoin") && !bnlWhitelist(name)
      if (cartesian || bnl)
        Some(s"$name: ${if (cartesian) "CartesianProduct " else ""}${if (bnl) "BroadcastNestedLoopJoin" else ""}")
      else None
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
