package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Physical-plan audit: dumps `explain("formatted")` of the executed
  * plan for representative queries so pushdown / pruning / join strategy / codegen coverage can
  * be reviewed. The output is generated on demand (default
  * docs/PLANS.md, not committed); `PlanContractSpec` enforces the
  * load-bearing plan rules in code.
  *
  * Usage: runMain graft.Explain [sfDir] [outFile] [query...]
  * (queries are exact names or prefixes; given any, they are audited
  * instead of the default list)
  */
object Explain {
  private val Audited = Seq(
    "q01_product_facts", // star join + 4-key agg: broadcasts, partial agg
    "q03_quarterly_totals", // small ordered result: one-partition sort, no range exchange
    "q05_top_product",   // TakeOrderedAndProject, no global sort
    "q07_top5_reps",     // flagship
    "q09_union_batches", // agg-through-union rule: partial aggs per batch
    "q11_fk_left_join",  // pushed filter on dim + left outer broadcast
    "q20_window_rank",   // window after agg
    "q29_range_join",    // equi+range predicate placement
    "q32_dedup_minhash", // LSH band self-join shape
    "q35_dedup_embedding", // LSH band equi-join, NO cartesian (r04)
    "q102_cross_batch_minhash", // cross-day sketch join (r04)
    "q44_tumbling_window", // window() agg
    "q63_value_windows", // one-split orders scan under Coalesce 1: agg,
                         // window and sort with no exchange, one job
    "q54_pivot",         // declared-domain pivot = one-pass cond. agg
    "q61_range_frame",   // RANGE frame over exact cents
    "q66_contamination", // broadcast benchmark shingles
    "q103_bloom_decontaminate", // codegen bloom probe inside the corpus scan stage
    "q70_asof_native",   // custom AsofJoinExec: 2 exchanges, merge
    "q80_scd2_history",  // change-point windows: ONE exchange on custkey
    "q85_histogram",     // scalar agg bounds broadcast against the scan
    "q86_tfidf",         // two hash aggs + WindowGroupLimit top-3
    "q88_asof_forward",  // forward-direction AsofJoinExec + tolerance
    "q110_span_dedup",   // span-hash shuffle, no pair join (r04 cont.)
    "q112_weighted_sample", // TakeOrderedAndProject, no global sort
    "q120_hybrid_rrf",   // two top-k arms + 20+20-row outer-join fusion
    "q121_adaptive_quality", // per-source thresholds broadcast to the scan
    "q123_pmi_cooccurrence", // vocab-bounded pair join, never vocab^2
    "q124_cdc_chunk",    // content-key shuffle at chunk granularity
    "q125_cdc_gear",     // native gear kernel inside the scan stage
    "q128_scd2_pit_join", // SCD2 window chain + native AsofJoinExec
    "q132_zorder_scan",  // pushed box predicate over the z-ordered layout
    "q133_cell_serving", // PartitionFilters: only probed cells' files read
    "q134_bucketed_join", // Bucketed: true scans; per-key agg exchange-free
                          // (shuffle-free SMJ contract measured in-query
                          // with AQE + broadcast off — the 100 TB conf)
    "q135_incremental_facts", // delta arm: cutoff pushed into orders scan;
                              // history arm: the pre-cutoff fact build
    "q136_snapshot_diff", // one full-outer SMJ on the key, md5 row-hash
                          // compare — the whole diff is a single pass
    "q139_data_expectations", // 10 checks = 3 single-pass conditional-count
                              // aggregates + 1 anti join, then explode
    "q140_triangle_count", // degree-oriented 2-join motif count over the
                           // cached co-purchase edges
    "q141_adamic_adar", // hub-capped wedge self-join + anti join + agg
    "q146_domain_cap",  // per-source window, hash-partitioned by source
    "q147_dsir_select", // broadcast bucket log-ratios against the scan
    "q155_changepoint", // windows over the DAILY series table only —
                        // partition size = series length, never events
    "q157_phrase_search", // posting-list positional intersection: one
                          // equi-join on (doc_id, pos+1), no cartesian
    "q158_containment_dedup", // shingle-key join; no length prune BY
                              // DESIGN (unsound for containment)
    "q161_hierarchy_rollup", // path-enumeration explode + ONE exchange
                             // folds every subtree
    "q166_incremental_sessions", // both halves sessionized on ONE
                                 // user-key exchange each; O(users)
                                 // open-state full-outer merge
    "q172_cdc_merge",    // latest-wins via max(struct): partial agg
                         // pre-folds the changelog map-side, no window
                         // sort; merge = one full-outer join on the key
    "q173_basket_lift",  // a-priori prune BEFORE the basket self-join;
                         // broadcast freq + n_orders scalar
    "q174_attribution",  // ONE range-frame window pass per user — no
                         // conversions×touches pair join
    "q182_active_users", // WAU via map-side sequence-explode (≤7× the
                         // deduped user-day table), never a range join
    "q183_item_neighbors", // support-pruned pair table, per-item window
                           // over pairs only — never items²
    "q195_weighted_sssp",  // per-round edges⋈dist + min fold, flat
                           // recurrence via localCheckpoint
    "q199_partition_manifest", // one combinable xor/sum/count fold over
                               // the scan — manifest, no join
    "q200_linkage_weights", // multi-pass blocked pair join; m/u one
                            // conditional aggregate broadcast back
    "q202_containment_pipeline", // exact-first survivors feed the
                                 // shared containment kernel
    "q203_linkage_retrieval", // sampled m/u + name-prefix-blocked
                              // candidate retrieval (linear in dims)
    "q204_exact_substr", // window-hash equi-join + islands windows
                         // over matched pairs only
    "q205_ranking_auc",  // distinct-score profile window, one division
    "q206_skew_profile", // key-bounded count profile + TakeOrdered
    "q207_lead_lag",     // calendar-bounded pair x lag fan-out
    "q208_digit_audit",  // one digit fold, 9-row tail
    "q209_eval_sample",  // WindowGroupLimit: map-side top-K per stratum
    "q210_novelty_select", // one shingle-key anti-style join, no pairs
    "q211_revenue_gini", // customer profile + nation-bounded rank window
    "q212_lateness_profile", // per-shard arrival-order window
    "q213_reliability_curve", // user-profile ntile, broadcast global rate
    "q214_frequent_triples", // member-pruned 3-way basket join,
                             // broadcast pair supports
    "q215_data_card",    // one combinable fold + source percentile
    "q217_kmv_distinct", // udaf partial agg dedups in the capped buffer
    "q219_span_excision", // occurrence-rank on the window-hash shuffle,
                          // doc-grain interval-union windows
    "q220_epoch_shuffle", // self-scaling shard count; per-shard rank =
                          // the shard writer's in-partition sort
    "q221_vocab_coverage", // three TakeOrdered arms over cached counts
    "q222_metric_stability", // ONE wide conditional aggregate: 32
                             // replicates from hash bits, no fan-out
    "q224_mmr_retrieval", // greedy rounds over cached pool²-profile
                          // sims; pool gen = adaptive-width sign-LSH
                          // band equi-join (r11 — no Q×N arm left)
    "q225_weighted_median", // doc-grain cumulative-weight windows per
                            // source; min-struct qualifying pick
    "q226_incremental_kmv", // day-spine joins over the |days|×k sketch
                            // element profile; history never re-read
    "q227_feature_corr", // user fold + ONE wide 15-sum aggregate
    "q228_kmv_jaccard",  // pair work on the |sources|²×k sketch
                         // element profile; exact arm = contract
    "q229_rater_kappa",  // doc-grain flag pass, broadcast medians,
                         // |langs|-row contingency fold
    "q230_vocab_richness", // (source, word) histogram fold; estimates
                           // on the |sources|-row profile
    "q231_source_jsd",   // fixed |sources|×1024 distribution tables;
                         // granted spine BNLJ, pair stage bounded
    "q232_transition_entropy", // q84 lead-window kernel → |types|²
                               // profile; quantized entropy fold
    "q233_label_noise",  // n×k×d classify join, model-sized broadcast
                         // build; per-vec argmax window over k rows
    "q234_ks_drift",     // conditional-count fold → |types|×buckets
                         // profile; ≤11-row CDF windows per type,
    "q184_rfm_segments", // three DistributedRank exact ntiles (r11) —
                         // zero global windows, three custkey joins
    "q347_dim_bucketed_join", // dim co-bucketed with its fact: SMJ
                              // subtree exchange-free, only the segment
                              // rollup shuffles
    "q348_hamming_retrieval", // band bucket equi-join + popcount rank
                              // over collision candidates only
    "q363_exact_median", // DistributedRank ordinal + broadcast-scalar
                         // rank filter — exact median, no global sort
    "q365_logrank_test", // fact fold → (group, days) profile; granted
                         // profile×spine at-risk join,
    "q368_revenue_recognition", // horizon-bounded month explode;
                                // ≤7-row per-unit windows
    "q370_abc_classification", // distributed prefix sum: 2 jobs over
                               // one checkpointed sorted frame
    "q373_quantile_ladder",  // one ordinal pass + broadcast-scalar
                             // rank filters per ladder point
    "q374_query_likelihood", // doc-length profile × broadcast 3-term
                             // query; left join to term postings;
                             // TakeOrdered 20 + bounded ordinal
    "q375_ddsketch_quantiles", // octave bitlen + ≤8 pinned compares
                               // per row; ≤ladder-row histograms
    "q376_compaction_planner", // day profile → distributed running
                               // total → bin div; output = plan grain
    "q377_join_order_advisor", // three 1-row dim profiles + one real
                               // broadcast-dim star join (calibration)
    "q378_cell_suppression", // fact fold → enum cell profile; both
                             // passes enum-partitioned windows
    "q379_retention_sweep",  // one enum-sized conditional fold
    "q380_quantile_trajectory", // day×bucket dense profile; two
                                // partition-bounded cumulative windows
    "q381_sample_cardinality",  // 1/64 hash sample + broadcast dims;
                                // three 1-row arms
    "q382_changepoint",      // fact fold → (type, day) profile; all
                             // windows type-partitioned, calendar-
                             // bounded; micro-quantized argmax
    "q383_curation_funnel",  // one scan, one conditional fold per
                             // source; integer cross-product bands
    "q384_token_budget_sample", // DistributedRank prefix sum over
                                // hash order; stride-crossing filter
    "q385_boilerplate_prefix",  // content-key groupBy on the prefix
                                // + TakeOrdered(20); no pair join
    "q386_simplified_silhouette", // n·k·d point×centroid join with
                                  // model-sized broadcast; exact
                                  // BIGINT folds, micro-quantized s
    "q387_int8_quant_audit",    // per-vec 64-row window + exact folds;
                                // linear, no joins wider than the scan
    "q388_changepoint2",     // q382 recursion depth 2: one more pass
                             // over the calendar-bounded profile;
                             // type-grain best-split broadcast
    "q389_training_materialization", // the composed gate→dedup→
                             // decontam→sample→pack lineage: every
                             // pair blocked on a content key, bench
                             // grams broadcast, prefix-sum sample,
                             // one scalar crossJoin footer
    "q390_cross_modal_audit", // pair corpus union → sig64 map stage →
                              // two content-key groupBys; NO pairwise
                              // step in either modality
    "q391_video_frame_dedup", // sampled-frame fingerprint sets; df-cap
                              // guard then frame-key equi-join — the
                              // q32 blocking class, never pairwise
    "q392_video_dedup_recall", // planted-pair audit: copy frames
                               // re-keyed to their original, so the
                               // probe join IS the pair — no candidate
                               // generation at all
    "q393_leakage_free_split", // cached pair table + cluster labels +
                               // per-doc hash splits; three 3-row
                               // aggregates on an enum spine
    "q394_repetition_profile", // ONE scan: per-row trigram distinct
                               // count, source-key rollup — no joins
    "q395_embedding_outlier_audit", // dim-keyed moments (64 rows) →
                                    // bounded broadcast → per-vec fold
    "q34_dedup_ngram_jaccard", // r15: set sizes carried THROUGH the
                               // shingle explode as a column — no
                               // per-doc size join/broadcast remains
    "q106_jaccard_prefix", // same r15 contract on the PPJoin twin: the
                           // only remaining joins are prefix-key
                           // candidate + pair-bounded verify
    "q235_km_survival",  // user min/max fold → duration histogram;
                         // granted day-spine at-risk/product windows
    "q236_mann_kendall", // daily-profile pair self-join (calendar²)
                         // + exact tie fold
    "q237_isotonic_calibrate", // user ntile → 10-row bin profile;
                               // granted bins³ minimax expansions
    "q238_dim_health",   // one posexplode (pos) fold → dim-row profile
    "q239_fd_audit",     // six independent two-level folds unioned
    "q240_zipf_slope",   // WindowGroupLimit top-K per source →
                         // K-row quantized-OLS fold
    "q241_surprisal_anomaly", // broadcast |types|² model join →
                              // user fold → TakeOrdered 20
    "q242_brier_decomposition", // parity split, broadcast edges +
                                // forecasts, bin-profile folds
    "q243_kcenter_coreset",     // k broadcast-join state updates +
                                // TakeOrdered(1) argmax per round
    "q244_incremental_surprisal", // per-half user folds + O(users)
                                  // boundary stitch, broadcast model
    "q245_clip_calibration",      // user fold × 4-row broadcast ladder
    "q246_linear_interpolate",    // calendar spine; per-type neighbor
                                  // windows over spine rows only
    "q247_clone_rate",            // journey fold → hash-rank chain →
                                  // adjacent-pair probes (linear)
    "q248_diff_in_diff",          // user-period fold → 4-row cells
    "q249_threshold_curve",       // band candidates + sigs join + pair-
                                  // restricted shingle join; 5× explode
    "q250_overdispersion",        // daily-profile sufficient stats
    "q251_brown_forsythe",        // conditional fold + (types×2) median
                                  // broadcast; exact half-cent z
    "q252_cusum",                 // daily-profile prefix + running-min
                                  // windows; exact integer alarm
    "q253_rate_change",           // one conditional fold + scalar cut
    "q254_median_stability",      // ONE wide conditional-percentile
                                  // aggregate; 32 reps, no fan-out
    "q255_retrieval_mrr",         // broadcast 1% query batch × corpus
                                  // integer dots; per-label profile
    "q256_class_report",          // q38 scan → |classes|² confusion
                                  // profile; all metrics on profile
    "q257_card_calibration",      // per-key count profiles joined —
                                  // never the data join itself
    "q258_cluster_sizes",         // cached q73 labels → size histogram
    "q259_hill_tail",             // TakeOrdered head + ladder arms
    "q260_rank_overlap",          // two rank heads × 50-row spine
    "q261_ewma",                  // daily-profile sequence-explode
                                  // contributions; exact weights
    "q262_pr_auc",                // distinct-score profile cumulative
    "q263_retrieval_ndcg",        // broadcast query batch × corpus +
                                  // per-qid top-10 rank windows
    "q264_cliffs_delta",          // user-grain value-profile cumulative
                                  // fold — pairs never enumerated
    "q265_mcnemar_picks",         // classify join + two per-vec picks
    "q266_lpa_communities",       // per-round label join against the
                                  // hash-partitioned static edge list
    "q267_kendall_tau",           // nation-profile all-pairs BNLJ
    "q268_periodogram",           // daily-profile pinned-trig folds
    "q269_assortativity",         // edge-list degree joins → 1-row stats
    "q270_rake_keyphrases",       // per-doc island window + vocab joins
                                  // + global top-20 TakeOrdered
    "q271_forecast_backtest",     // daily-profile self-joins on day−k
    "q272_session_thresholds",    // one lag window, all thresholds in
                                  // one conditional fold
    "q273_source_overlap",        // membership-mask histogram; pair
                                  // loop never touches the vocabulary
    "q274_simpson_audit",         // nation moments + pooled re-agg
    "q275_burst_episodes",        // burst-day islands per type
    "q276_weighted_overlap",      // shared-unit equi-join only —
                                  // Σmax via the totals identity
    "q277_dedup_savings",         // cached q73 labels + token fold
    "q278_quantile_drift",        // per-(type, half) percentile fold
    "q279_otsu_threshold",        // distinct-spend cumulative pass +
                                  // TakeOrdered argmax head
    "q280_ab_power",              // one conditional-agg scan, z pinned
    "q281_price_volume_mix",      // per-half BIGINT folds + broadcast cut
    "q282_association_rules",     // q214 triples + broadcast base rates
    "q283_effective_sample_size", // one groupBy fold over documents
    "q284_jackknife_influence",   // source profile + enum-sized SE fold
    "q285_clustering_coefficient",// q140 oriented wedge join + explode
    "q286_partition_advisor",     // ONE melted scan, two-level fold
    "q287_peeking_audit",         // (type, day) profile windows
    "q288_readability",           // per-doc integer counts, one fold
    "q289_oov_emergence",         // (source, word) histogram halves
    "q290_selectivity_calibration", // percentile fold + broadcast probes
    "q291_heaps_law",             // first-seen fold + doc-grain windows
    "q292_brand_homophily",       // edge artifact + brand-grain folds
    "q293_brown_backtest",        // two integer convolutions, 15 taps
    "q294_seasonal_strength",     // zero-filled profile + MA window
    "q295_winsorized_welch",      // percentile bounds + one clamp scan
    "q296_lead_time_sla",         // co-keyed fact join → month profile
    "q297_transitivity_audit",    // pair-table wedge join, 3-row melt
    "q298_wasserstein_drift",     // (type, cent) profile windows
    "q299_decomposition_anomalies", // shared q294 frame + sigma fold
    "q300_idf_shift",             // q73 labels + one (doc, word) fold
    "q301_water_filling",         // source-profile windows, int level
    "q302_churn_labels",          // user-grain halves + edge buckets
    "q303_revenue_var",           // daily profile + percentile + fold
    "q304_isotropy_audit",        // dim-grain profile + row fold
    "q305_priority_drift",        // enum profile, exact-integer TV
    "q306_cramers_v",             // densified contingency profiles
    "q307_churn_wilson",          // shared q302 buckets + fixed exprs
    "q308_duration_planner",      // one conditional-agg scan, pinned z
    "q309_bloom_advisor",         // ONE melted distinct fold
    "q310_supplier_hhi",          // (quarter, supplier) profile folds
    "q311_ild_audit",             // cached top-k table, k²-bounded pairs
    "q312_covariate_balance",     // ONE wide conditional user fold
    "q313_loo_encoding",          // category profile + one deviation fold
    "q314_price_dispersion",      // brand-grain percentile folds
    "q315_retrieval_map",         // shared int-cosine ranking, top-10
    "q316_user_influx",           // first-seen fold + half conditional
    "q317_segment_migration",     // customer profile + tercile edges
    "q318_quantile_effects",      // per-(type, arm) percentile folds
    "q319_markup_audit",          // broadcast part join + brand folds
    "q320_watermark_sweep",       // one lateness window, all delays
    "q321_markov_backtest",       // transition profile argmaxes
    "q322_load_profile",          // 24-slot profile + argmax window
    "q323_return_trend",          // month-grain conditional folds
    "q324_discount_curve",        // discount-grid profile fold
    "q325_burstiness",            // one lag window + decimal moments
    "q326_streak_distribution",   // user-day islands + histogram
    "q327_onboarding_velocity",   // per-user rank window + K filters
    "q328_salt_advisor",          // ONE melted per-key fold
    "q329_exact_dup_savings",     // md5 canonical fold, source grain
    "q330_growth_accounting",     // (user, week) grain lag windows
    "q331_price_elasticity",      // quantized-log OLS, type grain
    "q332_lsh_bucket_audit",      // band-bucket profile folds
    "q333_priority_sla",          // co-keyed join + priority profile
    "q334_dkw_median_band",       // (type, cent) CDF inversion
    "q335_fold_balance",          // hash folds + stratum profile
    "q336_spearman_length_quality", // midrank windows per source
    "q337_freshness_matrix",      // per-table 1-row aggregates
    "q338_charset_profile",       // regexp counts, source folds
    "q339_market_share_shift",    // nation revenue profile + exact TV
    "q340_dup_rate_by_length",    // md5 canonicals × decile edges
    "q341_engagement_diversity",  // per-user entropy fold + segments
    "q342_fulfilment_span",       // order-grain span + month profile
    "q343_ingest_quality_trend",  // doc-id decile buckets, one fold
    "q344_truncation_waste",      // ONE fold for every context length
    "q345_events_data_card",      // per-type governance folds
    "q346_basket_size_profile")   // order-grain size histogram

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("docs/PLANS.md")
    // an audited name that is no longer registered fails the run
    val audited = SparkEntry.select(
      if (args.length > 2) args.drop(2).toSeq else Audited)
    val spark = DevSession.make()
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb.append("# Physical plan audit (generated by graft.Explain, sf=")
      .append(sfDir).append(")\n\n")
    sb.append("Checks per plan: filters reach the parquet scan " +
      "(PushedFilters), only needed columns read (ReadSchema), small dims " +
      "broadcast, WholeStageCodegen spans cover the hot path.\n\n" +
      "Since round 9 the load-bearing subset of this audit is ENFORCED, " +
      "not just recorded: `PlanContractSpec` walks EVERY registered " +
      "query's physical plan and fails on any `CartesianProduct`, any " +
      "`BroadcastNestedLoopJoin` whose build side is not provably tiny " +
      "(outside the documented `PlanContract.BnljAllow` grants — " +
      "query-point/query-batch broadcasts, cached k-bounded model " +
      "tables, enum-keyed spines), any GLOBAL window not in the documented profile-bounded `GlobalWindowAllow` grants, and any pushable-shaped scan " +
      "predicate that fails source translation. This file remains the " +
      "full narrative audit; the spec is the tripwire.\n")
    audited.foreach { q =>
      // dumped after an action, so the plan is AQE's final one, with the
      // runtime re-planning (small-sort rewrites, broadcast conversions)
      // applied
      val df = q.run(spark, sfDir)
      df.collect()
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb.append(s"\n## ${q.name}\n\n```\n$plan```\n")
    }
    // q389 reads its flag spine through a localCheckpoint (measured
    // r15 fix), which cuts the gate→dedup→decontamination lineage out
    // of the registered plan above — dump the un-checkpointed spine
    // separately so the audit keeps the full declarative lineage
    // visible (incl. the graft_bloom_contains scan-stage probe in the
    // decontamination arm).
    if (audited.exists(_.name == "q389_training_materialization")) {
      val df = graft.operators.Materialize.flagSpinePlan(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb.append("\n## q389_training_materialization — flag-spine " +
        "lineage (pre-checkpoint)\n\n```\n" + plan + "```\n")
    }
    Files.createDirectories(Paths.get(out).toAbsolutePath.getParent)
    Files.writeString(Paths.get(out), sb.toString)
    println(s"[explain] wrote $out")
    spark.stop()
  }
}
