package graft.tools

import graft.{LocalRun, SparkEntry, Tables}
import org.apache.spark.sql.functions._

/** Synthetic 10× scale probe for the dedup/ANN/impute families: every 100 TB
  * claim in SCALING.md is a plan-shape argument — this measures ONE
  * scaling exponent to validate the lot. The documents/embeddings
  * corpus is unioned `mult`× with re-keyed ids (ids shifted by
  * i × (maxId+1), so duplicate CLUSTERS also multiply — each copy
  * carries the same intra-copy near-dup structure), written as parquet
  * mimicking an sf dir, and the headline queries run once at 1× and
  * once at `mult`×. A linear-shuffle operator should scale ≈ mult×;
  * anything super-linear gets root-caused. Results recorded in
  * BASELINE.md. Usage: runMain graft.tools.ScaleProbe [sfDir] [mult]
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val mult = args.lift(1).map(_.toInt).getOrElse(10)
    val spark = LocalRun.session(LocalRun.cpus)
    LocalRun.warmUp(spark)

    val bigDir = java.nio.file.Files
      .createTempDirectory(s"graft_scale_${mult}x").toString
    def replicate(table: String, idCol: String,
                  alsoShift: Seq[String] = Nil): Unit = {
      val base = Tables.load(spark, sfDir, table)
      val cols = idCol +: alsoShift
      val maxs: Map[String, Long] = cols.map { c =>
        val m = base.agg(max(col(c))).collect()(0)
        require(!m.isNullAt(0), s"$table at $sfDir is empty — nothing to replicate")
        c -> m.getLong(0)
      }.toMap
      (0 until mult).map { i =>
          cols.foldLeft(base) { (df, c) =>
            df.withColumn(c, col(c) + lit(i * (maxs(c) + 1)))
          }
        }
        .reduce(_ union _)
        .write.mode("overwrite").parquet(s"$bigDir/$table.parquet")
    }
    replicate("documents", "doc_id")
    replicate("embeddings", "vec_id")
    // the impute family trains on customer (treeAggregate CD-1 path +
    // per-segment executor-side fits) — replicate it the same way so
    // the probe covers training, not just dedup/ANN
    replicate("customer", "c_custkey")
    // round-8 ops touch lineitem (column profile) and part (z-order)
    replicate("lineitem", "l_orderkey")
    replicate("part", "p_partkey")
    // event analytics (funnel, sessions, gap fill): user_id shifts too,
    // so 10× means 10× USERS at the original per-user density — the
    // realistic growth axis for per-key windows
    replicate("events", "event_id", alsoShift = Seq("user_id"))
    // constraint checks join orders → customer; shift o_custkey in step
    // with the customer re-key so referential integrity still holds
    replicate("orders", "o_orderkey", alsoShift = Seq("o_custkey"))
    // PageRank's edge derivation joins supplier/nation: lineitem copies
    // keep their original l_suppkey values, so the dims are copied
    // as-is (10× edge weights into the same 25-node graph — the
    // realistic axis: more traffic, same domain universe)
    Seq("supplier", "nation").foreach { t =>
      Tables.load(spark, sfDir, t)
        .write.mode("overwrite").parquet(s"$bigDir/$t.parquet")
    }
    println(s"[scale] staged ${mult}x corpus at $bigDir")

    val queries = Seq("c2_minhash_dedup", "c2_online_dedup_twin",
      "c3_ann_topk", "c1_exact_dedup", "c2_embedding_dedup",
      "impute_customer_rbm_distributed", "c8_segment_rbm_impute",
      // snapshot diff: the one new round-7 op with a shuffle — its
      // (id, md5) join payload claim should show as ~linear scaling
      "d11_snapshot_diff",
      // persisted MinHash index: build (band reference + bucketed
      // write) + serve (batch claims vs bucketed table) — both sides
      // replicate, so this measures the full build+serve exponent
      "c2_incremental_persisted",
      // BM25: fixed 10-query batch vs a 10x corpus — the three
      // corpus-side hash aggs should dominate and scale ~linearly;
      // the broadcast candidate probe must NOT grow super-linearly
      "c3_bm25_retrieval",
      // round-8 ops: CDC merge (agg + full-outer join — linear),
      // epoch shuffle (bucketed windows + kilobyte offset table —
      // linear, the offsets window is nBuckets rows at ANY corpus
      // size), column profile (one scan + Expand for multi-distinct),
      // z-order key (pure projection — scan-bound)
      "d12_merge_upsert", "c7_epoch_shuffle", "d13_column_profile",
      "d14_zorder_curve",
      // trained quality filter: 50 treeAggregate gradient passes over
      // the replicated corpus + one scoring scan — should be ~linear
      "c7_lr_quality",
      // round-8b ops: constraint checks (one scan + key agg + bcast
      // anti join — linear), funnel + native session windows + gap
      // fill (per-user windows over 10× users — linear), fuzzy pairs
      // (names duplicate 10× across copies, so candidate buckets
      // densify — watch for super-linear pair blowup), k-means (5
      // Lloyd passes, narrow + k·dim stats — linear), histogram and
      // winsorize (scan-bound)
      "d15_constraint_checks", "d16_funnel", "b12_session_window",
      "d17_gap_fill", "c1_fuzzy_pairs", "c3_kmeans", "d18_histogram",
      "c8_winsorize",
      // round-8c ops: PageRank (edge derivation = the replicated
      // 4-way join, then iterations on the materialized 25-node
      // graph — derivation should dominate, ~linear), path mining
      // (one (user, day) shuffle over 10× users — linear), key-skew
      // profile + correlation matrix (scan-bound aggs), k-anonymity +
      // quantile bins (customer-sized aggs), BPE (corpus pass grows
      // 10× but the vocabulary — and so every merge round — is
      // IDENTICAL across copies: total should be clearly sub-linear)
      "d23_pagerank", "d26_top_paths", "d27_key_skew",
      "d28_correlation", "d24_k_anonymity", "d25_quantile_bins",
      "c5_bpe_merges",
      // round-8c streaming twins: rate limiting (bounded user-hour
      // windows over 10× users — linear), debounce (lag window, same
      // shape), outer attribution join (10× users × fixed per-user
      // density — the interval join stays linear because candidate
      // clicks per purchase don't grow with user count)
      "d29_rate_limit", "d30_debounce", "d31_attribution_outer",
      // round-8d ops: A/B test (one user shuffle + 1-row agg — linear
      // in events), incremental distinct (HLL states — the shard scans
      // are the only corpus passes), profile drift (two one-pass
      // profiles of orders), BM25 serve (build is the corpus side:
      // postings/doclen aggs; serve cost is query-batch-sized),
      // keyed heavy hitters (map-side MG summaries, ONE tiny row per
      // (partition, key) to the shuffle), PQ (encode projection +
      // candidate agg — both linear), audio framing (narrow flatMap
      // over the per-doc fixture), c6 frame features
      "d32_ab_test", "d20_incremental_distinct", "d33_profile_drift",
      "c3_bm25_serve", "c5_lang_top_tokens", "c3_pq_topk",
      "c6_audio_frames", "c3_ivfpq_serve",
      // round-8e ops: triangles (wedge join bounded by degree
      // orientation; 10× lineitem → denser co-purchase graph, ratio
      // reflects the E^1.5 wedge bound, not corpus size), SQL text
      // (CTE+join+window — linear), funnel latency / abandoned carts
      // (user-keyed aggs/anti-join over 10× users — linear), vocab
      // drift (vocabulary-sized join; corpus pass is the linear part)
      "d36_triangles", "b16_sql_surface", "d37_funnel_latency",
      "d38_abandoned_carts", "c5_vocab_drift",
      // round-8f ops: KNN impute (the EXACT audit join is O(missing ×
      // donors) BY DESIGN — expect ~quadratic here; the 100 TB path
      // swaps in ANN candidate generation, documented in KnnImpute),
      // Benford / EWMA / confusion / compression (scan-bound)
      "impute_lineitem_knn", "d39_benford", "d40_ewma",
      "c5_langid_confusion", "c7_compression_ratio",
      // round-8g ops: CUPED (one 1-row exact-sum pass), KM survival
      // (bounded bucketed axis), per-node triangles (same wedge bound)
      "d41_cuped", "d42_survival", "d36_local_cc",
      // round-9 ops: ANN-candidate KNN impute (the scale path that
      // retires the exact join's quadratic — pairs |R|·nProbe·√|D|;
      // expect clearly below the exact row's ratio), exact group
      // percentiles (the per-group value-buffer hazard named in
      // VERDICT r8 — measured here, mitigated by exact=false),
      // HLL-mode profile (no Expand — should beat d13's ratio),
      // cohort KM + log-rank (bounded bucket axis ×2 cohorts)
      "impute_lineitem_knn_ann", "b5_percentiles",
      "d13_column_profile_scale", "d44_km_cohorts", "d45_logrank",
      // round-9b: bootstrap (B× map-side explode into a partial agg —
      // shuffle is groups×B; expect ~linear wall from the B× CPU),
      // SRM / κ / calibration (scan-bound aggs + bounded-axis windows)
      "d46_bootstrap_ci", "d47_srm", "c5_langid_kappa",
      "c7_quality_calibration", "d50_nelson_aalen", "d51_rmst",
      // rank test runs on the bounded money-grid value axis; χ² is a
      // four-cell conditional agg — both scan-bound
      "d52_mann_whitney", "d53_chi2_conversion",
      // ratio CI is one exact-sum pass; funnel is one scan + gate
      // histogram; ecdf is the value-axis fold + an equi-join back
      "d54_ratio_ci", "c7_curation_funnel", "c8_ecdf",
      // persisted-donor-index serve: build (fit + bucketed write) +
      // batch impute — both sides replicate
      "impute_knn_serve",
      // bootstrap diff CI (one-pass replicas over the user frame) and
      // seasonal anomaly (hourly agg + per-(type,dow,hod) medians —
      // the percentile groups stay bounded by the seasonal key space)
      "d55_bootstrap_diff", "d56_seasonal_anomaly",
      // Gini: value-axis agg + bounded fold — scan-bound
      "d57_gini",
      // round-10: grid-quantized ecdf — the axis is BOUNDED at 10k
      // levels/group, so the fold cost must flatline while exact
      // c8_ecdf's axis grows with distinct values (4.6x at 10x, r9)
      "c8_ecdf_scale",
      // round-10: incremental BM25 index — build (3/4 corpus) + merge
      // (1/4) + serve; the full row replicates with the corpus, the
      // merge-only exponent is ProfileLexicalMerge (measured 1.0x)
      "c3_bm25_serve_incr",
      // round-10: KS / PSI / conformal — all bounded-axis folds
      // (pooled value grid, B bins, 2-dp residual grid): expect ~scan
      "d60_ks_test", "d61_psi", "d63_conformal",
      // round-10: DSIR selection — tokenize+explode, two LM hash aggs,
      // per-token equi-join, PPS two-level prefix: the BM25/TF-IDF
      // family's shape, expect ~linear
      "c7_dsir_select",
      // round-10b: CUSUM (bounded series axis — expect flat) and
      // distinctive terms (tokenize + vocab-sized joins — BM25 shape)
      "d64_cusum", "c5_distinctive_terms",
      // round-10b: Zipf fit — term agg + model-sized rank window
      "c5_zipf_fit",
      // round-10c: W1/ACF bounded-axis folds; quantile normalization's
      // union-axis window grows with DISTINCT values (grid contract)
      "d65_wasserstein", "d66_acf", "d67_quantile_norm", "d68_ljung_box",
      // round-10d: Theil–Sen (axis-bounded quadratic BY DESIGN —
      // series buckets, not corpus rows: the hourly axis is FIXED, so
      // 10× events must not grow the pair count, expect ~flat),
      // seasonal decomposition (two bounded-series windows + a
      // phase-axis broadcast — expect ~flat), JSD (same PSI bin fold),
      // ESS (one grouped exact pass — scan-bound), mSPRT (per-look
      // cumulative sums over the bounded look axis), readability
      // (pure scan projection)
      "d69_theil_sen", "d70_seasonal_decomp", "d71_js_divergence",
      "d72_ess", "d73_msprt", "c5_readability",
      // round-10e: cluster SE (welchTTest shape: one (variant, user)
      // agg + 1-row agg — linear), t-closeness (classes × bounded
      // value grid; the grid grows with distinct acctbals — watch),
      // Heaps (two token hash aggs vs 16 broadcast cuts — linear),
      // token entropy ((doc, term) agg + doc agg — linear)
      "d74_cluster_se", "d75_t_closeness", "c5_heaps_law",
      "c5_token_entropy",
      // round-10f: unigram-LM tokenizer (corpus pass + driver EM over
      // the bounded word table + distinct-word Viterbi — the BPE
      // sub-linear thesis again), exact covariance (O(n·d²) pair rows
      // BY DESIGN — the audit shape, expect ~linear in n at fixed d),
      // PCA fit+project (one treeAggregate + native projection scan —
      // linear), quantile effects (two exact percentile buffers — the
      // Robust hazard priced per-experiment)
      "c5_unigram_vocab", "d76_covariance", "c4_pca_project",
      "d77_quantile_effect",
      // round-10g: stratified diff (one (variant, stratum) exact-sum
      // agg + bounded stratum folds — linear scan), Yuen (value-axis
      // aggs + expanding windows over DISTINCT values — grows with the
      // value grid, the ecdf contract), isotonic (nBins integer rows
      // to the driver — scan-bound)
      "d78_stratified_diff", "d79_yuen_trimmed",
      "c7_isotonic_calibration",
      // round-10h: waterfill (domain-axis closed form — scan-bound),
      // label propagation (per round: edges⋈labels equi-join +
      // partial agg; the 25-node nation graph is fixed, so 10×
      // lineitem only grows the edge DERIVATION — expect ~linear)
      "d80_waterfill", "d81_label_prop",
      // round-10i: LM perplexity (two vocab-bounded hash aggs + lag
      // window + three model-keyed equi-joins — the bigram-LM shape,
      // expect ~linear) and its bucket row (adds a grouped percentile
      // over 6-dp ppl values — the Robust exact hazard, priced),
      // Mahalanobis (1-row moment agg + scored scan + top-k — scan),
      // OLS (one grouped exact-sum agg — scan), Adamic–Adar (wedges
      // through degree-capped centers — Σdeg² with dup-densified
      // copies: WATCH for super-linear pair blowup, the fuzzy-pairs
      // caveat), HITS (edge derivation dominates, fixed 25-node
      // iterations — PageRank's shape), Markov attribution (one lag
      // window + state-axis counts; driver iteration is corpus-free —
      // expect ~linear), SemDeDup (Σ|cluster|² within-cluster pairs:
      // clusters densify 10× ON PURPOSE — the published quadratic,
      // priced), hard negatives (fixed anchor batch... but %50 anchors
      // GROW with re-keyed ids: anchors×corpus — watch), silhouette
      // (one CentroidTopK scan — expect ~linear)
      "c5_lm_perplexity", "c7_ppl_buckets", "d83_mahalanobis",
      "d84_ols", "d85_adamic_adar", "d86_hits", "d87_markov_attribution",
      "c2_semdedup", "c3_hard_negatives", "c3_silhouette",
      // round-10j: nearest as-of (one exchange, two window sorts —
      // the asof shape, linear), join audit (two per-key count aggs —
      // scan), Spearman (DISTINCT-value-axis windows — the ecdf grid
      // contract; watch if the value axis grows), entropy l-div
      // ((quasi, sensitive)-axis aggs — bounded, expect ~flat)
      "d1_asof_nearest", "d88_join_audit", "d89_spearman",
      "d90_entropy_ldiv",
      // round-10k: event study / IV / UCB (conditional exact-sum aggs
      // over bounded axes — the welch/DiD shape, expect ~linear scan),
      // RDD (one conditional agg inside the bandwidth filter — scan),
      // Brier (binned agg — scan), Holt (corpus collapses to the
      // bounded day axis; the recursion is driver-side — expect flat),
      // VAD (frame fan-out + per-asset windows — linear in assets)
      "d91_event_study", "d93_rdd", "d94_ucb", "d95_iv_wald",
      "d96_holt_forecast", "c7_brier_decomposition", "c6_vad_segments",
      // round-10l/m: EB shrinkage (per-unit agg + group-axis moments —
      // linear), meta-analysis (segment-axis folds — flat), k-core
      // (peeling rounds over a shrinking edge frame — the co-purchase
      // graph densifies under replication, WATCH), dhash (fixture
      // decode scan — flat), matryoshka (fixed anchors × |dims| corpus
      // scans — linear), count health ((unit, key) agg — linear),
      // churn labels / RFM (per-unit conditional aggs — linear),
      // assoc rules (basket-bounded pairs; parts collide across copies
      // like adamic-adar — watch), rec backtest (rules + two test
      // joins — linear-ish), competing risks (bucket-axis folds —
      // flat), fertility (distinct-word encode + per-lang agg —
      // sub-linear, the BPE thesis)
      "d97_eb_rates", "d98_meta_analysis", "d99_kcore", "c6_dhash",
      "c4_matryoshka_recall", "d100_count_health", "d102_churn_labels",
      "d104_rfm", "d103_assoc_rules", "d106_rec_backtest",
      "d105_competing_risks", "c5_bpe_fertility",
      // round-10n: code routing (regex scan — linear), decayed
      // features / noised sums (per-unit conditional aggs — linear),
      // modularity (edge derivation + tiny label join — linear),
      // borders (fixture decode scan — flat)
      "c5_code_detect", "d107_decayed_features", "d101_noised_sums",
      "d108_modularity", "c6_borders",
      // round-11: mergeable exact quantiles (two shard scans → grid
      // counter states, finish over the bounded value axis — linear
      // scan + axis-sized windows), noised histogram (one scan + nb+2
      // spine — flat-ish), exact-substring dedup (stride-1 window
      // explode ≈ corpus tokens ×1 rows + first-occurrence agg;
      // covered-position explode is duplicated-windows × n — linear
      // unless duplication densifies, WATCH like semdedup)
      "d20_incremental_quantile", "d34_noised_histogram",
      "c1_exact_substring_corpus",
      // round-11b: retrieval eval (run-sized joins after the BM25
      // build — the build dominates, BM25-family shape), leakage-safe
      // splits (norm-text hash agg + join-back — linear; near-dup
      // tier adds the banding pipeline), embedding drift (posexplode
      // scans into dim-keyed aggs — linear)
      "c3_retrieval_eval", "c7_split_leakage_safe",
      "c7_split_leakage_neardup", "d110_embedding_drift",
      // round-11c: textrank (adjacency explode grows 10x, the word
      // graph and per-iteration cost are vocabulary-fixed — expect
      // sub-linear, the BPE thesis on a graph), boilerplate (span df
      // agg + anti-join — SpanDedup's linear shape), AUC (score-axis
      // agg + bounded window — flat-ish), containment is the priced
      // quadratic slice (fixed 100-doc range — flat by construction)
      "c5_textrank", "c1_boilerplate_strip", "d112_auc",
      // round-11d: IPW/AIPW (one per-user agg + one grid-term agg — linear)
      "d113_ipw", "d114_aipw")
    println(s"\n| query | 1x sec | ${mult}x sec | ratio |")
    println("|---|---|---|---|")
    // optional third arg: comma-separated subset (re-probe new ops
    // without paying for the full battery)
    val only = args.lift(2).map(_.split(",").map(_.trim).toSet)
    queries.filter(q => only.forall(_.contains(q))).foreach { name =>
      val fn = SparkEntry.queries(name)
      // noop sink, not count(): count lets Catalyst prune
      // row-preserving work (it eliminated c8_ecdf's left-outer
      // attach entirely — the probe timed a bare scan), the same
      // round-8 lesson Bench already applied
      def run(dir: String): Double = {
        val t0 = System.nanoTime()
        fn(spark, dir).write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }
      run(sfDir) // warm the codegen/scan path once at small scale
      val t1 = run(sfDir)
      val tN = run(bigDir)
      println(f"| $name | $t1%.2f | $tN%.2f | ${tN / t1}%.1fx |")
    }
    // multiprobe ANN is not a SparkEntry row — probe it directly (the
    // (1+planes)× query-side fan-out grows with log n, so confirm the
    // measured exponent stays ≤ linear like the single-probe path)
    def runMp(dir: String): Double = {
      val t0 = System.nanoTime()
      graft.similarity.Cosine.annTopK(
        Tables.load(spark, dir, "embeddings"), "vec_id", "embedding",
        dim = 64, k = 10, numPlanes = 0, numTables = 4, probeBits = 1)
        .count()
      (System.nanoTime() - t0) / 1e9
    }
    if (only.isEmpty) {
      runMp(sfDir)
      val m1 = runMp(sfDir); val mN = runMp(bigDir)
      println(f"| annTopK tables=4 probeBits=1 (direct) | $m1%.2f | $mN%.2f | ${mN / m1}%.1fx |")
    }
    spark.stop()
  }
}
