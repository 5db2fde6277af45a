package graft.tools

import graft.LocalRun

import java.nio.file.{Files, Paths}

/** Regenerates PLANS.md: the formatted physical plans of the headline
  * queries, executed (so AQE finalizes) at sf0.001. The plans are the
  * evidence behind SCALING.md's claims — pushed filters, pruned read
  * schemas, broadcast dims, partial aggregation, TakeOrderedAndProject,
  * single-shuffle temporal joins, whole-stage codegen spans.
  *
  *   sbt 'runMain graft.tools.DumpPlans'
  */
object DumpPlans {
  private val Headline = Seq(
    "q1_pricing_summary", "b3_star_join_revenue", "b9_topk_orders",
    "d1_asof_join", "d6_bloom_join", "c3_quantized_vectors",
    // the bench's most expensive family — the plans behind the r5
    // banding-projection fix (let-bound signature arrays, pre-explode
    // checkpoint) and the decontamination broadcast shape
    "c2_online_dedup_twin", "c2_minhash_portable_pairs", "c3_ivf_topk",
    "c2_decontaminate",
    // round-5 additions: the two-level prefix-sum window structure and
    // the fused-retrieval broadcast/top-k shape
    "c5_sequence_packing", "c3_hybrid_search",
    // round-6 additions: the agg+re-join dedup keep (no window over
    // __fp), span dedup's first-occurrence agg, the salted two-level
    // domain cap, and the incremental near-dup reference join
    "c7_curation_pipeline", "c1_span_dedup", "c7_domain_cap",
    "c2_incremental_neardup",
    // round-7: the HTML-strip scan-shaped projection (one codegen
    // span) and the persisted-IVF build+serve query — its dumped plan
    // is the SHIPPED query's plan (index side: a bucketed scan pruned
    // to the probed cells, no Exchange; the query batch is a plan
    // literal — IvfIndexSpec asserts it on the executed plan)
    "c7_html_strip", "c3_ivf_serve",
    // round-7 late: snapshot diff — shows the (id, md5) reduction
    // BELOW the full-outer join's Exchanges (no raw text shuffled)
    "d11_snapshot_diff",
    // round-7 late: persisted MinHash index serve — bucketed index
    // scan with zero Exchange; only batch-side claims and the
    // map-combined keeper partials shuffle
    "c2_incremental_persisted",
    // round-7 late: BM25 — corpus-side hash aggs with partials, the
    // query-term set (with df) BROADCAST into the postings probe, and
    // the salted two-level top-k; no corpus-vs-query shuffle join
    "c3_bm25_retrieval",
    // round-8: CDC merge — changelog collapsed by ONE partial-agg
    // (max-struct arg-max) before the full-outer join; no window
    "d12_merge_upsert",
    // round-8: epoch shuffle — bounded per-bucket windows + the
    // kilobyte bucket-offset window, broadcast back; no global sort
    "c7_epoch_shuffle",
    // round-8: column profile — ONE scan, Expand for multi-column
    // exact distincts, everything partially aggregated
    "d13_column_profile",
    // round-8: z-order key — pure projection over the parquet scan
    "d14_zorder_curve",
    // round-8b: constraint checks — row-level checks fused into one
    // scan's aggregate, dim-key broadcast anti join for ref integrity
    "d15_constraint_checks",
    // round-8b: funnel — one hashpartitioning(user) Exchange feeding
    // the chained window minima and the per-user collapse
    "d16_funnel",
    // round-8b: SymSpell fuzzy pairs — variant equi-join (no
    // cartesian), map-combined pair dedup, levenshtein confirm
    "c1_fuzzy_pairs",
    // round-8b: k-means exact assignment — zero-Exchange projection
    "c3_kmeans_assign",
    // round-8b: gap fill — per-bucket aggregates below the grid join,
    // sequence explode, per-key window fill
    "d17_gap_fill",
    // round-8c: PageRank — per iteration the #nodes-sized rank frame
    // broadcast-joins into the edge list and ONE partial-agg'd
    // Exchange collapses contributions by dst; the corpus-sized edge
    // derivation is scanned once per iteration, never windowed
    "d23_pagerank",
    // round-8c: quantile bins — one percentile agg broadcast back,
    // codegen'd indicator-sum projection (stats-attach shape)
    "d25_quantile_bins",
    // round-8d: BM25 serving — the bucketed postings scan pruned to
    // the query terms (a plan literal), df by a window the bucketing
    // already clusters (zero index-side Exchange); only candidate
    // scores and the per-query rank shuffle
    "c3_bm25_serve",
    // round-8d: Welch A/B — per-user partial-agg'd shuffle + a 1-row
    // conditional aggregate, variance without a second scan
    "d32_ab_test",
    // round-8e: triangles — the degree-oriented wedge join (the only
    // large Exchanges carry oriented edges), closing-edge semi join
    "d36_triangles",
    // round-8e: abandoned carts — user-keyed SMJ ANTI join with the
    // interval condition as join residual (no cartesian, no window)
    "d38_abandoned_carts",
    // round-10: KS two-sample — value-axis agg + one unpartitioned
    // (bounded-axis) window, totals attach by broadcast
    "d60_ks_test",
    // round-10: DSIR — tokenize scan, two LM hash aggs, per-token
    // hash join, PPS two-level prefix with no global sort
    "c7_dsir_select",
    // round-10: CUSUM — per-group ordered folds over the hourly axis
    "d64_cusum",
    // round-10e/f: cluster-robust SE — join-free, two keyed hash aggs
    "d74_cluster_se",
    // round-10f: exact covariance — pair hash join on the row id,
    // per-dimension sums broadcast back
    "d76_covariance",
    // round-10g: Yuen trimmed t — value-axis agg feeding the expanding
    // rank window; 1-row arms combined by broadcast
    "d79_yuen_trimmed",
    // round-10g: waterfilling — bounded domain-axis windows, the
    // 1-row level broadcast back
    "d80_waterfill",
    // round-10i: LM perplexity — tokenize scan, doc-keyed lag window,
    // three model-keyed joins (vocab side broadcast at this SF)
    "c5_lm_perplexity",
    // round-10i: Mahalanobis — 1-row moment agg broadcast into the
    // scored scan, TakeOrderedAndProject top-k
    "d83_mahalanobis",
    // round-10i: Adamic–Adar — degree-capped wedge equi-join,
    // adjacency anti-join, sort/limit
    "d85_adamic_adar",
    // round-10j: nearest as-of — ONE exchange, two window sorts
    "d1_asof_nearest",
    // round-10j: join audit — two partial-agg'd per-key counts,
    // key-axis join, no corpus shuffle
    "d88_join_audit",
    // round-10j: Spearman — distinct-value-axis rank windows joined
    // back, one grouped moment agg
    "d89_spearman",
    // round-11: mergeable exact quantiles — two shard scans, counter
    // hash agg, bounded-axis windows, no corpus sort
    "d20_incremental_quantile",
    // round-11: exact-substring dedup (corpus form) — stride-1 window
    // explode, first-occurrence hash agg + re-join, bounded per-doc
    // reassembly (watch: the covered-position explode stays on the
    // duplicated-window side only)
    "c1_exact_substring_corpus",
    // round-12: KN trigram scoring — tokenize scan, two doc-keyed lag
    // windows, FIVE vocabulary-sized model joins (broadcast at this
    // SF), one doc hash agg; no corpus-axis window
    "c5_lm_perplexity_kn",
    // round-12: incremental CC merge — state scanned once (semi/anti
    // against batch nodes), the fixpoint runs over batch + touched
    // stars only
    "c2_incremental_cc",
    // round-12: curation v4 — seven chained stages in one plan; the
    // stride-1 8-gram window agg dominates, quality scoring is the
    // native expression (no HOF nodes)
    "c7_curation_v4",
    // round-13: rank-selection exact percentiles — ONE window sort +
    // hash agg, NO percentile() buffer anywhere in the plan (and ~5x
    // faster than the buffered aggregate at sf0.1)
    "b5_percentiles_scalable",
    // round-13: ANCOVA — one hash aggregate to the moment table, the
    // solve is driver-side (the plan is just the exact-sum agg)
    "d122_regression_adjust",
    // round-13: versioned CDC merge — manifest-pruned bucket reads +
    // the latest-wins merge; visibility is the manifest commit, so no
    // dynamic-overwrite machinery appears
    "d121_versioned_merge",
    // round-15: row-level change feed — ONLY the changed files feed
    // the full-outer join; carried rows never reach the Exchange
    "d145_change_data_feed",
    // round-15: z-ordered joint-predicate read — the pruned file list
    // is already applied at the scan (a handful of paths), the
    // residual conjunction is a codegen'd filter over it
    "d144_zorder_skipping",
    // round-16: versioned SQL surface — the rewritten spark.sql text
    // plans as ordinary relations over the NATIVE parquet source:
    // time-travel join of two snapshots plus the zone-map-pruned view
    // (file skip applied BEFORE planning, so the band scan lists only
    // surviving paths)
    "b17_versioned_sql",
    // round-16: debt-only OPTIMIZE output — the packed table's scan
    // reads 2 files (1 carried big + 1 packed), proving the rewrite
    // touched only the small-file debt
    "d148_optimize",
    // round-16: rename/drop-evolved read — per-mapping file groups
    // each scan the native parquet source under the PHYSICAL schema,
    // project to logical names, and union; still codegen'd scans, no
    // UDF anywhere in the mapping path
    "d149_rename_drop")

  def main(args: Array[String]): Unit = {
    val spark = LocalRun.session("4")
    val sf = "/root/testdata/sf0.001"
    val out = new StringBuilder
    out ++= "# PLANS — formatted physical plans of the headline queries\n\n"
    out ++= "Generated by `sbt 'runMain graft.tools.DumpPlans'` at sf0.001\n"
    out ++= "(plans are scale-independent; AQE finalized by executing each\n"
    out ++= "query first). The shapes asserted in PlanQualitySpec are\n"
    out ++= "visible here: `PushedFilters`/pruned `ReadSchema` on scans,\n"
    out ++= "`BroadcastHashJoin` for dims, partial+final `HashAggregate`,\n"
    out ++= "`TakeOrderedAndProject` for top-k, the single-Exchange as-of\n"
    out ++= "core, and `WholeStageCodegen` spans around the projections.\n"
    Headline.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sf)
      df.collect()
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      out ++= s"\n## $name\n\n```\n$plan```\n"
    }
    Files.writeString(Paths.get("PLANS.md"), out.toString)
    println(s"PLANS.md written (${Headline.size} plans)")
    spark.stop()
  }
}
