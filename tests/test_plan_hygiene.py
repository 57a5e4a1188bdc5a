"""Physical-plan hygiene gates (SURVEY.md §7 audit):

- predicates reach the parquet scan (PushedFilters)
- column pruning reaches the scan (ReadSchema excludes unused columns)
- small dimension joins broadcast
- NO row-at-a-time Python anywhere (BatchEvalPython is banned; the
  vectorized Arrow forms ArrowEvalPython / FlatMapGroupsInPandas /
  MapInPandas are the only Python allowed on any path)
- the tier hop is a single partial+final hash aggregation in
  whole-stage codegen
"""

from __future__ import annotations

import io
import os
import re
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as E

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


# Representative non-iterative queries across operator families.
AUDIT_QUERIES = [
    "rollup_1m",
    "rollup_1h_tierup",
    "gapfill_interp",
    "iat_stats",
    "tpch_q1_pricing",
    "revenue_join",
    "dedup_exact",
    "token_count",
    "normalize_minmax",
    "sessionize",
    "cut_range",
    "cosine_topk",
    "minhash_dedup_pairs",
    "quality_score",
    "lang_id",
    "flow_balance",
    "rpeak_segments",
    "beatgan_recon",
    "canonical_text",
    "multimodal_features",
    "beatlex_summarize",
    "resample_fourier",
    "cumprod_daily",
    "rank_fusion_sum",
    "score_level_users",
    "monlad_zeroout",
    "gorilla_roundtrip",
    "gorilla_read_range",
    "beatgan_subspace",
    "rpeak_hamilton",
    "simhash_dedup_pairs",
    "doc_fingerprint",
    "holoscope_objective",
    # round-3 additions
    "dedup_clusters",
    "repetition_stats",
    "c4_filters",
    "paa_segments",
    "sax_words",
    "asof_join_quotes",
    "lttb_downsample",
    "interval_join_windows",
    "triangle_counts_sampled",
    "rolling_stats",
    "ewma_dyadic",
    "countmin_heavy_hitters",
    "cube_aggregate",
    "pii_scrub",
    # round-3 late additions
    "funnel_conversion",
    "cohort_retention",
    "topk_per_user",
    "session_paths",
    "bloom_semi_join",
    "hll_distinct",
    "kmv_distinct",
    "winnowing_fingerprint",
    "levenshtein_pairs",
    "seasonal_profile",
    "m4_downsample",
    "stl_seasonal",
    "corpus_cross_entropy",
    "tfidf_top_terms",
    "mad_outliers",
    "linear_trend",
    "ngram_containment_pairs",
    "key_skew_profile",
    "seasonal_anomaly",
    "psi_drift",
    "fano_burstiness",
    "gini_concentration",
    "zipf_slope",
    "vocab_hapax",
    "pmi_collocations",
    "lsh_label_purity",
    "doc_entropy",
    "clustering_coeff",
    "burst_islands",
    "session_stats",
    "weighted_sample",
    # round-3 wrap additions (ktruss_edges is iterative — its rounds
    # are audited through the shared kcore/peel discipline instead)
    "benchmark_decontaminate",
    "sorted_neighborhood_pairs",
    # round-4 late additions (ppr_fixedpoint is iterative — audited
    # through the shared pagerank discipline)
    "xcorr_lagged",
    "adamic_adar_linkpred",
    "theilsen_trend",
    "changepoint_binary",
    "source_mix_sample",
    "tier_compaction_plan",
    "counter_rate",
    "time_weighted_avg",
    "late_repair_plan",
    "url_churn",
    "histogram_quantile_p90",
    "shard_pack_plan",
    "uptime_sla",
    "dod_bitwidth_stats",
    # round-4 wrap additions
    "gauge_delta",
    "predict_linear",
    "xor_bitwidth_stats",
    "tier_freshness",
    "heavy_change_topk",
    "tier_serving_plan",
    "tier_mode",
    "matrix_profile_discords",
    "matrix_profile_motifs",
    "counter_rate_buckets",
    "peak_window_count",
    "burn_rate_alerts",
    "url_frontcode_plan",
    "recrawl_plan",
    "rle_plan",
    "roaring_container_plan",
    "snapshot_expiry_plan",
    "bucket_coverage",
    "boilerplate_lines",
    "boilerplate_strip",
    # round-4 final wrap additions
    "paragraph_dedup",
    "pow2_hist_quantile",
    "url_version_intervals",
    "neighbor_jaccard",
    "outlink_domain_graph",
    "hysteresis_intervals",
    "ks_drift",
    "apdex_score",
    "first_seen_rate",
    "postings_plan",
    "bloom_filter_plan",
    "crawl_budget_apportion",
    # round-4 session-final additions (dedup_keep_best /
    # degree_assortativity run the iterative CC / eager sampled-edge
    # paths — audited through the shared dedup_clusters / triangle
    # discipline)
    "rolling_median",
    "counter_changes",
    "frontier_interleave",
    "phrase_match",
    "ohlc_bars",
    "url_path_rollup",
    "dup_rate_by_source",
    "ngram_novelty",
    "interval_concurrency",
    "weighted_percentiles",
    "graph_reciprocity",
    "hll_tier_distinct",
    "bm25_scores",
    "url_template_stats",
    # round-4 wrap-2 additions (hits_scores / kmeans_clusters are
    # iterative — audited through the shared pagerank discipline)
    "rolling_corr",
    "mann_kendall",
    "forecast_backtest",
    "readability_scores",
    "politeness_plan",
    "snapshot_diff",
    "join_strategy_plan",
    "acf_multi",
    "watermark_lag_audit",
    "traffic_tiers",
    "tier_incremental_merge",
    "cache_admission_plan",
    "rollup_1w_tierup",
    "source_vocab_overlap",
    "cooccurrence_lift",
    "tier_amplification_audit",
    "bloom_fpr_audit",
    "sliding_hist_quantile",
    "asof_join_nearest",
    "oov_rate",
    "packing_plan",
    "filter_funnel",
    "ooo_rate",
    "week_over_week",
]


def test_funnel_single_exchange_for_all_stages(spark, sf_dir):
    """The 3-stage funnel's windows share one (partition, order): the
    plan must sort/shuffle the fact ONCE, not once per stage."""
    plan = plan_of(E.queries()["funnel_conversion"](spark, sf_dir), "simple")
    # one exchange for the window partitioning, one for the per-key
    # aggregate (AQE may add coalesces but not hashpartitionings)
    assert plan.count("hashpartitioning(key") <= 2, plan


def test_bloom_probe_broadcasts_bitset(spark, sf_dir):
    plan = plan_of(E.queries()["bloom_semi_join"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_topk_per_user_pushes_group_limit_map_side(spark, sf_dir):
    """The per-group top-k must partition its window on user_id AND get
    Spark's WindowGroupLimit pushdown: a PARTIAL top-k before the
    exchange (only <=k rows per group shuffle) + a FINAL one after —
    the difference between shuffling k rows and ALL rows per user at
    10^12 scale."""
    plan = plan_of(E.queries()["topk_per_user"](spark, sf_dir), "simple")
    assert "hashpartitioning(user_id" in plan
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan and "Final" in plan


@pytest.mark.parametrize("name", AUDIT_QUERIES)
def test_no_per_row_python(spark, sf_dir, name):
    df = E.queries()[name](spark, sf_dir)
    plan = plan_of(df)
    assert "BatchEvalPython" not in plan, f"{name} has row-at-a-time Python"


def test_cut_range_filter_pushed_to_scan(spark, sf_dir):
    plan = plan_of(E.queries()["cut_range"](spark, sf_dir))
    assert "PushedFilters: [" in plan
    # the time-range predicate itself must be in the pushed set
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("ts" in l and ("GreaterThan" in l or "LessThan" in l) for l in pushed)


def test_rollup_scan_prunes_columns(spark):
    """raw_points projects url/ts/value => the pages scan must not read
    html or lang (ReadSchema pruning)."""
    from spartan2_spark.datagen import ensure_pages
    from spartan2_spark.operators import rollup as R

    pages = ensure_pages(spark, os.path.join(REPO, ".cache"), 20_000)
    plan = plan_of(R.rollup_from_points(R.raw_points(pages), "1m"))
    schema_lines = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert schema_lines, "no scan ReadSchema found"
    assert all("html" not in l and "lang" not in l for l in schema_lines)


def test_rollup_is_single_partial_final_hashagg(spark):
    from spartan2_spark.datagen import ensure_pages
    from spartan2_spark.operators import rollup as R

    pages = ensure_pages(spark, os.path.join(REPO, ".cache"), 20_000)
    plan = plan_of(R.rollup_from_points(R.raw_points(pages), "1m"), "simple")
    assert plan.count("HashAggregate") == 2  # partial + final, nothing else
    assert "Exchange" in plan and plan.count("Exchange") == 1
    codegen = plan_of(R.rollup_from_points(R.raw_points(pages), "1m"), "codegen")
    assert "WholeStageCodegen" in codegen


def test_small_dim_join_broadcasts(spark, sf_dir):
    plan = plan_of(E.queries()["revenue_join"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_semi_join_stays_semi(spark, sf_dir):
    plan = plan_of(E.queries()["semi_join_suppliers"](spark, sf_dir))
    assert "LeftSemi" in plan


def test_read_points_prunes_blocks_at_the_scan(spark, tmp_path):
    """The serving read's range predicate must reach the parquet scan of
    the block table (PushedFilters on start_ts/end_ts), so row-group
    stats prune storage BEFORE any block reaches the decode kernel."""
    from spartan2_spark.datagen import synth_pages
    from spartan2_spark.operators import gorilla as GO
    from spartan2_spark.operators import rollup as R

    pages = synth_pages(spark, 1500, n_urls=20, days=2)
    view = R.tier_view(R.rollup_from_points(R.raw_points(pages), "1h"))
    d = str(tmp_path / "blocks")
    GO.encode_tier_blocks(view, "1h").write.parquet(d)

    blocks = spark.read.parquet(d)
    out = GO.read_points(blocks, t0=1704100000, t1=1704150000)
    plan = plan_of(out)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed and any(
        "end_ts" in l and "start_ts" in l and "GreaterThanOrEqual" in l
        for l in pushed
    ), plan


def test_read_points_prunes_dt_partitions(spark, block_store):
    """A one-day read over a dt-partitioned block table prunes whole
    date directories at planning: its FileScan carries a dt
    PartitionFilter and it runs one scan (and decode) task, where the
    same table without dt runs one per stored day."""
    from spartan2_spark.operators import gorilla as GO

    blocks = spark.read.parquet(block_store)
    lo = blocks.agg({"start_ts": "min"}).first()[0]
    t0 = (lo // 86400 + 1) * 86400
    out = GO.read_points(blocks, t0=t0, t1=t0 + 86399)
    plan = plan_of(out)
    parts = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert parts and any("dt" in l for l in parts), plan
    n_days = blocks.select("dt").distinct().count()
    assert out.rdd.getNumPartitions() == 1
    ref = GO.read_points(blocks.drop("dt"), t0=t0, t1=t0 + 86399)
    assert ref.rdd.getNumPartitions() == n_days == 3


def _node_inputs(plan: str, node: str, marker: str = "") -> list[list[str]]:
    """Input column names of every ``node`` in a formatted plan whose
    details mention ``marker``."""
    out = []
    for block in plan.split("\n\n"):
        lines = block.strip().splitlines()
        if not lines or not re.match(rf"\(\d+\) {node}\b", lines[0]):
            continue
        if marker not in block:
            continue
        inputs = next(l for l in lines if l.startswith("Input ["))
        cols = inputs.split(": ", 1)[1].strip("[]").split(", ")
        out.append([c.split("#")[0] for c in cols])
    return out


def test_t1m_salted_exchange_carries_points_not_text(spark):
    """The t1m stage salts the projected (url, ts, value) points: the
    page text and html never cross its salted exchange."""
    from spartan2_spark.datagen import ensure_pages
    from spartan2_spark.plans.pipeline import build_t1m

    pages = ensure_pages(spark, os.path.join(REPO, ".cache"), 20_000)
    salted = _node_inputs(plan_of(build_t1m(pages)), "Exchange", "REPARTITION_BY_COL")
    assert salted, "no salted exchange in the t1m plan"
    for cols in salted:
        assert "text" not in cols and "html" not in cols, cols


def test_decode_blocks_ships_only_the_kernel_columns(spark, block_store):
    """A one-day read hands the decode kernel exactly the six columns it
    reads; start_ts, end_ts and dt stay on the JVM side."""
    from spartan2_spark.operators import gorilla as GO

    blocks = spark.read.parquet(block_store)
    lo = blocks.agg({"start_ts": "min"}).first()[0]
    t0 = (lo // 86400 + 1) * 86400
    inputs = _node_inputs(plan_of(GO.read_points(blocks, t0=t0, t1=t0 + 86399)), "MapInPandas")
    assert inputs == [["url", "tier", "n_points", "ts_block", "val_block", "crc32"]]


def test_late_repair_bounds_broadcast_and_single_agg(spark, sf_dir):
    """The 1-row bounds aggregate must BROADCAST onto the scan (never
    shuffle the corpus against it) and the work-list reduce must be one
    partial+final hash aggregation over the exploded late set."""
    plan = plan_of(E.queries()["late_repair_plan"](spark, sf_dir), "simple")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_counter_rate_single_key_shuffle(spark, sf_dir):
    """counter_rate = one per-key window + one agg on the SAME key:
    the plan must hashpartition on the key exactly once (AQE reuses
    the window exchange for the aggregate)."""
    plan = plan_of(E.queries()["counter_rate"](spark, sf_dir), "simple")
    assert plan.count("hashpartitioning(key") <= 2, plan


def test_url_churn_is_agg_only_and_prunes_scan(spark, sf_dir):
    """url_churn must be windowless (pure hash aggregation with the
    two-phase distinct expansion) and must not drag event columns it
    never reads through the scan."""
    plan = plan_of(E.queries()["url_churn"](spark, sf_dir))
    assert "Window" not in plan
    assert "event_id" not in plan.split("ReadSchema")[-1]


def test_apdex_is_single_exchange_agg(spark, sf_dir):
    """apdex_score must be ONE map-side-combinable hash aggregate:
    classify exprs in the scan project, one key exchange, no window,
    no join."""
    plan = plan_of(E.queries()["apdex_score"](spark, sf_dir), "simple")
    assert "Window" not in plan and "Join" not in plan
    assert plan.count("Exchange") == 1, plan


def test_postings_plan_window_reuses_dedup_partitioning(spark, sf_dir):
    """postings_plan: the (term,doc) dedup exchange is the only
    data-sized shuffle; the term lag window and final term aggregate
    must reuse hash(term) — so at most 2 hashpartitioning exchanges
    appear in total, and none after the window."""
    plan = plan_of(E.queries()["postings_plan"](spark, sf_dir), "simple")
    assert plan.count("hashpartitioning") <= 2, plan


def test_first_seen_rate_broadcasts_day_relations(spark, sf_dir):
    """first_seen_rate's closing join is between two one-row-per-day
    relations — it must broadcast, never sort-merge."""
    plan = plan_of(E.queries()["first_seen_rate"](spark, sf_dir), "simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_counter_changes_single_key_shuffle(spark, sf_dir):
    """counter_changes = one per-key window + one agg on the SAME key:
    at most the window exchange + one reuse, same discipline as
    counter_rate."""
    plan = plan_of(E.queries()["counter_changes"](spark, sf_dir), "simple")
    assert plan.count("hashpartitioning(key") <= 2, plan


def test_rolling_median_one_window_no_join(spark, sf_dir):
    """rolling_median is ONE key-partitioned running-frame window:
    no join, and exactly one data exchange (on the key)."""
    plan = plan_of(E.queries()["rolling_median"](spark, sf_dir), "simple")
    assert "Join" not in plan
    assert plan.count("hashpartitioning(key") == 1, plan


def test_phrase_match_prunes_scan_and_filters_in_explode(spark, sf_dir):
    """phrase_match must read only (doc_id, text) from the corpus scan
    and keep the postings joins equi (never cartesian)."""
    plan = plan_of(E.queries()["phrase_match"](spark, sf_dir))
    tail = plan.split("ReadSchema")[-1]
    assert "text" in tail and "lang" not in tail and "source" not in tail
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_frontier_interleave_distributed_ranking(spark, sf_dir):
    """frontier_interleave's global position must come from the
    distributed ranking, never a global single-partition sort of the
    data. The ranked relation is pinned by a checkpoint, whose scan
    hides the range exchange, so the check is on what reaches a single
    partition: the per-task offsets aggregate may, data rows may not —
    every SinglePartition exchange must sit directly on an aggregate."""
    plan = plan_of(E.queries()["frontier_interleave"](spark, sf_dir), "simple")
    lines = plan.splitlines()
    singles = [i for i, line in enumerate(lines) if "Exchange SinglePartition" in line]
    assert singles, plan
    for i in singles:
        assert "HashAggregate" in lines[i + 1], plan


def test_ohlc_is_single_exchange_agg(spark, sf_dir):
    """ohlc_bars after the (key,ts) dedup = two hash aggregates that
    share the key partitioning: no window, no join, and at most two
    hashpartitioning exchanges in the whole plan."""
    plan = plan_of(E.queries()["ohlc_bars"](spark, sf_dir), "simple")
    assert "Window" not in plan and "Join" not in plan
    assert plan.count("hashpartitioning") <= 2, plan


def test_url_path_rollup_explode_then_one_agg(spark, sf_dir):
    """url_path_rollup = one Generate (prefix explode) + ONE
    map-side-combinable aggregate on the prefix."""
    plan = plan_of(E.queries()["url_path_rollup"](spark, sf_dir), "simple")
    assert plan.count("Generate") == 1, plan
    assert plan.count("hashpartitioning") == 1, plan
    assert "Join" not in plan


def test_ngram_novelty_day_join_broadcasts(spark, sf_dir):
    """ngram_novelty's closing join is between two O(days) relations —
    it must broadcast, never sort-merge."""
    plan = plan_of(E.queries()["ngram_novelty"](spark, sf_dir), "simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_interval_concurrency_shares_key_shuffle(spark, sf_dir):
    """interval_concurrency's (key,t) aggregate and running window
    must share the key exchange family — no join, bounded exchanges."""
    plan = plan_of(E.queries()["interval_concurrency"](spark, sf_dir), "simple")
    assert "Join" not in plan
    assert plan.count("hashpartitioning") <= 2, plan


def test_weighted_percentiles_collapses_before_window(spark, sf_dir):
    """weighted_percentiles runs its cumulative window over the
    (key, v)-collapsed relation, not the raw samples: the (key, v)
    aggregate must appear below the Window in the plan, and the window
    partitions on the key."""
    plan = plan_of(E.queries()["weighted_percentiles"](spark, sf_dir), "simple")
    assert "Window" in plan and "Join" not in plan
    assert plan.index("HashAggregate") < plan.index("Window"), plan


def test_hll_tier_is_agg_only_no_window(spark, sf_dir):
    """The HLL tier chain is hash aggregates end-to-end (register state
    + tier-up + estimate + the exact-side agg and closing join): no
    window anywhere, no cartesian product."""
    plan = plan_of(E.queries()["hll_tier_distinct"](spark, sf_dir), "simple")
    assert "Window" not in plan
    assert "Cartesian" not in plan


def test_bm25_broadcasts_df_and_stats(spark, sf_dir):
    """bm25_scores must broadcast the O(|query|) df relation and the
    2-scalar corpus stats; the only data-sized relations entering
    joins are query-term postings. No cartesian on data."""
    plan = plan_of(E.queries()["bm25_scores"](spark, sf_dir), "simple")
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row stats crossJoin
    assert "CartesianProduct" not in plan


def test_url_template_single_agg(spark, sf_dir):
    """url_template_stats = template expr in the scan projection + ONE
    hash aggregate family (two-phase distinct expansion shares the
    template key): no window, no join."""
    plan = plan_of(E.queries()["url_template_stats"](spark, sf_dir), "simple")
    assert "Window" not in plan and "Join" not in plan


def test_rolling_corr_one_window_no_join(spark, sf_dir):
    """rolling_corr evaluates all six trailing moment sums in ONE
    window over the hourly aggregate: one Window node, no join, and
    the window shares the key-family exchange with the bucket agg."""
    plan = plan_of(E.queries()["rolling_corr"](spark, sf_dir), "simple")
    assert plan.count("Window") == 1, plan
    assert "Join" not in plan
    assert plan.count("hashpartitioning") <= 2, plan


def test_mann_kendall_key_partitioned_self_join(spark, sf_dir):
    """mann_kendall's pairwise stage is an equi-join ON THE KEY — the
    quadratic stays per-series; no cartesian product anywhere."""
    plan = plan_of(E.queries()["mann_kendall"](spark, sf_dir), "simple")
    assert "CartesianProduct" not in plan
    assert "Join" in plan


def test_forecast_backtest_equi_joins_only(spark, sf_dir):
    """forecast_backtest's two shifted references are (key, t)
    equi-joins (gap-correct), never windows, never cartesian; the
    closing per-key aggregate is map-side combinable."""
    plan = plan_of(E.queries()["forecast_backtest"](spark, sf_dir), "simple")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan


def test_readability_stays_codegen_no_exchange(spark, sf_dir):
    """readability_scores is a pure per-row projection: zero
    exchanges, zero Python eval nodes, inside whole-stage codegen."""
    plan = plan_of(E.queries()["readability_scores"](spark, sf_dir), "simple")
    assert "Exchange" not in plan, plan
    assert "EvalPython" not in plan
    assert "*(1)" in plan, plan  # whole-stage-codegen stage marker


def test_politeness_plan_single_pass_total(spark, sf_dir):
    """politeness_plan = ONE domain aggregate, fleet total as a
    window over the domain census (no join, no second scan of the
    input): exactly one data-sized exchange and one parquet scan."""
    plan = plan_of(E.queries()["politeness_plan"](spark, sf_dir), "simple")
    assert "Join" not in plan, plan
    assert plan.count("hashpartitioning") <= 1, plan
    assert plan.count("FileScan parquet") == 1, plan


def test_snapshot_diff_single_outer_join(spark, sf_dir):
    """snapshot_diff is ONE full-outer join of two manifest-sized
    aggregates — no window, no second join layer."""
    plan = plan_of(E.queries()["snapshot_diff"](spark, sf_dir), "simple")
    assert "FullOuter" in plan or "full_outer" in plan.lower(), plan
    assert "Window" not in plan


def test_acf_multi_no_cartesian_one_agg_family(spark, sf_dir):
    """acf_multi's K lag joins are all (key, t) equi-joins; the union
    feeds ONE (key, lag) aggregate; no cartesian product."""
    plan = plan_of(E.queries()["acf_multi"](spark, sf_dir), "simple")
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_watermark_audit_single_agg_no_join(spark, sf_dir):
    """watermark_lag_audit is a projection + ONE map-side-combinable
    key aggregate: no join, no window, one exchange."""
    plan = plan_of(E.queries()["watermark_lag_audit"](spark, sf_dir), "simple")
    assert "Join" not in plan and "Window" not in plan
    assert plan.count("hashpartitioning") <= 1, plan


def test_traffic_tiers_census_sized_rank(spark, sf_dir):
    """traffic_tiers ranks the DOMAIN CENSUS (one global window over
    the aggregated domain relation), never the raw fetches: the
    domain aggregate must sit below the Window, and the scalar total
    broadcasts."""
    plan = plan_of(E.queries()["traffic_tiers"](spark, sf_dir), "simple")
    assert "Window" in plan
    assert plan.index("HashAggregate") < plan.index("Window"), plan
    assert "Join" not in plan, plan  # totals ride the census window
    assert plan.count("FileScan parquet") == 1, plan  # no re-scan


def test_join_strategy_plan_topk_window_limit(spark, sf_dir):
    """join_strategy_plan's rank runs over the key census; the two
    scalar relations broadcast; no cartesian on data."""
    plan = plan_of(E.queries()["join_strategy_plan"](spark, sf_dir), "simple")
    assert "Window" in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row dim stats
    assert "CartesianProduct" not in plan
    # fact scanned once (census window carries the total), dim once
    assert plan.count("FileScan parquet") == 2, plan


def test_tier_merge_is_union_plus_one_agg(spark, sf_dir):
    """tier_incremental_merge: the two shard rollups and the merge
    collapse into ONE hash-aggregate family over the union — no join,
    and only the tier_view's array finalization adds a second
    aggregate; no window anywhere."""
    plan = plan_of(E.queries()["tier_incremental_merge"](spark, sf_dir), "simple")
    assert "Join" not in plan and "Window" not in plan
    assert "Union" in plan


def test_cache_admission_census_window_single_scan(spark, sf_dir):
    """cache_admission_plan ranks the url census, not raw fetches:
    aggregate below the window, one parquet scan, no join."""
    plan = plan_of(E.queries()["cache_admission_plan"](spark, sf_dir), "simple")
    assert "Join" not in plan
    # census agg is UPSTREAM of the window (prints below it): the
    # window sorts ~|urls| aggregated rows, never raw fetches
    assert plan.index("Window") < plan.index("HashAggregate"), plan
    assert plan.count("FileScan parquet") == 1, plan


def test_source_vocab_overlap_dedups_before_pair_join(spark, sf_dir):
    """The token self-join runs over the (source, token) DEDUPED
    relation (vocab-sized), never raw token occurrences: an aggregate
    family sits upstream of the join, and no cartesian appears."""
    plan = plan_of(E.queries()["source_vocab_overlap"](spark, sf_dir), "simple")
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan and "Join" in plan


def test_cooccurrence_lift_broadcasts_dims(spark, sf_dir):
    """Per-item counts and the 1-row user total broadcast; the only
    data-sized join is the incidence self-join on the user."""
    plan = plan_of(E.queries()["cooccurrence_lift"](spark, sf_dir), "simple")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_bloom_fpr_bitset_broadcasts(spark, sf_dir):
    """The <= m_bits bitset relation must broadcast into the probe
    join — probes never shuffle against members."""
    plan = plan_of(E.queries()["bloom_fpr_audit"](spark, sf_dir), "simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, plan  # bitset AND anti both broadcast
    assert "CartesianProduct" not in plan


def test_week_tierup_is_agg_chain_only(spark, sf_dir):
    """The 1m->1h->1d->1w chain stays a pure hash-aggregate ladder:
    no join, no window before the tier_view finalization."""
    plan = plan_of(E.queries()["rollup_1w_tierup"](spark, sf_dir), "simple")
    assert "Join" not in plan and "Window" not in plan


def test_sliding_quantile_joins_sketch_not_raw(spark, sf_dir):
    """sliding_hist_quantile's range join expands SKETCH rows: the
    (key,hour,bucket) aggregate is barriered, so BOTH join sides read
    the checkpointed sketch — the downstream plan contains NO raw
    parquet scan at all (raw was read exactly once, into the
    barrier), and no cartesian product appears."""
    plan = plan_of(E.queries()["sliding_hist_quantile"](spark, sf_dir), "simple")
    assert "CartesianProduct" not in plan
    assert plan.count("FileScan parquet") == 0, plan
    assert "Join" in plan


def test_asof_nearest_single_shuffle_no_range_join(spark, sf_dir):
    """asof_join_nearest must stay the union+window construction: no
    join node at all (the snapshot relation unions in), and the two
    directional windows share one key partitioning family."""
    plan = plan_of(E.queries()["asof_join_nearest"](spark, sf_dir), "simple")
    assert "Join" not in plan, plan
    assert "Union" in plan
    assert plan.count("hashpartitioning(key") <= 2, plan


def test_cartesian_classifier_bounded_vs_risky(spark, sf_dir):
    """r5 plan-audit rule: a CartesianProduct whose subtree reads no
    data source (eaglemine's <=63-row level-ladder self-join) is
    bounded; a genuine data-sided cartesian still trips the flag."""
    import sys

    sys.path.insert(0, os.path.join(REPO, "tools"))
    from plan_audit import bounded_cartesians

    # eaglemine: its one cartesian must classify as bounded
    plan = plan_of(E.queries()["eaglemine_clusters"](spark, sf_dir), "simple")
    b, r = bounded_cartesians(plan)
    assert b >= 1 and r == 0, (b, r)

    # planted GENUINE cartesian: non-equi join of two parquet scans
    # (auto-broadcast disabled so the planner can't hide it behind a
    # BroadcastNestedLoopJoin — at web scale neither side broadcasts)
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = spark.read.parquet(f"{sf_dir}/nation.parquet")
        c = spark.read.parquet(f"{sf_dir}/region.parquet")
        bad = a.join(c, a["n_nationkey"] > c["r_regionkey"])
        plan2 = plan_of(bad, "simple")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    b2, r2 = bounded_cartesians(plan2)
    assert r2 >= 1, plan2
    assert b2 == 0


def test_cartesian_over_a_barrier_is_risky(spark, sf_dir):
    """A data-sized cartesian whose sides sit behind barrier() shows only
    `Scan ExistingRDD` below it; the audit counts it risky, and the
    eaglemine ladder join is bounded only under its reviewed name."""
    import sys

    sys.path.insert(0, os.path.join(REPO, "tools"))
    from plan_audit import audit_plan, cartesian_inputs

    from spartan2_spark.operators.barrier import barrier

    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = spark.read.parquet(f"{sf_dir}/lineitem.parquet").transform(barrier)
        c = spark.read.parquet(f"{sf_dir}/orders.parquet").transform(barrier)
        bad = a.join(c, a["l_orderkey"] > c["o_orderkey"])
        plan = plan_of(bad, "simple")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    assert "FileScan parquet" not in plan and "Scan ExistingRDD" in plan, plan
    assert cartesian_inputs(plan) == ["hidden"], plan
    rec = audit_plan(plan)
    assert rec["risky_cartesians"] == 1 and rec["bounded_cartesians"] == 0

    ladder = plan_of(E.queries()["eaglemine_clusters"](spark, sf_dir), "simple")
    assert "hidden" in cartesian_inputs(ladder)
    assert audit_plan(ladder)["risky_cartesians"] >= 1
    named = audit_plan(ladder, "eaglemine_clusters")
    assert named["risky_cartesians"] == 0 and named["bounded_cartesians"] >= 1
