"""Regenerate PLANS.md: `.explain(formatted)` for the headline operators,
with the scale property each plan is expected to exhibit.  Run from the
repo root: `python tools/plan_dump.py`."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: (operator id, the property the plan must show)
HEADLINERS = [
    ("flagship_health", "single Exchange (one hash aggregate on user_id); no join, no Python"),
    ("x_agg_sum_avg_min_max", "filter pushed to the parquet scan (PushedFilters), partial+final aggregate, whole-stage codegen"),
    ("join_point_lookup", "BroadcastHashJoin on the dim side — no shuffle of the fact table"),
    ("x_join_bucketed", "zero Exchange: co-located sort-merge join over 8 pre-bucketed buckets"),
    ("x_sort_limit_topk", "TakeOrderedAndProject — top-k without a global sort"),
    ("x_join_asof", "one shuffle + one sort (window running max) — no range-join pair explosion"),
    ("x_llm_dedup_minhash", "shingle hash → one aggregate for the 128-hash signature → band equi-join; no cartesian anywhere"),
    ("x_llm_dedup_embed", "upper-triangle blocked GEMM: explode to P cells → one hash-partition → applyInPandas; Arrow exchange only"),
    ("x_llm_ann_ivf", "narrow mapInPandas assignment (driver-held centroid model) → broadcast probe join → partial top-k"),
    ("x_join_multiway_analytic", "all three filters pushed to their scans; AQE-chosen join strategy; TakeOrderedAndProject top-10"),
    ("x_llm_sample_stratified", "zero Exchange: md5-bucket keep decision is a codegen'd scan-side filter"),
    ("x_llm_pack_sequences", "one Exchange (the lang window) — packing is a windowed prefix-sum, not a stateful scan"),
    ("x_stream_join", "BroadcastHashJoin build side = the dim; the event stream is only shuffled for the window aggregate"),
    ("x_agg_approx_quantile", "one Exchange, no Sort: GK sketch partials merge instead of sorting values"),
    ("x_llm_chunk_windows", "zero Exchange: sequence+explode+slice chunking runs entirely map-side"),
    ("x_llm_dup_spans", "span hashes (never strings) in the shuffle; hash aggregate + semi join — span-linear"),
    ("x_llm_bpe_pair_counts", "pair explode codegen'd map-side; ONE hash aggregate (combine eats the Zipf head) + TakeOrderedAndProject heap"),
    ("x_llm_ngram_lm_counts", "context-mass window over the AGGREGATED bigram table (vocab-sized), not the corpus pairs: two bounded Exchanges + heap top-K"),
    ("x_llm_embed_quantize", "zero Exchange, zero Python: array max + two array folds as a scan-side projection"),
    ("x_win_sessionize", "ONE total Exchange: the session rollup reuses the lag/cumsum window's user_id hash partitioning"),
    ("x_agg_pivot", "conditional-count lowering: one hash aggregate + one Exchange (no pivotfirst double-aggregate)"),
    ("x_llm_lm_doc_score", "500-row bigram model broadcast; corpus probe side crosses a BroadcastHashJoin with zero shuffle"),
    ("x_sub_exists_semi", "correlated EXISTS lowered to LeftSemi hash join; the non-equi date correlation is a join residual, never a cartesian"),
    ("x_sub_scalar_avg", "correlated scalar subquery as aggregate-then-rejoin: ONE partial_avg; threshold joined back on l_partkey"),
    ("x_llm_pack_sequences_sharded", "per-(lang,shard) local window + broadcast per-shard start offsets — no task sorts a whole language; same answer as the single-window plan"),
    ("x_etl_zorder_stats_sharded", "range-partitioned per-partition ranks + broadcast offsets + closed-form ntile — no single-task global sort; granules bit-identical to the ntile plan"),
    ("x_etl_snapshot_diff", "time-travel diff collapsed to ONE conditional-aggregate scan: single Exchange, no join, no second read of the fact table"),
    ("x_etl_cdc_compact", "last-writer-wins as scalar HASH-aggregate argmax + identity join — no window over the log, no SortAggregate struct-max fallback"),
    ("x_join_scd2_pointintime", "merged-stream point-in-time join: ONE business-key Exchange + one carry-forward window; no range join, no fact re-shuffle"),
    ("x_tpch_q21_waiting_suppliers", "EXISTS/NOT EXISTS as LeftSemi + LeftAnti on the same orderkey layout; status filter pushed; TakeOrdered top-20"),
    ("x_llm_winnowing_fingerprint", "scan-side k-gram explode; sliding min as a doc_id-PARTITIONED window; digest-sized rollup"),
    ("x_agg_corr_matrix", "ten sufficient statistics in ONE scan pass — the 3x3 correlation matrix never re-reads lineitem"),
    ("x_sql_recursive_cte", "WITH RECURSIVE lowered to UnionLoop over the session-shared checkpointed brand_e0 edge view — the corpus aggregate runs once per session, not per iteration or per consumer"),
    ("x_agg_rolling_distinct", "window inversion: dedup + 7-day cover explode + dedup — rolling DISTINCT with no Window operator and no days x window self-join (session-shared with flagship_analytics; the guarded lineage is _rolling_distinct_build, asserted in tests/test_plans.py)"),
    ("x_llm_embed_outlier", "centroid model from one posexploded hash aggregate (KBs collected), then ONE narrow mapInPandas scoring pass — zero joins, zero shuffles"),
    ("x_llm_ngram_novelty", "document-frequency aggregate joined back on the SAME shingle-hash key (AQE reuses the partitioning); counts, not pairs — no self-join"),
    ("x_win_range_frame", "RANGE frame over integer epoch seconds: one user_id Exchange + sorted streaming frames; equal-second peers are mutual members so peer order is harmless"),
    ("x_tpch_q5_local_supplier_volume", "six-table snowflake: region/nation/customer/supplier broadcast, orders⋈lineitem is the only data-sized shuffle; r_name + date range pushed to the scans"),
    ("x_llm_tfidf_topk", "one token explode → (doc,term) aggregate; df is aggregated FROM the tf output (no re-explode); the top-k rank window reuses the doc_id key"),
    ("x_ts_rolling_zscore", "three exact decimal frame aggregates share ONE window spec — a single user-keyed Exchange; z/flag math is a Project above it"),
    ("x_agg_market_basket", "DISTINCT (order,brand) collapses multiplicity BEFORE the order-keyed self-join (both session-shared checkpoints): pair generation quadratic in basket size, linear in orders; stats broadcast back"),
    ("x_etl_sample_weighted", "weighted sampling as deterministic top-k by hash-derived exponential key: TakeOrderedAndProject (partial per-partition top-k) — the r08 verdict's unpartitioned row_number window is gone; the only Window ranks the k-row result"),
    ("x_join_range_bucketed", "fact-fact interval join bucketized to an equi hash join (3x build-side bucket explode, |dt| residual) — no nested loop, no cartesian"),
    ("x_llm_zipf_fit", "two-level vocab rank (range shuffle + pid-partitioned row_number + broadcast offsets) — the r09 verdict's full-vocabulary single-partition sort is gone; only the P-row offsets window and the 1-row moments aggregate funnel"),
    ("x_llm_ann_ivf_scores", "oracle companion of the IVF search: driver-held quantizer + two narrow mapInPandas passes with a broadcast probe join between them — corpus never shuffled"),
    ("x_llm_dedup_exact", "two-phase hash-keyed exact dedup: phase-1 buckets are a checkpointed scan (corpus exchange keyed on xxhash64(text), asserted pre-checkpoint in tests/test_plans.py); the only text-keyed exchange sits above the broadcast semi join on the duplicate-hash set"),
    ("x_tpch_q9_product_type_profit", "six-table three-key profit rollup over the DERIVED partsupp: p_name contains-filter pushed to the part scan, part/supplier/nation broadcast, the session-shared checkpointed pair set joined AQE-sized; the only fact-fact Exchange is the orders join"),
]


def main() -> None:
    from contextlib import redirect_stdout
    from io import StringIO

    from dataengineer_scripts_spark import registry
    from dataengineer_scripts_spark.session import get_spark

    spark = get_spark("plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    defs = registry.definitions()
    sf = "/root/testdata/sf0.001"

    out = [
        "# PLANS — physical plans of the headline operators",
        "",
        "Auto-generated by `tools/plan_dump.py` (sf0.001, `.explain(formatted)`).",
        "Each section states the scale property the plan must exhibit; the",
        "same properties are asserted programmatically in `tests/test_plans.py`.",
        "",
    ]
    for name, claim in HEADLINERS:
        df = defs[name].fn(spark, sf)
        buf = StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        out += [f"## `{name}`", "", f"**Expected property:** {claim}", "",
                "```", buf.getvalue().rstrip(), "```", ""]
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"PLANS.md written with {len(HEADLINERS)} plans")
    spark.stop()


if __name__ == "__main__":
    main()
