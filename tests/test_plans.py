"""Physical-plan regression guards: filters must
reach the parquet scan, dims must broadcast, top-k must not global-sort,
and columns must prune.  These assert on the optimized/physical plan text —
if a refactor silently de-optimizes a plan shape, these fail before any
benchmark does."""

from __future__ import annotations

import pytest

from dataengineer_scripts_spark import registry

DEFS = registry.definitions()


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _scan_meta(df) -> str:
    # FileSourceScan metadata (PushedFilters / ReadSchema) lives in the
    # full queryExecution dump.
    return df._jdf.queryExecution().toString()


def test_agg_filter_pushed_to_parquet_scan(spark, sf_dir):
    df = DEFS["x_agg_sum_avg_min_max"].fn(spark, sf_dir)
    meta = _scan_meta(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in meta


def test_projection_prunes_scan_columns(spark, sf_dir):
    df = DEFS["proj_alias_literal"].fn(spark, sf_dir)
    meta = _scan_meta(df)
    # 2-column projection over a 5-column table: the scan must read only
    # the referenced columns.
    assert "ReadSchema: struct<c_custkey:bigint,c_name:string>" in meta
    assert "c_acctbal" not in meta.split("ReadSchema")[-1].split("\n")[0]


def test_point_lookup_broadcasts_the_dim(spark, sf_dir):
    plan = _physical(DEFS["join_point_lookup"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_topk_avoids_global_sort(spark, sf_dir):
    plan = _physical(DEFS["x_sort_limit_topk"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_flagship_is_single_shuffle(spark, sf_dir):
    plan = _physical(DEFS["flagship_health"].fn(spark, sf_dir))
    assert plan.count("Exchange") == 1  # one hash-partition on user_id


def test_no_cartesian_in_pair_generation(spark, sf_dir):
    # Pair generation must never cross or nested-loop the corpus against
    # itself.
    for name in ("x_llm_dedup_minhash", "x_llm_dedup_ngram_jaccard",
                 "x_llm_dedup_containment", "x_llm_dedup_embed",
                 "x_llm_dedup_simhash"):
        plan = _physical(DEFS[name].fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_knn_batch_never_shuffles_the_corpus(spark, sf_dir):
    # broadcast regime: corpus scan → mapInPandas with NO Exchange below
    # it; the only shuffle is the final window over tiny top-k partials.
    plan = _physical(DEFS["x_llm_knn_batch"].fn(spark, sf_dir))
    assert plan.count("Exchange") == 1
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the one Exchange must sit ABOVE the python map (partials, not corpus)
    assert plan.index("Exchange") < plan.index("MapInPandas")


def test_whole_stage_codegen_on_scalar_layer(spark, sf_dir):
    plan = _physical(DEFS["fn_case_status"].fn(spark, sf_dir))
    # codegen'd operators carry the `*(stageId)` prefix in plan text
    assert "*(1)" in plan
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python anywhere


# flagship_sync is excluded with the snk_/src_/exec_ families: building its
# frame performs the HTTP fan-out side effect (stub reset + POSTs) at
# fn-call time, which a plan-only sweep must not trigger (it also mutates
# the shared stub state other tests read).
_PLAN_SWEEP_EXCLUDED = ("snk_", "src_", "exec_", "flagship_sync")


@pytest.mark.parametrize(
    "name",
    [n for n in DEFS if not n.startswith(_PLAN_SWEEP_EXCLUDED)],
)
def test_no_row_at_a_time_python_udf(spark, sf_dir, name):
    plan = _physical(DEFS[name].fn(spark, sf_dir))
    assert "BatchEvalPython" not in plan, f"{name} uses a row-at-a-time UDF"


def test_chunk_windows_is_narrow(spark, sf_dir):
    plan = _physical(DEFS["x_llm_chunk_windows"].fn(spark, sf_dir))
    # split + explode + slice all run map-side: chunking must be shuffle-free
    assert "Exchange" not in plan


def test_source_mix_broadcasts_totals(spark, sf_dir):
    plan = _physical(DEFS["x_llm_source_mix"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_quantize_and_normalize_are_narrow(spark, sf_dir):
    # int8 quantization and dedup-prep normalization are per-row
    # projections: zero Exchange, zero Python.
    for name in ("x_llm_embed_quantize", "x_llm_text_normalize"):
        plan = _physical(DEFS[name].fn(spark, sf_dir))
        assert "Exchange" not in plan, name
        assert "MapInPandas" not in plan, name


def test_bpe_pair_counts_is_heap_topk(spark, sf_dir):
    plan = _physical(DEFS["x_llm_bpe_pair_counts"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan  # never a global sort
    assert plan.count("Exchange") == 1  # one pair-count hash aggregate


def test_ngram_lm_window_runs_on_aggregated_vocab(spark, sf_dir):
    # the context-mass window must consume the AGGREGATED bigram table
    # (vocab-sized), never the exploded corpus pairs: exactly two
    # exchanges (pair-count agg + w1 window), heap top-K on top.
    plan = _physical(DEFS["x_llm_ngram_lm_counts"].fn(spark, sf_dir))
    assert plan.count("Exchange") == 2
    assert "TakeOrderedAndProject" in plan


def test_sessionize_single_wide_shuffle_plus_rollup(spark, sf_dir):
    # per-user ordering costs exactly one hash exchange — and the session
    # rollup REUSES it (hashpartitioning(user_id) satisfies the clustered
    # distribution on the finer (user_id, session_seq) keys), so the whole
    # sessionize is a single-shuffle plan.
    plan = _physical(DEFS["x_win_sessionize"].fn(spark, sf_dir))
    assert plan.count("Exchange") == 1
    assert "Window" in plan


def test_pivot_with_explicit_values_is_one_aggregate(spark, sf_dir):
    # explicit pivot values: no distinct-scan pre-pass, one exchange,
    # same shape as a plain groupBy/count.
    plan = _physical(DEFS["x_agg_pivot"].fn(spark, sf_dir))
    assert plan.count("Exchange") == 1
    assert "pivotfirst" not in plan.lower()  # compiled to flat aggregate


def test_lm_doc_score_probes_via_broadcast(spark, sf_dir):
    # the 500-row bigram model must broadcast; the corpus probe side
    # must never sort-merge or shuffle for the join.
    plan = _physical(DEFS["x_llm_lm_doc_score"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_sub_exists_lowers_to_semi_join_no_cartesian(spark, sf_dir):
    plan = _physical(DEFS["x_sub_exists_semi"].fn(spark, sf_dir))
    assert "LeftSemi" in plan
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan
    # the non-equi correlation rides the hash join as a residual, so the
    # date comparison must appear on the join node itself, not a
    # post-filter (assert on the LeftSemi line only — probing the line
    # before the node passes vacuously if plan formatting shifts)
    semi_line = [ln for ln in plan.splitlines() if "LeftSemi" in ln][0]
    assert "l_shipdate" in semi_line


def test_sub_not_exists_lowers_to_anti_join_after_filter(spark, sf_dir):
    df = DEFS["x_sub_not_exists_anti"].fn(spark, sf_dir)
    plan = _physical(df)
    assert "LeftAnti" in plan
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan
    # both local filters are scan-side pushed, not evaluated post-join
    assert "PushedFilters: [IsNotNull(c_acctbal), GreaterThan(c_acctbal" in _scan_meta(df)
    assert "GreaterThan(o_totalprice" in _scan_meta(df)
    # anti-join build reads only the key + its filter column
    assert "ReadSchema: struct<o_custkey:bigint,o_totalprice:double>" in _scan_meta(df)


def test_sub_scalar_avg_computes_threshold_once(spark, sf_dir):
    plan = _physical(DEFS["x_sub_scalar_avg"].fn(spark, sf_dir))
    # aggregate-then-rejoin: exactly one avg aggregate feeds a hash join;
    # no nested-loop re-evaluation per outer row
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan
    assert plan.count("partial_avg") == 1


def test_sub_exists_other_is_hash_semi_self_join(spark, sf_dir):
    plan = _physical(DEFS["x_sub_exists_other"].fn(spark, sf_dir))
    assert "LeftSemi" in plan
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan
    semi_line = [ln for ln in plan.splitlines() if "LeftSemi" in ln][0]
    # equi key is the order key; the supplier inequality is the residual
    assert "l_orderkey" in semi_line and "NOT" in semi_line


def test_source_overlap_broadcasts_totals_no_hot_cap_needed(spark, sf_dir):
    plan = _physical(DEFS["x_llm_source_overlap"].fn(spark, sf_dir))
    # sources-sized totals ride broadcast joins; the only wide exchanges
    # are the distinct and the shingle-hash self-join
    assert "BroadcastHashJoin" in plan
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan


def test_keep_best_argmax_is_aggregates_not_sort_window(spark, sf_dir):
    df = DEFS["x_llm_dedup_keep_best"].fn(spark, sf_dir)
    plan = _physical(df)
    # the argmax-per-cluster tail must be hash aggregates + joins — a
    # row_number() window would show up as a Window over a Sort
    assert "Window" not in plan


def test_median_is_single_exchange(spark, sf_dir):
    plan = _physical(DEFS["x_agg_median"].fn(spark, sf_dir))
    assert plan.count("Exchange") == 1


def test_fuzzy_match_runs_on_distinct_names_no_cartesian(spark, sf_dir):
    plan = _physical(DEFS["x_join_fuzzy_name"].fn(spark, sf_dir))
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan
    # vocabulary aggregate feeds the join: the p_name distinct/count
    # happens BELOW the block join, so pair work is vocab²-bounded
    join_pos = plan.index("Join")
    assert "hashpartitioning(p_name" in plan[join_pos:] or "HashAggregate" in plan[join_pos:]


def test_resample_grid_is_generated_not_joined_from_facts(spark, sf_dir):
    plan = _physical(DEFS["x_etl_resample_ffill"].fn(spark, sf_dir))
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan
    assert "Generate" in plan  # sequence+explode creates the calendar rows
    assert "Window" in plan


def test_snapshot_diff_is_single_conditional_aggregate(spark, sf_dir):
    # the one-fact-table diff must collapse to ONE scan + ONE hash
    # aggregate (conditional sums), never two snapshot reads + a join
    plan = _physical(DEFS["x_etl_snapshot_diff"].fn(spark, sf_dir))
    assert plan.count("Exchange") == 1
    assert "Join" not in plan
    assert plan.count("Scan parquet") == 1


def test_vocab_coverage_broadcasts_the_vocab(spark, sf_dir):
    # the V-row vocab must broadcast into the exploded-corpus join; the
    # corpus side must never sort-merge for it
    plan = _physical(DEFS["x_llm_vocab_coverage"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_prefix_dedup_is_blocked_equi_join(spark, sf_dir):
    # candidates pair only within first-16-chars blocks: an equi hash
    # join with the startswith residual, never a nested loop over docs
    plan = _physical(DEFS["x_llm_dedup_prefix"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "StartsWith" in plan  # the exact check rides the join/filter


def test_mode_is_aggregates_not_sort_window(spark, sf_dir):
    # argmax-per-source as hash aggregates (the keep_best shape); a
    # row_number formulation would surface as Window over Sort.
    # x_agg_mode is session-shared with flagship_analytics, so the
    # guard reads the exposed pre-checkpoint build.
    from dataengineer_scripts_spark.operators.relational import _mode_build

    plan = _physical(_mode_build(spark, sf_dir))
    assert "Window" not in plan


def test_embed_outlier_scores_in_one_narrow_pass(spark, sf_dir):
    # scoring = scan → mapInPandas with the broadcast centroid model;
    # no shuffle, no join in the returned frame (centroids were a
    # separate bounded aggregate, collected as the model)
    plan = _physical(DEFS["x_llm_embed_outlier"].fn(spark, sf_dir))
    assert "MapInPandas" in plan
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_funnel_never_nested_loops_the_events(spark, sf_dir):
    # the three stage joins are user_id equi-joins; the only BNL joins
    # allowed are the final 1-row count combiners (pre-checkpoint build:
    # the registered op is session-shared with flagship_analytics)
    from dataengineer_scripts_spark.operators.relational import _funnel_build

    plan = _physical(_funnel_build(spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_ngram_novelty_has_no_self_join(spark, sf_dir):
    # novelty needs per-shingle counts, not pairs: the df aggregate joins
    # back on the SAME shingle-hash key — never a doc×doc candidate join
    plan = _physical(DEFS["x_llm_ngram_novelty"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin") + plan.count("ShuffledHashJoin") == 1


def test_incremental_agg_merge_is_group_sized(spark, sf_dir):
    # state ⊕ delta: two partial aggregates union into a group-count-sized
    # re-aggregate; no join anywhere
    plan = _physical(DEFS["x_etl_incremental_agg"].fn(spark, sf_dir))
    assert "Join" not in plan
    assert "Union" in plan


def test_range_frame_is_single_user_exchange(spark, sf_dir):
    # the trailing-hour frame costs exactly one hash exchange on user_id
    # (the sessionize shuffle shape) + an in-partition sort
    plan = _physical(DEFS["x_win_range_frame"].fn(spark, sf_dir))
    assert plan.count("Exchange") == 1
    assert "Window" in plan


def test_collocations_cut_is_takeordered(spark, sf_dir):
    # the top-K cut must be a heap TakeOrdered over vocabulary-sized
    # joins, never a global sort of the bigram table
    plan = _physical(DEFS["x_llm_collocations"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_dq_report_counts_violations_in_table_scans(spark, sf_dir):
    # every rule is a conditional aggregate inside its table's scan; the
    # FK rule's customer side must broadcast (pre-checkpoint build: the
    # registered op is session-shared with flagship_analytics)
    from dataengineer_scripts_spark.operators.etl import _dq_report_build

    plan = _physical(_dq_report_build(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Union" in plan


def test_rolling_distinct_is_aggregates_not_window(spark, sf_dir):
    # window inversion: no Window operator, no self-join of days — just
    # dedup aggregates around the narrow cover explode (pre-checkpoint
    # build: the registered op is session-shared with flagship_analytics)
    from dataengineer_scripts_spark.operators.relational import (
        _rolling_distinct_build,
    )

    plan = _physical(_rolling_distinct_build(spark, sf_dir))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_asof_tolerance_keeps_single_shuffle_shape(spark, sf_dir):
    # the tolerance must not change the merged-stream plan: one user_id
    # exchange + one Window, no join of events against itself
    plan = _physical(DEFS["x_join_asof_tolerance"].fn(spark, sf_dir))
    assert plan.count("Exchange") == 1
    assert "Window" in plan
    assert "Join" not in plan


def test_binary_dedup_shuffles_digests_not_payloads(spark, sf_dir):
    # the grouping key entering the exchange must be the md5 digest; the
    # payload bytes stay map-side (projected away before the aggregate)
    df = DEFS["x_mm_dedup_binary"].fn(spark, sf_dir)
    plan = _physical(df)
    assert "Exchange hashpartitioning(content_md5" in plan


def test_weighted_sample_cut_is_takeordered(spark, sf_dir):
    # Efraimidis–Spirakis selection must lower to TakeOrderedAndProject
    # (per-partition partial top-k + driver merge of k rows) — NOT an
    # unpartitioned row_number Window over the whole fact table, which
    # would be a one-task global sort at scale (the r08 verdict's one
    # scale-killer).  The only Window ranks the K-row result BELOW it.
    plan = _physical(DEFS["x_etl_sample_weighted"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Window" in plan
    below_window = plan.split("Window", 1)[1]
    assert "TakeOrderedAndProject" in below_window


def test_zipf_rank_is_two_level(spark, sf_dir):
    # The vocab rank must be the distributed-prefix-sum shape (range
    # shuffle + pid-partitioned row_number), NOT a single-partition
    # window over the whole vocabulary, which would put every distinct
    # word of a large corpus through one task.
    # Assert on the PRE-barrier stage; the operator checkpoints it.
    from dataengineer_scripts_spark.operators.relevance import _zipf_numbered

    plan = _physical(_zipf_numbered(spark, sf_dir))
    assert "rangepartitioning" in plan  # the sampled range shuffle
    assert "SinglePartition" not in plan  # window is pid-partitioned
    final = _physical(DEFS["x_llm_zipf_fit"].fn(spark, sf_dir))
    # post-barrier: only the P-row offsets window and the 1-row moments
    # aggregate may funnel
    assert final.count("SinglePartition") <= 2


def test_pagerank_step_is_single_shuffle_with_broadcast_rank(spark, sf_dir):
    # One power iteration must be ONE shuffle stage: the node-grain rank
    # frame broadcasts into the transition join (BroadcastHashJoin, no
    # exchange on the rank side) and the only hash exchange is the
    # dst-keyed contribution aggregate.  If a refactor drops the
    # broadcast hint at dimension scale, the step gains a second
    # exchange per iteration — 35-45x that cost in the converged loop.
    # (Past the broadcast ceiling the hint is deliberately removed and
    # the loop becomes a co-partitioned shuffle join — documented in
    # x_graph_pagerank_converged's docstring; this guards the
    # dimension-scale default.)
    from pyspark.sql import functions as F

    from dataengineer_scripts_spark.operators.bi import (
        _pagerank_graph,
        _pagerank_step,
    )

    edges, deg, nodes, trans = _pagerank_graph(spark, sf_dir)
    r0 = nodes.select("brand", (1.0 / F.col("n")).alias("r")).localCheckpoint()
    plan = _physical(_pagerank_step(trans, nodes.first()["n"], r0))
    assert "BroadcastHashJoin" in plan
    assert plan.count("Exchange hashpartitioning") == 1
    # the teleport term is a literal — no second broadcast join per step
    assert plan.count("BroadcastHashJoin") == 1


@pytest.mark.parametrize(
    "name",
    [
        "x_ts_ma_crossover",
        "x_win_period_over_period",
        "x_ts_seasonal_decompose",
    ],
)
def test_grain_bounded_windows_sit_above_aggregates(spark, sf_dir, name):
    # These ops deliberately run an UNPARTITIONED Window — bounded because
    # its input is a day-/month-/vocab-grain aggregate, never the raw
    # table.  Guard the boundedness: the subtree BELOW the topmost Window
    # must contain the hash aggregate (physical plans print parents before
    # children, so "below" is "after" in the dump).  If a refactor re-roots
    # the window on a raw events/documents scan, the aggregate moves above
    # the window and this fails.
    plan = _physical(DEFS[name].fn(spark, sf_dir))
    assert "Window" in plan, name
    below_window = plan.split("Window", 1)[1]
    assert "HashAggregate" in below_window or "SortAggregate" in below_window, name


def test_exact_dedup_two_phase_hash_keys_corpus_exchange(spark, sf_dir):
    # r12 verdict item 4: the exact-dedup family's corpus-wide exchange
    # must key on xxhash64(text), never raw text.  Phase 1 is asserted on
    # the pre-checkpoint lineage (the checkpoint truncates it out of the
    # final plan): one exchange, keyed on the hash alone, text consumed
    # map-side below it.
    import re

    from pyspark.sql import functions as F

    from dataengineer_scripts_spark.operators.llm import _exact_text_buckets
    from dataengineer_scripts_spark.tables import table

    b = _exact_text_buckets(
        table(spark, sf_dir, "documents").select("doc_id", "text", "n_chars"),
        {"canonical_id": F.min("doc_id")},
    )
    p1 = _physical(b)
    assert p1.count("Exchange") == 1
    part = re.search(r"Exchange hashpartitioning\(([^)]*)\)", p1).group(1)
    assert part.startswith("h#") and "text" not in part
    assert "xxhash64(text" in p1  # hash computed below the exchange

    # Final operator: the ONLY text-keyed exchange is the duplicate-bucket
    # regroup, fed through a broadcast semi join on the duplicate-hash set
    # — its volume is the duplicate rows, never the corpus.
    plan = _physical(DEFS["x_llm_dedup_exact"].fn(spark, sf_dir))
    text_keyed = [
        m
        for m in re.findall(r"hashpartitioning\(([^)]*)\)", plan)
        if "text" in m
    ]
    assert len(text_keyed) == 1
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_flagship_curation_never_windows_on_raw_text(spark, sf_dir):
    # Stage 3 used to run min(doc_id) OVER (PARTITION BY text) — a
    # corpus-wide exchange carrying the full text as its key.  The
    # two-phase refactor must keep any text-keyed exchange confined to
    # the duplicate-bucket regroup (at most one), with no window
    # partitioned on the raw text anywhere in the plan.
    import re

    plan = _physical(DEFS["flagship_curation"].fn(spark, sf_dir))
    assert "windowspecdefinition(text" not in plan
    text_keyed = [
        m
        for m in re.findall(r"hashpartitioning\(([^)]*)\)", plan)
        if re.search(r"\btext#", m)
    ]
    assert len(text_keyed) <= 1
