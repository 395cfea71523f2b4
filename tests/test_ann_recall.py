"""PQ search quality gates: the ADC top-k (``x_llm_pq_adc_topk``) must
return the full top-k shape and a recall floor against the exact scan, and
its oracle-checked score companion must agree with it.  The fixture
embeddings are near-orthogonal random vectors — the worst case for a
16-entry codebook — so the floor is deliberately modest."""

from __future__ import annotations

import pytest

from dataengineer_scripts_spark import registry

DEFS = registry.definitions()


def _pairs(df):
    return {(r.query_id, r.neighbor_id) for r in df.collect()}


@pytest.mark.parametrize(
    "name,floor",
    # ADC over a 16-entry codebook on worst-case random vectors: rank
    # shifts from quantization error dominate; measured 0.18-0.28
    # across sf0.001-0.1
    [("x_llm_pq_adc_topk", 0.1)]
)
def test_ann_recall_vs_exact(spark, sf_dir, name, floor):
    exact = _pairs(DEFS["x_llm_knn_cosine"].fn(spark, sf_dir))
    approx_df = DEFS[name].fn(spark, sf_dir)
    approx = _pairs(approx_df)
    assert len(approx) == len(exact)  # full top-k shape: 10 queries × 5
    recall = len(exact & approx) / len(exact)
    assert recall >= floor, f"{name} recall {recall:.2f} < {floor}"
    # every reported rank group is a valid 1..k ranking
    ranks = [(r.query_id, r.rank) for r in approx_df.collect()]
    by_q = {}
    for q, rk in ranks:
        by_q.setdefault(q, []).append(rk)
    assert all(sorted(v) == list(range(1, 6)) for v in by_q.values())


def test_adc_scores_companion_agrees_with_topk(spark, sf_dir):
    """The oracle-checked ADC companion must reproduce the rows-only
    top-k op's scores: for every top-k pair of a shared query, the
    micro-integer score equals the double score within the rounding
    budget (8 LUT entries pinned at ±0.5e-6 each, plus the top-k's own
    round-6 → ≤ 4.5e-6; measured 2e-6).  This is the local half of the
    r08 attestation bridge — the driver hash-matches the companion, this
    test pins the companion to the production op."""
    from dataengineer_scripts_spark.operators.llm import ADC_ORACLE_QUERIES

    micro = {
        (r.query_id, r.neighbor_id): r.adc_micro
        for r in DEFS["x_llm_pq_adc_scores"].fn(spark, sf_dir).collect()
    }
    topk = [
        r
        for r in DEFS["x_llm_pq_adc_topk"].fn(spark, sf_dir).collect()
        if r.query_id < ADC_ORACLE_QUERIES
    ]
    assert topk  # shared queries exist
    for r in topk:
        assert (r.query_id, r.neighbor_id) in micro
        assert abs(micro[(r.query_id, r.neighbor_id)] / 1e6 - r.adc_score) <= 5e-6
