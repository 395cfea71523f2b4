"""The benchmark's workloads: which registered queries each one runs, and why.

Each workload is a single-client closed loop: one driver process submits
the listed queries one after another, each waiting for the previous
result.  The lists sample larger query families (named in ``family``),
one query or more from every operator module, trimmed so a warm pass takes
about ten seconds on a 4-core machine and a whole run, JVM launch and
warm-up included, stays near a minute.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    family: str
    queries: tuple[str, ...]


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            name="analytics",
            why=(
                "scan-join-aggregate SQL through tables and Catalyst, BM25 ranking and "
                "a micro-batch stream; no Python UDF, no HTTP, no session cache: plan, "
                "scan and shuffle changes show here"
            ),
            family=(
                "x_tpch_*, x_join_*, fn_*, x_agg_*, x_ts_*, flagship_health, "
                "x_llm_bm25_rank, x_stream_*"
            ),
            queries=(
                "x_tpch_q6_forecast_revenue",
                "x_join_anti",
                "fn_case_status",
                "x_agg_benford_distribution",
                "x_ts_hour_of_day_profile",
                "flagship_health",
                "x_llm_bm25_rank",
                "x_stream_smoke",
            ),
        ),
        Workload(
            name="pipeline",
            why=(
                "n-gram dedup (Arrow UDFs) over session-cached shingle and pair frames, "
                "a binary-content dedup, and a REST login and read against the stub "
                "API: cache, UDF and HTTP changes show here"
            ),
            family="curation (x_llm_dedup_*, x_mm_*) and ingest (src_rest_*)",
            queries=(
                "x_llm_dedup_ngram_jaccard",
                "x_mm_dedup_binary",
                "src_rest_auth",
            ),
        ),
    )
}
