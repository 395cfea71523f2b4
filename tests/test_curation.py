"""Property + plan tests for the curation layer: dedup clustering,
deterministic stratified sampling, PII scrubbing, and the multiway
analytic join."""

from __future__ import annotations

from pyspark.sql import functions as F

from dataengineer_scripts_spark import registry
from dataengineer_scripts_spark.operators.llm import (
    CLUSTER_J_THRESHOLD,
    PII_EMAIL_RE,
    PII_PHONE_RE,
    SAMPLE_DEFAULT_PER_MILLE,
    SAMPLE_RATES_PER_MILLE,
)

DEFS = registry.definitions()


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _meta(df) -> str:
    return df._jdf.queryExecution().toString()


# --- x_llm_dedup_clusters ---------------------------------------------------


def test_clusters_respect_every_edge(spark, sf_dir):
    """Both endpoints of every near-dup edge land in the same cluster, and
    the cluster label IS the component minimum (fixpoint reached)."""
    labels = DEFS["x_llm_dedup_clusters"].fn(spark, sf_dir)
    pairs = DEFS["x_llm_dedup_ngram_jaccard"].fn(spark, sf_dir).filter(
        F.col("jaccard") >= CLUSTER_J_THRESHOLD
    )
    la = labels.select(
        F.col("doc_id").alias("doc_a"), F.col("cluster_id").alias("ca")
    )
    lb = labels.select(
        F.col("doc_id").alias("doc_b"), F.col("cluster_id").alias("cb")
    )
    joined = pairs.join(la, "doc_a").join(lb, "doc_b")
    assert joined.filter(F.col("ca") != F.col("cb")).count() == 0
    # labels are component minima: every cluster_id is a member doc_id of
    # its own cluster, and no member is smaller than its label.
    bad = labels.filter(F.col("cluster_id") > F.col("doc_id")).count()
    assert bad == 0
    canon = labels.filter(F.col("is_canonical"))
    assert canon.filter(F.col("doc_id") != F.col("cluster_id")).count() == 0


def test_clusters_cover_all_docs_once(spark, sf_dir):
    from dataengineer_scripts_spark.tables import table

    labels = DEFS["x_llm_dedup_clusters"].fn(spark, sf_dir)
    n_docs = table(spark, sf_dir, "documents").count()
    assert labels.count() == n_docs
    assert labels.select("doc_id").distinct().count() == n_docs


# --- x_llm_sample_stratified ------------------------------------------------


def test_sample_is_deterministic_and_honors_rates(spark, sf_dir):
    s1 = DEFS["x_llm_sample_stratified"].fn(spark, sf_dir)
    s2 = DEFS["x_llm_sample_stratified"].fn(spark, sf_dir)
    assert s1.exceptAll(s2).count() == 0 and s2.exceptAll(s1).count() == 0
    # re-derive the keep decision independently and compare exactly
    from dataengineer_scripts_spark.tables import table

    docs = table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10)
        .cast("bigint")
        % 1000
    )
    rate = F.lit(SAMPLE_DEFAULT_PER_MILLE)
    for k, v in SAMPLE_RATES_PER_MILLE.items():
        rate = F.when(F.col("lang") == k, F.lit(v)).otherwise(rate)
    expect = docs.filter(bucket < rate).select("doc_id")
    got = s1.select("doc_id")
    assert got.exceptAll(expect).count() == 0
    assert expect.exceptAll(got).count() == 0


def test_sample_rate_is_plausible_per_stratum(spark, sf_dir):
    """Loose binomial envelope: observed per-mille within ±250 of target
    (sf0.001 strata are ~60-220 docs — wide tolerance, no flakes)."""
    from dataengineer_scripts_spark.tables import table

    docs = table(spark, sf_dir, "documents")
    kept = (
        DEFS["x_llm_sample_stratified"].fn(spark, sf_dir)
        .groupBy("lang")
        .agg(F.count("*").alias("k"))
    )
    totals = docs.groupBy("lang").agg(F.count("*").alias("n"))
    for row in totals.join(kept, "lang", "left").fillna(0, ["k"]).collect():
        target = SAMPLE_RATES_PER_MILLE.get(row["lang"], SAMPLE_DEFAULT_PER_MILLE)
        observed = 1000.0 * row["k"] / row["n"]
        assert abs(observed - target) < 250, (row["lang"], observed, target)


def test_sample_plan_is_narrow_scan_side_filter(spark, sf_dir):
    plan = _physical(DEFS["x_llm_sample_stratified"].fn(spark, sf_dir))
    assert "Exchange" not in plan  # zero shuffle
    assert "BatchEvalPython" not in plan  # no Python


# --- x_llm_pii_scrub --------------------------------------------------------


def test_pii_scrub_removes_every_match(spark, sf_dir):
    df = DEFS["x_llm_pii_scrub"].fn(spark, sf_dir)
    leftover = df.filter(
        (F.regexp_count("clean", F.lit(PII_EMAIL_RE)) > 0)
        | (F.regexp_count("clean", F.lit(PII_PHONE_RE)) > 0)
    )
    assert leftover.count() == 0
    # the seeded email + phone must both have been found
    assert df.filter(F.col("n_redacted") < 2).count() == 0
    assert df.filter(~F.col("clean").contains("<EMAIL>")).count() == 0
    assert df.filter(~F.col("clean").contains("<PHONE>")).count() == 0


def test_pii_scrub_plan_is_narrow_jvm_regex(spark, sf_dir):
    plan = _physical(DEFS["x_llm_pii_scrub"].fn(spark, sf_dir))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan


# --- x_join_multiway_analytic -----------------------------------------------


def test_multiway_filters_push_to_all_three_scans(spark, sf_dir):
    meta = _meta(DEFS["x_join_multiway_analytic"].fn(spark, sf_dir))
    assert "EqualTo(c_mktsegment,BUILDING)" in meta
    assert "LessThan(o_orderdate" in meta
    assert "GreaterThan(l_shipdate" in meta


def test_multiway_topk_never_global_sorts(spark, sf_dir):
    plan = _physical(DEFS["x_join_multiway_analytic"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


# --- x_llm_dedup_incremental ------------------------------------------------


def test_incremental_equals_full_dedup_restricted_to_boundary(spark, sf_dir):
    """The bipartite incremental join must find EXACTLY the full
    self-join's pairs that straddle the old/new split (same J values) —
    incrementality changes cost, never results."""
    from dataengineer_scripts_spark.operators.llm import _INCR_NEW_MOD

    full = DEFS["x_llm_dedup_ngram_jaccard"].fn(spark, sf_dir)
    a_new = F.pmod("doc_a", F.lit(10)) >= _INCR_NEW_MOD
    b_new = F.pmod("doc_b", F.lit(10)) >= _INCR_NEW_MOD
    # orient the straddling full-join pairs as (old, new)
    want = (
        full.filter(a_new != b_new)
        .select(
            F.when(a_new, F.col("doc_b")).otherwise(F.col("doc_a")).alias("doc_old"),
            F.when(a_new, F.col("doc_a")).otherwise(F.col("doc_b")).alias("doc_new"),
            "jaccard",
        )
    )
    got = DEFS["x_llm_dedup_incremental"].fn(spark, sf_dir)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_incremental_join_is_bipartite_not_self(spark, sf_dir):
    """Candidate generation joins disjoint doc sets: no pair has both
    sides old or both sides new."""
    from dataengineer_scripts_spark.operators.llm import _INCR_NEW_MOD

    got = DEFS["x_llm_dedup_incremental"].fn(spark, sf_dir)
    bad = got.filter(
        (F.pmod("doc_old", F.lit(10)) >= _INCR_NEW_MOD)
        | (F.pmod("doc_new", F.lit(10)) < _INCR_NEW_MOD)
    )
    assert bad.count() == 0


# --- x_etl_sample_consistent ------------------------------------------------


def test_consistent_sample_equals_join_then_filter(spark, sf_dir):
    """Filtering each table independently by the shared key hash must be
    row-identical to joining first and filtering once — the property that
    makes per-table sampling safe with zero coordination."""
    from dataengineer_scripts_spark.operators.etl import (
        _CONSISTENT_RATE_PER_MILLE,
        _keep_bucket,
    )
    from dataengineer_scripts_spark.tables import table

    got = DEFS["x_etl_sample_consistent"].fn(spark, sf_dir)
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    want = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .filter(_keep_bucket(F.col("c_custkey")) < _CONSISTENT_RATE_PER_MILLE)
        .select("o_orderkey", "o_custkey", "c_mktsegment")
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_consistent_sample_filters_push_ahead_of_join(spark, sf_dir):
    """Both keep-filters must run scan-side (before the join), so no
    discarded rows ever cross the join."""
    plan = _physical(DEFS["x_etl_sample_consistent"].fn(spark, sf_dir))
    import re

    join_pos = plan.find("BroadcastHashJoin")
    assert join_pos != -1
    # two md5-based filters, both in the join's subtree (children print
    # after the parent in toString order) — i.e. evaluated scan-side
    md5_sites = [m.start() for m in re.finditer(r"md5", plan)]
    assert len(md5_sites) >= 2
    assert all(p > join_pos for p in md5_sites)


# --- x_llm_decontaminate ----------------------------------------------------


def test_decontaminate_orientation_and_threshold(spark, sf_dir):
    from dataengineer_scripts_spark.operators.llm import (
        _DECON_BENCH_MOD,
        DECON_CONTAINMENT,
    )

    got = DEFS["x_llm_decontaminate"].fn(spark, sf_dir)
    bad = got.filter(
        (F.pmod("doc_bench", F.lit(10)) != _DECON_BENCH_MOD)
        | (F.pmod("doc_train", F.lit(10)) == _DECON_BENCH_MOD)
        | (F.col("containment") < DECON_CONTAINMENT)
        | (F.col("containment") > 1.0)
    )
    assert bad.count() == 0


def test_decontaminate_containment_vs_duck(spark, sf_dir):
    """Re-derive containment for every flagged pair with DuckDB set ops."""
    from tests.conftest import make_duck

    rows = DEFS["x_llm_decontaminate"].fn(spark, sf_dir).collect()
    duck = make_duck(sf_dir)
    for r in rows:
        c = duck.execute(
            """
            WITH toks AS (SELECT doc_id, string_split(text,' ') AS t
                          FROM documents WHERE doc_id IN (?, ?)),
            sh AS (SELECT DISTINCT doc_id,
                          t[i]||' '||t[i+1]||' '||t[i+2] AS s
                   FROM toks, unnest(generate_series(1, len(t)-2)) AS r(i)
                   WHERE len(t) >= 3)
            SELECT count(*) FILTER (WHERE in_both) * 1.0 / count(*) FROM (
                SELECT s, count(DISTINCT doc_id) = 2 AS in_both
                FROM sh GROUP BY s
                HAVING bool_or(doc_id = ?)
            )
            """,
            [r.doc_train, r.doc_bench, r.doc_bench],
        ).fetchone()[0]
        assert abs(c - r.containment) < 1e-6


# --- x_llm_repetition_score -------------------------------------------------


def test_repetition_score_range_and_exactness(spark, sf_dir):
    got = DEFS["x_llm_repetition_score"].fn(spark, sf_dir).cache()
    assert got.filter((F.col("rep_ratio") < 0) | (F.col("rep_ratio") >= 1)).count() == 0
    # cross-check n_tri against the explode path used by the dedup ops
    from dataengineer_scripts_spark.operators.llm import _shingle_rows

    # explode path counts DISTINCT trigrams; rep_ratio re-derives from it:
    # distinct = n_tri * (1 - rep)
    distinct = _shingle_rows(spark, sf_dir).groupBy("doc_id").count()
    j = got.join(distinct, "doc_id")
    mism = j.filter(
        F.round(F.col("n_tri") * (1 - F.col("rep_ratio"))).cast("long")
        != F.col("count")
    )
    assert mism.count() == 0
    got.unpersist()


def test_repetition_score_plan_is_narrow(spark, sf_dir):
    plan = _physical(DEFS["x_llm_repetition_score"].fn(spark, sf_dir))
    assert "Exchange" not in plan
    assert "Generate" not in plan  # no explode — the multiset stays in-row
    assert "BatchEvalPython" not in plan


# --- flagship_curation ------------------------------------------------------


def test_curation_manifest_stage_properties(spark, sf_dir):
    from dataengineer_scripts_spark.operators.llm import (
        _DECON_BENCH_MOD,
        PACK_CAPACITY_TOKENS,
    )

    man = DEFS["flagship_curation"].fn(spark, sf_dir).cache()
    # no benchmark docs in a training manifest
    assert man.filter(F.pmod("doc_id", F.lit(10)) == _DECON_BENCH_MOD).count() == 0
    # manifest docs are canonical near-dup survivors: no two manifest docs
    # may be a near-dup pair of each other
    pairs = DEFS["x_llm_dedup_ngram_jaccard"].fn(spark, sf_dir)
    ids = man.select("doc_id")
    both = (
        pairs.join(ids.withColumnRenamed("doc_id", "doc_a"), "doc_a", "semi")
        .join(ids.withColumnRenamed("doc_id", "doc_b"), "doc_b", "semi")
    )
    assert both.count() == 0
    # no two manifest docs share identical text
    from dataengineer_scripts_spark.tables import table

    texts = man.join(table(spark, sf_dir, "documents"), "doc_id").select("text")
    assert texts.count() == texts.distinct().count()
    # packs never overrun by a full doc
    per_pack = man.groupBy("lang", "pack_id").agg(
        F.sum("n_tokens").alias("tot"), F.max("n_tokens").alias("mx")
    )
    assert per_pack.filter(
        F.col("tot") >= PACK_CAPACITY_TOKENS + F.col("mx")
    ).count() == 0
    man.unpersist()


def test_pq_seeds_encode_to_themselves_with_zero_error(spark, sf_dir):
    """PQ sanity invariant: the codebook IS the first PQ_K vectors'
    subvectors, so each seed must encode to its own id in every subspace
    with zero quantization error."""
    from dataengineer_scripts_spark.operators.llm import PQ_K, PQ_M

    rows = (
        registry.definitions()["x_llm_embed_pq"]
        .fn(spark, sf_dir)
        .filter(F.col("vec_id") < PQ_K)
        .collect()
    )
    assert len(rows) == PQ_K
    for r in rows:
        assert r.codes == "-".join([str(r.vec_id)] * PQ_M)
        assert r.err_micro == 0


def test_simhash_signature_separates_near_dups_from_random_pairs(spark, sf_dir):
    """The oracle-checked companion signature must carry the SimHash
    property the production op relies on: near-dup pairs (J >= 0.5 from
    the exact ngram operator) sit at small Hamming distance while random
    pairs sit near BITS/2 ≈ 30 (sf0.001 measured: near-dup mean 2.5 /
    max 11, random mean 19).  Identical token multisets get identical
    signatures as the distance-0 corner of the same property."""
    sigs = {
        r.doc_id: r.sig
        for r in registry.definitions()["x_llm_simhash_signature"]
        .fn(spark, sf_dir)
        .collect()
    }
    pairs = [
        (r.doc_a, r.doc_b)
        for r in DEFS["x_llm_dedup_ngram_jaccard"].fn(spark, sf_dir).collect()
    ]
    assert pairs  # the fixture contains near-dups
    ham = lambda a, b: bin(sigs[a] ^ sigs[b]).count("1")  # noqa: E731
    nd = [ham(a, b) for a, b in pairs]
    ids = sorted(sigs)
    rnd = [ham(ids[i], ids[j]) for i in range(0, 40) for j in range(40, 80)]
    assert sum(nd) / len(nd) <= 6.0, nd
    assert sum(rnd) / len(rnd) >= 12.0
    assert len(set(sigs.values())) > 1
