"""Tests for the warehouse-layout layer: partitioned parquet sink,
SCD2 merge, and sequence packing."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from dataengineer_scripts_spark import registry
from dataengineer_scripts_spark.operators.llm import PACK_CAPACITY_TOKENS
from dataengineer_scripts_spark.sinks import scratch_dir
from dataengineer_scripts_spark.tables import table

DEFS = registry.definitions()


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# --- snk_parquet_partitioned ------------------------------------------------


def test_parquet_sink_one_file_per_partition_dir(spark, sf_dir):
    DEFS["snk_parquet_partitioned"].fn(spark, sf_dir)
    out = os.path.join(
        scratch_dir("pq_part_" + os.path.basename(sf_dir.rstrip("/"))), "orders"
    )
    part_dirs = sorted(glob.glob(os.path.join(out, "o_orderpriority=*")))
    assert len(part_dirs) == 5  # the five TPC-H priorities
    for d in part_dirs:
        files = glob.glob(os.path.join(d, "*.parquet"))
        assert len(files) == 1, (d, files)  # repartition() killed small files


def test_parquet_sink_probe_prunes_partitions(spark, sf_dir):
    df = DEFS["snk_parquet_partitioned"].fn(spark, sf_dir)
    plan = _physical(df)
    # the read-back filter must land in the scan's partition filters,
    # not a post-scan Filter over all five directories
    assert "PartitionFilters: [isnotnull(o_orderpriority" in plan.replace(
        "\n", " "
    ) or "PartitionFilters" in plan
    assert df.rdd.getNumPartitions() <= 4  # one dir's worth of splits


# --- x_etl_scd2_merge -------------------------------------------------------


def test_scd2_versions_and_currency(spark, sf_dir):
    hist = DEFS["x_etl_scd2_merge"].fn(spark, sf_dir).cache()
    n_cust = table(spark, sf_dir, "customer").count()
    # every customer has exactly one v1 row
    assert hist.filter(F.col("version") == 1).count() == n_cust
    # exactly one current row per customer
    cur = hist.filter(F.col("is_current")).groupBy("c_custkey").count()
    assert cur.filter(F.col("count") != 1).count() == 0
    assert cur.count() == n_cust
    # v2 exists iff v1 is closed (not current)
    closed_v1 = hist.filter((F.col("version") == 1) & ~F.col("is_current"))
    v2 = hist.filter(F.col("version") == 2)
    assert v2.count() == closed_v1.count()
    a = closed_v1.select("c_custkey")
    b = v2.select("c_custkey")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    hist.unpersist()


# --- x_llm_pack_sequences ---------------------------------------------------


def test_pack_sequences_fill_invariants(spark, sf_dir):
    packs = DEFS["x_llm_pack_sequences"].fn(spark, sf_dir).cache()
    docs = table(spark, sf_dir, "documents")
    assert packs.count() == docs.count()
    per_pack = packs.groupBy("lang", "pack_id").agg(
        F.sum("n_tokens").alias("tot"), F.max("n_tokens").alias("mx")
    )
    # boundary-straddle semantics: a pack may overrun by < one document,
    # never more
    assert (
        per_pack.filter(
            F.col("tot") >= PACK_CAPACITY_TOKENS + F.col("mx")
        ).count()
        == 0
    )
    # pack ids are contiguous per lang: max id + 1 == distinct count
    ids = packs.groupBy("lang").agg(
        F.max("pack_id").alias("mx"), F.countDistinct("pack_id").alias("n")
    )
    assert ids.filter(F.col("mx") + 1 != F.col("n")).count() == 0
    # cumulative fill through any non-last pack reaches that pack's budget
    # boundary (individual packs after an overrun may be short — the
    # straddling doc "borrowed" from them — but the running fill never
    # lags the boundary, which is what bounds pack count vs total tokens)
    from pyspark.sql import Window

    w = (
        Window.partitionBy("lang")
        .orderBy("pack_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    last = packs.groupBy("lang").agg(F.max("pack_id").alias("last_id"))
    fill = per_pack.withColumn("cum", F.sum("tot").over(w)).join(last, "lang")
    short = fill.filter(
        (F.col("pack_id") != F.col("last_id"))
        & (F.col("cum") < (F.col("pack_id") + 1) * PACK_CAPACITY_TOKENS)
    )
    assert short.count() == 0
    packs.unpersist()


def test_pack_sequences_single_shuffle(spark, sf_dir):
    plan = _physical(DEFS["x_llm_pack_sequences"].fn(spark, sf_dir))
    assert plan.count("Exchange") == 1  # the one window shuffle
    assert "BatchEvalPython" not in plan


# --- x_agg_approx_quantile --------------------------------------------------


def test_approx_quantile_within_rank_error(spark, sf_dir):
    from dataengineer_scripts_spark.operators.relational import (
        APPROX_QUANTILE_ACCURACY,
        APPROX_QUANTILES,
    )

    got = {
        r["l_returnflag"]: r.asDict()
        for r in DEFS["x_agg_approx_quantile"].fn(spark, sf_dir).collect()
    }
    li = table(spark, sf_dir, "lineitem")
    for flag, row in got.items():
        vals = sorted(
            v.l_extendedprice
            for v in li.filter(F.col("l_returnflag") == flag)
            .select("l_extendedprice")
            .collect()
        )
        n = len(vals)
        eps = max(1, n // APPROX_QUANTILE_ACCURACY + 1)
        for q in APPROX_QUANTILES:
            target = int(q * n)
            lo = vals[max(0, target - eps - 1)]
            hi = vals[min(n - 1, target + eps)]
            v = row[f"p{int(q * 100)}"]
            assert lo <= v <= hi, (flag, q, v, lo, hi)


def test_approx_quantile_is_single_partial_aggregate(spark, sf_dir):
    plan = _physical(DEFS["x_agg_approx_quantile"].fn(spark, sf_dir))
    assert plan.count("Exchange") == 1  # partials merge, values never sort
    assert "Sort" not in plan


# --- x_etl_compact_small_files ----------------------------------------------


def test_compaction_reduces_file_count_without_shuffle(spark, sf_dir):
    DEFS["x_etl_compact_small_files"].fn(spark, sf_dir)
    base = scratch_dir("frag_" + os.path.basename(sf_dir.rstrip("/")))
    n_frag = len(glob.glob(os.path.join(base, "events", "*.parquet")))
    n_comp = len(glob.glob(os.path.join(base, "events_compacted", "*.parquet")))
    assert n_frag == 64
    assert n_comp == 1  # sf0.001 events ≪ 64 MiB target
    # the compaction read->coalesce->write pipeline is shuffle-free
    plan = _physical(
        spark.read.parquet(os.path.join(base, "events")).coalesce(1)
    )
    assert "Exchange" not in plan


# --- x_llm_vocab_topk -------------------------------------------------------


def test_vocab_topk_plan_partial_agg_and_heap(spark, sf_dir):
    plan = _physical(DEFS["x_llm_vocab_topk"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan  # top-k, no global sort
    assert plan.count("HashAggregate") >= 2  # map-side partial + final
    assert "BatchEvalPython" not in plan


def test_vocab_topk_counts_are_exact(spark, sf_dir):
    from tests.conftest import make_duck

    got = {
        r.token: r.freq for r in DEFS["x_llm_vocab_topk"].fn(spark, sf_dir).collect()
    }
    duck = make_duck(sf_dir)
    want = dict(
        duck.execute(
            "SELECT lower(t.tok), count(*) FROM documents,"
            " unnest(string_split(text,' ')) AS t(tok)"
            " WHERE t.tok <> '' GROUP BY 1"
        ).fetchall()
    )
    assert all(want[t] == f for t, f in got.items())


# --- x_etl_key_skew_profile -------------------------------------------------


def test_skew_profile_shares_and_factors(spark, sf_dir):
    rows = DEFS["x_etl_key_skew_profile"].fn(spark, sf_dir).collect()
    assert 0 < len(rows) <= 20
    assert sum(r.share for r in rows) <= 1.000001
    # counts are reported descending; skew factor is count/uniform
    cnts = [r.cnt for r in rows]
    assert cnts == sorted(cnts, reverse=True)
    for r in rows:
        assert r.skew_x > 0


# --- src_parquet_schema_evolution -------------------------------------------


def test_schema_evolution_null_pattern(spark, sf_dir):
    df = DEFS["src_parquet_schema_evolution"].fn(spark, sf_dir).cache()
    # v1 rows (even ids) have no event_type; v2 rows all do
    assert df.filter((F.col("event_id") % 2 == 0) & F.col("event_type").isNotNull()).count() == 0
    assert df.filter((F.col("event_id") % 2 == 1) & F.col("event_type").isNull()).count() == 0
    n = table(spark, sf_dir, "events").count()
    assert df.count() == n
    df.unpersist()


# --- x_etl_global_row_number ------------------------------------------------


def test_global_row_number_equals_single_partition_window(spark, sf_dir):
    from pyspark.sql import Window

    got = DEFS["x_etl_global_row_number"].fn(spark, sf_dir)
    naive = table(spark, sf_dir, "events").select(
        "event_id",
        F.row_number().over(Window.orderBy("ts", "event_id")).alias("global_rn"),
    )
    assert got.exceptAll(naive).count() == 0
    assert naive.exceptAll(got).count() == 0


def test_global_row_number_plan_is_range_partitioned(spark, sf_dir):
    # assert on the PRE-barrier stage: the operator checkpoints it (so
    # offsets and the rank join read one consistent boundary sampling),
    # which hides the shuffle from the final plan text
    from dataengineer_scripts_spark.operators.etl import _rownum_numbered

    plan = _physical(_rownum_numbered(spark, sf_dir))
    assert "rangepartitioning" in plan  # the sampled range shuffle
    assert "SinglePartition" not in plan  # window is pid-partitioned
    final = _physical(DEFS["x_etl_global_row_number"].fn(spark, sf_dir))
    # post-barrier: only the P-row offsets/total aggregates may funnel
    assert final.count("SinglePartition") <= 2
