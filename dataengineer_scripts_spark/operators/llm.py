"""LLM-training-data pipeline operators (SURVEY.md §2.9, driver north star):
deduplication (exact, n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine),
similarity search (brute-force cosine top-k; IVF scale path), and text
analysis (language-ID, quality scoring, token counting, fingerprinting) over
the ``documents`` / ``embeddings`` fixtures.

These have no counterpart in the reference (it contains no text/embedding
processing — /root/reference is 6 ETL scripts, SURVEY.md §0); they are the
north-star extension surface from BASELINE.json.

Design notes (100 TB posture):
- NO all-pairs cross joins anywhere.  Pair generation is always an
  inverted-index equi-join (shared shingle / shared LSH band / shared
  simhash chunk / shared IVF cell): only documents that could possibly be
  similar ever meet in a shuffle.  Bucket keys are uniform hashes → no skew.
- Higher-order-function expressions (transform/aggregate/zip_with) do NOT
  participate in whole-stage codegen AND get re-inlined by CollapseProject
  into every downstream reference — a 128-hash signature naively built with
  nested ``transform`` gets recomputed once per band.  So every expensive
  per-document artifact here is produced RELATIONALLY: explode to rows,
  hash-aggregate back (min/sum are codegen-friendly), and the Aggregate node
  doubles as a materialization barrier.  Measured on the fixture: the
  relational form is ~25× faster than the nested-HOF form.
- MinHash signatures: one shuffle (groupBy doc_id) with map-side partial
  aggregation of 128 ``min(xxhash64(shingle, i))`` columns.
- Exact-Jaccard verification of LSH candidates touches only the candidate
  pairs, never the corpus squared.
- The brute-force cosine top-k broadcasts the (small) query set and scans
  the corpus once, partition-parallel; the IVF variant prunes the scan to
  the probed cells and does the per-cell math vectorized in numpy via
  ``mapInPandas`` (Arrow batches) — the documented scale path.
- Every float the oracle compares is rounded in BOTH engines (sum order
  under parallelism differs in the last ulp); floats are cast to double
  BEFORE arithmetic on both sides so the math is bit-identical.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

# Module-level so `typing.get_type_hints` can resolve the stringified
# `pd.Series` annotations that `from __future__ import annotations` produces
# on pandas_udf signatures (PySpark's infer_eval_type resolves them against
# THIS module's globals — a function-local import raises UNSUPPORTED_SIGNATURE).
import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import register
from ..session_cache import session_shared as _session_shared
from ..tables import local_frame, rebalanced, table

# ---------------------------------------------------------------------------
# Shared text helpers (word 3-gram shingles)
# ---------------------------------------------------------------------------

SHINGLE_N = 3

#: DuckDB CTE producing (doc_id, s) = distinct word-3-gram shingles; the
#: SQL twin of :func:`_shingle_rows`.
_SQL_SHINGLES = """
    toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (
        SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
        FROM toks, unnest(generate_series(1, len(t) - 2)) AS r(i)
        WHERE len(t) >= 3
    )
"""

#: DuckDB CTE computing exact Jaccard for every pair sharing >= 1 shingle
#: (pairs sharing none have J = 0), built on _SQL_SHINGLES.
_SQL_PAIR_JACCARD = """
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    jac AS (
        SELECT doc_a, doc_b,
               c::DOUBLE / (sa.n + sb.n - c)::DOUBLE AS j
        FROM common
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
    )
"""


def _tri_shingle_array(text_col):
    """Word-3-gram array (with duplicates; tail entries null) built from
    ONE split + two slices + two zip_withs — all linear single passes, so
    even when Catalyst re-inlines the expression the cost stays O(tokens)
    per evaluation (element-indexing forms re-split the text per gram)."""
    toks = F.split(text_col, " ")
    n = F.size(toks)
    pair = F.zip_with(
        toks,
        F.slice(toks, 2, n - 1),
        lambda x, y: F.concat(x, F.lit(" "), y),
    )
    tri = F.zip_with(
        pair,
        F.slice(toks, 3, n - 2),
        lambda p, z: F.concat(p, F.lit(" "), z),
    )
    return F.when(n >= SHINGLE_N, tri).otherwise(F.array().cast("array<string>"))


# Session-scoped materialization cache for frames several REGISTERED
# queries recompute identically (the corpus shingle build, the near-dup
# pair list, the component labels): see ``session_cache`` — hoisted there
# in round 10 when bi.py's PageRank family grew the same need; imported
# at the top as ``_session_shared`` so the call sites below keep their
# name.


def _shingle_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (doc_id, h) shingle rows — h is the shingle's 64-bit
    xxhash64 identity.  The shingle STRING never enters a shuffle: hashing
    at explode time shrinks every downstream distinct/join key from a
    ~24-byte string to a long (64-bit identity collision over 10^7
    distinct shingles: ~3e-6 — below the minhash design error).  The
    ``distinct`` is BOTH the set semantics and a materialization barrier:
    everything downstream joins on plain attributes, never re-evaluating
    the shingle expression.  Shared once-per-session via
    ``_session_shared``: every shingle consumer (pair-gen, clusters,
    decontamination, source overlap, flagship) reads ONE materialized
    frame instead of re-exploding the corpus."""
    return _session_shared(
        spark,
        sf_dir,
        "shingles",
        # rebalanced: the corpus file may scan as one row-group split, and
        # the explode+hash+distinct-partial above it is the expensive side
        # — widen the input before the expansion (identity when the scan
        # is already cluster-wide).
        lambda: _shingle_rows_of(rebalanced(table(spark, sf_dir, "documents"))),
    )


def _shingle_rows_of(docs: DataFrame) -> DataFrame:
    """:func:`_shingle_rows` over a caller-supplied (possibly filtered)
    documents frame — the batch side of the incremental-index operators
    shingles ONLY the batch, never the corpus."""
    s = F.col("s")
    return (
        docs
        .select("doc_id", F.explode(_tri_shingle_array(F.col("text"))).alias("s"))
        .filter(s.isNotNull())
        .select("doc_id", F.xxhash64("s").alias("h"))
        .distinct()
    )


def _pair_jaccard(pairs: DataFrame, sh: DataFrame) -> DataFrame:
    """Exact Jaccard for candidate ``(doc_a, doc_b)`` pairs.  Joins only the
    candidates' shingle rows (candidate-linear, never corpus²): common
    count via a two-step equi-join, sizes via the per-doc counts."""
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "h")
    b = sh.select(F.col("doc_id").alias("doc_b"), "h")
    common = (
        pairs.join(a, "doc_a")
        .join(b, ["doc_b", "h"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("c"))
    )
    j = F.col("c").cast("double") / (
        (F.col("sa.n") + F.col("sb.n") - F.col("c")).cast("double")
    )
    return (
        common.join(sizes.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(sizes.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .select("doc_a", "doc_b", j.alias("j"))
    )


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


def _exact_text_buckets(df: DataFrame, aggs: dict[str, Column]) -> DataFrame:
    """Phase 1 of the two-phase exact dedup: group on ``xxhash64(text)``
    ALONE, so the corpus-wide exchange carries an 8-byte key plus the
    partial aggregates and never the text (keyed on raw text, a 100 TB
    corpus would ship ~its full text volume through the shuffle).  The
    text is consumed map-side by the hash and pruned before the exchange.
    Exposed separately from :func:`_exact_text_groups` so the plan guard
    can assert the exchange key on the pre-checkpoint lineage
    (``tests/test_plans.py``)."""
    return (
        df.withColumn("h", F.xxhash64("text"))
        .drop("text")
        .groupBy("h")
        .agg(
            F.count("*").alias("_n"),
            *[c.alias(n) for n, c in aggs.items()],
        )
    )


def _exact_text_groups(
    df: DataFrame, aggs: dict[str, Column], *, broadcast_dups: bool = True
) -> DataFrame:
    """Per-identical-text groups of ``df`` (which must carry ``text`` plus
    every column the ``aggs`` consume) without ever shuffling text
    corpus-wide — the two-phase hash-keyed form the r12 verdict asked to
    land (item 4):

    - phase 1 buckets on ``xxhash64(text)`` (8-byte exchange key, text
      pruned map-side) and is localCheckpoint'ed: both consumers below
      read the materialized buckets instead of re-aggregating the corpus;
    - single-member buckets ARE per-text groups (same text ⇒ same hash,
      so a unique hash is a unique text) and pass through;
    - multi-member buckets re-read the text for their rows only (a
      broadcast semi join on the duplicate-hash set — tiny relative to
      the corpus under any real duplicate rate; the web-scale fallback
      is dropping the hint and letting AQE pick the side) and regroup
      per ``(hash, text)``, so a 64-bit collision can never merge two
      distinct texts.  Text bytes shuffled are proportional to the
      DUPLICATE rows, not the corpus (measured flat per doc at 1x/3x/10x
      — scale_stress_r13_exact.json).

    The ``aggs`` mapping (output name → aggregate column) is applied in
    both phases, but phase-1 aggregate values are only EMITTED for
    single-member buckets — where the bucket is exactly one text group —
    while multi-member buckets recompute every aggregate from their raw
    rows.  Any aggregate (avg, sum, collect, …) is therefore correct
    here; no grouping-refinement-safety constraint applies (r13 ADVICE
    item 1).

    ``broadcast_dups=True`` (the default, right for any real duplicate
    rate at fixture scale) plants a broadcast hint on the duplicate-hash
    set; a web-scale caller facing a pathologically duplicate-heavy
    corpus can pass ``False`` to drop the hint and let AQE pick the
    join side instead of risking the broadcast ceiling (r13 ADVICE
    item 2)."""
    agg_cols = [c.alias(n) for n, c in aggs.items()]
    out = list(aggs)
    buckets = _exact_text_buckets(df, aggs).localCheckpoint()
    multi_h = buckets.filter(F.col("_n") > 1).select("h")
    if broadcast_dups:
        multi_h = F.broadcast(multi_h)
    dups = (
        df.withColumn("h", F.xxhash64("text"))
        .join(multi_h, "h", "semi")
        .groupBy("h", "text")
        .agg(*agg_cols)
        .select(*out)
    )
    return buckets.filter(F.col("_n") == 1).select(*out).unionByName(dups)


@register(
    "x_llm_dedup_exact",
    oracle="""
    SELECT min(doc_id) AS canonical_id, count(*) AS n_copies,
           min(n_chars) AS n_chars
    FROM documents GROUP BY text
    """,
)
def x_llm_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: per-identical-text groups, lowest doc_id canonical —
    via the two-phase hash-keyed form (:func:`_exact_text_groups`): the
    corpus-wide exchange keys on ``xxhash64(text)`` and carries no text;
    only multi-member hash buckets re-read and regroup on the text
    itself, so the result is collision-exact while the text bytes
    shuffled stay proportional to the duplicate rows."""
    return _exact_text_groups(
        table(spark, sf_dir, "documents").select("doc_id", "text", "n_chars"),
        {
            "canonical_id": F.min("doc_id"),
            "n_copies": F.count("*"),
            "n_chars": F.min("n_chars"),
        },
    )


#: Hot-shingle cap for candidate generation: a shingle present in more than
#: max(HOT_SHINGLE_MIN_DF, HOT_SHINGLE_FRACTION × corpus) documents is
#: boilerplate — it carries ~no dedup signal but produces a quadratic
#: candidate blowup on a single shuffle key.  The absolute floor keeps the
#: cap inert on small fixtures (oracle equality holds); the fraction is the
#: 100 TB lever.
HOT_SHINGLE_MIN_DF = 100
HOT_SHINGLE_FRACTION = 0.001


def _hot_shingle_keys(sh: DataFrame, n_docs: DataFrame) -> DataFrame:
    """The (few) shingles whose document frequency exceeds the cap.
    ``n_docs`` is a 1-row frame with column ``n_docs`` (kept relational —
    no driver-side count).  By construction this set is tiny (each member
    appears in >0.1% of the corpus, so there are < 1000/0.1% of them) —
    always broadcastable."""
    cap = F.greatest(
        F.lit(HOT_SHINGLE_MIN_DF),
        F.ceil(F.lit(HOT_SHINGLE_FRACTION) * F.col("n_docs")),
    )
    return (
        sh.groupBy("h")
        .agg(F.count("*").alias("df"))
        .join(F.broadcast(n_docs))
        .filter(F.col("df") > cap)
        .select("h")
    )


@register(
    "x_llm_dedup_ngram_jaccard",
    oracle=f"""
    WITH {_SQL_SHINGLES},
    {_SQL_PAIR_JACCARD}
    SELECT doc_a, doc_b, round(j, 6) AS jaccard FROM jac WHERE j >= 0.5
    """,
)
def x_llm_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram Jaccard near-dup pairs (J >= 0.5) via an inverted-index
    self-join on shingles: only docs sharing >= 1 shingle ever pair up
    (zero-overlap pairs have J = 0 by definition) — never an n² cross join.
    The common-shingle count is aggregated DIRECTLY off the self-join (one
    shuffle on the pair key) — a distinct-candidates + re-join formulation
    costs ~4× on the fixture.

    Skew mitigation (the 100 TB lever): the self-join runs over COLD
    shingles only — hot boilerplate shingles (document frequency above the
    ``_hot_shingle_keys`` cap) are removed by a **broadcast anti-join**
    (narrow, no extra shuffle) because one ubiquitous shingle would pile a
    quadratic candidate set onto a single shuffle key.  Reported J values
    stay EXACT: the hot shingles' contribution to each surviving pair's
    common count is added back by a candidate-linear join against the hot
    shingle rows (each doc holds few hot shingles), and sizes always count
    the full shingle set.

    Recall is ALSO exact, in two cases.  A pair invisible to the cold
    self-join shares only hot shingles, so its intersection is at most
    ``min(hot_a, hot_b)`` — for it to reach J ≥ 0.5 BOTH docs must be
    template-dominated (cold shingles ≤ half their set).  Those docs are
    routed through a completion pass: mostly-hot docs pair via their hot
    shingle rows and get full-set Jaccard via ``_pair_jaccard``.  The
    completion join's size is governed by the template-class sizes, and
    every pair it emits is (near-)real output rather than skew waste —
    exact template COPIES should still be collapsed by
    ``x_llm_dedup_exact`` first at scale, since their pair set is
    inherently quadratic in the class size.  On the fixture the cap is
    inert and output equals the exact all-pairs oracle."""
    return _jaccard_pairs_shared(spark, sf_dir)


def _jaccard_pairs_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The J >= 0.5 pair frame, session-shared like the shingle frame:
    the dedup operator, the dup-graph degree rollup (and any future
    pair consumer) read ONE materialized pair list instead of re-running
    the inverted-index self-join per query."""
    return _session_shared(
        spark,
        sf_dir,
        "jaccard_pairs",
        lambda: _ngram_jaccard_pairs(spark, sf_dir, _shingle_rows(spark, sf_dir)),
    )


def _overlap_counts(spark: SparkSession, sf_dir: str, sh: DataFrame):
    """Skew-capped pairwise shingle-overlap machinery shared by the
    Jaccard and containment operators: returns ``(common, sizes, cold,
    hot_sh)`` where ``common`` is (doc_a < doc_b, c_cold, c_hot) for
    every pair sharing >= 1 COLD shingle (exact overlap counts — the hot
    contribution is added back candidate-linearly), ``sizes`` is the
    FULL per-doc shingle count, and ``cold``/``hot_sh`` are the
    cold/hot shingle row splits for the metric-specific completion
    passes."""
    n_docs = table(spark, sf_dir, "documents").agg(F.count("*").alias("n_docs"))
    hot = _hot_shingle_keys(sh, n_docs)
    cold = sh.join(F.broadcast(hot), "h", "left_anti")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))  # FULL sizes

    a = cold.select(F.col("doc_id").alias("doc_a"), "h")
    b = cold.select(F.col("doc_id").alias("doc_b"), "h")
    cold_common = (
        a.join(b, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("c_cold"))
    )

    # Hot-shingle correction: per candidate pair, how many hot shingles both
    # docs contain.  hot_sh is (doc, hot shingle) rows — candidate-linear
    # (few hot shingles per doc), keyed by doc ids, never by the hot key.
    hot_sh = sh.join(F.broadcast(hot), "h")
    ah = hot_sh.select(F.col("doc_id").alias("doc_a"), "h")
    bh = hot_sh.select(F.col("doc_id").alias("doc_b"), "h")
    hot_common = (
        cold_common.select("doc_a", "doc_b")
        .join(ah, "doc_a")
        .join(bh, ["doc_b", "h"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("c_hot"))
    )
    common = cold_common.join(hot_common, ["doc_a", "doc_b"], "left").withColumn(
        "c_hot", F.coalesce("c_hot", F.lit(0))
    )
    return common, sizes, cold, hot_sh


def _ngram_jaccard_pairs(
    spark: SparkSession, sf_dir: str, sh: DataFrame
) -> DataFrame:
    """Body of :func:`x_llm_dedup_ngram_jaccard` over a caller-supplied
    shingle frame, so a pipeline that needs shingles for several stages
    (``flagship_curation``: pair-gen + decontamination) builds them ONCE
    and shares the materialized frame."""
    common, sizes, cold, hot_sh = _overlap_counts(spark, sf_dir, sh)

    c = F.col("c_cold") + F.col("c_hot")
    j = c.cast("double") / ((F.col("sa.n") + F.col("sb.n") - c).cast("double"))
    via_cold = (
        common.join(sizes.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(sizes.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .filter(j >= 0.5)
        .select("doc_a", "doc_b", F.round(j, 6).alias("jaccard"))
    )

    # Completion pass (recall): pairs whose ENTIRE overlap is hot never met
    # in the cold self-join, and can reach J >= 0.5 only when both docs are
    # template-dominated (cold <= half the shingle set).  Pair exactly those
    # docs through their hot shingle rows, drop pairs the cold route already
    # produced, and compute full-set Jaccard candidate-linearly.  Empty
    # whenever the cap is inert (no hot shingles -> no mostly-hot docs).
    # qualifying count off the HOT rows (n_hot*2 >= n ⟺ n_cold*2 <= n):
    # hot-row-sized instead of a corpus-sized cold-row aggregate, so the
    # completion costs ~nothing when the cap is inert
    hot_n = hot_sh.groupBy("doc_id").agg(F.count("*").alias("n_hot"))
    mostly_hot_docs = (
        sizes.join(hot_n, "doc_id")
        .filter(F.col("n_hot") * 2 >= F.col("n"))
        .select("doc_id")
    )
    mh_sh = hot_sh.join(mostly_hot_docs, "doc_id")
    extra_pairs = (
        mh_sh.select(F.col("doc_id").alias("doc_a"), "h")
        .join(mh_sh.select(F.col("doc_id").alias("doc_b"), "h"), "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
        .join(common.select("doc_a", "doc_b"), ["doc_a", "doc_b"], "left_anti")
    )
    via_hot = (
        _pair_jaccard(extra_pairs, sh)
        .filter(F.col("j") >= 0.5)
        .select("doc_a", "doc_b", F.round("j", 6).alias("jaccard"))
    )
    return via_cold.unionByName(via_hot)


#: Containment report floor: fraction of the inner doc's shingles that
#: must appear in the outer doc.
CONTAINMENT_THRESHOLD = 0.8


@register(
    "x_llm_dedup_containment",
    oracle=f"""
    WITH {_SQL_SHINGLES},
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a AS doc_inner, doc_b AS doc_outer,
           round(c::DOUBLE / sa.n, 6) AS containment
    FROM common JOIN sizes sa ON doc_a = sa.doc_id
    WHERE c::DOUBLE / sa.n >= {CONTAINMENT_THRESHOLD}
    UNION ALL
    SELECT doc_b, doc_a, round(c::DOUBLE / sb.n, 6)
    FROM common JOIN sizes sb ON doc_b = sb.doc_id
    WHERE c::DOUBLE / sb.n >= {CONTAINMENT_THRESHOLD}
    """,
)
def x_llm_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle containment pairs: (inner, outer) where >= 80% of the
    inner document's shingles appear in the outer — the asymmetric
    near-dup signal Jaccard structurally misses (a paragraph quoted
    inside a long article has C ≈ 1 but J ≈ |inner|/|outer| ≈ 0), and
    the standard complement to Jaccard in text-corpus dedup (Broder's
    containment measure): drop or down-weight the inner copy, keep the
    container.

    Reuses the skew-capped overlap machinery (``_overlap_counts``):
    exact common counts for every pair sharing a cold shingle, hot
    contribution added back candidate-linearly, evaluated in BOTH
    directions off one (doc_a < doc_b) frame — PLUS a completion pass
    (mirroring the Jaccard sibling's via_hot route) so the operator
    matches the exact all-pairs oracle even when the hot-shingle cap
    activates: a pair invisible to the cold route shares ONLY hot
    shingles, and its inner doc at C >= 0.8 must itself be >= 80% hot
    shingles (every cold inner shingle is guaranteed non-overlap), so
    exactly those mostly-hot docs are re-paired through the hot rows
    against ALL hot-shingle holders, anti-joined against the cold
    route's pairs, and scored with exact candidate-linear counts.  The
    completion is near-output-sized (every template holder genuinely
    contains the template) and empty whenever the cap is inert — which
    it is on every fixture SF swept."""
    sh = _shingle_rows(spark, sf_dir)
    common, sizes, _cold, _hot_sh = _overlap_counts(spark, sf_dir, sh)
    c = (F.col("c_cold") + F.col("c_hot")).cast("double")
    with_sizes = common.join(
        sizes.alias("sa"), F.col("doc_a") == F.col("sa.doc_id")
    ).join(sizes.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
    fwd = (
        with_sizes.filter(c / F.col("sa.n") >= CONTAINMENT_THRESHOLD)
        .select(
            F.col("doc_a").alias("doc_inner"),
            F.col("doc_b").alias("doc_outer"),
            F.round(c / F.col("sa.n"), 6).alias("containment"),
        )
    )
    rev = (
        with_sizes.filter(c / F.col("sb.n") >= CONTAINMENT_THRESHOLD)
        .select(
            F.col("doc_b").alias("doc_inner"),
            F.col("doc_a").alias("doc_outer"),
            F.round(c / F.col("sb.n"), 6).alias("containment"),
        )
    )

    # Completion pass: candidate inners are docs that can reach C >= T
    # through hot shingles alone, i.e. n_hot >= T*n (equivalently
    # n_cold <= (1-T)*n — counted off the HOT rows, not the cold rows,
    # so the qualifying aggregate is hot-row-sized: near-empty when the
    # cap is inert instead of a corpus-sized cold-row count); outers are
    # any hot-shingle holders.  Anti-join removes pairs the cold route
    # already scored.
    hot_n = _hot_sh.groupBy("doc_id").agg(F.count("*").alias("n_hot"))
    mostly_hot = (
        sizes.join(hot_n, "doc_id")
        .filter(
            F.col("n_hot").cast("double") >= CONTAINMENT_THRESHOLD * F.col("n")
        )
        .select("doc_id")
    )
    inner_h = _hot_sh.join(mostly_hot, "doc_id").select(
        F.col("doc_id").alias("doc_inner"), "h"
    )
    cand = (
        inner_h.join(
            _hot_sh.select(F.col("doc_id").alias("doc_outer"), "h"), "h"
        )
        .filter(F.col("doc_inner") != F.col("doc_outer"))
        .select("doc_inner", "doc_outer")
        .distinct()
        .withColumn("_lo", F.least("doc_inner", "doc_outer"))
        .withColumn("_hi", F.greatest("doc_inner", "doc_outer"))
        .join(
            common.select(
                F.col("doc_a").alias("_lo"), F.col("doc_b").alias("_hi")
            ),
            ["_lo", "_hi"],
            "left_anti",
        )
        .drop("_lo", "_hi")
    )
    si = sh.select(F.col("doc_id").alias("doc_inner"), "h")
    so = sh.select(F.col("doc_id").alias("doc_outer"), "h")
    cnt = (
        cand.join(si, "doc_inner")
        .join(so, ["doc_outer", "h"])
        .groupBy("doc_inner", "doc_outer")
        .agg(F.count("*").alias("c"))
    )
    ci = F.col("c").cast("double") / F.col("si.n").cast("double")
    via_hot = (
        cnt.join(sizes.alias("si"), F.col("doc_inner") == F.col("si.doc_id"))
        .filter(ci >= CONTAINMENT_THRESHOLD)
        .select("doc_inner", "doc_outer", F.round(ci, 6).alias("containment"))
    )
    return fwd.unionByName(rev).unionByName(via_hot)


#: MinHash/LSH geometry: 128 hashes in 32 bands of 4 rows.  At the J=0.8
#: output threshold the probability a true pair shares NO band is
#: (1 - 0.8^4)^32 ≈ 5e-8 — effectively exact after verification.
MINHASH_HASHES = 128
MINHASH_BANDS = 32
MINHASH_ROWS = 4
MINHASH_THRESHOLD = 0.8


@register(
    "x_llm_dedup_minhash",
    oracle=f"""
    WITH {_SQL_SHINGLES},
    {_SQL_PAIR_JACCARD}
    SELECT doc_a, doc_b, round(j, 6) AS jaccard
    FROM jac WHERE j >= {MINHASH_THRESHOLD}
    """,
)
def x_llm_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + banded LSH near-dup detection (J >= 0.8), exact-verified.

    Pipeline: shingle rows → 128-permutation minhash signature as ONE
    hash aggregate (``min(xxhash64(s, i))`` per i — map-side partials, one
    shuffle, full codegen; ``xxhash64(s, i)`` is the i-th hash family
    member) → 32 band keys hashed straight from 4 signature columns each →
    explode → equi-self-join on (band_id, band_key) → distinct candidate
    pairs → EXACT Jaccard verification on just those pairs → threshold.

    The oracle is the exact all-pairs answer: with (32 bands × 4 rows) the
    miss probability at J >= 0.8 is ~5e-8, and verification removes every
    false positive, so LSH output ≡ exact output.

    Hash family: member i is ``xxhash64(h, i)`` — the shingle STRING is
    hashed once at explode time (``_shingle_rows``), and the 128 family
    members are long-input rehashes of that 64-bit identity, all
    whole-stage codegen inside the aggregate.  The members must be
    INDEPENDENT hashes, not a Kirsch–Mitzenmacher linear family
    ``h1 + i*h2``: under a linear family the argmin of a small shingle set
    follows the lower envelope of n lines across i — adjacent family
    members become highly correlated, entire bands agree/disagree
    together, and measured recall at sf0.1 dropped to ~99% (3 of 256 true
    J>=0.8 pairs missed) vs the ~5e-8 theoretical miss rate that
    independent members (this formulation) restore.

    Measured (r11 scale stress, BASELINE.md round-11 addendum): 28x
    wall at 30x corpus with exactly-30x output pairs — the per-doc
    128-hash signature build is inherently linear and dominates; no
    superlinear pair blow-up at any measured scale."""
    sh = _shingle_rows(spark, sf_dir)
    sig = sh.groupBy("doc_id").agg(
        *[
            F.min(F.xxhash64("h", F.lit(i))).alias(f"h{i}")
            for i in range(MINHASH_HASHES)
        ]
    )
    band_structs = F.array(
        *[
            F.struct(
                F.lit(j).alias("band_id"),
                F.xxhash64(
                    *[f"h{j * MINHASH_ROWS + r}" for r in range(MINHASH_ROWS)]
                ).alias("band_key"),
            )
            for j in range(MINHASH_BANDS)
        ]
    )
    bands = sig.select("doc_id", F.explode(band_structs).alias("band")).select(
        "doc_id", "band.band_id", "band.band_key"
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(b, ["band_id", "band_key"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    return (
        _pair_jaccard(cand, sh)
        .filter(F.col("j") >= MINHASH_THRESHOLD)
        .select("doc_a", "doc_b", F.round("j", 6).alias("jaccard"))
    )


SIMHASH_BITS = 64
#: 4 chunks × 16 bits: pigeonhole covers Hamming distance <= 3.  The chunk
#: width is the scale lever — 8-bit chunks (d <= 7) collide a random corpus
#: into only 256 values per chunk, i.e. ~n²/32 candidate pairs (quadratic);
#: 16-bit chunks cut candidates ×512 and d <= 3 still catches real
#: near-duplicates (exact dups are d = 0).  Measured at sf0.1: 8.6 s → ~2 s.
SIMHASH_CHUNKS = 4
SIMHASH_CHUNK_BITS = 16
SIMHASH_MAX_HAMMING = SIMHASH_CHUNKS - 1
#: Packed vote sums (``_simhash_sig``) stay carry-free below 2^31 tokens
#: per document; a longer document fails rather than mis-sign.
SIMHASH_MAX_DOC_TOKENS = (1 << 31) - 1


def _simhash_sig(th: DataFrame, bits: int) -> DataFrame:
    """(doc_id, h) token-hash rows → (doc_id, sig, n): the per-bit
    majority-vote SimHash signature — ONE hash aggregate (count plus
    ``bits/2`` PACKED vote sums riding the same shuffle) and a
    pure-codegen shift/OR assembly Project above it.  Votes for bits k
    and k+bits/2 share one 64-bit sum (low/high 32-bit halves): the
    per-row term is ``((h>>k)&1) + (((h>>(k+half))&1) << 32)``, so the
    summed low half is exactly bit k's vote count and the high half bit
    (k+half)'s — carry-free while a document has < 2^31 tokens; past
    ``SIMHASH_MAX_DOC_TOKENS`` the high half would overflow the signed
    sum and the low half could carry into it, so such a document raises
    instead of getting a silently wrong signature.  Packing
    halves the aggregation-state width and the map-side partial rows the
    shuffle carries (65 → 33 columns for the 64-bit op — guide §5/§2.3).
    The kernel is shared by the production xxhash64 op and its md5
    oracle companion (which differ only in hash function and bit width);
    ``shiftright`` is arithmetic, so bit k of a NEGATIVE 64-bit hash
    extracts correctly for k ≤ 63, and the packed sums are sums of
    non-negative terms so their own shiftright-32 extraction is exact —
    fuzzed against a pure-Python majority vote, negative hashes and the
    bit-63 sign edge included, in ``tests/test_properties.py``."""
    assert bits % 2 == 0, bits
    half = bits // 2
    votes = th.groupBy("doc_id").agg(
        F.count("*").alias("n"),
        *[
            F.sum(
                F.shiftright("h", k).bitwiseAND(F.lit(1))
                + F.shiftleft(
                    F.shiftright("h", k + half).bitwiseAND(F.lit(1)), 32
                )
            ).alias(f"p{k}")
            for k in range(half)
        ],
    )

    def vote_count(k: int):  # 1-votes of bit k out of its packed sum
        if k < half:
            return F.col(f"p{k}").bitwiseAND(F.lit(0xFFFFFFFF))
        return F.shiftright(F.col(f"p{k - half}"), 32)

    bit = lambda k: (  # noqa: E731
        F.when(2 * vote_count(k) > F.col("n"), F.lit(1).cast("long"))
        .otherwise(F.lit(0).cast("long"))
    )
    sig_expr = bit(0)
    for k in range(1, bits):
        sig_expr = sig_expr.bitwiseOR(F.shiftleft(bit(k), k))
    sig = F.when(
        F.col("n") > SIMHASH_MAX_DOC_TOKENS,
        F.raise_error(
            F.format_string(
                "simhash: document %d has %d tokens, over the packed-vote "
                f"limit of {SIMHASH_MAX_DOC_TOKENS}",
                "doc_id",
                "n",
            )
        ),
    ).otherwise(sig_expr)
    return votes.select("doc_id", sig.alias("sig"), "n")


@register(
    "x_llm_dedup_simhash",  # xxhash64-derived → no cross-engine oracle
    why_no_oracle="xxhash64 has no DuckDB twin",
    gate="hash-matched md5-60-bit companion `x_llm_simhash_signature` "
         "attests the banding/Hamming "
         "math end-to-end",
)
def x_llm_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (Hamming distance <= 3 over a 64-bit simhash).

    Relational formulation: tokens explode to (doc_id, xxhash64(token))
    rows → ONE hash aggregate computes the 64 per-bit majority votes
    (``sum(shiftright(h, k) & 1)`` per bit, plus count) → the signature is
    assembled into a SINGLE long in a Project above the Aggregate (bitwise
    shift+OR — no arithmetic, no ANSI overflow).  Blocking: by pigeonhole,
    signatures within Hamming distance 3 share at least one of 4 16-bit
    chunks → candidate join on (chunk_id, chunk_val); the true distance is
    then ONE codegen expression, ``bit_count(sig_a XOR sig_b)``, evaluated
    BEFORE the pair-distinct so the dedup shuffle only carries surviving
    pairs.  (The earlier array-of-chunks + per-pair fold formulation cost
    an interpreted HOF per candidate row — ~20× slower on the fixture;
    8-bit chunks made candidate generation quadratic, see SIMHASH_CHUNKS.)
    Rows-only driver check (xxhash64 has no DuckDB twin); the local pytest
    asserts it finds the corpus' exact duplicates.  Scale-measured: 2.8 s
    at 1x documents vs 4.3 s at 10x (exponent 0.18,
    `scale_stress_r13_graph.json`) — candidate volume stays linear under
    the 16-bit chunk banding."""
    th = (
        rebalanced(table(spark, sf_dir, "documents"))
        .select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .select("doc_id", F.xxhash64("w").alias("h"))
    )
    signed = _simhash_sig(th, SIMHASH_BITS).select("doc_id", "sig")
    chunks = signed.select(
        "doc_id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_id"),
                        F.shiftright("sig", c * SIMHASH_CHUNK_BITS)
                        .bitwiseAND(F.lit((1 << SIMHASH_CHUNK_BITS) - 1))
                        .alias("chunk_val"),
                    )
                    for c in range(SIMHASH_CHUNKS)
                ]
            )
        ).alias("ch"),
    ).select("doc_id", "sig", "ch.chunk_id", "ch.chunk_val")
    a, b = chunks.alias("a"), chunks.alias("b")
    hamming = F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig")))
    return (
        a.join(b, ["chunk_id", "chunk_val"])
        .filter(
            (F.col("a.doc_id") < F.col("b.doc_id"))
            & (hamming <= SIMHASH_MAX_HAMMING)
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .distinct()
    )


#: Companion-signature geometry: 60 bits so the token hash fits a SIGNED
#: BIGINT in both engines (15 hex chars of md5 < 2^60 — the same md5-prefix
#: trick as ``x_etl_shard_assign``, widened from 6 to 15 chars).
SIMHASH_CO_BITS = 60


@register(
    "x_llm_simhash_signature",
    oracle=f"""
    WITH th AS (
        SELECT doc_id, ('0x' || substr(md5(w), 1, 15))::BIGINT AS h
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
              FROM documents)
    ),
    bits AS (
        SELECT doc_id, b.b,
               CASE WHEN 2 * sum((h >> b.b) & 1) > count(*)
                    THEN 1::BIGINT ELSE 0::BIGINT END AS bit,
               count(*) AS n
        FROM th, (SELECT unnest(generate_series(0, {SIMHASH_CO_BITS - 1}))
                  AS b) b
        GROUP BY doc_id, b.b
    )
    SELECT doc_id,
           sum(bit * (1::BIGINT << b))::BIGINT AS sig,
           min(n)::BIGINT AS n_tokens
    FROM bits GROUP BY doc_id
    """,
)
def x_llm_simhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked companion of ``x_llm_dedup_simhash``: the SAME
    signature plan — token explode → ONE hash aggregate of per-bit
    majority votes → signature assembled in a Project above it — but with
    a 60-bit md5-prefix token hash both engines can compute bit-for-bit,
    where the production op's ``xxhash64`` has no DuckDB twin and forces
    a rows-only driver check.  A hash-matched driver row here attests the
    family's whole relational shape (explode fan-out, vote aggregate,
    shift/or assembly); only the hash function differs, and SimHash's
    guarantees are hash-family-independent.

    Same scale posture as the production op: the explode is map-side, the
    votes are ONE hash aggregate on doc_id (60 sum columns ride the same
    shuffle), the signature assembly is pure codegen — per-doc cost is
    O(tokens × bits) scan-side work, nothing data-sized is ever joined."""
    th = (
        rebalanced(table(spark, sf_dir, "documents"))
        .select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .select(
            "doc_id",
            F.conv(F.substring(F.md5("w"), 1, 15), 16, 10)
            .cast("bigint")
            .alias("h"),
        )
    )
    return _simhash_sig(th, SIMHASH_CO_BITS).select(
        "doc_id", "sig", F.col("n").cast("bigint").alias("n_tokens")
    )


# ---------------------------------------------------------------------------
# Embedding similarity
# ---------------------------------------------------------------------------


def _normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, e): L2-normalized array<double> embeddings.  Floats are cast
    to double BEFORE arithmetic so the math matches the DuckDB oracle
    bit-for-bit.  No materialization barrier: CollapseProject may re-inline
    the normalization into downstream expressions, but it is a linear O(dim)
    pass per row — re-evaluation is strictly cheaper than the full-corpus
    shuffle a repartition barrier would cost at scale (every consumer either
    broadcasts this side or shuffles it exactly once on its own key).

    Degenerate-norm convention (corpus fuzz, r17): any vector whose norm
    is not a positive FINITE double — the all-zero vector (norm 0),
    corrupt embeddings carrying NaN/Inf components (norm NaN/Inf), and
    embeddings carrying NULL elements (norm NULL: the fold propagates
    NULL; the oracle's explicit any-NULL test mirrors it, r17 ADVICE) —
    normalizes to the ZERO vector: cosine exactly 0.0 with everything —
    below every positive threshold, though still above negative cosines
    (the fuzz's antipodal probes score −1.0), so it is out of every
    near-dup pairing but not literally last in a ranking.  Without
    the guard, ANSI Spark throws on x/0 while DuckDB yields NULL
    elements, and NaN propagates with per-consumer semantics (numpy GEMM
    vs SQL sums vs NaN-is-greatest comparisons) — the NaN/Inf probe broke
    11 of 15 similarity ops before this convention.  The ``0 < norm <
    inf`` test evaluates identically in both engines (both order NaN
    above every value, so ``NaN < inf`` is false in each).  The CASE
    short-circuits, so the division never evaluates on degenerate rows —
    and it sits OUTSIDE the transform (one norm test per ROW, mirroring
    the oracle's CASE-around-list_transform): a per-ELEMENT guard would
    add a second re-inlined reference to the norm aggregate inside every
    lambda element, which measured ~1.5-2× wall on every consumer."""
    d = F.transform("embedding", lambda x: x.cast("double"))
    df = table(spark, sf_dir, "embeddings").select("vec_id", d.alias("d"))
    norm = F.sqrt(F.aggregate("d", F.lit(0.0), lambda acc, x: acc + x * x))
    return df.select(
        "vec_id",
        F.when(
            (norm > 0) & (norm < F.lit(float("inf"))),
            F.transform("d", lambda x: x / norm),
        )
        .otherwise(F.array_repeat(F.lit(0.0), F.size("d")))
        .alias("e"),
    )


#: DuckDB twin of _normalized (+ the element-wise dot used in oracles).
#: Mirrors the degenerate-norm convention: a zero/NaN/Inf norm (empty or
#: corrupt embedding) normalizes to the zero vector — the 0 < nrm < inf
#: test evaluates identically in both engines (NaN orders above inf).
#: NULL elements (r17 ADVICE): Spark's fold propagates a NULL element
#: into a NULL norm (→ zero-vector branch), but DuckDB's list_sum
#: IGNORES NULLs — the explicit any-NULL test below forces nrm to NULL
#: so both engines sanitize a NULL-carrying embedding to the zero
#: vector, same as NaN/Inf corruption.
_SQL_NORMED = """
    normed AS (
        SELECT vec_id,
               CASE WHEN nrm > 0 AND nrm < 'infinity'::DOUBLE
                    THEN list_transform(embedding, x -> x::DOUBLE / nrm)
                    ELSE list_transform(embedding, x -> 0.0::DOUBLE)
               END AS e
        FROM (
            SELECT vec_id, embedding,
                   CASE WHEN len(list_filter(embedding, y -> y IS NULL)) > 0
                        THEN NULL
                        ELSE sqrt(list_sum(list_transform(embedding,
                             y -> y::DOUBLE * y::DOUBLE)))
                   END AS nrm
            FROM embeddings
        )
    )
"""

EMBED_DUP_THRESHOLD = 0.35
#: P×P upper-triangle grid: each vector is shipped to P cells (its row
#: block paired with every column block, canonicalized to min/max), so the
#: shuffle moves P corpus volumes — vs. full B-side replication (one corpus
#: volume per block) in the naive A-blocked layout.
EMBED_GRID = 8


@register(
    "x_llm_dedup_embed",
    oracle=f"""
    WITH {_SQL_NORMED}
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_sum(list_transform(generate_series(1, len(a.e)),
                 i -> a.e[i] * b.e[i])), 6) AS cosine
    FROM normed a JOIN normed b ON a.vec_id < b.vec_id
    WHERE round(list_sum(list_transform(generate_series(1, len(a.e)),
          i -> a.e[i] * b.e[i])), 6) >= {EMBED_DUP_THRESHOLD}
    """,
)
def x_llm_dedup_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cosine >= 0.35 — the fixture
    embeddings are near-orthogonal, max pairwise cosine ≈ 0.51).

    Exact all-pairs (the oracle demands exactness) as an UPPER-TRIANGLE
    BLOCKED MATRIX MULTIPLY, never a row-level theta join: vectors are
    hashed into P=8 row blocks; cell (i, j), i <= j, receives blocks i and
    j and computes their cross GEMM in numpy over Arrow batches
    (``applyInPandas``; the diagonal cell computes its own triangle).  Each
    vector ships to exactly P cells — P corpus volumes through the
    shuffle, vs. one volume *per block* when the whole B side is
    replicated to every A block (measured ~2× faster end-to-end at sf0.1),
    and each unordered pair lands in exactly one cell, so no distinct.
    Memory bound per task: 2n/P vectors — smaller than a broadcast
    envelope.  At 100 TB the IVF/LSH blocking of ``x_llm_ann_ivf``
    replaces exhaustive pairing — same math, pruned pair generation
    (measured, r11 scale stress: this op walks its quadratic asymptote
    by design — 59x wall at 30x corpus — while ann_ivf/ann_lsh stay
    flat at 2-2.5 s across 1x-30x; BASELINE.md round-11 addendum).  The
    cosine is rounded to 6 decimals BEFORE thresholding on both engines:
    GEMM summation order differs from DuckDB's sequential list_sum fold,
    so an unrounded compare could flip membership of a pair within 1 ulp
    of the threshold."""
    e = _normalized(spark, sf_dir)
    p = EMBED_GRID
    cells = e.select(
        "vec_id",
        "e",
        F.pmod("vec_id", F.lit(p)).alias("blk"),
        F.explode(F.sequence(F.lit(0), F.lit(p - 1))).alias("j"),
    ).select(
        "vec_id",
        "e",
        "blk",
        F.least("blk", "j").alias("ci"),
        F.greatest("blk", "j").alias("cj"),
    )

    def _pairs_frame(ids_a, ids_b, cos):
        lo = np.minimum(ids_a, ids_b)
        hi = np.maximum(ids_a, ids_b)
        keep = lo < hi  # drop self-pairs; orient as (min, max)
        return pd.DataFrame(
            {"id_a": lo[keep], "id_b": hi[keep], "cosine": cos[keep]}
        )

    def cell_pairs(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        i, j = key
        if i == j:  # diagonal cell: triangle within one block
            ids = pdf["vec_id"].to_numpy()
            m = np.vstack(pdf["e"].to_numpy())
            cos = np.round(m @ m.T, 6)  # round BEFORE threshold (docstring)
            ia, ib = np.where(np.triu(cos >= EMBED_DUP_THRESHOLD, k=1))
            return _pairs_frame(ids[ia], ids[ib], cos[ia, ib])
        a = pdf[pdf["blk"] == i]
        b = pdf[pdf["blk"] == j]
        if a.empty or b.empty:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cosine": "float64"}
            )
        am = np.vstack(a["e"].to_numpy())
        bm = np.vstack(b["e"].to_numpy())
        cos = np.round(am @ bm.T, 6)
        ia, ib = np.where(cos >= EMBED_DUP_THRESHOLD)
        return _pairs_frame(
            a["vec_id"].to_numpy()[ia], b["vec_id"].to_numpy()[ib], cos[ia, ib]
        )

    return cells.groupBy("ci", "cj").applyInPandas(
        cell_pairs, "id_a long, id_b long, cosine double"
    )


KNN_K = 5
KNN_N_QUERIES = 10


@register(
    "x_llm_knn_cosine",
    oracle=f"""
    WITH {_SQL_NORMED},
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               round(list_sum(list_transform(generate_series(1, len(q.e)),
                     i -> q.e[i] * c.e[i])), 6) AS cosine
        FROM normed q JOIN normed c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < {KNN_N_QUERIES}
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        FROM scored)
    WHERE rank <= {KNN_K}
    """,
)
def x_llm_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: for each query vector (vec_id < 10) the 5
    nearest corpus vectors.  The tiny query matrix is collected driver-side
    and closed over by ONE narrow ``mapInPandas`` pass (the model-broadcast
    pattern): each Arrow batch computes its corpus-slice × queries GEMM and
    keeps a partition-local top-k, then a final window ranks the tiny union
    of partials.  The corpus is scanned once and never joined or shuffled —
    only (partitions × queries × k) partial rows move.  (The earlier
    broadcast-join + per-row HOF dot ran the 64-mult fold interpreted per
    candidate row: 5.8 s at sf0.1 vs ~1 s for this form.)  Ranking is on
    the ROUNDED cosine with neighbor_id tiebreak so the order is
    deterministic in both engines.  Scale path: x_llm_ann_ivf (adds cell
    pruning to the same shape)."""
    e = _normalized(spark, sf_dir)
    qrows = sorted(
        e.filter(F.col("vec_id") < KNN_N_QUERIES).collect(), key=lambda r: r.vec_id
    )
    qids = np.array([r.vec_id for r in qrows])
    qmat = np.array([r.e for r in qrows])  # Q×dim — the broadcast "model"

    def topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            ce = np.vstack(pdf["e"].to_numpy())
            ids = pdf["vec_id"].to_numpy()
            cos = np.round(ce @ qmat.T, 6)  # corpus-slice × queries
            out = []
            for j, qid in enumerate(qids):
                mask = ids != qid  # exclude self-match
                order = np.lexsort((ids[mask], -cos[mask, j]))[:KNN_K]
                sel_ids = ids[mask][order]
                sel_cos = cos[mask, j][order]
                out.append(
                    pd.DataFrame(
                        {
                            "query_id": qid,
                            "neighbor_id": sel_ids,
                            "cosine": sel_cos,
                        }
                    )
                )
            yield pd.concat(out, ignore_index=True)

    partial = e.mapInPandas(
        topk, "query_id long, neighbor_id long, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= KNN_K)
    )


#: batch-query set: every other vector (250 queries at sf0.01, 1000 at
#: sf0.1) — a query SET as a DataFrame, not a driver-held literal list.
KNN_BATCH_MOD = 2

_SQL_KNN_BATCH = f"""
    WITH {{normed}},
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               round(list_sum(list_transform(generate_series(1, len(q.e)),
                     i -> q.e[i] * c.e[i])), 6) AS cosine
        FROM normed q JOIN normed c ON c.vec_id <> q.vec_id
        WHERE q.vec_id % {KNN_BATCH_MOD} = 0
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        FROM scored)
    WHERE rank <= {KNN_K}
"""


def _partial_topk_frame(qids, qmat, cand_ids, cand_mat, k) -> pd.DataFrame:
    """Exact per-query top-k of one (query-slice × candidate-slice) GEMM.
    Ranking is on the ROUNDED cosine with id tiebreak (lexsort — exact, no
    argpartition boundary-tie hazard), so partials compose deterministically
    under the final window in both engines."""
    cos = np.round(cand_mat @ qmat.T, 6)  # C×Q
    out = []
    for j, qid in enumerate(qids):
        mask = cand_ids != qid  # exclude self-match
        ids = cand_ids[mask]
        col = cos[mask, j]
        order = np.lexsort((ids, -col))[:k]
        out.append(
            pd.DataFrame(
                {"query_id": qid, "neighbor_id": ids[order], "cosine": col[order]}
            )
        )
    if not out:
        return pd.DataFrame({"query_id": [], "neighbor_id": [], "cosine": []}).astype(
            {"query_id": "int64", "neighbor_id": "int64", "cosine": "float64"}
        )
    return pd.concat(out, ignore_index=True)


#: Latest (digest, Broadcast) of the kNN query matrix — repeated calls in
#: one long session (the correctness harness re-runs every round) must not
#: accumulate executor-pinned broadcasts.
_KNN_BC_CACHE: list = []


def _query_matrix_broadcast(spark, qids: np.ndarray, qmat: np.ndarray):
    """Broadcast (qids, qmat), reusing the live broadcast when the content
    is identical and unpersisting the superseded one otherwise (unpersist,
    not destroy: an already-built plan re-fetches from the driver).

    Keyed by (applicationId, content digest): a Broadcast belongs to one
    SparkContext, so after a stop()/restart the cached handle is dead even
    if the content matches — the applicationId component forces a fresh
    broadcast on the new context."""
    import hashlib

    sc = spark.sparkContext
    key = (sc.applicationId, hashlib.sha256(qids.tobytes() + qmat.tobytes()).digest())
    if _KNN_BC_CACHE and _KNN_BC_CACHE[0][0] == key:
        return _KNN_BC_CACHE[0][1]
    if _KNN_BC_CACHE:
        try:
            _KNN_BC_CACHE.pop()[1].unpersist()
        except Exception:
            # superseded broadcast belonged to an already-stopped context
            _KNN_BC_CACHE.clear()
    bc = sc.broadcast((qids, qmat))
    _KNN_BC_CACHE.append((key, bc))
    return bc


def knn_batch_broadcast(corpus: DataFrame, queries: DataFrame, k: int) -> DataFrame:
    """Batch kNN, broadcast regime: the query side is a DataFrame whose
    materialized matrix fits executor memory (Q×dim doubles — 1M×64 ≈
    0.5 GB upper bound; beyond that use ``knn_batch_blocked``).  The query
    matrix rides a **TorrentBroadcast** — staged through the driver once
    (exactly like a broadcast-hash-join build side) and torrent-distributed
    once per executor, NOT pickled into every task closure.  The corpus is
    scanned once by ONE narrow ``mapInPandas`` (per-batch GEMM +
    partition-local exact top-k) and never joined or shuffled; only
    (batches × Q × k) partial rows reach the final window."""
    spark = corpus.sparkSession
    qrows = sorted(queries.select("vec_id", "e").collect(), key=lambda r: r.vec_id)
    bc = _query_matrix_broadcast(
        spark, np.array([r.vec_id for r in qrows]), np.array([r.e for r in qrows])
    )

    def topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qids, qmat = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            yield _partial_topk_frame(
                qids, qmat, pdf["vec_id"].to_numpy(), np.vstack(pdf["e"].to_numpy()), k
            )

    partial = corpus.mapInPandas(
        topk, "query_id long, neighbor_id long, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return partial.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def knn_batch_blocked(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    q_blocks: int = 4,
    c_blocks: int = 4,
) -> DataFrame:
    """Batch kNN, blocked-GEMM regime: NO driver collect, NO broadcast, no
    fit-anywhere assumption on either side — the fully distributed path
    when the query set is itself a big table.

    Bipartite variant of the ``x_llm_dedup_embed`` upper-triangle grid:
    queries hash into ``q_blocks`` row blocks, corpus into ``c_blocks``
    column blocks; each side is replicated to the other side's block count
    (corpus ×q_blocks, queries ×c_blocks — the entire shuffle cost, chosen
    by the two knobs) and every (qb, cb) cell is one ``applyInPandas``
    group computing a bounded (Q/q_blocks × C/c_blocks) GEMM with an exact
    partial top-k.  Each query meets every corpus vector exactly once
    across its ``c_blocks`` cells, so the final window over (c_blocks × k)
    partials per query is exact.  Task memory is bounded by the block
    sizes regardless of total scale."""
    c = corpus.select(
        "vec_id",
        "e",
        F.lit("c").alias("side"),
        F.pmod(F.xxhash64("vec_id"), F.lit(c_blocks)).alias("cb"),
        F.explode(F.sequence(F.lit(0), F.lit(q_blocks - 1))).alias("qb"),
    )
    q = queries.select(
        "vec_id",
        "e",
        F.lit("q").alias("side"),
        F.explode(F.sequence(F.lit(0), F.lit(c_blocks - 1))).alias("cb"),
        F.pmod(F.xxhash64("vec_id"), F.lit(q_blocks)).alias("qb"),
    ).select("vec_id", "e", "side", "cb", "qb")

    def cell_topk(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        qs = pdf[pdf["side"] == "q"]
        cs = pdf[pdf["side"] == "c"]
        if qs.empty or cs.empty:
            return pd.DataFrame(
                {"query_id": [], "neighbor_id": [], "cosine": []}
            ).astype(
                {"query_id": "int64", "neighbor_id": "int64", "cosine": "float64"}
            )
        return _partial_topk_frame(
            qs["vec_id"].to_numpy(),
            np.vstack(qs["e"].to_numpy()),
            cs["vec_id"].to_numpy(),
            np.vstack(cs["e"].to_numpy()),
            k,
        )

    partial = c.unionByName(q).groupBy("qb", "cb").applyInPandas(
        cell_topk, "query_id long, neighbor_id long, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return partial.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


@register(
    "x_llm_knn_batch",
    oracle=_SQL_KNN_BATCH.format(normed=_SQL_NORMED.strip().rstrip()),
)
def x_llm_knn_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed batch similarity search, broadcast regime: the query
    set is a DataFrame (every other vector — 1000 queries at sf0.1), not a
    driver-held literal list; exact top-5 cosine neighbors per query.  See
    ``knn_batch_broadcast`` for the plan shape (corpus never shuffled)."""
    e = _normalized(spark, sf_dir)
    queries = e.filter(F.col("vec_id") % KNN_BATCH_MOD == 0)
    return knn_batch_broadcast(e, queries, KNN_K)


@register(
    "x_llm_knn_batch_blocked",
    oracle=_SQL_KNN_BATCH.format(normed=_SQL_NORMED.strip().rstrip()),
)
def x_llm_knn_batch_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed batch similarity search, blocked regime: same query set
    and same exact answer as ``x_llm_knn_batch``, computed with NO driver
    collect and no broadcast — the path for query sets too big to fit
    anywhere (see ``knn_batch_blocked``).  Both regimes hash-match the
    same oracle, locking in that the regime switch is purely physical."""
    e = _normalized(spark, sf_dir)
    queries = e.filter(F.col("vec_id") % KNN_BATCH_MOD == 0)
    return knn_batch_blocked(e, queries, KNN_K)


IVF_CELLS = 10
IVF_PROBES = 3


@register(
    "x_llm_ann_ivf",  # approximate by construction → rows-only check
    why_no_oracle="recall < 1 by design (IVF probe subset)",
    gate="hash-matched exact-score companion `x_llm_ann_ivf_scores`; "
         "recall floor vs exact kNN in "
         "`tests/test_ann_recall.py`",
)
def x_llm_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style approximate nearest neighbor — the 100 TB scale path.

    Coarse quantizer: exactly ``IVF_CELLS`` deterministic seed centroids —
    the vectors with the smallest ``xxhash64(vec_id)`` (a uniform
    pseudo-random but reproducible sample at ANY corpus size).  The seeds
    are **collected to the driver as the quantizer model** (IVF_CELLS × dim
    floats — the IVF analog of trained k-means centroids; a kilobyte, like
    any broadcast model) and closed over by the assignment pass, so cell
    assignment is ONE narrow ``mapInPandas`` over the corpus: argmax of the
    E·Cᵀ GEMM per Arrow batch — no join, no per-vector window, no shuffle.
    (The previous corpus × centroids broadcast-join + row_number argmin
    measured 31 s at sf0.1; this form measures ~3 s.)

    Query side: the probe set is tiny (10 queries × 3 probed cells) and is
    computed in the same driver-side numpy, then **broadcast** against the
    assigned corpus — the corpus is never shuffled; rows outside probed
    cells die in the broadcast hash join.  Partial top-k per partition in
    numpy, final exact top-k over the tiny union of partials.  Approximate
    (recall < 1 by design) → rows-only driver check; the local pytest
    asserts recall vs x_llm_knn_cosine."""
    e = _normalized(spark, sf_dir)

    # Quantizer training (driver-side model, deterministic).
    seeds = (
        e.select("vec_id", "e", F.xxhash64("vec_id").alias("hh"))
        .orderBy("hh", "vec_id")
        .limit(IVF_CELLS)
        .collect()
    )
    cmat = np.array(
        [r.e for r in sorted(seeds, key=lambda r: (r.hh, r.vec_id))]
    )  # row index == cell_id

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            sim = np.round(np.vstack(pdf["e"].to_numpy()) @ cmat.T, 6)
            # argmax returns the FIRST maximal index → lowest cell_id on
            # ties (deterministic, matches the rounded-sim/cell-id order).
            yield pdf.assign(cell_id=sim.argmax(1).astype("int32"))

    assigned = e.mapInPandas(assign, "vec_id long, e array<double>, cell_id int")

    # Probe planning: per query, the IVF_PROBES nearest cells (driver-side
    # numpy over the tiny query set, broadcast back as (query_id, cell_id,
    # qe) rows).
    qrows = sorted(
        e.filter(F.col("vec_id") < KNN_N_QUERIES).collect(),
        key=lambda r: r.vec_id,
    )
    probe_rows = []
    for r in qrows:
        qsim = np.round(np.array(r.e) @ cmat.T, 6)
        order = np.lexsort((np.arange(len(qsim)), -qsim))  # sim desc, cell asc
        for cell in order[:IVF_PROBES]:
            probe_rows.append((int(r.vec_id), int(cell), list(r.e)))
    probes = local_frame(
        spark, probe_rows, "query_id long, cell_id int, qe array<double>"
    )
    cand = assigned.join(F.broadcast(probes), "cell_id").filter(
        F.col("vec_id") != F.col("query_id")
    )

    def topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Partition-local partial top-k, vectorized: numpy row-wise dot.
        for pdf in batches:
            if pdf.empty:
                continue
            qe = np.vstack(pdf["qe"].to_numpy())
            ce = np.vstack(pdf["e"].to_numpy())
            pdf = pdf.assign(cosine=np.round(np.einsum("ij,ij->i", qe, ce), 6))
            out = (
                pdf.sort_values(
                    ["query_id", "cosine", "vec_id"], ascending=[True, False, True]
                )
                .groupby("query_id", sort=False)
                .head(KNN_K)
            )
            yield out[["query_id", "vec_id", "cosine"]]

    partial = cand.mapInPandas(topk, "query_id long, vec_id long, cosine double")
    # Final exact top-k over the (tiny) union of partial top-ks.
    w_final = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        partial.withColumn("rank", F.row_number().over(w_final))
        .filter(F.col("rank") <= KNN_K)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "cosine", "rank")
    )


@register(
    "x_llm_nearest_class",
    oracle="""
    WITH se AS (
        -- degenerate-norm sanitization (the _SQL_NORMED convention, but
        -- UNNORMALIZED): a NaN/Inf-poisoned vector is replaced by the
        -- zero vector so it cannot poison its class centroid; the
        -- all-zero vector is its own sanitized form
        SELECT vec_id, label,
               CASE WHEN nrm > 0 AND nrm < 'infinity'::DOUBLE
                    THEN list_transform(embedding, x -> x::DOUBLE)
                    ELSE list_transform(embedding, x -> 0.0::DOUBLE)
               END AS d
        FROM (
            SELECT vec_id, label, embedding,
                   -- NULL-element guard (r17 ADVICE): mirror Spark's
                   -- NULL-propagating fold so an embedding carrying any
                   -- NULL element sanitizes to the zero vector too
                   CASE WHEN len(list_filter(embedding, y -> y IS NULL)) > 0
                        THEN NULL
                        ELSE sqrt(list_sum(list_transform(embedding,
                             y -> y::DOUBLE * y::DOUBLE)))
                   END AS nrm
            FROM embeddings
        )
    ),
    ex AS (
        -- dimension from the fixture itself (generate_series as a table
        -- function only takes constants, so unnest in the select list)
        SELECT label, d, unnest(generate_series(1, len(d))) AS i
        FROM se
    ),
    comp AS (
        SELECT label, i, round(avg(d[i]), 6) AS c
        FROM ex
        GROUP BY label, i
    ),
    cents AS (
        SELECT label AS clabel, list(c ORDER BY i) AS cent FROM comp
        GROUP BY label
    ),
    scored AS (
        SELECT e.vec_id, e.label, c.clabel,
               round(list_sum(list_transform(generate_series(1, len(c.cent)),
                     i -> e.d[i] * c.cent[i])), 4) AS score
        FROM se e CROSS JOIN cents c
    )
    SELECT vec_id, label, clabel AS pred_label, score FROM (
        SELECT *, row_number() OVER (
            PARTITION BY vec_id ORDER BY score DESC, clabel) AS rn
        FROM scored)
    WHERE rn = 1
    """,
)
def x_llm_nearest_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped similarity / nearest-class assignment (the fixture `label`
    column's intended use): per-label mean centroids, then every vector is
    assigned to the centroid with the highest dot product.

    Centroid build is RELATIONAL — posexplode to (label, pos, x) rows, one
    hash aggregate for the per-component means (map-side partials), then
    the 10 centroid vectors are collected driver-side as the classifier
    model (10 × 64 doubles) and closed over by ONE narrow ``mapInPandas``
    scoring pass: argmax of E·Cᵀ per Arrow batch — the corpus is scanned
    once, never joined or shuffled.  Centroid components are rounded to 6
    decimals on both engines BEFORE scoring and scores to 4 after (double
    sum order differs between engines; rounding makes the comparison
    order-insensitive).

    Inputs pass the degenerate-norm sanitization first (the _normalized
    convention, unnormalized): a NaN/Inf-poisoned vector becomes the
    zero vector in BOTH engines, so one corrupt row cannot poison its
    entire class centroid (NaN/Inf probe, r17)."""
    emb = table(spark, sf_dir, "embeddings")
    d_raw = F.transform("embedding", lambda x: x.cast("double"))
    nrm = F.sqrt(
        F.aggregate(
            "embedding",
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    se = emb.select(
        "vec_id",
        "label",
        F.when((nrm > 0) & (nrm < F.lit(float("inf"))), d_raw)
        .otherwise(F.array_repeat(F.lit(0.0), F.size("embedding")))
        .alias("d"),
    )
    comp = (
        se.select("label", F.posexplode("d"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg("col"), 6).alias("c"))
    )
    crows = (
        comp.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
        .select("label", F.col("pc.c").alias("cent"))
        .collect()
    )
    crows = sorted(crows, key=lambda r: r.label)
    clabels = np.array([r.label for r in crows])
    cmat = np.array([r.cent for r in crows])  # classes × dim — the model

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            scores = np.round(np.vstack(pdf["e"].to_numpy()) @ cmat.T, 4)
            best = scores.argmax(1)  # first max → lowest label on ties
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "label": pdf["label"],
                    "pred_label": clabels[best],
                    "score": scores[np.arange(len(best)), best],
                }
            )

    vecs = se.select("vec_id", "label", F.col("d").alias("e"))
    return vecs.mapInPandas(
        assign, "vec_id long, label int, pred_label int, score double"
    )


LSH_PLANES = 16  # sign bits per vector
LSH_BANDS = 4  # bands of LSH_PLANES/LSH_BANDS bits each
LSH_SEED = 42


@register(
    "x_llm_ann_lsh",  # approximate by construction → rows-only check
    why_no_oracle="recall < 1 by design (LSH bucket subset)",
    gate="hash-matched companion `x_llm_ann_lsh_scores`; recall floor in "
         "`tests/test_ann_recall.py`",
)
def x_llm_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH top-k — the bucketed alternative to IVF for
    approximate similarity search.

    16 fixed hyperplanes (deterministic seed) turn each vector into a
    16-bit sign signature; signatures split into 4 bands of 4 bits, and a
    corpus vector is a candidate for a query iff they share ≥ 1 band key
    (same locality-sensitive bucket).  Plan shape mirrors x_llm_ann_ivf:
    the plane matrix is a driver-held model closed over by ONE narrow
    ``mapInPandas`` signature pass; the (query × band) probe set is tiny
    and **broadcast**, so the corpus is never shuffled; scoring is a
    partition-local GEMM top-k with a final window over the partial rows.
    Recall < 1 by design (a true neighbor can disagree on every band) →
    rows-only driver check; the local pytest asserts recall vs the exact
    scan.  At 100 TB, band keys replace the IVF cells as the pruning
    index — same candidate-join geometry, no training step."""
    rng = np.random.RandomState(LSH_SEED)
    planes = rng.randn(LSH_PLANES, 64)
    band_bits = LSH_PLANES // LSH_BANDS

    def band_keys(mat: np.ndarray) -> np.ndarray:
        bits = (mat @ planes.T) > 0  # n × LSH_PLANES sign bits
        weights = 1 << np.arange(band_bits)
        return np.stack(
            [
                bits[:, b * band_bits : (b + 1) * band_bits] @ weights
                for b in range(LSH_BANDS)
            ],
            axis=1,
        )  # n × LSH_BANDS band keys

    e = _normalized(spark, sf_dir)

    def sig(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            keys = band_keys(np.vstack(pdf["e"].to_numpy()))
            out = pdf.loc[pdf.index.repeat(LSH_BANDS)].reset_index(drop=True)
            out["band_id"] = np.tile(np.arange(LSH_BANDS), len(pdf))
            out["band_key"] = keys.reshape(-1)
            yield out[["vec_id", "e", "band_id", "band_key"]]

    corpus = e.mapInPandas(
        sig, "vec_id long, e array<double>, band_id int, band_key int"
    )

    qrows = sorted(
        e.filter(F.col("vec_id") < KNN_N_QUERIES).collect(), key=lambda r: r.vec_id
    )
    qmat = np.array([r.e for r in qrows])
    qkeys = band_keys(qmat)
    probes = local_frame(
        spark,
        [
            (int(r.vec_id), int(b), int(qkeys[i, b]), list(r.e))
            for i, r in enumerate(qrows)
            for b in range(LSH_BANDS)
        ],
        "query_id long, band_id int, band_key int, qe array<double>",
    )
    cand = (
        corpus.join(F.broadcast(probes), ["band_id", "band_key"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "qe", "vec_id", "e")
        .dropDuplicates(["query_id", "vec_id"])
    )

    def topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            qe = np.vstack(pdf["qe"].to_numpy())
            ce = np.vstack(pdf["e"].to_numpy())
            pdf = pdf.assign(cosine=np.round(np.einsum("ij,ij->i", qe, ce), 6))
            yield (
                pdf.sort_values(
                    ["query_id", "cosine", "vec_id"], ascending=[True, False, True]
                )
                .groupby("query_id", sort=False)
                .head(KNN_K)[["query_id", "vec_id", "cosine"]]
            )

    partial = cand.mapInPandas(topk, "query_id long, vec_id long, cosine double")
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= KNN_K)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "cosine", "rank")
    )


@register(
    "x_llm_ann_ivf_scores",
    oracle=f"""
    WITH {_SQL_NORMED},
    cents AS (
        SELECT vec_id AS cell_id, e AS c FROM normed
        WHERE vec_id < {IVF_CELLS}
    ),
    sim AS (
        SELECT n.vec_id, c.cell_id,
               round(list_sum(list_transform(generate_series(1, len(n.e)),
                     i -> n.e[i] * c.c[i])), 6) AS s
        FROM normed n CROSS JOIN cents c
    ),
    assigned AS (
        SELECT vec_id, cell_id FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                      ORDER BY s DESC, cell_id) AS rn
            FROM sim)
        WHERE rn = 1
    ),
    probes AS (
        SELECT vec_id AS query_id, cell_id FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                      ORDER BY s DESC, cell_id) AS rn
            FROM sim WHERE vec_id < {KNN_N_QUERIES})
        WHERE rn <= {IVF_PROBES}
    )
    SELECT p.query_id, a.vec_id AS neighbor_id, a.cell_id,
           round(list_sum(list_transform(generate_series(1, len(q.e)),
                 i -> q.e[i] * v.e[i])), 6) AS cosine
    FROM probes p
    JOIN assigned a ON a.cell_id = p.cell_id
    JOIN normed q ON q.vec_id = p.query_id
    JOIN normed v ON v.vec_id = a.vec_id
    WHERE a.vec_id <> p.query_id
    """,
)
def x_llm_ann_ivf_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked companion of ``x_llm_ann_ivf`` (the pq_adc_scores
    pattern): the FULL exact cosine matrix over the probed cells — every
    (query, candidate) pair the IVF search would score, with the cell
    that admitted the candidate — where the top-k op is rows-only
    (recall < 1 has no SQL twin).  A hash-matched driver row here attests
    the whole IVF search math end to end: round-6 argmax cell assignment
    (ties to the lowest cell id), per-query probe planning (top
    IVF_PROBES cells by rounded sim, cell-id tiebreak), the
    candidates-in-probed-cells join geometry, and the exact rounded
    candidate scoring.  The ONE piece not replayed is the production
    op's xxhash64 seed sample (no DuckDB twin); this companion freezes
    the quantizer with the SQL-expressible rule ``vec_id < IVF_CELLS``
    (cell_id = seed vec_id), exactly how pq_adc_scores freezes its
    codebook — the arithmetic downstream of the frozen model is
    identical code.

    Plan shape is the production one: the quantizer is a driver-held
    model closed over by ONE narrow ``mapInPandas`` assignment pass (no
    join, no shuffle), the tiny probe set broadcasts against the
    assigned corpus, and scoring is a second narrow pass over the
    surviving candidates — the corpus itself is never shuffled."""
    e = _normalized(spark, sf_dir)
    # ONE bounded model collect covers both driver-held frames (the seed
    # centroids and the query set are the same low-vec_id prefix) — two
    # separate collects would each run a full corpus-scan job for the
    # same handful of rows.
    model_rows = sorted(
        e.filter(F.col("vec_id") < max(IVF_CELLS, KNN_N_QUERIES)).collect(),
        key=lambda r: r.vec_id,
    )
    seeds = [r for r in model_rows if r.vec_id < IVF_CELLS]
    cmat = np.array([r.e for r in seeds])  # row index == cell_id == vec_id

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            sim = np.round(np.vstack(pdf["e"].to_numpy()) @ cmat.T, 6)
            yield pdf.assign(cell_id=sim.argmax(1).astype("int32"))

    assigned = e.mapInPandas(assign, "vec_id long, e array<double>, cell_id int")

    qrows = [r for r in model_rows if r.vec_id < KNN_N_QUERIES]
    probe_rows = []
    for r in qrows:
        qsim = np.round(np.array(r.e) @ cmat.T, 6)
        order = np.lexsort((np.arange(len(qsim)), -qsim))  # sim desc, cell asc
        for cell in order[:IVF_PROBES]:
            probe_rows.append((int(r.vec_id), int(cell), list(r.e)))
    probes = local_frame(
        spark, probe_rows, "query_id long, cell_id int, qe array<double>"
    )
    cand = assigned.join(F.broadcast(probes), "cell_id").filter(
        F.col("vec_id") != F.col("query_id")
    )

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            qe = np.vstack(pdf["qe"].to_numpy())
            ce = np.vstack(pdf["e"].to_numpy())
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"],
                    "neighbor_id": pdf["vec_id"],
                    "cell_id": pdf["cell_id"],
                    "cosine": np.round(np.einsum("ij,ij->i", qe, ce), 6),
                }
            )

    return cand.mapInPandas(
        score, "query_id long, neighbor_id long, cell_id int, cosine double"
    )


@register(
    "x_llm_ann_lsh_scores",
    oracle=f"""
    WITH {_SQL_NORMED},
    planes AS (
        SELECT vec_id AS p, e AS pe FROM normed
        WHERE vec_id < {LSH_PLANES}
    ),
    bits AS (
        SELECT n.vec_id, pl.p,
               CASE WHEN round(list_sum(list_transform(
                         generate_series(1, len(n.e)),
                         i -> n.e[i] * pl.pe[i])), 6) > 0
                    THEN 1 ELSE 0 END AS bit
        FROM normed n CROSS JOIN planes pl
    ),
    keys AS (
        SELECT vec_id,
               (p // {LSH_PLANES // LSH_BANDS})::INT AS band_id,
               sum(bit * (1 << (p % {LSH_PLANES // LSH_BANDS})))::BIGINT
                   AS band_key
        FROM bits GROUP BY vec_id, p // {LSH_PLANES // LSH_BANDS}
    ),
    cand AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               count(*)::BIGINT AS n_shared_bands
        FROM keys q JOIN keys c
          ON q.band_id = c.band_id AND q.band_key = c.band_key
        WHERE q.vec_id < {KNN_N_QUERIES} AND c.vec_id <> q.vec_id
        GROUP BY 1, 2
    )
    SELECT cand.query_id, cand.neighbor_id, cand.n_shared_bands,
           round(list_sum(list_transform(generate_series(1, len(q.e)),
                 i -> q.e[i] * v.e[i])), 6) AS cosine
    FROM cand
    JOIN normed q ON q.vec_id = cand.query_id
    JOIN normed v ON v.vec_id = cand.neighbor_id
    """,
)
def x_llm_ann_lsh_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked companion of ``x_llm_ann_lsh``: every (query,
    candidate) pair the banded LSH search admits, with HOW MANY bands
    matched and the exact rounded cosine — value-level attestation of
    the sign-signature → band-key packing → bucket-join → scoring
    pipeline that the top-k op runs rows-only (recall < 1 by design).
    The ONE piece not replayed is the production op's seeded-randn
    hyperplane matrix (no DuckDB twin); this companion draws the
    hyperplanes from the data instead — the first LSH_PLANES normalized
    corpus vectors — the same model-freezing move as
    ``x_llm_ann_ivf_scores``.  Sign bits threshold the ROUND-6 dot (a
    raw double dot could flip sign across engines near zero); band keys
    pack LSH_PLANES/LSH_BANDS bits little-endian, matching the
    production op's weight vector.

    Plan shape is the production one: plane matrix is a driver-held
    model closed over by ONE narrow ``mapInPandas`` signature pass; the
    (query × band) probe set broadcasts; the per-pair band count is one
    hash aggregate on the (already tiny) candidate rows and scoring is
    a final narrow pass — the corpus is never shuffled."""
    band_bits = LSH_PLANES // LSH_BANDS
    e = _normalized(spark, sf_dir)
    # ONE bounded model collect covers both driver-held frames (the
    # hyperplanes and the query set are the same low-vec_id prefix) —
    # two separate collects would each run a full corpus-scan job.
    model_rows = sorted(
        e.filter(F.col("vec_id") < max(LSH_PLANES, KNN_N_QUERIES)).collect(),
        key=lambda r: r.vec_id,
    )
    prows = [r for r in model_rows if r.vec_id < LSH_PLANES]
    planes = np.array([r.e for r in prows])  # row index == plane id

    def band_keys(mat: np.ndarray) -> np.ndarray:
        bits = np.round(mat @ planes.T, 6) > 0  # n × LSH_PLANES sign bits
        weights = 1 << np.arange(band_bits)
        return np.stack(
            [
                bits[:, b * band_bits : (b + 1) * band_bits] @ weights
                for b in range(LSH_BANDS)
            ],
            axis=1,
        )

    def sig(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            keys = band_keys(np.vstack(pdf["e"].to_numpy()))
            out = pdf.loc[pdf.index.repeat(LSH_BANDS)].reset_index(drop=True)
            out["band_id"] = np.tile(np.arange(LSH_BANDS), len(pdf))
            out["band_key"] = keys.reshape(-1)
            yield out[["vec_id", "e", "band_id", "band_key"]]

    corpus = e.mapInPandas(
        sig, "vec_id long, e array<double>, band_id int, band_key int"
    )

    qrows = [r for r in model_rows if r.vec_id < KNN_N_QUERIES]
    qmat = np.array([r.e for r in qrows])
    qkeys = band_keys(qmat)
    probes = local_frame(
        spark,
        [
            (int(r.vec_id), int(b), int(qkeys[i, b]), list(r.e))
            for i, r in enumerate(qrows)
            for b in range(LSH_BANDS)
        ],
        "query_id long, band_id int, band_key int, qe array<double>",
    )
    cand = (
        corpus.join(F.broadcast(probes), ["band_id", "band_key"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(
            F.count("*").alias("n_shared_bands"),
            F.first("qe").alias("qe"),
            F.first("e").alias("e"),
        )
    )

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            qe = np.vstack(pdf["qe"].to_numpy())
            ce = np.vstack(pdf["e"].to_numpy())
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"],
                    "neighbor_id": pdf["vec_id"],
                    "n_shared_bands": pdf["n_shared_bands"],
                    "cosine": np.round(np.einsum("ij,ij->i", qe, ce), 6),
                }
            )

    return cand.mapInPandas(
        score,
        "query_id long, neighbor_id long, n_shared_bands long, cosine double",
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@register(
    "x_llm_text_stats",
    oracle="""
    SELECT lang,
           count(*) AS n_docs,
           sum(len(string_split(text, ' ')))::BIGINT AS total_tokens,
           round(avg(n_chars), 4) AS avg_chars,
           count(DISTINCT source) AS n_sources
    FROM documents GROUP BY lang
    """,
)
def x_llm_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus text statistics grouped by language: doc counts, token
    totals, average length, source diversity.  Plain hash aggregate —
    Catalyst supplies the map-side partial automatically."""
    return (
        table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.size(F.split("text", " "))).alias("total_tokens"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.countDistinct("source").alias("n_sources"),
        )
    )


@register(
    "x_llm_token_count",
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' ')) AS ws_tokens,
           len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS re_tokens
    FROM documents
    """,
)
def x_llm_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace split, and a BPE-ish regex
    lexer ([a-z]+|[0-9]+ — the shared Java/RE2 regex subset so both
    engines tokenize identically)."""
    return table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split("text", " ")).alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit("[a-z]+|[0-9]+"), F.lit(0))).alias(
            "re_tokens"
        ),
    )


#: Marker words with the highest per-language frequency lift in the fixture
#: corpus (profiled once; deterministic).  Real language-ID would use
#: char-n-gram profiles — same shape, bigger tables.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("small", "data"),
    "en": ("customer", "part"),
    "es": ("dup", "key"),
    "fr": ("filter", "scan"),
    "zh": ("join", "group"),
}


def _lang_score_sql(markers: tuple[str, ...]) -> str:
    quoted = ", ".join(f"'{m}'" for m in markers)
    return f"len(list_filter(string_split(text, ' '), w -> w IN ({quoted})))"


def _marker_filter(markers: tuple[str, ...]):
    # Single-arg lambda via closure: PySpark dispatches HOF lambdas on arity,
    # so a default-arg (w, ms=ms) lambda would be called as (elem, index).
    return lambda w: w.isin(*markers)


@register(
    "x_llm_lang_id",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, lang,
               {_lang_score_sql(LANG_MARKERS["de"])} AS s_de,
               {_lang_score_sql(LANG_MARKERS["en"])} AS s_en,
               {_lang_score_sql(LANG_MARKERS["es"])} AS s_es,
               {_lang_score_sql(LANG_MARKERS["fr"])} AS s_fr,
               {_lang_score_sql(LANG_MARKERS["zh"])} AS s_zh
        FROM documents
    )
    SELECT doc_id, lang,
           CASE greatest(s_de, s_en, s_es, s_fr, s_zh)
                WHEN s_de THEN 'de' WHEN s_en THEN 'en' WHEN s_es THEN 'es'
                WHEN s_fr THEN 'fr' ELSE 'zh' END AS pred_lang
    FROM scored
    """,
)
def x_llm_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language identification: count per-language marker-word
    hits, predict the argmax (ties broken in fixed de<en<es<fr<zh order in
    BOTH engines).  One narrow pass, no shuffle."""
    toks = F.split("text", " ")
    scores = {
        lang: F.size(F.filter(toks, _marker_filter(ms)))
        for lang, ms in LANG_MARKERS.items()
    }
    best = F.greatest(*scores.values())
    pred = F.when(scores["de"] == best, "de")
    for lang in ("en", "es", "fr"):
        pred = pred.when(scores[lang] == best, lang)
    pred = pred.otherwise("zh")
    return table(spark, sf_dir, "documents").select(
        "doc_id", "lang", pred.alias("pred_lang")
    )


QUALITY_STOPWORDS = ("the", "a")


@register(
    "x_llm_quality_score",
    oracle="""
    WITH t AS (
        SELECT doc_id, n_chars,
               len(string_split(text, ' ')) AS n_tokens,
               len(list_filter(string_split(text, ' '),
                   w -> w IN ('the', 'a'))) AS n_stop
        FROM documents
    )
    SELECT doc_id, n_tokens,
           round(n_stop::DOUBLE / n_tokens::DOUBLE, 6) AS stop_ratio,
           round((n_chars - n_tokens + 1)::DOUBLE / n_tokens::DOUBLE, 4)
               AS avg_token_len,
           round(least(1.0, n_tokens::DOUBLE / 200.0)
                 * (1.0 - n_stop::DOUBLE / n_tokens::DOUBLE), 6) AS quality,
           least(1.0, n_tokens::DOUBLE / 200.0)
                 * (1.0 - n_stop::DOUBLE / n_tokens::DOUBLE) >= 0.25 AS keep
    FROM t
    """,
)
def x_llm_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document quality scoring (length & stopword-ratio
    features → score → keep/drop flag), the standard pretraining-corpus
    filter shape.  Single narrow pass."""
    toks = F.split("text", " ")
    n_tokens = F.size(toks).cast("double")
    n_stop = F.size(F.filter(toks, _marker_filter(QUALITY_STOPWORDS))).cast("double")
    stop_ratio = n_stop / n_tokens
    quality = F.least(F.lit(1.0), n_tokens / 200.0) * (1.0 - stop_ratio)
    return table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.round(
            (F.col("n_chars") - F.size(toks) + 1).cast("double") / n_tokens, 4
        ).alias("avg_token_len"),
        F.round(quality, 6).alias("quality"),
        (quality >= 0.25).alias("keep"),
    )


FP_MOD = 1_000_000_007
FP_BASE = 31


@register(
    "x_llm_fingerprint",
    oracle=f"""
    SELECT doc_id,
           list_reduce(list_transform(string_split(text, ''),
                                      c -> ascii(c)::BIGINT),
                       (acc, c) -> (acc * {FP_BASE} + c) % {FP_MOD}) AS fp
    FROM documents WHERE n_chars > 0
    """,
)
def x_llm_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial rolling-hash document fingerprint over codepoints
    (h = h*31 + c mod 1e9+7).  DuckDB's list_reduce seeds with the first
    element; Spark's aggregate seeds 0 — identical sequences because
    0*31 + c0 = c0 < MOD.  Intermediate values stay < 2^35: no 64-bit
    overflow, ANSI-safe, bit-identical across engines."""
    chars = F.split("text", "")
    fp = F.aggregate(
        F.transform(chars, F.ascii),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * FP_BASE + c) % FP_MOD,
    )
    return (
        table(spark, sf_dir, "documents")
        .filter(F.col("n_chars") > 0)
        .select("doc_id", fp.alias("fp"))
    )


# ---------------------------------------------------------------------------
# Dedup clustering, sampling, scrubbing (training-pipeline curation layer)
# ---------------------------------------------------------------------------

#: Near-dup edges for clustering: same threshold the pair operator reports.
CLUSTER_J_THRESHOLD = 0.5
#: Min-label sweeps before switching to the O(log n) star alternation.
#: Components of a near-dup pair graph are near-cliques (a dup class
#: shares most shingles pairwise) — measured convergence is 2-3 sweeps;
#: anything still moving after 5 is chain-shaped and belongs to the
#: diameter-independent algorithm, not more sweeps.
LABEL_SWEEP_SWITCH = 5

#: Node-count threshold above which the label-propagation sweeps restrict
#: themselves to edge-incident nodes (singletons are provably final after
#: one sweep).  The restriction pays one edge-distinct + two node-keyed
#: semi/anti joins, so it only wins when sweep volume dominates — the r19
#: A/B measured it 0.4-1.0 s SLOWER at fixture scale (thousands of nodes)
#: and the technique is a pure win when the corpus dwarfs the dup set
#: (billions of docs, millions of dup edges).  The threshold keeps every
#: fixture SF on the plain path.  Both sides are pinned by
#: tests/test_hardening.py.
LABELPROP_INCIDENT_MIN_NODES = 5_000_000
#: Round valve for the large-star/small-star alternation itself: rounds
#: grow O(log^2 n) worst-case (Kiveris et al. 2014), so 40 covers any
#: component that fits in a cluster; exceeding it means a logic error,
#: not a big graph — raise rather than return split components.
TWO_PHASE_MAX_ROUNDS = 40


@register(
    "x_llm_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {_SQL_SHINGLES},
    {_SQL_PAIR_JACCARD},
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM jac WHERE j >= {CLUSTER_J_THRESHOLD}
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM jac WHERE j >= {CLUSTER_J_THRESHOLD}
    ),
    reach(node, root) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node
    )
    SELECT node AS doc_id, min(root) AS cluster_id,
           (node = min(root)) AS is_canonical
    FROM reach GROUP BY node
    """,
)
def x_llm_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the near-dup pair graph: every document
    gets ``cluster_id`` = the smallest doc_id reachable through J >= 0.5
    n-gram-Jaccard edges (singletons cluster to themselves), plus an
    ``is_canonical`` keep-flag — the step that turns PAIRS into the
    keep/drop decision an actual dedup pipeline needs (mirrors the
    reference's duplicate-collapse intent, `Job Cek Script/app.py:112`-ish
    memoization, generalized to transitive duplicate classes).

    Algorithm: iterative min-label propagation on DataFrames — per sweep,
    one equi-join of the (symmetrized) edge list against current labels +
    one min-aggregate, i.e. two bounded shuffles on doc_id-shaped keys; no
    driver-side graph, no collect.  Labels are ``localCheckpoint``-ed each
    sweep so lineage stays O(1) instead of O(iterations).  Sweeps needed =
    graph diameter; near-dup components are near-cliques (a dup class
    shares most shingles pairwise), so 2-3 sweeps in practice.  A
    component whose diameter beats the 5-sweep budget (adversarial
    chain-of-near-dups) AUTO-SWITCHES to the large-star/small-star
    alternation (Kiveris et al., "Connected Components in MapReduce and
    Beyond") — same join/aggregate primitives, rounds logarithmic in
    component size instead of linear in diameter (see
    ``_two_phase_components``).

    The DuckDB oracle is the same fixpoint computed declaratively: a
    recursive CTE closing (node, root) over the edge relation, then
    min(root) per node — engine-independent ground truth for the whole
    pairs->components->canonical pipeline."""
    labels = _cluster_labels(spark, sf_dir)
    return labels.select(
        "doc_id",
        "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
    )


def _ndup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The J >= CLUSTER_J_THRESHOLD near-dup pair list, shared once per
    session: clusters, keep-best and the flagship pipeline all consume
    exactly this frame (edge weights don't depend on other docs, so the
    flagship semi-joins it to survivors).  The threshold equals the ngram
    operator's own output floor, so the shared frame is its full result."""
    return _session_shared(
        spark,
        sf_dir,
        "ndup_pairs",
        lambda: x_llm_dedup_ngram_jaccard(spark, sf_dir).filter(
            F.col("jaccard") >= CLUSTER_J_THRESHOLD
        ),
    )


def _cluster_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-corpus near-dup component labels, shared once per session:
    ``x_llm_dedup_clusters`` and ``x_llm_dedup_keep_best`` both need them,
    and the label-propagation sweeps are the dedup family's single most
    expensive stage — one session computes them exactly once."""
    def build() -> DataFrame:
        nodes = table(spark, sf_dir, "documents").select("doc_id")
        return _min_label_components(nodes, _ndup_pairs(spark, sf_dir))

    return _session_shared(spark, sf_dir, "ndup_cluster_labels", build)


#: BFS depth cap — far above any near-dup component diameter (a diameter
#: this deep means a chained-paraphrase artifact, not a dup cluster); the
#: SAME constant bounds the oracle's recursive CTE, so both engines
#: explore the identical truncated search space.
BFS_MAX_DEPTH = 20


@register(
    "x_llm_dedup_bfs_depth",
    oracle=f"""
    WITH RECURSIVE {_SQL_SHINGLES},
    {_SQL_PAIR_JACCARD},
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM jac
        WHERE j >= {CLUSTER_J_THRESHOLD}
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM jac
        WHERE j >= {CLUSTER_J_THRESHOLD}
    ),
    reach(node, root) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node
    ),
    labels AS (SELECT node, min(root) AS cluster_id FROM reach GROUP BY node),
    bfs(node, depth) AS (
        SELECT node, 0 FROM labels WHERE node = cluster_id
        UNION
        SELECT e.dst, b.depth + 1
        FROM bfs b JOIN edges e ON e.src = b.node
        WHERE b.depth < {BFS_MAX_DEPTH}
    )
    SELECT node AS doc_id, min(depth)::BIGINT AS depth
    FROM bfs GROUP BY node
    """,
)
def x_llm_dedup_bfs_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS over the near-dup graph: each document's hop
    distance to its cluster's canonical (the component-minimum doc) —
    the "how derivative is this copy" signal.  Depth 0 = canonical
    (singletons included), depth 1 = direct near-dup of the canonical,
    deeper = reachable only through chains of pairwise-similar
    intermediates (drift through successive edits — exactly the docs a
    transitive-closure dedup drops but a pairwise threshold would have
    kept).  Second iterative-algorithm witness next to the
    min-label-propagation components: textbook frontier-expansion BFS,
    oracle-checked against a depth-capped recursive CTE.

    Plan: seeds are the canonicals from the session-shared labels;
    each sweep is ONE frontier⋈edges hash join + an anti join against
    the visited set — frontier-sized shuffles, never corpus-sized, and
    the loop runs diameter times (bounded by BFS_MAX_DEPTH in BOTH
    engines).  ``localCheckpoint`` truncates lineage per sweep, the same
    discipline as the components loop."""
    labels = _cluster_labels(spark, sf_dir)
    pairs = _ndup_pairs(spark, sf_dir)
    fwd = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    rev = pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    edges = fwd.union(rev).localCheckpoint(eager=False)
    frontier = (
        labels.filter(F.col("doc_id") == F.col("cluster_id"))
        .select(F.col("doc_id").alias("node"))
        .localCheckpoint(eager=False)
    )
    visited = frontier.withColumn("depth", F.lit(0).cast("bigint"))
    for d in range(1, BFS_MAX_DEPTH + 1):
        nxt = (
            frontier.join(edges, frontier["node"] == edges["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "anti")
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        visited = visited.union(
            nxt.withColumn("depth", F.lit(d).cast("bigint"))
        ).localCheckpoint(eager=True)
        frontier = nxt
    return visited.select(F.col("node").alias("doc_id"), "depth")


def _min_label_components(nodes: DataFrame, pairs: DataFrame) -> DataFrame:
    """Connected components by iterative min-label propagation (the sweep
    loop of ``x_llm_dedup_clusters``, reusable over any node/edge set).
    ``nodes``: one ``doc_id`` per node; ``pairs``: undirected edges as
    (doc_a, doc_b).  Returns (doc_id, cluster_id = component minimum)."""
    fwd = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    rev = pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    # materialize once: every sweep re-reads the edge list, and its lineage
    # (the whole shingle self-join) must not be re-executed per sweep.
    edges = fwd.unionAll(rev).localCheckpoint()

    labels = nodes.select(
        "doc_id", F.col("doc_id").alias("cluster_id")
    ).localCheckpoint()
    changed = -1
    rest = None  # non-incident labels, split off once the volume guard trips
    for _ in range(LABEL_SWEEP_SWITCH):
        nbr_min = (
            edges.join(labels, edges.src == labels.doc_id)
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        # the change flag is computed IN the update (label shrank iff a
        # neighbor's label beat ours), so convergence detection is a
        # one-row aggregate over the already-materialized checkpoint
        # instead of re-joining the full old/new label sets every sweep.
        new_labels = (
            labels.join(nbr_min, "doc_id", "left")
            .select(
                "doc_id",
                F.least(
                    "cluster_id", F.coalesce("nbr_min", "cluster_id")
                ).alias("new_cid"),
                F.coalesce(
                    F.col("nbr_min") < F.col("cluster_id"), F.lit(False)
                ).alias("_chg"),
            )
            .withColumnRenamed("new_cid", "cluster_id")
            .localCheckpoint()
        )
        probe = new_labels.agg(
            F.count("*").alias("n_labels"),
            F.sum(F.col("_chg").cast("long")).alias("n_changed"),
        ).collect()[0]
        changed = int(probe["n_changed"] or 0)
        labels = new_labels.drop("_chg")
        if changed == 0:
            break
        if rest is None and probe["n_labels"] >= LABELPROP_INCIDENT_MIN_NODES:
            # Edge-incident restriction (guide §2.3 "shuffle fewer
            # bytes"; the r19 attempt, re-landed behind this volume
            # guard): a node with no edges never appears in nbr_min, so
            # its label is final after sweep 1 — at LLM-dedup scale the
            # corpus dwarfs the dup set and sweeping billions of
            # singleton rows per sweep is the dominant waste.  The guard
            # trips off the SAME probe row the convergence check already
            # pays (zero extra jobs at fixture scale, where r19 measured
            # the unconditional restriction 0.4-1.0 s SLOWER than the
            # plain sweeps); once tripped, later sweeps carry only
            # edge-incident labels and the untouched singleton labels
            # re-attach lazily in the consumer's plan.
            incident = edges.select(F.col("src").alias("doc_id")).distinct()
            rest = labels.join(incident, "doc_id", "anti")
            labels = labels.join(incident, "doc_id", "semi").localCheckpoint()
    if changed == 0 and rest is not None:
        labels = labels.unionByName(rest)
    if changed != 0:
        # Still moving after the sweep budget: the component is deeper
        # than any near-clique dup class — finish with the
        # diameter-independent alternation instead of more sweeps
        # (returning partial labels would silently split components).
        return _two_phase_components(nodes, edges)
    return labels


def _two_phase_components(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Connected components by the large-star/small-star alternation
    (Kiveris et al. 2014, "Connected Components in MapReduce and Beyond",
    Alternating Algorithm): per round, LARGE-STAR hangs every node's
    strictly-larger neighbors off the minimum of its closed neighborhood,
    then SMALL-STAR re-hangs each node's not-larger neighbors (and itself)
    off their minimum.  Both steps preserve connectivity and never merge
    distinct components; the fixpoint is one star per component centered
    at the component minimum — reached in rounds logarithmic in component
    size, INDEPENDENT of diameter (a 1M-node chain converges in ~20
    rounds where label propagation needs 1M sweeps).  Each step is one
    hash aggregate + one equi-join on node keys — the same shuffle shapes
    as the sweep loop, so the 100 TB posture is unchanged.

    ``edges``: symmetric directed (src, dst) pairs (both orientations
    present).  Returns (doc_id, cluster_id = component minimum), with
    singleton nodes labeled by themselves."""
    e = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .distinct()
        .localCheckpoint()
    )
    converged = e.isEmpty()  # no edges at all: nothing to alternate
    for _ in range(TWO_PHASE_MAX_ROUNDS):
        if converged:
            break
        # Large-star: for each u, m = min(N(u) ∪ {u}); emit (v, m) for
        # every neighbor v > u.  (Edges to not-larger neighbors re-appear
        # from the other endpoint's neighborhood.)
        sym = e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
            e.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("u", "mn").alias("m"))
        )
        ls = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("s"), F.col("m").alias("t"))
        )
        e1 = (
            ls.filter(F.col("s") != F.col("t"))
            .select(F.least("s", "t").alias("a"), F.greatest("s", "t").alias("b"))
            .distinct()
        )
        # Small-star: orient every edge to its larger endpoint (u > v);
        # per u, m = min of its smaller neighbors; emit (v, m) for those
        # neighbors plus (u, m) itself.
        big = e1.select(F.col("b").alias("u"), F.col("a").alias("v"))
        mins2 = big.groupBy("u").agg(F.min("v").alias("m"))
        ss = (
            big.join(mins2, "u")
            .select(F.col("v").alias("s"), F.col("m").alias("t"))
            .unionAll(mins2.select(F.col("u").alias("s"), F.col("m").alias("t")))
        )
        e_new = (
            ss.filter(F.col("s") != F.col("t"))
            .select(F.least("s", "t").alias("a"), F.greatest("s", "t").alias("b"))
            .distinct()
            .localCheckpoint()
        )
        converged = e_new.exceptAll(e).isEmpty() and e.exceptAll(e_new).isEmpty()
        e = e_new
    if not converged:
        raise RuntimeError(
            f"star alternation did not reach a fixpoint in "
            f"{TWO_PHASE_MAX_ROUNDS} rounds"
        )
    # Fixpoint = stars centered at component minima: every non-center node
    # has exactly its (center, node) edge; centers and singletons label
    # themselves via the left join.
    parents = e.groupBy(F.col("b").alias("doc_id")).agg(F.min("a").alias("p"))
    return nodes.join(parents, "doc_id", "left").select(
        "doc_id", F.coalesce("p", F.col("doc_id")).alias("cluster_id")
    )


#: Per-stratum keep rates in per-mille: down-sample dominant English, keep
#: the long-tail languages — the data-mixing move every corpus build does.
SAMPLE_RATES_PER_MILLE = {"en": 200, "de": 600, "es": 600, "fr": 600, "zh": 600}
SAMPLE_DEFAULT_PER_MILLE = 500

_SAMPLE_CASE_SQL = (
    "CASE lang "
    + " ".join(
        f"WHEN '{k}' THEN {v}" for k, v in SAMPLE_RATES_PER_MILLE.items()
    )
    + f" ELSE {SAMPLE_DEFAULT_PER_MILLE} END"
)


@register(
    "x_llm_sample_stratified",
    oracle=f"""
    SELECT doc_id, lang, source, n_chars
    FROM documents
    WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 6))::BIGINT % 1000
          < {_SAMPLE_CASE_SQL}
    """,
)
def x_llm_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based stratified sampling: keep a document iff
    ``md5(doc_id)``'s first 24 bits land under the stratum's per-mille
    rate.  This is how a training-data pipeline samples at scale — NOT
    ``df.sample()`` — because the decision is a pure function of the row
    key: reproducible across runs/engines/retries (a re-executed task
    keeps the same rows), stable under repartitioning, and extendable to
    consistent cross-table sampling (same key → same verdict everywhere).
    Narrow codegen'd filter, zero shuffle, pushes nothing to Python.

    Spark's ``conv(substring(md5(x),1,6),16,10)`` and DuckDB's
    ``('0x' || substr(md5(x),1,6))::BIGINT`` read the same 24 hex-derived
    bits, so both engines make bit-identical keep decisions."""
    rates = F.lit(SAMPLE_DEFAULT_PER_MILLE)
    for k, v in reversed(SAMPLE_RATES_PER_MILLE.items()):
        rates = F.when(F.col("lang") == k, F.lit(v)).otherwise(rates)
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10)
        .cast("bigint")
        % 1000
    )
    return (
        table(spark, sf_dir, "documents")
        .filter(bucket < rates)
        .select("doc_id", "lang", "source", "n_chars")
    )


#: PII scrub patterns — valid and semantically identical in Java regex
#: (Spark, JVM-side regexp_replace) and RE2 (DuckDB): no backrefs, no
#: lookaround.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\b\d{3}-\d{4}\b"


@register(
    "x_llm_pii_scrub",
    oracle=f"""
    WITH seeded AS (
        SELECT doc_id,
               text || ' Contact user' || doc_id::VARCHAR ||
               '@example.com or 555-' ||
               lpad((doc_id % 10000)::VARCHAR, 4, '0') || '.' AS raw
        FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(raw, '{PII_EMAIL_RE}')) +
           len(regexp_extract_all(raw, '{PII_PHONE_RE}')) AS n_redacted,
           regexp_replace(regexp_replace(raw, '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
                          '{PII_PHONE_RE}', '<PHONE>', 'g') AS clean
    FROM seeded
    """,
)
def x_llm_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing over the documents table: redact emails and phone
    numbers to typed placeholders and count redactions per doc.  The
    fixture text is synthetic words, so deterministic pseudo-PII is seeded
    per row first (``user<id>@example.com``, ``555-<id%10000>``) in BOTH
    engines — the oracle then proves the scrub machinery end-to-end rather
    than vacuously matching on untouched text.

    Everything is JVM-side ``regexp_replace``/``regexp_count`` inside one
    whole-stage-codegen'd narrow pass — zero shuffle, no Python; at 100 TB
    this runs at scan speed, which is why scrubbing belongs in built-in
    regex functions and not a UDF.  Spark compiles the patterns with
    java.util.regex and DuckDB with RE2; the patterns avoid every
    construct the two dialects disagree on (backrefs, lookaround,
    possessives), so replacements are position-identical."""
    doc_id_s = F.col("doc_id").cast("string")
    raw = F.concat(
        F.col("text"),
        F.lit(" Contact user"),
        doc_id_s,
        F.lit("@example.com or 555-"),
        F.lpad(F.pmod("doc_id", F.lit(10000)).cast("string"), 4, "0"),
        F.lit("."),
    )
    seeded = table(spark, sf_dir, "documents").select(
        "doc_id", raw.alias("raw")
    )
    n_red = F.regexp_count("raw", F.lit(PII_EMAIL_RE)) + F.regexp_count(
        "raw", F.lit(PII_PHONE_RE)
    )
    clean = F.regexp_replace(
        F.regexp_replace("raw", PII_EMAIL_RE, "<EMAIL>"),
        PII_PHONE_RE,
        "<PHONE>",
    )
    return seeded.select(
        "doc_id", n_red.alias("n_redacted"), clean.alias("clean")
    )


#: Context-window token budget for sequence packing (tokens ~ chars/4,
#: the usual BPE planning heuristic; exact both engines: integer div).
PACK_CAPACITY_TOKENS = 2048


_PACK_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id, lang, n_chars // 4 AS n_tokens FROM documents
    )
    SELECT doc_id, lang, n_tokens,
           COALESCE(sum(n_tokens) OVER (
               PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0)::BIGINT // {PACK_CAPACITY_TOKENS} AS pack_id
    FROM toks
    """


def _pack_assignments(toks: DataFrame, capacity: int) -> DataFrame:
    """Boundary-straddle packing kernel shared by x_llm_pack_sequences
    and flagship_curation stage 7 (and property-fuzzed with a tiny
    capacity in tests/test_properties.py): ``pack_id = (sum of n_tokens
    of earlier docs in (lang, doc_id) order) div capacity``.  ``toks``
    must carry (doc_id, lang, n_tokens).  Integer ``div`` end-to-end
    (matches the oracle's ``//``): a double division .cast('long')
    diverges once cumulative fill passes 2^53 — exactly the regime the
    100 TB framing implies."""
    before = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    fill = F.coalesce(F.sum("n_tokens").over(before), F.lit(0))
    return toks.select("doc_id", "lang", "n_tokens", fill.alias("_fill")).select(
        "doc_id",
        "lang",
        "n_tokens",
        F.expr(f"_fill div {capacity}").alias("pack_id"),
    )


@register("x_llm_pack_sequences", oracle=_PACK_ORACLE)
def x_llm_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training shards: assign each document to a
    fixed-token-budget pack (context window = PACK_CAPACITY_TOKENS = 2048
    tokens, tokens = chars//4) by cumulative fill in deterministic
    (lang, doc_id) order — ``pack_id = tokens_before // capacity``.  This
    is boundary-straddle packing: the doc that crosses a budget boundary
    stays in the pack where it started (packs can overrun by < one doc;
    the trainer truncates), which keeps the assignment a pure windowed
    prefix-sum — one shuffle, no stateful scan, identical in any engine —
    where true first-fit packing is an inherently sequential fold.

    Scale: the window sorts per lang, so one language = one task's sort.
    At 100 TB, pre-shard the partition key to (lang, doc_id div S) and
    recover the global prefix sum from broadcast per-shard totals — the
    sort becomes embarrassingly parallel and the assignment is BIT-
    IDENTICAL (``x_llm_pack_sequences_sharded`` below is that plan,
    registered against this same oracle; ``tests/test_curation.py``
    asserts sharded ≡ unsharded on the fixture).  Fixture langs are ~100
    docs each, so the plain key is the right plan here."""
    toks = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.expr("n_chars div 4").alias("n_tokens")
    )
    return _pack_assignments(toks, PACK_CAPACITY_TOKENS)


#: Shard width (docs per shard) for the scaled packing plan.  Small on
#: purpose for the fixtures so every lang spans multiple shards and the
#: equivalence below is exercised across many shard boundaries.
PACK_SHARD_DOCS = 64


def pack_sequences_sharded(
    spark: SparkSession, sf_dir: str, shard_docs: int = PACK_SHARD_DOCS
) -> DataFrame:
    """The 100 TB plan for ``x_llm_pack_sequences``, same answer exactly.

    The plain operator's window sorts one whole language in one task.
    Here the sort key is pre-sharded to ``(lang, doc_id div shard_docs)``
    so each task sorts only one shard, and the global cumulative fill is
    recovered as ``shard_start_fill + local_fill`` where the per-shard
    start fills come from a second, TINY prefix sum over per-shard totals
    (one row per shard — thousands of rows at 100 TB, broadcast back).
    ``doc_id div shard_docs`` is monotone in ``doc_id``, so shard-major
    order equals global order and the recovered prefix sum is bit-equal
    to the single-window one: identical pack ids, embarrassingly parallel
    sort.  Same distributed-prefix-sum shape as
    ``x_etl_global_row_number`` (operators/etl.py)."""
    toks = table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.expr("n_chars div 4").alias("n_tokens"),
        F.expr(f"doc_id div {shard_docs}").alias("_shard"),
    )
    local = Window.partitionBy("lang", "_shard").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    local_fill = F.coalesce(F.sum("n_tokens").over(local), F.lit(0))
    shard_totals = toks.groupBy("lang", "_shard").agg(
        F.sum("n_tokens").alias("_tot")
    )
    over_shards = Window.partitionBy("lang").orderBy("_shard").rowsBetween(
        Window.unboundedPreceding, -1
    )
    starts = shard_totals.select(
        "lang",
        "_shard",
        F.coalesce(F.sum("_tot").over(over_shards), F.lit(0)).alias("_start"),
    )
    return (
        toks.withColumn("_local", local_fill)
        .join(F.broadcast(starts), ["lang", "_shard"])
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            F.expr(f"(_start + _local) div {PACK_CAPACITY_TOKENS}").alias(
                "pack_id"
            ),
        )
    )


# Registered against the SAME oracle as x_llm_pack_sequences: the driver's
# hash comparison is itself the proof that the sharded plan reproduces the
# single-window assignment exactly.
register("x_llm_pack_sequences_sharded", oracle=_PACK_ORACLE)(
    pack_sequences_sharded
)


#: Incremental split: doc_id % 10 >= 8 plays the "newly arrived batch"
#: (20% of the corpus); the rest is the already-deduped corpus.
_INCR_NEW_MOD = 8


_INCR_ORACLE = f"""
    WITH {_SQL_SHINGLES},
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    common AS (
        SELECT o.doc_id AS doc_old, nw.doc_id AS doc_new, count(*) AS c
        FROM sh o JOIN sh nw ON o.s = nw.s
        WHERE o.doc_id % 10 < {_INCR_NEW_MOD}
          AND nw.doc_id % 10 >= {_INCR_NEW_MOD}
        GROUP BY 1, 2
    )
    SELECT doc_old, doc_new,
           round(c::DOUBLE / (so.n + sn.n - c)::DOUBLE, 6) AS jaccard
    FROM common
    JOIN sizes so ON doc_old = so.doc_id
    JOIN sizes sn ON doc_new = sn.doc_id
    WHERE c::DOUBLE / (so.n + sn.n - c)::DOUBLE >= 0.5
    """


@register("x_llm_dedup_incremental", oracle=_INCR_ORACLE)
def x_llm_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: near-dup pairs (exact n-gram Jaccard >= 0.5)
    between a NEW batch (doc_id % 10 >= 8 stands in for today's crawl)
    and the EXISTING corpus — the production shape of dedup, where the
    corpus is 100 TB and already deduped, and re-running the full
    self-join per batch (``x_llm_dedup_ngram_jaccard``) would redo
    O(corpus²) work for an O(batch × corpus-overlap) question.

    The pair generator is a BIPARTITE inverted-index equi-join: the new
    batch's shingle rows join the corpus's shingle index on the 64-bit
    shingle hash, so candidate count scales with (batch shingles ×
    per-shingle document frequency) — independent of corpus size for
    bounded df.  This fixture implementation shingles both sides fresh
    (one documents scan); the production deployment keeps the corpus
    side as a MAINTAINED index (shingle rows persisted bucketed by
    ``h`` as each batch is admitted), so the per-batch cost becomes one
    narrow scan of the batch + one co-located join, with the corpus
    text never re-shingled.  The
    hot-shingle cap of ``x_llm_dedup_ngram_jaccard`` applies unchanged
    when boilerplate df crosses the cap (same anti-join + candidate-
    linear correction, bipartite instead of self-join); the fixture df
    stays below it, so this operator states the exact J directly.
    Sizes count FULL shingle sets on both sides, so reported J is exact,
    same as the batch operator.  Measured (r12 stress): 1.9x wall at 10x
    corpus, matched batch docs exactly 10x —
    `scale_stress_r12_incremental.json`."""
    sh = _shingle_rows(spark, sf_dir)
    is_new = F.pmod("doc_id", F.lit(10)) >= _INCR_NEW_MOD
    return _bipartite_jaccard(
        sh.filter(~is_new).select(F.col("doc_id").alias("doc_old"), "h"),
        sh.filter(is_new).select(F.col("doc_id").alias("doc_new"), "h"),
    )


def _bipartite_jaccard(old_sh: DataFrame, new_sh: DataFrame) -> DataFrame:
    """Exact-Jaccard (>= 0.5) pairs between two shingle-row sides joined on
    the 64-bit hash — the shared assembly of ``x_llm_dedup_incremental``
    and ``x_llm_dedup_incremental_indexed`` (both sides' sizes count their
    FULL shingle sets, so reported J is exact)."""
    common = (
        old_sh.join(new_sh, "h")
        .groupBy("doc_old", "doc_new")
        .agg(F.count("*").alias("c"))
    )
    old_sizes = old_sh.groupBy("doc_old").agg(F.count("*").alias("n_old"))
    new_sizes = new_sh.groupBy("doc_new").agg(F.count("*").alias("n_new"))
    j = F.col("c") / (F.col("n_old") + F.col("n_new") - F.col("c"))
    return (
        common.join(old_sizes, "doc_old")
        .join(new_sizes, "doc_new")
        .filter(j >= 0.5)
        .select("doc_old", "doc_new", F.round(j, 6).alias("jaccard"))
    )


#: Bucket count for the maintained incremental-dedup shingle index.  On a
#: cluster this is sized to corpus shingles / ~128 MB; 16 keeps the local
#: fixture honest without 1000 tiny files.
_INCR_INDEX_BUCKETS = 16

#: On-disk index format version.  The persisted bucketed index survives
#: across sessions, so its identity must cover not just the corpus files
#: but HOW they were indexed: bump this whenever the shingle definition
#: (`_shingle_rows_of` / `_tri_shingle_array` / `SHINGLE_N` / the hash
#: function) or the bucket layout changes, or a fresh session would
#: silently re-register a stale dir built under the old rules.  The
#: fingerprint below also folds in SHINGLE_N and _INCR_INDEX_BUCKETS
#: directly so the common parameter tweaks invalidate without a manual
#: bump.
_INCR_INDEX_FORMAT_V = 1


@register("x_llm_dedup_incremental_indexed", oracle=_INCR_ORACLE)
def x_llm_dedup_incremental_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``x_llm_dedup_incremental`` in its PRODUCTION shape: the corpus
    shingle index is a MAINTAINED bucketed table (bucketed+sorted by the
    64-bit shingle hash ``h``), and the per-batch run shingles ONLY the
    new batch — the corpus text is never re-read and the corpus index is
    never re-shuffled (its side of the join is co-located by the bucketed
    layout; only the batch side exchanges, into the index's bucketing).

    Index lifecycle here: built once per (scale-factor, session-catalog)
    from the corpus partition of ``documents`` and admitted batches would
    be appended on acceptance (bucketBy supports append with identical
    bucketing).  At 100 TB the index build is the one-time cost the
    incremental shape amortizes: every nightly batch then pays
    O(batch shingles × per-shingle df), independent of corpus size.
    Same exact-J semantics and oracle as ``x_llm_dedup_incremental``
    (sizes count full shingle sets on both sides).  Measured (r12
    stress, warm index): 1.8x wall at 10x corpus, matched batch docs
    exactly 10x — `scale_stress_r12_incremental.json`."""
    import hashlib
    import os

    docs = table(spark, sf_dir, "documents")
    is_new = F.pmod("doc_id", F.lit(10)) >= _INCR_NEW_MOD

    # Index identity = corpus identity + index FORMAT: the fingerprint
    # covers the source file (full path + mtime + size) so a regenerated
    # fixture or same-basename sibling never serves a stale index, AND the
    # indexing recipe (format version, shingle width, bucket count) so a
    # code change to the shingle/bucket logic misses the cross-session
    # _SUCCESS re-register check and rebuilds instead of silently reusing
    # a dir built under the old rules.  Production analog: the maintained
    # index is versioned with both the corpus snapshot and the indexer
    # release that built it.
    src = os.path.join(sf_dir, "documents.parquet")
    st = os.stat(src)
    fp = hashlib.sha1(
        f"{os.path.abspath(src)}:{st.st_mtime_ns}:{st.st_size}"
        f":v{_INCR_INDEX_FORMAT_V}:n{SHINGLE_N}:b{_INCR_INDEX_BUCKETS}".encode()
    ).hexdigest()[:10]
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    tbl = f"incr_shingle_idx_{tag}_{fp}"
    base = os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
        ".tmp",
        "incr_index",
    )
    loc = os.path.join(base, tbl)
    # A registered table whose backing dir was cleaned (e.g. `.tmp` wiped
    # mid-session) must rebuild, not fail on read.
    if spark.catalog.tableExists(tbl) and not os.path.isdir(loc):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    if not spark.catalog.tableExists(tbl):
        # Fixture regeneration changes the fingerprint: prune superseded
        # sibling indexes for the same sf tag so .tmp doesn't accumulate
        # one orphaned bucketed dir per regeneration.
        import shutil

        stale_prefix = f"incr_shingle_idx_{tag}_"
        if os.path.isdir(base):
            for d in os.listdir(base):
                if d.startswith(stale_prefix) and d != tbl:
                    spark.sql(f"DROP TABLE IF EXISTS {d}")
                    shutil.rmtree(os.path.join(base, d), ignore_errors=True)
        if os.path.isfile(os.path.join(loc, "_SUCCESS")):
            # The catalog is session-scoped (in-memory) but the bucketed
            # files persist: a COMPLETE index dir for this exact corpus
            # fingerprint re-registers as an external bucketed table
            # instead of re-shingling the corpus — this is the whole
            # point of a maintained index (cross-run amortization), and
            # it's what every fresh driver/bench session hits.
            # LOCATION is a SQL string literal: escape single quotes so a
            # checkout path containing one can't break the statement (the
            # write branch uses .option("path") and is unaffected).
            loc_sql = loc.replace("'", "''")
            spark.sql(
                f"CREATE TABLE {tbl} (doc_id BIGINT, h BIGINT)"
                f" USING parquet CLUSTERED BY (h) SORTED BY (h)"
                f" INTO {_INCR_INDEX_BUCKETS} BUCKETS LOCATION '{loc_sql}'"
            )
        else:
            (
                _shingle_rows_of(docs.filter(~is_new))
                .select("doc_id", "h")
                .write.mode("overwrite")
                .option("path", loc)
                .bucketBy(_INCR_INDEX_BUCKETS, "h")
                .sortBy("h")
                .format("parquet")
                .saveAsTable(tbl)
            )
    index = spark.table(tbl).select(F.col("doc_id").alias("doc_old"), "h")

    new_sh = _shingle_rows_of(docs.filter(is_new)).select(
        F.col("doc_id").alias("doc_new"), "h"
    )
    return _bipartite_jaccard(index, new_sh)


#: SemDeDup geometry: 16 deterministic seed centroids refined by ONE
#: spherical-k-means (Lloyd) iteration, in-cluster cosine >= 0.3 marks a
#: semantic duplicate (fixture embeddings are near-orthogonal, max
#: pairwise cosine ≈ 0.49).  The iteration count is part of the fixed
#: geometry — the oracle unrolls exactly this many update steps.
SEMDEDUP_K = 16
SEMDEDUP_THRESHOLD = 0.3
SEMDEDUP_LLOYD_ITERS = 1

#: One unrolled Lloyd step in SQL: assign to argmax-cosine centroid
#: (rounded 6, ties to lowest cid), per-dimension mean of the assigned
#: normalized vectors (rounded 6 — the one cross-engine-sensitive
#: reduction, so rounding happens BEFORE the norm), re-normalize, round 6.
#: Empty or degenerate (zero-norm) clusters keep their previous centroid.
_SQL_LLOYD_STEP = """
    s{t} AS (
        SELECT n.vec_id, c.cid,
               round(list_sum(list_transform(generate_series(1, len(n.e)),
                     i -> n.e[i] * c.ce[i])), 6) AS cos
        FROM normed n CROSS JOIN cent{t} c
    ),
    a{t} AS (
        SELECT vec_id, cid FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                      ORDER BY cos DESC, cid) AS rn
            FROM s{t})
        WHERE rn = 1
    ),
    ex{t} AS (
        SELECT a.cid, n.e, unnest(generate_series(1, len(n.e))) AS i
        FROM a{t} a JOIN normed n ON n.vec_id = a.vec_id
    ),
    ml{t} AS (
        SELECT cid, list(m ORDER BY i) AS mv FROM (
            SELECT cid, i, round(avg(e[i]), 6) AS m
            FROM ex{t} GROUP BY cid, i)
        GROUP BY cid
    ),
    cent{t1} AS (
        SELECT c.cid,
               CASE WHEN ml.mv IS NULL
                      OR sqrt(list_sum(list_transform(ml.mv, x -> x * x))) = 0
                    THEN c.ce
                    ELSE list_transform(ml.mv, x -> round(x /
                         sqrt(list_sum(list_transform(ml.mv, y -> y * y))), 6))
               END AS ce
        FROM cent{t} c LEFT JOIN ml{t} ml ON ml.cid = c.cid
    )
"""

_SEMDEDUP_STEPS = ",".join(
    _SQL_LLOYD_STEP.format(t=t, t1=t + 1) for t in range(SEMDEDUP_LLOYD_ITERS)
)
_T = SEMDEDUP_LLOYD_ITERS  # final centroid generation


@register(
    "x_llm_semdedup",
    oracle=f"""
    WITH {_SQL_NORMED},
    cent0 AS (SELECT vec_id AS cid, e AS ce FROM normed
              WHERE vec_id < {SEMDEDUP_K}),
    {_SEMDEDUP_STEPS},
    scored AS (
        SELECT n.vec_id, c.cid,
               round(list_sum(list_transform(generate_series(1, len(n.e)),
                     i -> n.e[i] * c.ce[i])), 6) AS cos
        FROM normed n CROSS JOIN cent{_T} c
    ),
    asg AS (
        SELECT vec_id, cid FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                      ORDER BY cos DESC, cid) AS rn
            FROM scored)
        WHERE rn = 1
    ),
    dup AS (
        SELECT DISTINCT a.vec_id AS dup_id
        FROM asg a JOIN asg b ON a.cid = b.cid AND b.vec_id < a.vec_id
        JOIN normed na ON na.vec_id = a.vec_id
        JOIN normed nb ON nb.vec_id = b.vec_id
        WHERE round(list_sum(list_transform(generate_series(1, len(na.e)),
              i -> na.e[i] * nb.e[i])), 6) >= {SEMDEDUP_THRESHOLD}
    )
    SELECT vec_id, cid AS cluster_id,
           vec_id IN (SELECT dup_id FROM dup) AS is_dup
    FROM asg
    """,
)
def x_llm_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication by clustering
    the embedding space and pruning near-identical vectors WITHIN each
    cluster — the pair generation never crosses cluster boundaries, which
    is what makes embedding dedup tractable at corpus scale (in-cluster
    pairs ≈ n²/K, and K grows with n).

    Deterministic fixture formulation so a SQL oracle can replay it:
    centroids start as the first SEMDEDUP_K normalized vectors and are
    refined by SEMDEDUP_LLOYD_ITERS spherical-k-means (Lloyd) steps —
    assign to argmax-cosine centroid, recompute each centroid as the
    per-dimension mean of its members (rounded to 6 BEFORE the norm, the
    one reduction whose summation order differs across engines), then
    re-normalize; empty/zero-norm clusters keep their previous centroid.
    Each vector joins its argmax-cosine centroid (rounded to 6 before the
    argmax, ties to the lowest centroid id — both engines agree), and a
    vector is a duplicate iff a LOWER-vec_id vector in the same cluster
    has rounded cosine >= SEMDEDUP_THRESHOLD (the greedy keep-first
    rule).  The oracle unrolls the identical update steps as CTEs.

    Plan: the centroid matrix is a driver-held model (K × 64 doubles)
    closed over by narrow ``mapInPandas`` assignment passes (argmax of
    E·Cᵀ per Arrow batch — corpus scanned once per Lloyd step, no join,
    no shuffle); each centroid update is ONE hash aggregate (per-dim
    ``F.avg`` with map-side partial aggregation) collecting only K × dim
    doubles to the driver — the k-means shape that scales to any corpus
    size; the prune is ONE shuffle on cluster_id + per-cluster
    ``applyInPandas`` pairwise GEMM (cluster-local, upper-triangle).
    Oversized clusters at 100 TB get the blocked-GEMM treatment of
    ``x_llm_dedup_embed`` inside the cell — same math, bounded task
    memory."""
    normed = _normalized(spark, sf_dir)
    crows = sorted(
        normed.filter(F.col("vec_id") < SEMDEDUP_K).collect(),
        key=lambda r: r.vec_id,
    )
    cmat = np.array([r.e for r in crows])  # K × dim — the model
    # cluster ids are the centroids' vec_ids (the oracle's cid), NOT matrix
    # positions — identical only while vec_ids 0..K-1 all exist, so map
    # explicitly to stay correct on gapped/re-keyed fixtures.
    cids = np.array([r.vec_id for r in crows])
    dim = cmat.shape[1]

    def assigner(cm: np.ndarray):
        def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if pdf.empty:
                    continue
                scores = np.round(np.vstack(pdf["e"].to_numpy()) @ cm.T, 6)
                # first max = lowest centroid id on ties (cm is cid-sorted)
                yield pd.DataFrame(
                    {
                        "vec_id": pdf["vec_id"],
                        "cluster_id": cids[scores.argmax(1)],
                        "e": pdf["e"],
                    }
                )

        return assign

    asg_schema = "vec_id long, cluster_id long, e array<double>"
    for _ in range(SEMDEDUP_LLOYD_ITERS):
        members = normed.mapInPandas(assigner(cmat), asg_schema)
        mean_rows = (
            members.groupBy("cluster_id")
            .agg(*[
                F.round(F.avg(F.col("e")[i]), 6).alias(f"m{i}")
                for i in range(dim)
            ])
            .collect()
        )
        means = {
            r["cluster_id"]: np.array([r[f"m{i}"] for i in range(dim)])
            for r in mean_rows
        }
        nxt = []
        for k, cid in enumerate(cids):
            m = means.get(int(cid))
            nrm = float(np.sqrt((m * m).sum())) if m is not None else 0.0
            nxt.append(cmat[k] if nrm == 0.0 else np.round(m / nrm, 6))
        cmat = np.vstack(nxt)

    asg = normed.mapInPandas(assigner(cmat), asg_schema)

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id")
        mat = np.vstack(pdf["e"].to_numpy())
        cos = np.round(mat @ mat.T, 6)
        dup = (np.tril(cos >= SEMDEDUP_THRESHOLD, k=-1)).any(axis=1)
        return pd.DataFrame(
            {
                "vec_id": pdf["vec_id"],
                "cluster_id": pdf["cluster_id"],
                "is_dup": dup,
            }
        )

    return asg.groupBy("cluster_id").applyInPandas(
        prune, "vec_id long, cluster_id long, is_dup boolean"
    )


#: Vocabulary size the tokenizer-training count reports.
VOCAB_TOP_K = 1000


@register(
    "x_llm_vocab_topk",
    oracle=f"""
    WITH tok AS (
        SELECT lower(t.tok) AS token
        FROM documents, unnest(string_split(text, ' ')) AS t(tok)
        WHERE t.tok <> ''
    )
    SELECT token, count(*) AS freq
    FROM tok GROUP BY token
    ORDER BY freq DESC, token
    LIMIT {VOCAB_TOP_K}
    """,
)
def x_llm_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-K whitespace tokens by frequency — the
    counting pass every tokenizer build (BPE seed vocab, frequency
    cutoffs) starts from.  The plan is the canonical heavy-hitters
    shape: explode → partial count per partition (map-side combine eats
    the Zipf head BEFORE the shuffle: 'the' leaves each of 1000
    executors as ONE (token, n) row, not a billion) → final count →
    ``TakeOrderedAndProject`` top-K via per-partition heaps, never a
    global sort of the vocabulary.  Tie-break on the token keeps the cut
    deterministic across engines and partitionings."""
    tok = (
        table(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("t"))
        .filter(F.col("t") != "")
        .select(F.lower("t").alias("token"))
    )
    return (
        tok.groupBy("token")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("token"))
        .limit(VOCAB_TOP_K)
    )


#: Benchmark split for decontamination: doc_id % 10 == 9 plays the
#: held-out eval set; everything else is training data.
_DECON_BENCH_MOD = 9
#: Containment threshold: flag when >= 80% of a benchmark doc's shingles
#: appear in a training doc.
DECON_CONTAINMENT = 0.8


@register(
    "x_llm_decontaminate",
    oracle=f"""
    WITH {_SQL_SHINGLES},
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    common AS (
        SELECT tr.doc_id AS doc_train, be.doc_id AS doc_bench, count(*) AS c
        FROM sh tr JOIN sh be ON tr.s = be.s
        WHERE tr.doc_id % 10 <> {_DECON_BENCH_MOD}
          AND be.doc_id % 10 = {_DECON_BENCH_MOD}
        GROUP BY 1, 2
    )
    SELECT doc_train, doc_bench,
           round(c::DOUBLE / sb.n, 6) AS containment
    FROM common JOIN sizes sb ON doc_bench = sb.doc_id
    WHERE c::DOUBLE / sb.n >= {DECON_CONTAINMENT}
    """,
)
def x_llm_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval contamination check: flag (train doc, benchmark doc)
    pairs where >= 80% of the BENCHMARK doc's shingles appear in the
    training doc.  The metric is CONTAINMENT |A∩B|/|B| (benchmark side),
    not Jaccard: a 50-token eval question pasted into a 5000-token web
    page has J ≈ 0.01 — invisible to every dedup threshold — but
    containment 1.0.  This asymmetry is why decontamination is its own
    pipeline step and not a rerun of dedup.

    Same bipartite inverted-index shape as ``x_llm_dedup_incremental``
    (benchmark shingles join the train index on the 64-bit hash; the
    candidate set scales with benchmark size × df, never train²), and
    the benchmark side of a real pipeline is tiny — a broadcast-sized
    index checked against each incoming batch."""
    return _decontaminate_pairs(_shingle_rows(spark, sf_dir))


def _decontaminate_pairs(sh: DataFrame) -> DataFrame:
    """Body of :func:`x_llm_decontaminate` over a caller-supplied shingle
    frame (shared-build hook for ``flagship_curation``)."""
    is_bench = F.pmod("doc_id", F.lit(10)) == _DECON_BENCH_MOD
    train = sh.filter(~is_bench).select(F.col("doc_id").alias("doc_train"), "h")
    bench = sh.filter(is_bench).select(F.col("doc_id").alias("doc_bench"), "h")
    common = (
        train.join(bench, "h")
        .groupBy("doc_train", "doc_bench")
        .agg(F.count("*").alias("c"))
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    containment = F.col("c") / F.col("n_bench")
    return (
        common.join(
            sizes.select(
                F.col("doc_id").alias("doc_bench"), F.col("n").alias("n_bench")
            ),
            "doc_bench",
        )
        .filter(containment >= DECON_CONTAINMENT)
        .select(
            "doc_train", "doc_bench", F.round(containment, 6).alias("containment")
        )
    )


@register(
    "x_llm_repetition_score",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    tri AS (
        SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
        FROM toks, unnest(generate_series(1, len(t) - 2)) AS r(i)
        WHERE len(t) >= 3
    )
    SELECT doc_id, count(*) AS n_tri,
           round(1.0 - count(DISTINCT s)::DOUBLE / count(*), 6) AS rep_ratio
    FROM tri GROUP BY doc_id
    """,
)
def x_llm_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition score: fraction of a doc's trigram
    occurrences that are repeats of an earlier trigram (0 = no
    repetition, →1 = the same phrase looping) — the Gopher-class
    repetition rule that catches boilerplate loops, keyword stuffing and
    generation degeneracy, which length/stopword quality features
    (``x_llm_quality_score``) cannot see.

    ENTIRELY narrow: the trigram array, its ``array_distinct``, and the
    ratio are computed per row inside codegen — zero shuffle, zero
    Python, no explode (the doc's shingle multiset never leaves the
    row).  At 100 TB this is the cheapest possible filter shape: scan
    speed, trivially combinable with the other per-doc scores in the
    same pass."""
    # _tri_shingle_array zip_with-pads two trailing nulls (the explode
    # path drops them row-wise); drop them array-side here
    arr = F.filter(_tri_shingle_array(F.col("text")), lambda x: x.isNotNull())
    n_tri = F.size(arr)
    # try_divide, not /: the n_tri > 0 filter below DROPS the zero-shingle
    # rows, but only filter PUSHDOWN keeps the division from evaluating on
    # them first — under ANSI a plan change would turn that luck into a
    # DIVIDE_BY_ZERO throw (corpus fuzz, r17)
    rep = F.round(
        F.lit(1.0)
        - F.try_divide(F.size(F.array_distinct(arr)), n_tri.cast("double")),
        6,
    )
    return (
        table(spark, sf_dir, "documents")
        .select("doc_id", n_tri.cast("long").alias("n_tri"), rep.alias("rep_ratio"))
        .filter(F.col("n_tri") > 0)
    )


#: Repetition ceiling for the curation pipeline's quality gate.
REP_MAX_RATIO = 0.3


@register(
    "flagship_curation",
    oracle=f"""
    WITH RECURSIVE {_SQL_SHINGLES},
    {_SQL_PAIR_JACCARD},
    tri AS (
        SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
        FROM toks, unnest(generate_series(1, len(t) - 2)) AS r(i)
        WHERE len(t) >= 3
    ),
    rep AS (
        SELECT doc_id, 1.0 - count(DISTINCT s)::DOUBLE / count(*) AS r
        FROM tri GROUP BY doc_id
    ),
    t1 AS (
        SELECT d.doc_id, d.text, d.lang, d.n_chars
        FROM documents d JOIN rep USING (doc_id)
        WHERE d.doc_id % 10 <> {_DECON_BENCH_MOD} AND rep.r < {REP_MAX_RATIO}
    ),
    t2 AS (
        SELECT doc_id, text, lang, n_chars FROM t1
        QUALIFY doc_id = min(doc_id) OVER (PARTITION BY text)
    ),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM jac
        WHERE j >= {CLUSTER_J_THRESHOLD}
          AND doc_a IN (SELECT doc_id FROM t2)
          AND doc_b IN (SELECT doc_id FROM t2)
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM jac
        WHERE j >= {CLUSTER_J_THRESHOLD}
          AND doc_a IN (SELECT doc_id FROM t2)
          AND doc_b IN (SELECT doc_id FROM t2)
    ),
    reach(node, root) AS (
        SELECT doc_id, doc_id FROM t2
        UNION
        SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node
    ),
    lbl AS (SELECT node AS doc_id, min(root) AS cluster_id FROM reach GROUP BY node),
    t3 AS (
        SELECT t2.doc_id, t2.lang, t2.n_chars
        FROM t2 JOIN lbl USING (doc_id) WHERE lbl.cluster_id = t2.doc_id
    ),
    contam AS (
        SELECT DISTINCT p.doc_train AS doc_id FROM (
            SELECT tr.doc_id AS doc_train, be.doc_id AS doc_bench,
                   count(*) AS c
            FROM sh tr JOIN sh be ON tr.s = be.s
            WHERE tr.doc_id % 10 <> {_DECON_BENCH_MOD}
              AND be.doc_id % 10 = {_DECON_BENCH_MOD}
            GROUP BY 1, 2
        ) p
        JOIN sizes sb ON p.doc_bench = sb.doc_id
        WHERE p.c::DOUBLE / sb.n >= {DECON_CONTAINMENT}
    ),
    t4 AS (
        SELECT * FROM t3 WHERE doc_id NOT IN (SELECT doc_id FROM contam)
    ),
    t5 AS (
        SELECT doc_id, lang, n_chars // 4 AS n_tokens FROM t4
        WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 6))::BIGINT % 1000
              < {_SAMPLE_CASE_SQL}
    )
    SELECT doc_id, lang, n_tokens,
           COALESCE(sum(n_tokens) OVER (
               PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0)::BIGINT // {PACK_CAPACITY_TOKENS} AS pack_id
    FROM t5
    """,
)
def flagship_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end corpus curation pipeline, raw documents → packed
    training manifest, composed ENTIRELY from this module's operators in
    the order a production corpus build runs them:

    1. benchmark docs out (they are eval, not training data);
    2. quality gate: intra-doc repetition < REP_MAX_RATIO (narrow,
       scan-side — the cheap filter runs FIRST so every later stage sees
       fewer rows);
    3. exact dedup: keep the lowest doc_id per identical text;
    4. near-dup collapse: connected components over J >= 0.5 shingle-
       Jaccard edges among survivors (edge weights don't depend on other
       docs, so full-corpus pairs semi-joined to survivors ARE the
       survivor subgraph), keep each component's canonical minimum;
    5. decontamination: drop survivors containing >= 80% of any
       benchmark doc's shingles;
    6. deterministic stratified sampling (per-lang md5 rates);
    7. sequence packing into PACK_CAPACITY_TOKENS bins.

    One registered query proves the operators COMPOSE — the DuckDB
    oracle replays all seven stages (recursive CTE for the components)
    and the driver hash-matches the final manifest.  Each stage keeps
    the scale shape of its standalone operator: the only data-sized
    shuffles are the shingle self-join (skew-capped), the components'
    bounded sweeps, and the final per-lang window."""
    docs = table(spark, sf_dir, "documents")
    arr = F.filter(_tri_shingle_array(F.col("text")), lambda x: x.isNotNull())
    # try_divide: a sub-shingle doc (< 3 words) has NO rows in the
    # oracle's `rep` CTE, so its INNER JOIN drops the doc from t1.  NULL
    # rep < REP_MAX_RATIO is NULL → this filter drops the same doc; a
    # plain division would THROW under ANSI (corpus fuzz, r17).
    rep = F.lit(1.0) - F.try_divide(
        F.size(F.array_distinct(arr)), F.size(arr).cast("double")
    )
    t1 = docs.filter(
        (F.pmod("doc_id", F.lit(10)) != _DECON_BENCH_MOD) & (rep < REP_MAX_RATIO)
    ).select("doc_id", "text", "lang", "n_chars")

    # Stage 3 keys its corpus-wide exchange on xxhash64(text), never raw
    # text (the two-phase form, _exact_text_groups).  Canonical ids are
    # computed over the bench-filtered docs WITHOUT the repetition gate:
    # identical texts share one repetition ratio, so a text group wholly
    # passes or wholly fails the gate — the min doc_id over bench-filtered
    # copies equals the min over t1's copies for every group that reaches
    # the semi join, and failing groups' canonical ids are dropped by the
    # join against t1.  This also keeps the shingle-array gate evaluated
    # ONCE (in t1) instead of re-running inside each canon branch; t1's
    # own exchange below carries (doc_id, lang, n_chars) — Catalyst prunes
    # text, which no stage after this consumes.
    canon = _exact_text_groups(
        docs.filter(F.pmod("doc_id", F.lit(10)) != _DECON_BENCH_MOD).select(
            "doc_id", "text"
        ),
        {"doc_id": F.min("doc_id")},
    )
    t2 = t1.join(canon, "doc_id", "semi")

    # ONE shingle build for the whole pipeline: stages 4 (pair-gen) and 5
    # (decontamination) both consume it — _shingle_rows returns the
    # session-shared localCheckpoint'ed frame, so the exploded+hashed+
    # distinct build also amortizes across the other registered dedup
    # queries in the same session (it was the single biggest repeated
    # cost of a full bench run).
    sh = _shingle_rows(spark, sf_dir)

    surv = t2.select("doc_id")
    # full-corpus pairs semi-joined to survivors ARE the survivor
    # subgraph (edge weights don't depend on other docs), so the shared
    # session pair frame serves here too.
    pairs = (
        _ndup_pairs(spark, sf_dir)
        .join(surv.withColumnRenamed("doc_id", "doc_a"), "doc_a", "semi")
        .join(surv.withColumnRenamed("doc_id", "doc_b"), "doc_b", "semi")
    )
    lbl = _min_label_components(surv, pairs)
    t3 = (
        t2.join(lbl, "doc_id")
        .filter(F.col("cluster_id") == F.col("doc_id"))
        .select("doc_id", "lang", "n_chars")
    )

    contam = (
        _decontaminate_pairs(sh)
        .select(F.col("doc_train").alias("doc_id"))
        .distinct()
    )
    t4 = t3.join(contam, "doc_id", "anti")

    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10)
        .cast("bigint")
        % 1000
    )
    rates = F.lit(SAMPLE_DEFAULT_PER_MILLE)
    for k, v in reversed(SAMPLE_RATES_PER_MILLE.items()):
        rates = F.when(F.col("lang") == k, F.lit(v)).otherwise(rates)
    t5 = t4.filter(bucket < rates).select(
        "doc_id", "lang", F.expr("n_chars div 4").alias("n_tokens")
    )
    return _pack_assignments(t5, PACK_CAPACITY_TOKENS)


# ---------------------------------------------------------------------------
# Chunking / span-level dedup / mixture planning (round 5)
# ---------------------------------------------------------------------------

#: Context-window chunking geometry: 32-token windows, stride 24 (8-token
#: overlap) — the usual embed/train prep shape scaled to the fixture's
#: ~30-60-token documents.
CHUNK_TOKENS = 32
CHUNK_STRIDE = 24


@register(
    "x_llm_chunk_windows",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    starts AS (
        SELECT doc_id, t, i
        FROM toks,
             unnest(generate_series(1, greatest(len(t), 1), {CHUNK_STRIDE}))
               AS r(i)
    )
    SELECT doc_id, (i - 1) // {CHUNK_STRIDE} AS chunk_id,
           array_to_string(t[i:i+{CHUNK_TOKENS - 1}], ' ') AS chunk,
           least({CHUNK_TOKENS}, len(t) - i + 1)::BIGINT AS n_tokens
    FROM starts
    """,
)
def x_llm_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping context-window chunking: split every document into
    CHUNK_TOKENS-token windows advancing by CHUNK_STRIDE tokens (tail
    windows shorter; overlap = TOKENS − STRIDE keeps boundary context in
    two chunks) — the preprocessing step feeding embedding models and
    fixed-context trainers.

    ENTIRELY narrow: one split, a generated starts array, explode, and a
    per-row slice+join — no shuffle at all (the explode multiplies rows
    ~n/STRIDE map-side).  At 100 TB this runs at scan speed and its output
    partitioning inherits the input's, so a downstream embed/tokenize
    stage starts co-located."""
    toks = F.split(F.col("text"), " ")
    starts = F.sequence(
        F.lit(1), F.greatest(F.size(toks), F.lit(1)), F.lit(CHUNK_STRIDE)
    )
    return (
        table(spark, sf_dir, "documents")
        .select("doc_id", toks.alias("t"), F.explode(starts).alias("i"))
        .select(
            "doc_id",
            F.expr(f"(i - 1) div {CHUNK_STRIDE}").alias("chunk_id"),
            F.array_join(F.slice("t", F.col("i"), CHUNK_TOKENS), " ").alias(
                "chunk"
            ),
            F.least(
                F.lit(CHUNK_TOKENS), F.size("t") - F.col("i") + F.lit(1)
            )
            .cast("long")
            .alias("n_tokens"),
        )
    )


#: Span-dedup geometry: exact duplicated spans of SPAN_K consecutive tokens.
SPAN_K = 8


@register(
    "x_llm_dup_spans",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sp AS (
        SELECT doc_id, array_to_string(t[i:i+{SPAN_K - 1}], ' ') AS s
        FROM toks,
             unnest(generate_series(1, len(t) - {SPAN_K - 1})) AS r(i)
        WHERE len(t) >= {SPAN_K}
    ),
    multi AS (
        SELECT s FROM sp GROUP BY s HAVING count(DISTINCT doc_id) >= 2
    )
    SELECT doc_id, count(*) AS n_spans,
           count(*) FILTER (WHERE s IN (SELECT s FROM multi)) AS n_dup_spans,
           round(count(*) FILTER (WHERE s IN (SELECT s FROM multi))::DOUBLE
                 / count(*), 6) AS dup_fraction
    FROM sp GROUP BY doc_id
    """,
)
def x_llm_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplication profile: for each document, the count
    and fraction of its SPAN_K-token spans that also occur verbatim in at
    least one OTHER document — the span-granular dedup signal of Lee et
    al. 2022 ("Deduplicating Training Data Makes Language Models Better"),
    which catches boilerplate/quotation overlap that document-level
    Jaccard cannot see (a shared 50-token header in 10k long docs moves J
    by ~nothing but is exactly what the trainer memorizes).

    Scale shape — identical to the shingle machinery: spans become 64-bit
    xxhash64 keys at explode time (the span STRING never enters a
    shuffle), cross-doc support is one hash aggregate, and the flagging is
    a semi join on the hash — span-linear, never corpus².  The exploded
    span rows collapse to ``(doc_id, h, cnt)`` FIRST (map-side partials do
    most of it, since repeats cluster within a document), so the
    materialized frame, the support count, the semi-join probe and both
    per-doc totals all run on the collapsed frame — and cross-document
    support is a plain ``count(*)`` over already-distinct (doc, span)
    rows, never a count_distinct expand.  A production span-REMOVAL pass
    would keep (doc_id, i) alongside and rewrite text from the unflagged
    positions; the profile here is the decision input (remove /
    down-weight / drop doc)."""
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    starts = F.when(
        n >= SPAN_K, F.sequence(F.lit(1), n - F.lit(SPAN_K - 1))
    ).otherwise(F.array().cast("array<int>"))
    spc = (
        rebalanced(table(spark, sf_dir, "documents"))
        .select("doc_id", toks.alias("t"), F.explode(starts).alias("i"))
        .select(
            "doc_id",
            F.xxhash64(F.array_join(F.slice("t", F.col("i"), SPAN_K), " ")).alias(
                "h"
            ),
        )
        .groupBy("doc_id", "h")
        .agg(F.count("*").alias("cnt"))
        # three consumers (support count, semi-join probe, per-doc totals)
        # — materialize the COLLAPSED frame so the split+slice+hash
        # explode runs once and each consumer reads span-set-sized rows
        .localCheckpoint(eager=False)
    )
    multi = (
        spc.groupBy("h")
        .agg(F.count("*").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    dup = spc.join(multi, "h", "semi").groupBy("doc_id").agg(
        F.sum("cnt").alias("n_dup_spans")
    )
    return (
        spc.groupBy("doc_id")
        .agg(F.sum("cnt").alias("n_spans"))
        .join(dup, "doc_id", "left")
        .select(
            "doc_id",
            "n_spans",
            F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
            F.round(
                F.coalesce("n_dup_spans", F.lit(0)).cast("double")
                / F.col("n_spans").cast("double"),
                6,
            ).alias("dup_fraction"),
        )
    )


@register(
    "x_llm_source_mix",
    oracle="""
    WITH s AS (
        SELECT source, count(*) AS n_docs, sum(n_chars // 4)::BIGINT AS n_tokens
        FROM documents GROUP BY source
    ),
    tot AS (SELECT sum(n_tokens) AS t, count(*) AS k FROM s)
    SELECT source, n_docs, n_tokens,
           round(n_tokens::DOUBLE / t, 6) AS token_share,
           CASE WHEN n_tokens = 0 THEN NULL
                ELSE round((t::DOUBLE / k) / n_tokens::DOUBLE, 6)
           END AS uniform_weight
    FROM s, tot
    """,
)
def x_llm_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture planning: per-source token counts, the observed token
    share, and the per-source sampling weight that would equalize the mix
    (weight = target share / observed share with a uniform target) — the
    bookkeeping behind every "x% web, y% code, z% books" training recipe.
    Swap the uniform target for a configured one and the same frame drives
    ``x_llm_sample_stratified``'s rates.

    One hash aggregate over the corpus (map-side combine does nearly all
    the work: one row per source per task) + a broadcast of the 1-row
    totals — nothing here grows with corpus size except the single scan."""
    s = (
        table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.expr("n_chars div 4")).alias("n_tokens"),
        )
    )
    tot = s.agg(F.sum("n_tokens").alias("t"), F.count("*").alias("k"))
    # try_divide: a corpus whose EVERY source has zero tokens makes the
    # total t = 0 — share is then NULL in DuckDB (x/0 double → NULL)
    # while plain division throws under ANSI (adversarial probe, r17)
    share = F.try_divide(F.col("n_tokens").cast("double"), F.col("t"))
    # NULL (not Spark's silent divide-by-zero NULL vs DuckDB's inf) for a
    # zero-token source — made explicit in BOTH engines so they agree.
    weight = F.when(
        F.col("n_tokens") > 0,
        (F.col("t").cast("double") / F.col("k")) / F.col("n_tokens").cast("double"),
    )
    return s.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(share, 6).alias("token_share"),
        F.round(weight, 6).alias("uniform_weight"),
    )


#: Merge-candidate count the BPE pair-count pass reports.
BPE_PAIR_TOP_K = 200


@register(
    "x_llm_bpe_pair_counts",
    oracle=f"""
    WITH tok AS (
        SELECT lower(t.tok) AS t
        FROM documents, unnest(string_split(text, ' ')) AS t(tok)
        WHERE length(t.tok) >= 2
    ),
    pr AS (
        SELECT unnest(list_transform(generate_series(1, length(t) - 1),
                      i -> substr(t, i, 2))) AS pair
        FROM tok
    )
    SELECT pair, count(*) AS freq
    FROM pr GROUP BY pair
    ORDER BY freq DESC, pair
    LIMIT {BPE_PAIR_TOP_K}
    """,
)
def x_llm_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The inner loop of BPE tokenizer training: frequency of every
    ADJACENT symbol pair within whitespace tokens — the statistic each
    merge round maximizes (Sennrich et al. 2016).  This is the seed-round
    count over character symbols; subsequent rounds re-run the same shape
    over re-segmented tokens.

    Plan: explode tokens → explode each token's length-2 substrings
    (``transform(sequence(...))`` — all codegen, no Python) → hash
    aggregate.  Pair cardinality is bounded (≤ alphabet², ~1-4 K real
    pairs), so map-side combine collapses the Zipf mass before the
    shuffle and the top-K is a ``TakeOrderedAndProject`` heap, never a
    global sort — the identical heavy-hitters posture as
    ``x_llm_vocab_topk`` and exactly what 100 TB of corpus needs."""
    tok = (
        table(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("raw"))
        .filter(F.length("raw") >= 2)
        .select(F.lower("raw").alias("t"))
    )
    pairs = tok.select(
        F.explode(
            F.expr("transform(sequence(1, length(t) - 1), i -> substring(t, i, 2))")
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("pair"))
        .limit(BPE_PAIR_TOP_K)
    )


@register(
    "x_llm_embed_quantize",
    oracle="""
    WITH mx AS (
        SELECT vec_id,
               list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS amax
        FROM embeddings
    )
    SELECT e.vec_id,
           CASE WHEN m.amax = 0 THEN 0
                ELSE list_sum(list_transform(e.embedding,
                     x -> floor(x::DOUBLE / (m.amax / 127.0) + 0.5)))::BIGINT
           END AS q_sum,
           CASE WHEN m.amax = 0 THEN 0
                ELSE list_sum(list_transform(e.embedding,
                     x -> abs(floor(x::DOUBLE / (m.amax / 127.0) + 0.5))))::BIGINT
           END AS q_l1,
           floor(m.amax / 127.0 * 1000000 + 0.5)::BIGINT AS scale_micro
    FROM embeddings e JOIN mx m USING (vec_id)
    """,
)
def x_llm_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization of the embedding column — the
    compression step production vector stores apply before ANN (4× less
    memory and bandwidth; recall cost ~0 at int8).  Per vector: scale =
    max|x|/127, q_i = floor(x_i/scale + 0.5) ∈ [-127, 127]; emitted as
    exact INTEGER summaries (component sum, L1 mass, scale in micros) so
    the cross-engine check has zero float-compare freedom — the shared
    explicit half-up floor(v + 0.5) sidesteps the engines' disagreeing
    round() tie rules, the same lesson as x_win_distribution.

    Plan: one narrow projection — array max, two array aggregates, no
    shuffle, no Python; scan-speed at any corpus size, and the int8
    payload column (``transform(...)`` cast to tinyint) drops in beside
    the stats when a sink wants the actual codes."""
    amax = F.array_max(F.transform("embedding", lambda c: F.abs(c.cast("double"))))
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", amax.alias("amax")
    )
    scale = F.col("amax") / F.lit(127.0)
    q = F.transform(
        "embedding",
        lambda c: F.floor(c.cast("double") / scale + F.lit(0.5)).cast("long"),
    )
    zero = F.col("amax") == 0
    q_sum = F.aggregate(q, F.lit(0).cast("long"), lambda a, v: a + v)
    q_l1 = F.aggregate(q, F.lit(0).cast("long"), lambda a, v: a + F.abs(v))
    return e.select(
        "vec_id",
        F.when(zero, F.lit(0)).otherwise(q_sum).cast("long").alias("q_sum"),
        F.when(zero, F.lit(0)).otherwise(q_l1).cast("long").alias("q_l1"),
        F.floor(scale * F.lit(1000000.0) + F.lit(0.5))
        .cast("long")
        .alias("scale_micro"),
    )


@register(
    "x_llm_text_normalize",
    oracle="""
    WITH n AS (
        SELECT doc_id,
               trim(regexp_replace(regexp_replace(lower(text),
                    '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm_text
        FROM documents
    )
    SELECT doc_id, norm_text,
           CASE WHEN norm_text = '' THEN 0
                ELSE len(string_split(norm_text, ' ')) END AS n_tokens
    FROM n
    """,
)
def x_llm_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text normalization ahead of exact/near dedup: lowercase,
    non-alphanumerics to spaces, whitespace collapsed, trimmed — so
    "Foo,  bar!" and "foo bar" hash identically downstream (the step
    every exact-dedup pipeline runs before ``x_llm_dedup_exact``; CCNet/
    RefinedWeb call it the dedup normalizer).  Pure codegen expressions
    (lower/regexp_replace/trim) — narrow, scan-speed, no shuffle; the
    normalized string feeds straight into xxhash64 grouping at scale."""
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", " "), " +", " "
        )
    )
    d = table(spark, sf_dir, "documents").select(
        "doc_id", norm.alias("norm_text")
    )
    return d.select(
        "doc_id",
        "norm_text",
        F.when(F.col("norm_text") == "", F.lit(0))
        .otherwise(F.size(F.split("norm_text", " ")))
        .cast("bigint")
        .alias("n_tokens"),
    )


#: Bigram-table cut the count-based-LM pass reports.
NGRAM_LM_TOP_K = 500


@register(
    "x_llm_ngram_lm_counts",
    oracle=f"""
    WITH words AS (
        SELECT list_filter(string_split(lower(text), ' '), w -> w <> '') AS ws
        FROM documents
    ),
    pairs AS (
        SELECT unnest(list_transform(generate_series(1, len(ws) - 1),
                      i -> ws[i] || ' ' || ws[i + 1])) AS p
        FROM words WHERE len(ws) >= 2
    ),
    cb AS (SELECT p, count(*) AS c_bigram FROM pairs GROUP BY p)
    SELECT split_part(p, ' ', 1) AS w1,
           split_part(p, ' ', 2) AS w2,
           c_bigram,
           sum(c_bigram) OVER (PARTITION BY split_part(p, ' ', 1))::BIGINT
             AS c_left,
           floor(c_bigram * 1000000.0 /
                 sum(c_bigram) OVER (PARTITION BY split_part(p, ' ', 1))
                 + 0.5)::BIGINT AS cond_micro
    FROM cb
    ORDER BY c_bigram DESC, w1, w2
    LIMIT {NGRAM_LM_TOP_K}
    """,
)
def x_llm_ngram_lm_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-based bigram language model over the corpus — the statistic
    behind CCNet-style perplexity filtering and every KenLM build: for the
    top-K word bigrams, the joint count, the left-context mass, and the
    conditional probability P(w2|w1) in integer micros (shared explicit
    half-up floor — no float-compare freedom, the x_win_distribution
    lesson).

    Plan: lower+split+filter is codegen'd scan-side; the pair explode is
    narrow; ONE hash aggregate on the bigram key (map-side combine eats
    the Zipf head exactly as in ``x_llm_vocab_topk``) and the context
    mass is a window SUM over the already-aggregated bigram table
    partitioned by w1 — vocabulary-sized, NOT corpus-sized, so the second
    shuffle moves |bigram-types| rows however big the corpus is.  Words
    carry no spaces by construction, so the bigram key is a single
    delimited string (one shuffle column, split back only at output).

    Why the w1-partitioned window is acceptable at 100 TB (r09 verdict
    asked for a bound): one window partition = ONE word's distinct-
    successor set, whose size is Zipf-distributed — public web-corpus
    n-gram counts put the head word's successor-type count around
    10⁵–10⁶ (Google Web 1T), a sub-second single-task sort, three
    orders below the full-vocabulary single-partition sort that made
    zipf_fit weak.  (The fixture cannot demonstrate the gap — its
    synthetic 31-word vocabulary makes every successor set equal the
    whole vocabulary — so the bound here is the structural one.)  The
    alternative, groupBy(w1) mass + join-back, would shuffle the
    bigram table a second time and the |vocab|-row mass frame is far
    too big to broadcast, so the window is the cheaper plan wherever
    the successor distribution is non-degenerate.

    Measured (r11, ``tools/ngram_window_bound.py`` — a synthetic bigram
    table whose head word carries N successors, through this exact
    window+projection shape): N=10^6 runs in ~1.3 s, a pathological
    N=10^7 in ~6.2 s.  The bound holds with an order of headroom over
    public web-corpus head sizes; the zipf two-level rank remains the
    escape hatch if a corpus ever presents a >=10^8 successor set."""
    ws = F.filter(F.split(F.lower("text"), " "), lambda w: w != "")
    pairs = (
        table(spark, sf_dir, "documents")
        .select(ws.alias("ws"))
        .filter(F.size("ws") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ws) - 1), "
                    "i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))"
                )
            ).alias("p")
        )
    )
    cb = pairs.groupBy("p").agg(F.count("*").alias("c_bigram"))
    w1 = F.substring_index("p", " ", 1)
    win = Window.partitionBy("w1")
    c_left = F.sum("c_bigram").over(win)
    return (
        cb.select(
            w1.alias("w1"),
            F.substring_index("p", " ", -1).alias("w2"),
            "c_bigram",
        )
        .select(
            "w1",
            "w2",
            "c_bigram",
            c_left.cast("bigint").alias("c_left"),
            F.floor(
                F.col("c_bigram") * F.lit(1000000.0) / c_left + F.lit(0.5)
            )
            .cast("bigint")
            .alias("cond_micro"),
        )
        .orderBy(F.desc("c_bigram"), F.asc("w1"), F.asc("w2"))
        .limit(NGRAM_LM_TOP_K)
    )


@register(
    "x_llm_lm_doc_score",
    oracle=f"""
    WITH words AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '), w -> w <> '') AS ws
        FROM documents
    ),
    pairs AS (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(ws) - 1),
                      i -> ws[i] || ' ' || ws[i + 1])) AS p
        FROM words WHERE len(ws) >= 2
    ),
    cb AS (SELECT p, count(*) AS c FROM pairs GROUP BY p),
    topk AS (SELECT p FROM cb ORDER BY c DESC, p LIMIT {NGRAM_LM_TOP_K}),
    scored AS (
        SELECT d.doc_id,
               count(*) AS n_bigrams,
               count(t.p) AS n_hits
        FROM pairs d LEFT JOIN topk t USING (p)
        GROUP BY d.doc_id
    )
    SELECT w.doc_id,
           coalesce(s.n_bigrams, 0)::BIGINT AS n_bigrams,
           coalesce(s.n_hits, 0)::BIGINT AS n_hits,
           CASE WHEN coalesce(s.n_bigrams, 0) = 0 THEN 0
                ELSE floor(s.n_hits * 1000000.0 / s.n_bigrams + 0.5)
           END::BIGINT AS hit_micro
    FROM words w LEFT JOIN scored s USING (doc_id)
    """,
)
def x_llm_lm_doc_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document language-model coverage score — the filtering half of
    the CCNet recipe that ``x_llm_ngram_lm_counts`` trains for: score
    each document by the fraction of its word bigrams that land in the
    corpus's top-K bigram table (in integer micros).  Documents far from
    the corpus head (boilerplate, lists, wrong-language text) score low
    and get cut; this is the count-based stand-in for a KenLM perplexity
    gate, with the same dataflow shape.

    Plan: the model side collapses to 500 rows (hash agg +
    TakeOrderedAndProject with a total ``(count desc, p)`` order so the
    boundary of the top-K is deterministic on both engines) and is
    explicitly ``F.broadcast`` — at 100 TB the corpus-sized probe side
    streams through a broadcast hash join with ZERO shuffle of the
    documents; the per-doc rollup then aggregates map-side.  Short docs
    (< 2 words) keep a row via the empty-array ``explode_outer`` guard —
    ``sequence(1, size-1)`` alone would count DOWN for 1-word docs and
    fabricate pairs."""
    ws = F.filter(F.split(F.lower("text"), " "), lambda w: w != "")
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", ws.alias("ws")
    )
    pair_arr = F.when(
        F.size("ws") >= 2,
        F.expr(
            "transform(sequence(1, size(ws) - 1), "
            "i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    pairs = docs.select("doc_id", F.explode_outer(pair_arr).alias("p"))
    topk = (
        pairs.filter(F.col("p").isNotNull())
        .groupBy("p")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), F.asc("p"))
        .limit(NGRAM_LM_TOP_K)
        .select(F.col("p").alias("tp"))
    )
    scored = (
        pairs.join(F.broadcast(topk), pairs["p"] == F.col("tp"), "left")
        .groupBy("doc_id")
        .agg(
            F.count("p").cast("bigint").alias("n_bigrams"),
            F.count("tp").cast("bigint").alias("n_hits"),
        )
    )
    return scored.select(
        "doc_id",
        "n_bigrams",
        "n_hits",
        F.when(F.col("n_bigrams") == 0, F.lit(0))
        .otherwise(
            F.floor(
                F.col("n_hits") * F.lit(1000000.0) / F.col("n_bigrams")
                + F.lit(0.5)
            )
        )
        .cast("bigint")
        .alias("hit_micro"),
    )


# ---------------------------------------------------------------------------
# Canonical selection & cross-subset leakage (curation layer, round 7)
# ---------------------------------------------------------------------------


@register(
    "x_llm_dedup_keep_best",
    oracle=f"""
    WITH RECURSIVE {_SQL_SHINGLES},
    {_SQL_PAIR_JACCARD},
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM jac WHERE j >= {CLUSTER_J_THRESHOLD}
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM jac WHERE j >= {CLUSTER_J_THRESHOLD}
    ),
    reach(node, root) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node
    ),
    labels AS (SELECT node AS doc_id, min(root) AS cluster_id FROM reach GROUP BY node),
    scored AS (
        SELECT d.doc_id, l.cluster_id,
               round(least(1.0, len(string_split(d.text, ' '))::DOUBLE / 200.0)
                     * (1.0 - len(list_filter(string_split(d.text, ' '),
                                              w -> w IN ('the', 'a')))::DOUBLE
                           / len(string_split(d.text, ' '))::DOUBLE),
                     6) AS quality
        FROM documents d JOIN labels l USING (doc_id)
    ),
    best AS (SELECT cluster_id, max(quality) AS qmax FROM scored GROUP BY cluster_id),
    keep AS (
        SELECT s.cluster_id, min(s.doc_id) AS keep_doc
        FROM scored s JOIN best b
          ON s.cluster_id = b.cluster_id AND s.quality = b.qmax
        GROUP BY s.cluster_id
    )
    SELECT s.doc_id, s.cluster_id, s.quality,
           s.doc_id = k.keep_doc AS is_kept
    FROM scored s JOIN keep k ON s.cluster_id = k.cluster_id
    """,
)
def x_llm_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical selection: within each near-dup cluster keep the HIGHEST-
    QUALITY member (ties to the lowest doc_id), not the arbitrary
    min-doc_id canonical ``x_llm_dedup_clusters`` flags — the policy real
    curation pipelines want, since dup classes often pair a clean original
    with truncated or boilerplate-wrapped copies.

    Plan: cluster labels from the component operator (bounded label-
    propagation sweeps), the same single-pass quality score as
    ``x_llm_quality_score`` (deterministic per-row arithmetic, rounded 6
    BEFORE the argmax so both engines compare identical doubles), then
    argmax-per-cluster as TWO hash aggregates (max quality, then min
    doc_id at that quality) joined back on cluster_id — no sort window,
    and all three shuffles hash the same cluster_id key so AQE reuses the
    exchange.  Scale follows the clustering step; everything added here
    is cluster-count-sized."""
    labels = _cluster_labels(spark, sf_dir).select("doc_id", "cluster_id")
    toks = F.split("text", " ")
    n_tokens = F.size(toks).cast("double")
    n_stop = F.size(F.filter(toks, _marker_filter(QUALITY_STOPWORDS))).cast("double")
    quality = F.round(
        F.least(F.lit(1.0), n_tokens / 200.0) * (1.0 - n_stop / n_tokens), 6
    )
    # scored feeds THREE consumers (best, keep, final join); without a
    # materialization barrier each one re-tokenizes the whole corpus for
    # the quality score.  localCheckpoint = compute the narrow
    # (doc_id, cluster_id, quality) frame once, reuse thrice.
    scored = (
        table(spark, sf_dir, "documents")
        .select("doc_id", quality.alias("quality"))
        .join(labels, "doc_id")
        .localCheckpoint()
    )
    best = scored.groupBy("cluster_id").agg(F.max("quality").alias("_qmax"))
    keep = (
        scored.join(best, "cluster_id")
        .filter(F.col("quality") == F.col("_qmax"))
        .groupBy("cluster_id")
        .agg(F.min("doc_id").alias("_keep_doc"))
    )
    return scored.join(keep, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "quality",
        (F.col("doc_id") == F.col("_keep_doc")).alias("is_kept"),
    )


@register(
    "x_llm_source_overlap",
    oracle=f"""
    WITH {_SQL_SHINGLES},
    ssh AS (
        SELECT DISTINCT d.source, sh.s
        FROM sh JOIN documents d USING (doc_id)
    ),
    tot AS (SELECT source, count(*) AS n FROM ssh GROUP BY source),
    shared AS (
        SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
        FROM ssh a JOIN ssh b ON a.s = b.s AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT source_a, source_b, n_shared,
           round(n_shared::DOUBLE / least(ta.n, tb.n)::DOUBLE, 6)
               AS overlap_coef
    FROM shared
    JOIN tot ta ON source_a = ta.source
    JOIN tot tb ON source_b = tb.source
    """,
)
def x_llm_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-subset leakage matrix: for every pair of sources, the count
    of distinct word-3-gram shingles they share and the overlap
    coefficient (shared / smaller side) — the audit that catches a "val"
    source leaking into a "train" source, or two crawls double-counting
    one site, BEFORE training sees either.

    Plan: shingles collapse to DISTINCT (source, 64-bit hash) first —
    after that, per-shingle multiplicity is bounded by the number of
    sources (~tens), so the self-equi-join on the hash generates at most
    sources² candidates per shingle, never the per-document blowup the
    pair operators need a hot cap for.  The per-source totals table is
    sources-sized and broadcast back onto the pair aggregate.  Everything
    shuffled is (long, short-string): the shingle text never leaves the
    map side."""
    docs = table(spark, sf_dir, "documents")
    ssh = (
        _shingle_rows(spark, sf_dir)
        .join(docs.select("doc_id", "source"), "doc_id")
        .select("source", "h")
        .distinct()
    )
    tot = ssh.groupBy("source").agg(F.count("*").alias("_n"))
    a = ssh.select(F.col("source").alias("source_a"), "h")
    b = ssh.select(F.col("source").alias("source_b"), "h")
    shared = (
        a.join(b, "h")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_shared"))
    )
    return (
        shared.join(
            F.broadcast(tot.select(F.col("source").alias("source_a"),
                                   F.col("_n").alias("_na"))),
            "source_a",
        )
        .join(
            F.broadcast(tot.select(F.col("source").alias("source_b"),
                                   F.col("_n").alias("_nb"))),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            "n_shared",
            F.round(
                F.col("n_shared").cast("double")
                / F.least("_na", "_nb").cast("double"),
                6,
            ).alias("overlap_coef"),
        )
    )


# ---------------------------------------------------------------------------
# Product quantization (ANN toolbox: IVF + LSH + PQ)
# ---------------------------------------------------------------------------

#: PQ geometry: split each embedding into PQ_M contiguous subspaces and
#: code each subvector against PQ_K codebook entries.  The codebook is
#: DETERMINISTIC (the subvectors of the first PQ_K vec_ids), same seeding
#: convention as SemDeDup's centroids, so a SQL oracle can replay the
#: encoding exactly — PQ *encoding* is a pure argmin, unlike IVF *search*
#: whose recall<1 forces a rows-only check.
PQ_M = 8
PQ_K = 16


@register(
    "x_llm_embed_pq",
    oracle=f"""
    WITH v AS (
        SELECT vec_id,
               list_transform(embedding, x -> x::DOUBLE) AS e,
               len(embedding) // {PQ_M} AS w
        FROM embeddings
    ),
    cb AS (
        SELECT m.m, s.vec_id AS k,
               list_slice(s.e, m.m * s.w + 1, m.m * s.w + s.w) AS c
        FROM (SELECT unnest(generate_series(0, {PQ_M - 1})) AS m) m,
             (SELECT * FROM v WHERE vec_id < {PQ_K}) s
    ),
    d AS (
        SELECT v.vec_id, cb.m, cb.k,
               round(list_sum(list_transform(generate_series(1, v.w),
                     i -> (v.e[cb.m * v.w + i] - cb.c[i])
                        * (v.e[cb.m * v.w + i] - cb.c[i]))), 6) AS dist
        FROM v CROSS JOIN cb
    ),
    a AS (
        SELECT vec_id, m, k, dist FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id, m
                      ORDER BY dist, k) AS rn
            FROM d)
        WHERE rn = 1
    )
    SELECT vec_id,
           string_agg(k::VARCHAR, '-' ORDER BY m) AS codes,
           sum(CAST(floor(dist * 1000000.0 + 0.5) AS BIGINT))::BIGINT
               AS err_micro
    FROM a GROUP BY vec_id
    """,
)
def x_llm_embed_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding (Jégou et al. 2011): each embedding
    becomes PQ_M one-byte-ish codes — argmin-distance codebook entry per
    contiguous subspace — plus the total quantization error.  64-dim
    float vectors compress 32× (8 codes vs 64 floats); together with
    ``x_llm_ann_ivf`` (coarse cells) and ``x_llm_ann_lsh`` this completes
    the standard ANN index toolbox, and the codes table is exactly what
    an IVF-PQ index stores per posting.

    Determinism for the oracle: subvector distances are computed on
    doubles and rounded to 6 BEFORE the argmin (summation order inside a
    dot differs across engines — same mitigation as SemDeDup's cosines),
    ties break to the lowest code id; the reported error sums per-
    subspace micro-integers, so the aggregate is exact integer math in
    both engines.  The codes column is serialized as a '-'-joined STRING
    (``c0-c1-…-c7`` in subspace order) rather than ``array<bigint>``:
    the grading driver canonicalizes results with a pandas sort and
    cannot hash array-typed cells (the r07 ERR), and every oracle-checked
    operator must emit scalar columns only (enforced by
    ``tests/test_registry_parity.py``).  Consumers that want the array
    split on '-'; ``x_llm_pq_adc_topk`` re-encodes from floats anyway.

    Plan: the codebook is a driver-held model (PQ_M × PQ_K × subdim
    doubles — KBs, the IVF-quantizer pattern); encoding is ONE narrow
    ``mapInPandas`` pass over the corpus — vectorized (n × K) distance
    GEMMs per subspace inside each Arrow batch, zero shuffle, zero join.
    At 100 TB the codes table is appended per-batch; re-encoding never
    touches old rows because the codebook is frozen by construction."""
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    seeds = sorted(
        emb.filter(F.col("vec_id") < PQ_K).collect(), key=lambda r: r.vec_id
    )
    seed_ids = np.array([r.vec_id for r in seeds], dtype=np.int64)
    smat = np.array([r.e for r in seeds])  # PQ_K × dim
    dim = smat.shape[1]
    w = dim // PQ_M
    cb = np.stack([smat[:, m * w:(m + 1) * w] for m in range(PQ_M)])

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.vstack(pdf["e"].to_numpy())  # n × dim
            codes = np.empty((len(pdf), PQ_M), dtype=np.int64)
            micro = np.zeros(len(pdf), dtype=np.int64)
            for m in range(PQ_M):
                sub = mat[:, m * w:(m + 1) * w]
                dists = np.round(
                    ((sub[:, None, :] - cb[m][None, :, :]) ** 2).sum(2), 6
                )
                idx = dists.argmin(1)  # first min = lowest code id
                codes[:, m] = seed_ids[idx]
                micro += np.floor(
                    dists[np.arange(len(pdf)), idx] * 1e6 + 0.5
                ).astype(np.int64)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "codes": ["-".join(map(str, row)) for row in codes],
                    "err_micro": micro,
                }
            )

    return emb.mapInPandas(
        encode, "vec_id long, codes string, err_micro long"
    )


@register(
    "x_llm_pq_adc_topk",  # approximate by design (recall<1) → rows-only
    why_no_oracle="ADC distances are approximate by construction",
    gate="hash-matched companion `x_llm_pq_adc_scores`; recall floor in "
         "`tests/test_ann_recall.py`",
)
def x_llm_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-k search over PQ codes (the query half of an IVF-PQ index):
    corpus vectors are PQ-encoded in NORMALIZED space (codebook = the
    first PQ_K normalized vectors' subvectors), and each query scores a
    candidate as the sum of per-subspace lookup-table entries
    ``T[m][code] = q_m · c_{m,code}`` — the asymmetric inner-product
    estimate of the cosine, never touching the original floats at query
    time.

    Rows-only by design, like ``x_llm_ann_ivf``/``x_llm_ann_lsh``: ADC
    is an approximation (quantization error shifts ranks), so the gate is
    the recall floor + exact output shape asserted in
    ``tests/test_ann_recall.py`` against the exact scan.  The fixture's
    near-orthogonal random vectors are the worst case for a 16-entry
    codebook; real clustered embeddings recall far higher.

    Plan: codebook and the Q × PQ_M × PQ_K lookup tables are driver-held
    KBs closed over by ONE narrow ``mapInPandas`` pass (encode the Arrow
    batch, gather LUT entries, partition-local top-k); only
    (partitions × queries × k) partial rows reach the final ranking
    window.  The corpus is scanned once, never joined or shuffled — at
    100 TB the codes would be precomputed by ``x_llm_embed_pq`` and this
    pass reads 8 bytes per vector instead of 256."""
    e = _normalized(spark, sf_dir)
    seeds = sorted(
        e.filter(F.col("vec_id") < PQ_K).collect(), key=lambda r: r.vec_id
    )
    smat = np.array([r.e for r in seeds])
    dim = smat.shape[1]
    w = dim // PQ_M
    cb = np.stack([smat[:, m * w:(m + 1) * w] for m in range(PQ_M)])  # M×K×w

    qrows = sorted(
        e.filter(F.col("vec_id") < KNN_N_QUERIES).collect(),
        key=lambda r: r.vec_id,
    )
    qids = np.array([r.vec_id for r in qrows])
    qmat = np.array([r.e for r in qrows])  # Q×dim
    # lut[q, m, k] = q's m-th subvector · codebook entry k of subspace m
    lut = np.stack(
        [qmat[:, m * w:(m + 1) * w] @ cb[m].T for m in range(PQ_M)], axis=1
    )

    def adc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.vstack(pdf["e"].to_numpy())
            ids = pdf["vec_id"].to_numpy()
            codes = np.empty((len(pdf), PQ_M), dtype=np.int64)
            for m in range(PQ_M):
                sub = mat[:, m * w:(m + 1) * w]
                d2 = ((sub[:, None, :] - cb[m][None, :, :]) ** 2).sum(2)
                codes[:, m] = d2.argmin(1)
            # scores[n, q] = sum_m lut[q, m, codes[n, m]]
            scores = np.round(
                sum(lut[:, m, codes[:, m]].T for m in range(PQ_M)), 6
            )
            out = []
            for j, qid in enumerate(qids):
                mask = ids != qid
                order = np.lexsort((ids[mask], -scores[mask, j]))[:KNN_K]
                out.append(
                    pd.DataFrame(
                        {
                            "query_id": qid,
                            "neighbor_id": ids[mask][order],
                            "adc_score": scores[mask, j][order],
                        }
                    )
                )
            yield pd.concat(out, ignore_index=True)

    partial = e.mapInPandas(
        adc, "query_id long, neighbor_id long, adc_score double"
    )
    rank_w = Window.partitionBy("query_id").orderBy(
        F.desc("adc_score"), F.asc("neighbor_id")
    )
    return (
        partial.withColumn("rank", F.row_number().over(rank_w))
        .filter(F.col("rank") <= KNN_K)
    )


#: Queries attested by the exact-ADC companion: a subset of the top-k
#: op's query set, enough to drive every LUT/code path through the oracle.
ADC_ORACLE_QUERIES = 5


@register(
    "x_llm_pq_adc_scores",
    oracle=f"""
    WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS d
        FROM embeddings
    ),
    nv AS (
        -- degenerate-norm convention mirrors _normalized: a zero/NaN/Inf
        -- norm — or any NULL element (NULL-propagating fold on the Spark
        -- side, r18) — normalizes to the zero vector
        SELECT vec_id, len(d) // {PQ_M} AS w,
               CASE WHEN n > 0 AND n < 'infinity'::DOUBLE
                    THEN list_transform(d, x -> x / n)
                    ELSE list_transform(d, x -> 0.0) END AS e
        FROM (SELECT vec_id, d,
                     CASE WHEN len(list_filter(d, y -> y IS NULL)) > 0
                          THEN NULL
                          ELSE sqrt(list_sum(list_transform(d, y -> y * y)))
                     END AS n
              FROM v)
    ),
    cb AS (
        SELECT m.m, s.vec_id AS k,
               list_slice(s.e, m.m * s.w + 1, m.m * s.w + s.w) AS c
        FROM (SELECT unnest(generate_series(0, {PQ_M - 1})) AS m) m,
             (SELECT * FROM nv WHERE vec_id < {PQ_K}) s
    ),
    dist AS (
        SELECT nv.vec_id, cb.m, cb.k,
               round(list_sum(list_transform(generate_series(1, nv.w),
                     i -> (nv.e[cb.m * nv.w + i] - cb.c[i])
                        * (nv.e[cb.m * nv.w + i] - cb.c[i]))), 6) AS d2
        FROM nv CROSS JOIN cb
    ),
    a AS (
        SELECT vec_id, m, k FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id, m
                      ORDER BY d2, k) AS rn
            FROM dist)
        WHERE rn = 1
    ),
    lut AS (
        SELECT q.vec_id AS query_id, cb.m, cb.k,
               list_sum(list_transform(generate_series(1, q.w),
                     i -> q.e[cb.m * q.w + i] * cb.c[i])) AS t
        FROM (SELECT * FROM nv WHERE vec_id < {ADC_ORACLE_QUERIES}) q
        CROSS JOIN cb
    )
    SELECT l.query_id, a.vec_id AS neighbor_id,
           sum(CAST(floor(l.t * 1000000.0 + 0.5) AS BIGINT))::BIGINT
               AS adc_micro
    FROM a JOIN lut l ON a.m = l.m AND a.k = l.k
    WHERE a.vec_id <> l.query_id
    GROUP BY 1, 2
    """,
)
def x_llm_pq_adc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked companion of ``x_llm_pq_adc_topk``: the full ADC
    score matrix (every corpus vector against ADC_ORACLE_QUERIES queries,
    self excluded) in exact integer micro-units, where the top-k op is
    necessarily rows-only (quantization shifts ranks, so recall < 1 has
    no SQL twin).  The ADC *arithmetic* is deterministic once the
    codebook is frozen: codes are the round-6 argmin assignment (ties to
    the lowest seed id — the ``x_llm_embed_pq`` convention, here in
    normalized space), and each per-subspace lookup-table entry
    ``T[m][k] = q_m · c_{m,k}`` is pinned to ``floor(t·1e6 + 0.5)``
    BEFORE summation, so the reported score is exact BIGINT math in both
    engines (the err_micro mitigation applied to scores).  A hash-matched
    driver row here attests the whole IVF-PQ query shape — driver-held
    codebook + LUTs, ONE narrow ``mapInPandas`` corpus pass, no join, no
    shuffle below the aggregate — while the top-k op keeps its recall
    gate in ``tests/test_ann_recall.py``.

    The production top-k op keeps unrounded doubles (rank fidelity beats
    cross-engine replay there); this companion trades 1e-6 score
    granularity for value-level attestation."""
    e = _normalized(spark, sf_dir)
    seeds = sorted(
        e.filter(F.col("vec_id") < PQ_K).collect(), key=lambda r: r.vec_id
    )
    smat = np.array([r.e for r in seeds])
    dim = smat.shape[1]
    w = dim // PQ_M
    cb = np.stack([smat[:, m * w:(m + 1) * w] for m in range(PQ_M)])
    qrows = sorted(
        e.filter(F.col("vec_id") < ADC_ORACLE_QUERIES).collect(),
        key=lambda r: r.vec_id,
    )
    qids = np.array([r.vec_id for r in qrows])
    qmat = np.array([r.e for r in qrows])
    lut = np.stack(
        [qmat[:, m * w:(m + 1) * w] @ cb[m].T for m in range(PQ_M)], axis=1
    )
    lut_micro = np.floor(lut * 1e6 + 0.5).astype(np.int64)  # Q × M × K

    def adc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.vstack(pdf["e"].to_numpy())
            ids = pdf["vec_id"].to_numpy()
            codes = np.empty((len(pdf), PQ_M), dtype=np.int64)
            for m in range(PQ_M):
                sub = mat[:, m * w:(m + 1) * w]
                d2 = np.round(
                    ((sub[:, None, :] - cb[m][None, :, :]) ** 2).sum(2), 6
                )
                codes[:, m] = d2.argmin(1)  # first min = lowest seed id
            # scores[n, q] = sum_m lut_micro[q, m, codes[n, m]] — int64
            scores = sum(lut_micro[:, m, codes[:, m]].T for m in range(PQ_M))
            out = []
            for j, qid in enumerate(qids):
                mask = ids != qid
                out.append(
                    pd.DataFrame(
                        {
                            "query_id": qid,
                            "neighbor_id": ids[mask],
                            "adc_micro": scores[mask, j],
                        }
                    )
                )
            yield pd.concat(out, ignore_index=True)

    return e.mapInPandas(
        adc, "query_id long, neighbor_id long, adc_micro long"
    )


# ---------------------------------------------------------------------------
# Round-8 curation additions: truncation dups, vocab coverage, outliers
# ---------------------------------------------------------------------------

#: Prefix-dup blocking key length: candidates must agree on their first
#: PREFIX_BLOCK_CHARS characters.  A proper-prefix pair always does when
#: the shorter doc is at least this long (fixture minimum is 48 chars);
#: shorter prefixes are exact-dup territory, handled by x_llm_dedup_exact.
PREFIX_BLOCK_CHARS = 16


@register(
    "x_llm_dedup_prefix",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, text, len(text) AS n,
               substr(text, 1, {PREFIX_BLOCK_CHARS}) AS blk
        FROM documents
    )
    SELECT a.doc_id AS doc_short, b.doc_id AS doc_long,
           a.n::BIGINT AS len_short, b.n::BIGINT AS len_long,
           round(a.n::DOUBLE / b.n::DOUBLE, 6) AS coverage
    FROM d a JOIN d b
      ON a.blk = b.blk AND a.n < b.n AND starts_with(b.text, a.text)
    """,
)
def x_llm_dedup_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncation-duplicate detection: pairs where one document is a
    PROPER PREFIX of another — the dup class shingle-Jaccard underrates
    (a 10% head of a long doc shares few of its shingles) and exact dedup
    misses entirely, yet corpora are full of it (cut-off crawls, preview
    snippets, pagination heads).  Emits the pair with both lengths and
    the coverage ratio so a keep-policy can drop the truncation.

    Candidate generation is BLOCKED, never n²: docs pair only within
    equal first-PREFIX_BLOCK_CHARS blocks (a proper-prefix pair always
    shares that block when the shorter side is ≥ the block length — the
    fixture minimum is 3×; the oracle encodes the identical blocking, so
    parity holds at every SF).  The exact ``startswith`` check runs
    INSIDE the block join as a codegen'd residual.  Block sizes are
    bounded by template-class sizes once ``x_llm_dedup_exact`` has
    collapsed identical texts — the same reasoning as the hot-shingle
    cap, with the cap itself available if a pathological corpus needs it.
    At 100 TB: one narrow projection, one equi-join on a 16-byte key."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        F.length("text").cast("bigint").alias("n"),
        F.substring("text", 1, PREFIX_BLOCK_CHARS).alias("blk"),
    )
    a = d.select(
        F.col("doc_id").alias("doc_short"),
        F.col("text").alias("_ta"),
        F.col("n").alias("len_short"),
        "blk",
    )
    b = d.select(
        F.col("doc_id").alias("doc_long"),
        F.col("text").alias("_tb"),
        F.col("n").alias("len_long"),
        "blk",
    )
    return (
        a.join(b, "blk")
        .filter(
            (F.col("len_short") < F.col("len_long"))
            & F.col("_tb").startswith(F.col("_ta"))
        )
        .select(
            "doc_short",
            "doc_long",
            "len_short",
            "len_long",
            F.round(
                F.col("len_short").cast("double")
                / F.col("len_long").cast("double"),
                6,
            ).alias("coverage"),
        )
    )


#: Applied-vocabulary size for the coverage report (top-V corpus words).
VOCAB_COVERAGE_V = 500


@register(
    "x_llm_vocab_coverage",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    vocab AS (
        SELECT w FROM (
            SELECT w, count(*) AS c FROM w GROUP BY w
            ORDER BY c DESC, w LIMIT {VOCAB_COVERAGE_V})
    )
    SELECT doc_id, count(*)::BIGINT AS n_tokens,
           sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_oov,
           round(sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END)::DOUBLE
                 / count(*)::DOUBLE, 6) AS oov_ratio
    FROM w LEFT JOIN vocab v USING (w)
    GROUP BY doc_id
    """,
)
def x_llm_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coverage report: APPLY a fixed top-V corpus vocabulary
    (ties at the cut broken lexicographically — a pinned total order) to
    every document and report its token count, out-of-vocabulary token
    count, and OOV ratio — the coverage analysis run before freezing a
    tokenizer, and the per-doc signal that flags corrupted/foreign docs
    (``x_llm_vocab_topk`` BUILDS vocabularies; this measures what one
    covers).

    Plan: vocab = one word-count hash aggregate + a V-row TakeOrdered
    (deterministic under the pinned tie-break); the application side is
    the exploded corpus LEFT-joined against the BROADCAST V-row vocab,
    re-aggregated per doc_id with map-side combine.  The explode never
    shuffles — the only data-sized exchange is the per-doc count
    aggregate, keyed the same as every other per-doc op.  At 100 TB the
    vocab is KBs; the corpus passes once."""
    w = (
        table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    )
    vocab = (
        w.groupBy("w")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), "w")
        .limit(VOCAB_COVERAGE_V)
        .select("w", F.lit(1).alias("_in"))
    )
    return (
        w.join(F.broadcast(vocab), "w", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.when(F.col("_in").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            F.round(
                F.col("n_oov").cast("double") / F.col("n_tokens").cast("double"),
                6,
            ).alias("oov_ratio"),
        )
    )


@register(
    "x_llm_embed_outlier",
    oracle="""
    WITH v AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> x::DOUBLE) AS e
        FROM embeddings
    ),
    c AS (
        SELECT label, g.i, round(avg(e[g.i]), 6) AS c
        FROM v, unnest(generate_series(1, len(e))) AS g(i)
        GROUP BY label, g.i
    )
    SELECT v.vec_id, v.label,
           sum(CAST(floor((v.e[c.i] - c.c) * (v.e[c.i] - c.c)
                          * 1000000.0 + 0.5) AS BIGINT))::BIGINT
               AS dist_micro
    FROM v JOIN c USING (label)
    GROUP BY v.vec_id, v.label
    """,
)
def x_llm_embed_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic outlier scoring: every embedding's squared distance to its
    label-group centroid, in exact integer micro-units — the
    quality-filter signal behind 'drop the points far from their cluster'
    curation (mislabeled docs, garbage embeddings, off-topic members).
    Ranking the output descending per label IS the outlier review queue.

    Determinism: centroid components are rounded to 6 BEFORE use (avg
    accumulation order differs across engines — the SemDeDup cosine
    mitigation), and per-dimension squared deviations are pinned to
    micro-integers before summation, so the reported distance is exact
    BIGINT math in both engines.

    Plan: phase 1 computes centroids with ONE hash aggregate over the
    posexploded (label, dim) frame — map-side combine collapses each task
    to labels × dim partial sums, so the explode never shuffles raw rows
    — and collects labels × dim doubles (KBs; the bounded-model pattern
    of IVF/PQ).  Phase 2 scores the corpus in ONE narrow ``mapInPandas``
    pass with the broadcast centroid matrix: vectorized per-batch GEMM,
    zero joins, zero shuffles.  At 100 TB phase 1 reduces to KBs on the
    wire and phase 2 runs at scan speed."""
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    cent_rows = (
        emb.select("label", F.posexplode("e").alias("i", "x"))
        .groupBy("label", "i")
        .agg(F.round(F.avg("x"), 6).alias("c"))
        .collect()
    )
    by_label: dict[int, dict[int, float]] = {}
    for r in cent_rows:
        by_label.setdefault(r.label, {})[r.i] = r.c
    cent = {
        lab: np.array([d[i] for i in range(len(d))]) for lab, d in by_label.items()
    }

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.vstack(pdf["e"].to_numpy())
            labs = pdf["label"].to_numpy()
            cmat = np.vstack([cent[lab] for lab in labs])
            diff2 = (mat - cmat) ** 2
            micro = np.floor(diff2 * 1e6 + 0.5).astype(np.int64).sum(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "label": labs,
                    "dist_micro": micro,
                }
            )

    return emb.mapInPandas(
        score, "vec_id long, label long, dist_micro long"
    )


@register(
    "x_llm_ngram_novelty",
    oracle=f"""
    WITH {_SQL_SHINGLES},
    df AS (SELECT s, count(*) AS df FROM sh GROUP BY s)
    SELECT sh.doc_id, count(*)::BIGINT AS n_shingles,
           sum(CASE WHEN df.df = 1 THEN 1 ELSE 0 END)::BIGINT AS n_unique,
           round(sum(CASE WHEN df.df = 1 THEN 1 ELSE 0 END)::DOUBLE
                 / count(*)::DOUBLE, 6) AS novelty
    FROM sh JOIN df USING (s)
    GROUP BY sh.doc_id
    """,
)
def x_llm_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a doc's distinct
    shingles that occur NOWHERE else in the corpus (document frequency
    exactly 1) — the inverse of a boilerplate score.  Low novelty means
    the doc is assembled from corpus-common fragments (templates, quote
    farms, near-dups that survived pairwise dedup); curation keeps the
    high-novelty tail and routes the low end to the dedup family.  Docs
    under SHINGLE_N tokens have no shingles and no row, identically in
    both engines.

    Plan: reads the session-shared shingle frame; document frequency is
    ONE hash aggregate on the shingle hash (vocabulary-sized, map-side
    combinable), joined back to the shingle rows ON THE SAME KEY — AQE
    reuses the df aggregate's partitioning for the join — then one
    per-doc rollup.  No self-join at all: novelty needs each shingle's
    corpus count, not pairs, so this costs a small fraction of the
    pair-generation ops it complements."""
    sh = _shingle_rows(spark, sf_dir)
    df_tab = sh.groupBy("h").agg(F.count("*").alias("df"))
    uniq = F.when(F.col("df") == 1, 1).otherwise(0)
    return (
        sh.join(df_tab, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(uniq).cast("bigint").alias("n_unique"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_unique",
            F.round(
                F.col("n_unique").cast("double")
                / F.col("n_shingles").cast("double"),
                6,
            ).alias("novelty"),
        )
    )


#: Collocation extraction: minimum joint count (noise floor) and table cut.
COLLOC_MIN_COUNT = 5
COLLOC_TOP_K = 200


@register(
    "x_llm_collocations",
    oracle=f"""
    WITH words AS (
        SELECT list_filter(string_split(lower(text), ' '), w -> w <> '') AS ws
        FROM documents
    ),
    uni AS (
        SELECT w, count(*) AS c FROM (SELECT unnest(ws) AS w FROM words)
        GROUP BY w
    ),
    pairs AS (
        SELECT unnest(list_transform(generate_series(1, len(ws) - 1),
                      i -> ws[i] || ' ' || ws[i + 1])) AS p
        FROM words WHERE len(ws) >= 2
    ),
    cb AS (SELECT p, count(*) AS c_xy FROM pairs GROUP BY p),
    tot AS (
        SELECT (SELECT sum(c) FROM uni)::BIGINT AS n_uni,
               (SELECT sum(c_xy) FROM cb)::BIGINT AS n_bi
    )
    SELECT split_part(p, ' ', 1) AS w1,
           split_part(p, ' ', 2) AS w2,
           c_xy,
           CAST(floor(c_xy::DOUBLE * n_uni::DOUBLE * n_uni::DOUBLE
                      / (n_bi * ux.c * uy.c)::DOUBLE
                      * 1000000.0 + 0.5) AS BIGINT) AS lift_micro
    FROM cb
    CROSS JOIN tot
    JOIN uni ux ON split_part(p, ' ', 1) = ux.w
    JOIN uni uy ON split_part(p, ' ', 2) = uy.w
    WHERE c_xy >= {COLLOC_MIN_COUNT}
    ORDER BY lift_micro DESC, w1, w2
    LIMIT {COLLOC_TOP_K}
    """,
)
def x_llm_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction: the corpus's top word pairs by LIFT —
    P(xy) / (P(x)·P(y)), the exponential of PMI — with a joint-count
    noise floor.  High-lift pairs are multiword expressions ("new york",
    "machine learning"); tokenizer training and phrase-mining both start
    here.  Lift instead of log-PMI keeps the statistic transcendental-
    free: the score is one double expression over exact integer counts,
    written with IDENTICAL association order in both engines and floored
    to integer micros, so the ranking (lift desc, then pair) is a pinned
    total order with no libm in sight.

    Plan: unigram and bigram counts are two hash aggregates over the
    scan-side explode (map-side combinable); totals are a broadcast
    1-row frame (the hot-cap n_docs pattern); the unigram re-joins hash
    vocabulary-sized tables; the cut is TakeOrdered, never a global
    sort.  At 100 TB everything after the two count aggregates is
    vocabulary-scale."""
    ws = F.filter(F.split(F.lower("text"), " "), lambda w: w != "")
    docs = table(spark, sf_dir, "documents").select(ws.alias("ws"))
    uni = (
        docs.select(F.explode("ws").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    pair = F.zip_with(
        F.col("ws"),
        F.slice("ws", 2, F.size("ws") - 1),
        lambda x, y: F.concat(x, F.lit(" "), y),
    )
    # zip_with pads the shorter slice with null → the last element is a
    # null "pair"; drop it before counting (the _tri_shingle_array lesson)
    cb_all = (
        docs.filter(F.size("ws") >= 2)
        .select(
            F.explode(F.filter(pair, lambda x: x.isNotNull())).alias("p")
        )
        .groupBy("p")
        .agg(F.count("*").alias("c_xy"))
    )
    # n_bi sums the FULL bigram table BEFORE the noise floor — the floor
    # prunes reported rows, not probability mass (the oracle does the same)
    tot = uni.agg(F.sum("c").cast("bigint").alias("n_uni")).crossJoin(
        cb_all.agg(F.sum("c_xy").cast("bigint").alias("n_bi"))
    )
    cb = cb_all.filter(F.col("c_xy") >= COLLOC_MIN_COUNT)
    lift = (
        F.col("c_xy").cast("double")
        * F.col("n_uni").cast("double")
        * F.col("n_uni").cast("double")
        / (F.col("n_bi") * F.col("ux_c") * F.col("uy_c")).cast("double")
    )
    ux = uni.select(F.col("w").alias("w1"), F.col("c").alias("ux_c"))
    uy = uni.select(F.col("w").alias("w2"), F.col("c").alias("uy_c"))
    return (
        cb.select(
            F.split_part(F.col("p"), F.lit(" "), F.lit(1)).alias("w1"),
            F.split_part(F.col("p"), F.lit(" "), F.lit(2)).alias("w2"),
            "c_xy",
        )
        .join(ux, "w1")
        .join(uy, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "c_xy",
            F.floor(lift * 1_000_000.0 + 0.5).cast("bigint").alias("lift_micro"),
        )
        .orderBy(F.desc("lift_micro"), "w1", "w2")
        .limit(COLLOC_TOP_K)
    )


@register(
    "x_llm_bpe_merge_step",
    oracle=f"""
    WITH tok AS (
        SELECT lower(t.tok) AS t
        FROM documents, unnest(string_split(text, ' ')) AS t(tok)
        WHERE length(t.tok) >= 2
    ),
    pr AS (
        SELECT unnest(list_transform(generate_series(1, length(t) - 1),
                      i -> substr(t, i, 2))) AS pair
        FROM tok
    ),
    top1 AS (
        SELECT pair FROM (
            SELECT pair, count(*) AS c FROM pr GROUP BY pair
            ORDER BY c DESC, pair LIMIT 1)
    ),
    merged AS (
        SELECT replace(t, (SELECT pair FROM top1), chr(1)) AS m FROM tok
    ),
    pr2 AS (
        SELECT unnest(list_transform(generate_series(1, length(m) - 1),
                      i -> substr(m, i, 2))) AS p
        FROM merged WHERE length(m) >= 2
    )
    SELECT replace(p, chr(1),
                   '[' || (SELECT pair FROM top1) || ']') AS pair,
           count(*) AS freq
    FROM pr2 GROUP BY 1
    ORDER BY freq DESC, pair
    LIMIT {BPE_PAIR_TOP_K}
    """,
)
def x_llm_bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full BPE training iteration (Sennrich et al. 2016): take the
    seed round's winning pair, MERGE it corpus-wide into a single symbol,
    and recount adjacent symbol pairs — the step ``x_llm_bpe_pair_counts``
    stops short of, closing the count → merge → recount loop a tokenizer
    trainer runs to convergence.  The merged symbol is carried as a
    sentinel character (``chr(1)``, absent from the corpus) so the round-2
    alphabet stays one-char-per-symbol; output pairs render it as
    ``[xy]``.  Greedy left-to-right non-overlapping replace has identical
    semantics in both engines, so overlapping runs ("ttt" under pair
    "tt") merge the same way.

    Plan: the winning pair is ONE TakeOrdered row collected driver-side
    (the bounded-model pattern — in a training loop this is the merge
    table, KBs after thousands of rounds); the merge itself is a
    codegen'd scan-side ``replace``; the recount is the exact
    pair-counting shape of the seed round (map-side combine eats the
    Zipf mass, heap top-K).  Iterating N merges costs N scans of the
    TOKEN table — which is why real trainers keep the token frame
    materialized, as ``_session_shared`` does for shingles."""
    tok = (
        table(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("raw"))
        .filter(F.length("raw") >= 2)
        .select(F.lower("raw").alias("t"))
    )
    pairs = tok.select(
        F.explode(
            F.expr("transform(sequence(1, length(t) - 1), i -> substring(t, i, 2))")
        ).alias("pair")
    )
    top_rows = (
        pairs.groupBy("pair")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), "pair")
        .limit(1)
        .collect()
    )
    if not top_rows:
        # no token anywhere reaches length 2 (empty / single-char-word
        # corpus): the oracle's CTE chain is empty end to end, so the
        # merge step's answer is the empty recount — not an IndexError
        # on the driver (adversarial corpus probe, r17)
        return local_frame(spark, [], "pair string, freq bigint")
    top1 = top_rows[0].pair
    merged = tok.select(
        F.replace(F.col("t"), F.lit(top1), F.expr("chr(1)")).alias("m")
    ).filter(F.length("m") >= 2)
    pr2 = merged.select(
        F.explode(
            F.expr("transform(sequence(1, length(m) - 1), i -> substring(m, i, 2))")
        ).alias("p")
    )
    return (
        pr2.groupBy("p")
        .agg(F.count("*").alias("freq"))
        .select(
            F.replace(
                F.col("p"), F.expr("chr(1)"), F.lit(f"[{top1}]")
            ).alias("pair"),
            "freq",
        )
        .orderBy(F.desc("freq"), "pair")
        .limit(BPE_PAIR_TOP_K)
    )


@register(
    "flagship_dataset_card",
    oracle="""
    WITH tok AS (
        SELECT doc_id, text, lang, source,
               len(string_split(text, ' ')) AS n_tok
        FROM documents
    ),
    lang_top AS (
        SELECT lang, count(*) AS c FROM tok GROUP BY lang
        ORDER BY c DESC, lang LIMIT 1
    )
    SELECT count(*) AS n_docs,
           sum(n_tok)::BIGINT AS n_tokens,
           count(DISTINCT tok.lang) AS n_langs,
           min(lt.lang) AS top_lang,
           round(min(lt.c)::DOUBLE / count(*), 6) AS top_lang_share,
           count(DISTINCT source) AS n_sources,
           round(1.0 - count(DISTINCT text)::DOUBLE / count(*), 6)
               AS exact_dup_frac,
           round(sum(n_tok)::DOUBLE / count(*), 4) AS avg_tokens,
           min(n_tok)::BIGINT AS min_tokens,
           max(n_tok)::BIGINT AS max_tokens
    FROM tok, lang_top lt
    """,
)
def flagship_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset card: one row of corpus-documentation statistics —
    size (docs/tokens), language coverage and dominance, source count,
    exact-duplicate fraction, and token-length range — the summary block
    of a published dataset's datasheet, and the go/no-go panel a
    curation run prints at the end.  Composes the corpus in ONE pass
    where every metric is an exact count or a ratio of exact counts
    (no float accumulation at all), so the card is bit-identical across
    engines.

    Plan: a single aggregate over the token-counted scan computes every
    count/distinct/extreme together (Catalyst plans the three DISTINCTs
    via expand, one shuffle); the top-language row is a 1-row broadcast
    from a lang-grain aggregate.  At 100 TB the expand triples the
    shuffle rows — if that ever dominates, split the distincts into
    three parallel aggregates and cross-join the 1-row results; the
    single-statement form is kept here because the card is recomputed
    rarely and clarity wins."""
    tok = rebalanced(table(spark, sf_dir, "documents")).select(
        "doc_id",
        "text",
        "lang",
        "source",
        F.size(F.split("text", " ")).alias("n_tok"),
    )
    lang_top = (
        tok.groupBy("lang")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), "lang")
        .limit(1)
        .select(F.col("lang").alias("tl"), "c")
    )
    return (
        tok.join(F.broadcast(lang_top))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
            F.count_distinct("lang").alias("n_langs"),
            F.min("tl").alias("top_lang"),
            F.round(F.min("c").cast("double") / F.count("*"), 6).alias(
                "top_lang_share"
            ),
            F.count_distinct("source").alias("n_sources"),
            F.round(
                1.0 - F.count_distinct("text").cast("double") / F.count("*"), 6
            ).alias("exact_dup_frac"),
            F.round(F.sum("n_tok").cast("double") / F.count("*"), 4).alias(
                "avg_tokens"
            ),
            F.min("n_tok").cast("bigint").alias("min_tokens"),
            F.max("n_tok").cast("bigint").alias("max_tokens"),
        )
    )


@register(
    "x_llm_dup_rate_by_source",
    oracle="""
    SELECT source, count(*)::BIGINT AS n_docs,
           count(DISTINCT text)::BIGINT AS n_unique,
           round(1.0 - count(DISTINCT text)::DOUBLE / count(*), 6)
               AS dup_rate
    FROM documents GROUP BY source
    """,
)
def x_llm_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact-duplicate rate — the curation dashboard's first
    column: which ingestion sources are flooding the corpus with copies
    (a high dup_rate source gets down-weighted or re-crawled).  The
    source-grain rollup of ``x_llm_dedup_exact``.

    Plan: one aggregate with a distinct-on-text inside: Spark expands
    to the standard two-level plan (partial distinct on (source, text),
    then the final counts) — both levels hash aggregates, map-side
    combinable.  At 100 TB the text key would be xxhash64(text) first
    (the exact-dedup two-phase trick); the fixture compares raw text so
    the oracle is byte-exact."""
    return (
        table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.countDistinct("text").cast("bigint").alias("n_unique"),
            F.round(
                1.0 - F.countDistinct("text").cast("double") / F.count("*"), 6
            ).alias("dup_rate"),
        )
    )


@register(
    "x_llm_sentence_split",
    oracle=r"""
    SELECT doc_id, i::BIGINT AS sent_idx, trim(part) AS sentence,
           length(trim(part))::BIGINT AS n_chars
    FROM (
        SELECT doc_id,
               unnest(regexp_split_to_array(
                   text, '[.!?]+\s+|\s+(?:the|a)\s+')) AS part,
               generate_subscripts(regexp_split_to_array(
                   text, '[.!?]+\s+|\s+(?:the|a)\s+'), 1) AS i
        FROM documents
    )
    WHERE length(trim(part)) > 0
    """,
)
def x_llm_sentence_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation with positional index: each document splits
    on sentence delimiters into ordered sentence rows — the unit-of-work
    producer for sentence-level dedup, quality filtering and sequence
    packing.  Adaptation: the fixture corpus carries no punctuation, so
    the delimiter class is punctuation-plus-whitespace OR the standalone
    stop-tokens 'the'/'a' standing in for boundaries (a real corpus
    keeps just the first alternative — same plan, same indexing).  The
    regex sits in the shared Java/RE2 subset (alternation, non-capturing
    group, greedy \\s+ — leftmost-first in both) so both engines segment
    identically; empty/whitespace fragments are filtered AFTER indexing,
    so surviving indices are stable regardless of how many empties a
    document produces.

    Plan: posexplode over the scan — a narrow, codegen-adjacent
    expansion (no shuffle at all); downstream consumers group by doc_id
    and get the sentence order back from sent_idx, never from row
    order."""
    part = F.col("part")
    return (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.posexplode(
                F.split("text", r"[.!?]+\s+|\s+(?:the|a)\s+")
            ).alias("pos", "part"),
        )
        .filter(F.length(F.trim(part)) > 0)
        .select(
            "doc_id",
            (F.col("pos") + 1).cast("bigint").alias("sent_idx"),
            F.trim(part).alias("sentence"),
            F.length(F.trim(part)).cast("bigint").alias("n_chars"),
        )
    )


@register(
    "x_llm_tokenizer_fertility",
    oracle="""
    SELECT lang,
           count(*)::BIGINT AS n_docs,
           sum(n_chars)::BIGINT AS total_chars,
           sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+')))::BIGINT
               AS total_tokens,
           round(sum(n_chars)::DOUBLE
                 / sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+')))
                   ::DOUBLE, 4) AS chars_per_token
    FROM documents GROUP BY lang
    """,
)
def x_llm_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: characters consumed per emitted
    token under the regex lexer — THE metric for spotting languages a
    tokenizer serves badly (high chars/token = the vocabulary
    under-covers that script, inflating sequence lengths and training
    cost).  Uses the same shared-regex lexer as ``x_llm_token_count``.

    Plan: one hash aggregate; the token count per row is an elementwise
    regexp_extract_all size — scan-side, codegen, no explode (the
    MATCHES are never materialized as rows)."""
    toks = F.size(
        F.regexp_extract_all("text", F.lit("[a-z]+|[0-9]+"), F.lit(0))
    )
    return (
        table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.sum(toks).cast("bigint").alias("total_tokens"),
            # try_divide: a language whose every doc lexes to ZERO tokens
            # (empty/whitespace/symbol-only texts) has undefined fertility
            # — NULL in DuckDB (0/0 double → NULL); ANSI Spark would
            # throw (adversarial corpus probe, r17)
            F.round(
                F.try_divide(
                    F.sum("n_chars").cast("double"), F.sum(toks).cast("double")
                ),
                4,
            ).alias("chars_per_token"),
        )
    )


#: Winnowing geometry (Schleimer, Wilkerson & Aiken, SIGMOD 2003): k-gram
#: length and window size.  Guarantee: any match of length >= k + w - 1
#: (= 11 chars here) shares at least one selected fingerprint.
WINNOW_K = 8
WINNOW_W = 4


@register(
    "x_llm_winnowing_fingerprint",
    oracle=f"""
    WITH g AS (
        SELECT doc_id, i,
               ('0x' || substr(md5(substr(text, i, {WINNOW_K})), 1, 13))
                   ::BIGINT * 2048 + i AS key
        FROM documents,
             unnest(generate_series(1, length(text) - {WINNOW_K - 1}))
                 AS r(i)
        WHERE length(text) >= {WINNOW_K}
    ),
    wmin AS (
        SELECT doc_id, i,
               min(key) OVER (PARTITION BY doc_id ORDER BY i
                              ROWS BETWEEN {WINNOW_W - 1} PRECEDING
                                  AND CURRENT ROW) AS m
        FROM g
    ),
    fp AS (SELECT DISTINCT doc_id, m FROM wmin WHERE i >= {WINNOW_W})
    SELECT doc_id, count(*)::BIGINT AS n_fingerprints,
           sum((m // 2048)::DECIMAL(38,0))::VARCHAR AS fp_checksum
    FROM fp GROUP BY doc_id
    """,
)
def x_llm_winnowing_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every 8-char k-gram, slide a
    4-gram window, select each window's minimal hash; the selected set
    is a position-robust fingerprint with the guarantee that any shared
    substring of length >= k+w-1 = 11 contributes at least one common
    fingerprint — the local-similarity complement to MinHash's global
    Jaccard.  Tie convention: minimal (hash, position) pair — the
    leftmost-min variant — encoded as ONE comparable bigint
    ``hash52 * 2048 + pos`` (the 52-bit md5-prefix hash and pos < 2048
    pack into 63 bits; fixture docs cap at 577 chars, and a longer-doc
    deployment widens the position field the same way).

    Plan: the k-gram explode is scan-side and linear in corpus chars
    (the shingle machinery's shape); the sliding min is a doc_id-
    PARTITIONED window (never unpartitioned), the fingerprint set a
    hash-distinct, and the per-doc rollup emits a count plus an
    order-invariant exact-decimal checksum of the selected hashes —
    fingerprint sets compare across corpora by joining on (doc, count,
    checksum) without shipping the sets."""
    docs = table(spark, sf_dir, "documents").filter(
        F.length("text") >= WINNOW_K
    )
    g = docs.select(
        "doc_id",
        "text",
        F.explode(
            F.sequence(F.lit(1), F.length("text") - (WINNOW_K - 1))
        ).alias("i"),
    ).select(
        "doc_id",
        "i",
        (
            F.conv(
                F.substring(
                    F.md5(F.expr(f"substring(text, i, {WINNOW_K})")), 1, 13
                ),
                16,
                10,
            ).cast("bigint")
            * 2048
            + F.col("i")
        ).alias("key"),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(-(WINNOW_W - 1), 0)
    )
    fp = (
        g.withColumn("m", F.min("key").over(w))
        .filter(F.col("i") >= WINNOW_W)
        .select("doc_id", "m")
        .distinct()
    )
    return fp.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_fingerprints"),
        # integer `div`, NOT `/`: float division of a 63-bit key loses
        # bits above 2^53
        F.sum(F.expr("m div 2048").cast("decimal(38,0)"))
        .cast("string")
        .alias("fp_checksum"),
    )


#: Dataset-split fractions (cumulative): train < 0.9, val < 0.95, test rest.
SPLIT_TRAIN = 0.9
SPLIT_VAL = 0.95


@register(
    "x_llm_dataset_split",
    oracle=f"""
    WITH u AS (
        SELECT n_chars,
               ('0x' || substr(md5(doc_id::VARCHAR), 1, 13))::BIGINT
                   / 4503599627370496.0 AS u
        FROM documents
    ),
    s AS (
        SELECT CASE WHEN u < {SPLIT_TRAIN} THEN 'train'
                    WHEN u < {SPLIT_VAL} THEN 'val'
                    ELSE 'test' END AS split,
               n_chars
        FROM u
    ),
    agg AS (
        SELECT split, count(*)::BIGINT AS n_docs,
               sum(n_chars)::BIGINT AS total_chars
        FROM s GROUP BY split
    )
    SELECT split, n_docs, total_chars,
           round(n_docs::DOUBLE
                 / (SELECT sum(n_docs) FROM agg)::DOUBLE, 6) AS share
    FROM agg
    """,
)
def x_llm_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test holdout assignment (90/5/5) by
    content-free key hash — the split every training pipeline needs,
    done the reproducible way: u = md5(doc_id)-derived uniform, split
    by cumulative thresholds, so membership is a pure function of the
    id (stable across runs, machines and partitionings — never
    rand()), new documents land in splits at the target rates, and no
    shuffle or global sort is involved in the assignment.

    Plan: assignment is a codegen'd projection; the report is one hash
    aggregate to three rows; the share denominator is an unpartitioned
    window over that 3-row frame (a second aggregate would re-scan
    documents to recompute the counts)."""
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 13), 16, 10
    ).cast("double")
    u = h / 4503599627370496.0  # 2^52
    s = table(spark, sf_dir, "documents").select(
        F.when(u < SPLIT_TRAIN, "train")
        .when(u < SPLIT_VAL, "val")
        .otherwise("test")
        .alias("split"),
        "n_chars",
    )
    agg = s.groupBy("split").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )
    # share denominator via an unpartitioned window over the 3-row frame
    # (a second aggregate would re-scan documents)
    return agg.withColumn(
        "_total", F.sum("n_docs").over(Window.partitionBy())
    ).select(
        "split",
        "n_docs",
        "total_chars",
        F.round(F.col("n_docs").cast("double") / F.col("_total").cast("double"), 6)
        .alias("share"),
    )


@register(
    "x_llm_dup_graph_degree",
    oracle=f"""
    WITH {_SQL_SHINGLES},
    {_SQL_PAIR_JACCARD},
    e AS (
        SELECT doc_a AS doc_id FROM jac WHERE j >= 0.5
        UNION ALL
        SELECT doc_b FROM jac WHERE j >= 0.5
    )
    SELECT doc_id, count(*)::BIGINT AS degree
    FROM e GROUP BY doc_id
    """,
)
def x_llm_dup_graph_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup graph degree per document: how many J >= 0.5 partners
    each doc has — the triage view OVER the pair list (degree 1-2 =
    simple re-post; degree 50 = template/boilerplate hub that deserves
    a pattern fix, not pairwise dedup), and the input to the
    cluster-size-distribution health metric.

    Plan: reads the SESSION-SHARED J >= 0.5 pair frame (built once per
    session over the shared shingles — no re-shingling, no re-join), then ONE
    hash aggregate over the symmetrized pair list.  Degree counting adds
    only pair-sized work to the pair generation it reuses."""
    pairs = _jaccard_pairs_shared(spark, sf_dir)
    e = pairs.select(F.col("doc_a").alias("doc_id")).unionByName(
        pairs.select(F.col("doc_b").alias("doc_id"))
    )
    return e.groupBy("doc_id").agg(F.count("*").cast("bigint").alias("degree"))


@register(
    "x_llm_quality_filter_report",
    oracle="""
    WITH f AS (
        SELECT count(*)::BIGINT AS n_checked,
               sum(CASE WHEN n_chars < 60 THEN 1 ELSE 0 END)::BIGINT
                   AS f_short,
               sum(CASE WHEN length(regexp_replace(text, '[^a-z]', '', 'g'))
                             ::DOUBLE / n_chars < 0.6
                        THEN 1 ELSE 0 END)::BIGINT AS f_alpha,
               sum(CASE WHEN len(list_distinct(string_split(text, ' ')))
                             ::DOUBLE
                             / len(string_split(text, ' ')) < 0.3
                        THEN 1 ELSE 0 END)::BIGINT AS f_rep,
               sum(CASE WHEN len(list_filter(string_split(text, ' '),
                                             x -> x IN ('a', 'the')))::DOUBLE
                             / len(string_split(text, ' ')) > 0.2
                        THEN 1 ELSE 0 END)::BIGINT AS f_stop
        FROM documents
    )
    SELECT 'too_short' AS rule_id, n_checked, f_short AS n_flagged,
           round(f_short::DOUBLE / n_checked, 6) AS flag_rate FROM f
    UNION ALL
    SELECT 'low_alpha', n_checked, f_alpha,
           round(f_alpha::DOUBLE / n_checked, 6) FROM f
    UNION ALL
    SELECT 'repetitive', n_checked, f_rep,
           round(f_rep::DOUBLE / n_checked, 6) FROM f
    UNION ALL
    SELECT 'stopword_heavy', n_checked, f_stop,
           round(f_stop::DOUBLE / n_checked, 6) FROM f
    """,
)
def x_llm_quality_filter_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus quality-gate report: the four standard cheap filters
    (too-short, low alphabetic ratio, low distinct-token ratio =
    repetitive, stopword-heavy) evaluated corpus-wide with per-rule
    flag rates — the go/no-go dashboard a curation pipeline publishes
    before the expensive dedup stages run (the documents-table sibling
    of ``x_etl_dq_report``'s table contracts).

    Plan: ALL four rules ride ONE conditional aggregate in a single
    documents scan (each rule is an elementwise predicate summed), then
    a stack() projection unpivots the 1-row frame to rule rows — four
    rules cost one pass, not four."""
    toks = F.split("text", " ")
    # try_divide: an EMPTY document (n_chars = 0) has an undefined
    # alphabetic ratio — NULL in DuckDB (double/0 → NULL), so the CASE
    # falls through to not-flagged; ANSI Spark would THROW on the same
    # row (corpus-fuzz first blood, r17).  The token-ratio denominators
    # below need no guard: split() never returns an empty array.
    alpha_ratio = F.try_divide(
        F.length(F.regexp_replace("text", "[^a-z]", "")).cast("double"),
        F.col("n_chars"),
    )
    distinct_ratio = (
        F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
    )
    stop_ratio = (
        F.size(F.filter(toks, lambda x: x.isin("a", "the"))).cast("double")
        / F.size(toks)
    )

    def flag(cond, alias):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint").alias(alias)

    f = table(spark, sf_dir, "documents").agg(
        F.count("*").cast("bigint").alias("n_checked"),
        flag(F.col("n_chars") < 60, "f_short"),
        flag(alpha_ratio < 0.6, "f_alpha"),
        flag(distinct_ratio < 0.3, "f_rep"),
        flag(stop_ratio > 0.2, "f_stop"),
    )
    return f.select(
        F.expr(
            "stack(4, 'too_short', f_short, 'low_alpha', f_alpha,"
            " 'repetitive', f_rep, 'stopword_heavy', f_stop)"
            " AS (rule_id, n_flagged)"
        ),
        "n_checked",
    ).select(
        "rule_id",
        "n_checked",
        "n_flagged",
        F.round(
            F.col("n_flagged").cast("double") / F.col("n_checked"), 6
        ).alias("flag_rate"),
    )


# ---------------------------------------------------------------------------
# Flagship: the corpus-health report (round 9)
# ---------------------------------------------------------------------------

from ..registry import oracle_of as _oracle_of_llm  # noqa: E402


def _flagship_corpus_health_oracle() -> str:
    """Composite oracle: each member's REGISTERED oracle embedded as a
    subquery (the ``flagship_analytics`` pattern) — the flagship's
    ground truth is definitionally the members', no duplicated SQL to
    drift.  All four members register earlier in this module, so their
    oracles are available here."""
    return f"""
    SELECT 'dup_rate' AS metric, source AS key, dup_rate AS value
    FROM ({_oracle_of_llm("x_llm_dup_rate_by_source")})
    UNION ALL
    SELECT 'fertility', lang, chars_per_token
    FROM ({_oracle_of_llm("x_llm_tokenizer_fertility")})
    UNION ALL
    SELECT 'split_share', split, share
    FROM ({_oracle_of_llm("x_llm_dataset_split")})
    UNION ALL
    SELECT 'quality_flag_rate', rule_id, flag_rate
    FROM ({_oracle_of_llm("x_llm_quality_filter_report")})
    """


@register("flagship_corpus_health", oracle=_flagship_corpus_health_oracle())
def flagship_corpus_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-health daily report: per-source duplicate rates,
    per-language tokenizer fertility, holdout-split shares and the
    quality-gate flag rates — four curation operators COMPOSED into one
    (metric, key, value) frame, the datasheet a training-data pipeline
    publishes before every ingestion cut (the corpus sibling of
    ``flagship_analytics``; ``flagship_dataset_card`` summarizes the
    corpus, this one gates it).

    The Spark side calls the registered member operators and reshapes
    their frames; the oracle embeds the members' REGISTERED oracle SQL
    as subqueries, so one driver hash-match re-attests all four members
    and their composition in a single row set.

    Plan: a union of four independent subplans — each keeps its
    standalone shape (documents-scan aggregates throughout; every
    member is one pass); composition adds zero shuffles, and Spark
    schedules the member stages concurrently."""
    dup = x_llm_dup_rate_by_source(spark, sf_dir).select(
        F.lit("dup_rate").alias("metric"),
        F.col("source").alias("key"),
        F.col("dup_rate").alias("value"),
    )
    fert = x_llm_tokenizer_fertility(spark, sf_dir).select(
        F.lit("fertility").alias("metric"),
        F.col("lang").alias("key"),
        F.col("chars_per_token").alias("value"),
    )
    split = x_llm_dataset_split(spark, sf_dir).select(
        F.lit("split_share").alias("metric"),
        F.col("split").alias("key"),
        F.col("share").alias("value"),
    )
    qual = x_llm_quality_filter_report(spark, sf_dir).select(
        F.lit("quality_flag_rate").alias("metric"),
        F.col("rule_id").alias("key"),
        F.col("flag_rate").alias("value"),
    )
    return dup.unionByName(fert).unionByName(split).unionByName(qual)


#: Coverage-curve checkpoints (top-k vocabulary sizes) and the candidate
#: cut — at web scale the checkpoints become (1e3, 1e4, 1e5) and the cut
#: grows with them; the plan shape (TakeOrdered + bounded window) holds.
COVERAGE_CHECKPOINTS = (5, 10, 20)
COVERAGE_CUT = 1000


@register(
    "x_llm_ngram_coverage_curve",
    oracle=f"""
    WITH w AS (
        SELECT t AS tok
        FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
        WHERE t <> ''
    ),
    c AS (SELECT tok, count(*) AS n FROM w GROUP BY tok),
    tot AS (SELECT sum(n)::BIGINT AS total FROM c),
    top AS (
        SELECT tok, n, row_number() OVER (ORDER BY n DESC, tok) AS rnk
        FROM c ORDER BY n DESC, tok LIMIT {COVERAGE_CUT}
    ),
    cum AS (
        SELECT rnk,
               sum(n) OVER (ORDER BY rnk ROWS UNBOUNDED PRECEDING) AS cm
        FROM top
    )
    SELECT rnk::BIGINT AS top_k, cm::BIGINT AS covered_tokens, total,
           round(cm::DOUBLE / total, 6) AS coverage
    FROM cum, tot WHERE rnk IN {COVERAGE_CHECKPOINTS!r}
    """,
)
def x_llm_ngram_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: what fraction of the corpus token mass
    the top-5/10/20 types cover — THE vocabulary-size planning tool (a
    tokenizer budget is chosen where this curve flattens; the Zipf-fit
    op models the same mass, this one measures it directly at the
    candidate cut points).

    Plan: one token-count hash aggregate (vocab-grain), then the
    candidate set is a TakeOrdered top-1000 (count-desc, lexicographic
    tiebreak) — the cumulative window runs over THAT bounded frame,
    never the full vocabulary (the zipf_fit caveat, solved by
    construction here); the total mass is a 1-row aggregate joined back
    broadcast.  Measured (r12 stress): 0.9x wall at 10x documents,
    output constant at the curve grain —
    `scale_stress_r12_windows.json`."""
    toks = (
        table(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    # the counts frame feeds BOTH the cut and the total: materialize the
    # vocab-grain frame once (keep_best's localCheckpoint pattern) so the
    # corpus explode+aggregate runs a single time
    c = toks.groupBy("tok").agg(F.count("*").alias("n")).localCheckpoint()
    tot = c.agg(F.sum("n").cast("bigint").alias("total"))
    top = c.orderBy(F.col("n").desc(), "tok").limit(COVERAGE_CUT)
    w = Window.orderBy(F.col("n").desc(), "tok")
    cum = top.select(
        F.row_number().over(w).cast("bigint").alias("top_k"),
        F.sum("n")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint")
        .alias("covered_tokens"),
    )
    return (
        cum.filter(F.col("top_k").isin(*COVERAGE_CHECKPOINTS))
        .join(F.broadcast(tot))
        .select(
            "top_k",
            "covered_tokens",
            "total",
            F.round(
                F.col("covered_tokens").cast("double")
                / F.col("total").cast("double"),
                6,
            ).alias("coverage"),
        )
    )


#: Reweighting cap: no source's importance weight exceeds this multiple.
MIXTURE_WEIGHT_CAP = 5.0


@register(
    "x_llm_mixture_reweight",
    oracle=f"""
    WITH s AS (
        SELECT source, count(*)::BIGINT AS n_docs,
               sum(len(string_split(text, ' ')))::BIGINT AS tokens
        FROM documents GROUP BY source
    ),
    t AS (SELECT sum(tokens)::BIGINT AS total,
                 count(*)::BIGINT AS n_sources FROM s)
    SELECT source, n_docs, tokens,
           round(tokens::DOUBLE / total, 6) AS actual_share,
           round(least({MIXTURE_WEIGHT_CAP},
                       (1.0 / n_sources) / (tokens::DOUBLE / total)), 6)
               AS weight
    FROM s, t
    """,
)
def x_llm_mixture_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture importance reweighting: the per-source sampling
    weight that moves the corpus from its ACTUAL token shares to a
    target mixture (uniform here), capped at 5x so a tiny source cannot
    be oversampled into memorization — the knob a training pipeline
    turns after ``x_llm_source_mix`` reports the imbalance (that op
    reports equalizing weights; this one emits the bounded sampling
    plan).

    Plan: one hash aggregate to source grain (token counts are
    elementwise split sizes — no explode); totals ride an unpartitioned
    window over the source-count-sized frame (a second aggregate would
    re-scan documents); weights are elementwise doubles over exact
    integers."""
    s = (
        table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.size(F.split("text", " "))).cast("bigint").alias("tokens"),
        )
    )
    w_all = Window.partitionBy()
    t = s.withColumn("total", F.sum("tokens").over(w_all)).withColumn(
        "n_sources", F.count("*").over(w_all)
    )
    share = F.col("tokens").cast("double") / F.col("total")
    return t.select(
        "source",
        "n_docs",
        "tokens",
        F.round(share, 6).alias("actual_share"),
        F.round(
            F.least(F.lit(MIXTURE_WEIGHT_CAP), (1.0 / F.col("n_sources")) / share),
            6,
        ).alias("weight"),
    )


@register(
    "x_llm_lang_confusion",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, lang,
               {_lang_score_sql(LANG_MARKERS["de"])} AS s_de,
               {_lang_score_sql(LANG_MARKERS["en"])} AS s_en,
               {_lang_score_sql(LANG_MARKERS["es"])} AS s_es,
               {_lang_score_sql(LANG_MARKERS["fr"])} AS s_fr,
               {_lang_score_sql(LANG_MARKERS["zh"])} AS s_zh
        FROM documents
    ),
    pred AS (
        SELECT lang,
               CASE greatest(s_de, s_en, s_es, s_fr, s_zh)
                    WHEN s_de THEN 'de' WHEN s_en THEN 'en'
                    WHEN s_es THEN 'es' WHEN s_fr THEN 'fr'
                    ELSE 'zh' END AS pred_lang
        FROM scored
    )
    SELECT lang AS actual, pred_lang AS predicted,
           count(*)::BIGINT AS n_docs
    FROM pred GROUP BY 1, 2
    """,
)
def x_llm_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-evaluation confusion matrix for the language-ID
    heuristic: (labeled lang, predicted lang) cell counts — the
    model-eval shape every curation classifier report needs (per-class
    precision/recall fall straight out of the cells); ``x_llm_lang_id``
    emits predictions, this scores them against the labels.

    Plan: the scoring pass is the lang_id projection (narrow, no
    shuffle); the matrix is ONE hash aggregate to at most |langs|²
    rows."""
    toks = F.split("text", " ")
    scores = {
        lang: F.size(F.filter(toks, _marker_filter(ms)))
        for lang, ms in LANG_MARKERS.items()
    }
    best = F.greatest(*scores.values())
    pred = F.when(scores["de"] == best, "de")
    for lang in ("en", "es", "fr"):
        pred = pred.when(scores[lang] == best, lang)
    pred = pred.otherwise("zh")
    return (
        table(spark, sf_dir, "documents")
        .select(F.col("lang").alias("actual"), pred.alias("predicted"))
        .groupBy("actual", "predicted")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
    )


@register(
    "x_llm_dedup_suffix",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, text, len(text) AS n,
               substr(text, len(text) - {PREFIX_BLOCK_CHARS - 1},
                      {PREFIX_BLOCK_CHARS}) AS blk
        FROM documents WHERE len(text) >= {PREFIX_BLOCK_CHARS}
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.n::BIGINT AS len_a, b.n::BIGINT AS len_b, a.blk AS tail_block,
           (a.n < b.n AND suffix(b.text, a.text)) AS is_proper_suffix
    FROM d a JOIN d b ON a.blk = b.blk AND a.doc_id < b.doc_id
    """,
)
def x_llm_dedup_suffix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suffix-duplicate candidate detection — the mirror of
    ``x_llm_dedup_prefix`` for the other truncation mode real corpora
    exhibit (prepended boilerplate banners, injected headers,
    quoted-reply chains where the original survives as the tail): pairs
    sharing the SAME last-16-char tail block, each verified with an
    exact ``endswith`` containment verdict.  Candidates are emitted
    (not just verified containments) because the shared-tail signal
    itself routes to review/template-extraction — on the fixture
    corpus the tail blocks collide without full containment, which is
    exactly what the verdict column reports.

    Plan: the prefix op's shape mirrored end-for-end — blocked
    candidate generation on a 16-byte tail-block equi-join key (never
    n²), the ``endswith`` check a codegen'd residual projection inside
    the join."""
    d = (
        table(spark, sf_dir, "documents")
        .filter(F.length("text") >= PREFIX_BLOCK_CHARS)
        .select(
            "doc_id",
            "text",
            F.length("text").cast("bigint").alias("n"),
            F.substring("text", -PREFIX_BLOCK_CHARS, PREFIX_BLOCK_CHARS).alias(
                "blk"
            ),
        )
    )
    a = d.select(
        F.col("doc_id").alias("doc_a"),
        F.col("text").alias("_ta"),
        F.col("n").alias("len_a"),
        "blk",
    )
    b = d.select(
        F.col("doc_id").alias("doc_b"),
        F.col("text").alias("_tb"),
        F.col("n").alias("len_b"),
        "blk",
    )
    return (
        a.join(b, "blk")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            "len_a",
            "len_b",
            F.col("blk").alias("tail_block"),
            (
                (F.col("len_a") < F.col("len_b"))
                & F.col("_tb").endswith(F.col("_ta"))
            ).alias("is_proper_suffix"),
        )
    )


@register(
    "x_llm_template_extract",
    oracle=f"""
    WITH heads AS (
        SELECT source, substr(text, 1, {PREFIX_BLOCK_CHARS}) AS head
        FROM documents
    ),
    c AS (
        SELECT source, head, count(*) AS n
        FROM heads GROUP BY source, head
    ),
    m AS (SELECT source, max(n) AS nmax FROM c GROUP BY source),
    pick AS (
        SELECT c.source, min(head) AS template_head, min(nmax) AS n_docs
        FROM c JOIN m ON c.source = m.source AND c.n = m.nmax
        GROUP BY c.source
    ),
    tot AS (SELECT source, count(*) AS total FROM heads GROUP BY source)
    SELECT p.source, template_head, n_docs::BIGINT AS n_docs,
           round(n_docs::DOUBLE / total, 6) AS head_share
    FROM pick p JOIN tot ON p.source = tot.source
    """,
)
def x_llm_template_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source boilerplate-template detection: the modal document
    head (first 16 chars) per source and its share — a high share means
    the source injects a banner/header that dedup and quality scoring
    should strip FIRST (the pattern-level fix the dup-graph degree op
    points at; this op names the pattern).

    Plan: the ``x_agg_mode`` argmax-as-aggregates shape on head grain —
    counts → per-source max → lexicographic-min winner — aggregates on
    the source key only (no sort window); the head-grain count frame is
    localCheckpointed (it feeds max/winner/totals, and totals derive as
    sum(n) of the counts), so documents is scanned once."""
    heads = table(spark, sf_dir, "documents").select(
        "source", F.substring("text", 1, PREFIX_BLOCK_CHARS).alias("head")
    )
    # the head-grain counts feed three consumers (max, winner, totals):
    # materialize once, and derive the totals as sum(n) of the counts
    # rather than re-counting the raw heads — documents is scanned once
    c = (
        heads.groupBy("source", "head")
        .agg(F.count("*").alias("n"))
        .localCheckpoint()
    )
    m = c.groupBy("source").agg(F.max("n").alias("nmax"))
    pick = (
        c.join(m, "source")
        .filter(F.col("n") == F.col("nmax"))
        .groupBy("source")
        .agg(
            F.min("head").alias("template_head"),
            F.min("nmax").cast("bigint").alias("n_docs"),
        )
    )
    tot = c.groupBy("source").agg(F.sum("n").alias("total"))
    return pick.join(tot, "source").select(
        "source",
        "template_head",
        "n_docs",
        F.round(F.col("n_docs").cast("double") / F.col("total"), 6).alias(
            "head_share"
        ),
    )


@register(
    "x_llm_cluster_purity",
    oracle=f"""
    WITH RECURSIVE {_SQL_SHINGLES},
    {_SQL_PAIR_JACCARD},
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM jac
        WHERE j >= {CLUSTER_J_THRESHOLD}
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM jac
        WHERE j >= {CLUSTER_J_THRESHOLD}
    ),
    reach(node, root) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node
    ),
    labels AS (
        SELECT node AS doc_id, min(root) AS cluster_id
        FROM reach GROUP BY node
    ),
    j2 AS (
        SELECT l.cluster_id, d.source
        FROM labels l JOIN documents d ON l.doc_id = d.doc_id
    ),
    per_src AS (
        SELECT cluster_id, source, count(*) AS n
        FROM j2 GROUP BY cluster_id, source
    ),
    tot AS (
        SELECT cluster_id, sum(n)::BIGINT AS n_members,
               count(*)::BIGINT AS n_sources, max(n) AS nmax
        FROM per_src GROUP BY cluster_id
    ),
    win AS (
        SELECT p.cluster_id, min(p.source) AS top_source
        FROM per_src p JOIN tot t
          ON p.cluster_id = t.cluster_id AND p.n = t.nmax
        GROUP BY p.cluster_id
    )
    SELECT t.cluster_id, n_members, n_sources, top_source,
           nmax::BIGINT AS n_top,
           round(nmax::DOUBLE / n_members, 6) AS purity
    FROM tot t JOIN win w ON t.cluster_id = w.cluster_id
    WHERE n_members >= 2
    """,
)
def x_llm_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster purity against the source attribute: for every
    multi-member dup class, the dominant source and its share — the
    cluster-quality readout (purity 1.0 = within-source re-posts, the
    easy case; low purity = CROSS-source syndication, the class that
    needs canonical-source policy, and the aggregate view of what
    ``x_llm_source_overlap`` measures pairwise).

    Plan: cluster labels come from the session-shared component frame
    (computed once per session, like the shingle and pair frames);
    everything added here is cluster-grain — per-(cluster, source)
    counts, argmax-as-aggregates for the dominant source (no sort
    window), all hash aggregates keyed on cluster_id."""
    labels = _cluster_labels(spark, sf_dir).select("doc_id", "cluster_id")
    d = table(spark, sf_dir, "documents").select("doc_id", "source")
    per_src = (
        labels.join(d, "doc_id")
        .groupBy("cluster_id", "source")
        .agg(F.count("*").alias("n"))
    )
    tot = per_src.groupBy("cluster_id").agg(
        F.sum("n").cast("bigint").alias("n_members"),
        F.count("*").cast("bigint").alias("n_sources"),
        F.max("n").alias("nmax"),
    )
    win = (
        per_src.join(tot, "cluster_id")
        .filter(F.col("n") == F.col("nmax"))
        .groupBy("cluster_id")
        .agg(F.min("source").alias("top_source"))
    )
    return (
        tot.join(win, "cluster_id")
        .filter(F.col("n_members") >= 2)
        .select(
            "cluster_id",
            "n_members",
            "n_sources",
            "top_source",
            F.col("nmax").cast("bigint").alias("n_top"),
            F.round(F.col("nmax").cast("double") / F.col("n_members"), 6)
            .alias("purity"),
        )
    )
