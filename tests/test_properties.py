"""Property-based tests (hypothesis) for the semantics most likely to hide
edge-case divergence: Python-faithful NOT-IN-with-NULL, the rolling-hash
fingerprint, and as-of join — each checked against a direct Python reference
implementation on randomized inputs."""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Window
from pyspark.sql import functions as F

SET = settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

TYPES = st.one_of(st.none(), st.sampled_from(["a", "b", "c", "d"]))


@given(vals=st.lists(TYPES, min_size=1, max_size=30))
@SET
def test_python_faithful_not_in_whitelist(spark, vals):
    """The reference's `x not in ["a", None, "b"]` is 2-valued: NULL is an
    ordinary whitelisted member.  The engine convention
    `~(col.isin(...) | col.isNull())` must agree with Python exactly
    (SQL 3-valued NOT IN would drop every row when NULL is present)."""
    whitelist = ["a", None, "b"]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "i int, v string"
    )
    got = {
        r.i
        for r in df.filter(
            ~(F.col("v").isin("a", "b") | F.col("v").isNull())
        ).collect()
    }
    want = {i for i, v in enumerate(vals) if v not in whitelist}
    assert got == want


@given(text=st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=126),
                    min_size=1, max_size=80))
@SET
def test_rolling_fingerprint_matches_python(spark, text):
    """fp = fold(h*31 + codepoint mod 1e9+7) must equal the direct Python
    fold for arbitrary printable-ASCII strings."""
    from dataengineer_scripts_spark.operators.llm import FP_BASE, FP_MOD

    df = spark.createDataFrame([(text,)], "text string")
    fp_expr = F.aggregate(
        F.transform(F.split("text", ""), F.ascii),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * FP_BASE + c) % FP_MOD,
    )
    got = df.select(fp_expr.alias("fp")).collect()[0].fp
    want = 0
    for ch in text:
        want = (want * FP_BASE + ord(ch)) % FP_MOD
    assert got == want


EVENTS = st.lists(
    st.tuples(st.integers(0, 50), st.sampled_from(["purchase", "error", "view"])),
    min_size=1,
    max_size=25,
)


@given(events=EVENTS)
@SET
def test_asof_running_max_matches_reference(spark, events):
    """The merged-stream running-max as-of join must equal the quadratic
    reference (max purchase ts at-or-before each error) on arbitrary
    event sequences, including ties."""
    rows = [(i, 1, ts, ty) for i, (ts, ty) in enumerate(events)]
    df = spark.createDataFrame(
        rows, "event_id int, user_id int, tsec int, event_type string"
    ).withColumn("ts", F.timestamp_seconds("tsec"))
    is_p = F.col("event_type") == "purchase"
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", F.when(is_p, 0).otherwise(1), "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    got = {
        r.event_id: r.lp
        for r in df.withColumn("lp", F.max(F.when(is_p, F.col("tsec"))).over(w))
        .filter(F.col("event_type") == "error")
        .collect()
    }
    want = {
        i: max(
            (ts2 for ts2, ty2 in events if ty2 == "purchase" and ts2 <= ts),
            default=None,
        )
        for i, (ts, ty) in enumerate(events)
        if ty == "error"
    }
    assert got == want


@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(["tok", "a", "xy", "q1"]), min_size=0, max_size=90
        ).map(" ".join),
        min_size=1,
        max_size=6,
    )
)
@SET
def test_chunk_windows_cover_and_tile(spark, texts):
    """Chunking invariants against a direct Python reference: chunk starts
    tile the token range at CHUNK_STRIDE, every chunk re-joins to the
    exact token slice, and n_tokens matches the slice length."""
    from dataengineer_scripts_spark.operators.llm import (
        CHUNK_STRIDE,
        CHUNK_TOKENS,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    toks = F.split(F.col("text"), " ")
    starts = F.sequence(
        F.lit(1), F.greatest(F.size(toks), F.lit(1)), F.lit(CHUNK_STRIDE)
    )
    got = (
        df.select("doc_id", toks.alias("t"), F.explode(starts).alias("i"))
        .select(
            "doc_id",
            F.expr(f"(i - 1) div {CHUNK_STRIDE}").alias("chunk_id"),
            F.array_join(F.slice("t", F.col("i"), CHUNK_TOKENS), " ").alias("chunk"),
            F.least(F.lit(CHUNK_TOKENS), F.size("t") - F.col("i") + F.lit(1))
            .cast("long")
            .alias("n_tokens"),
        )
        .collect()
    )
    by_doc: dict[int, list] = {}
    for r in got:
        by_doc.setdefault(r.doc_id, []).append(r)
    for i, text in enumerate(texts):
        words = text.split(" ")
        rows = sorted(by_doc[i], key=lambda r: r.chunk_id)
        want_starts = list(range(0, max(len(words), 1), CHUNK_STRIDE))
        assert [r.chunk_id for r in rows] == list(range(len(want_starts)))
        for r, s in zip(rows, want_starts):
            piece = words[s : s + CHUNK_TOKENS]
            assert r.chunk == " ".join(piece)
            assert r.n_tokens == len(piece)


@given(
    docs=st.lists(
        st.lists(st.sampled_from(list("abcd")), min_size=0, max_size=24).map(
            " ".join
        ),
        min_size=1,
        max_size=5,
    )
)
@SET
def test_dup_spans_matches_python_reference(spark, docs):
    """n_spans / n_dup_spans must equal a direct Python computation of
    8-token spans shared across >= 2 docs (string identity; the engine's
    xxhash64 keys are collision-free at this scale)."""
    from collections import Counter

    from dataengineer_scripts_spark.operators import llm

    K = llm.SPAN_K
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    starts = F.when(
        n >= K, F.sequence(F.lit(1), n - F.lit(K - 1))
    ).otherwise(F.array().cast("array<int>"))
    sp = (
        df.select("doc_id", toks.alias("t"), F.explode(starts).alias("i"))
        .select(
            "doc_id",
            F.xxhash64(F.array_join(F.slice("t", F.col("i"), K), " ")).alias("h"),
        )
    )
    multi = (
        sp.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    dup = sp.join(multi, "h", "semi").groupBy("doc_id").agg(
        F.count("*").alias("n_dup")
    )
    tot = sp.groupBy("doc_id").agg(F.count("*").alias("n_spans"))
    got = {
        r.doc_id: (r.n_spans, r.n_dup or 0)
        for r in tot.join(dup, "doc_id", "left").collect()
    }

    spans_by_doc = {}
    owner: dict[str, set] = {}
    for i, text in enumerate(docs):
        w = text.split(" ")
        spans = [" ".join(w[j : j + K]) for j in range(len(w) - K + 1)]
        if spans:
            spans_by_doc[i] = spans
            for s in spans:
                owner.setdefault(s, set()).add(i)
    want = {
        i: (len(spans), sum(1 for s in spans if len(owner[s]) >= 2))
        for i, spans in spans_by_doc.items()
    }
    assert got == want


#: Every rank/row_number consumer, its ordering key, and the columns the
#: operator CONSUMES beyond that key.  The determinism contract each one
#: relies on: rows tied on the ordering key must be INDISTINGUISHABLE in
#: every consumed column — then any peer permutation the engine picks
#: yields the same output.  ``consumed=()`` means the key itself must be
#: unique (the operator consumes the rank, so peers are never harmless).
_RANK_CONSUMER_CONTRACTS = [
    # x_win_sessionize: lag/cumsum over (user_id, ts, event_id); session
    # ids are consumed downstream → strict uniqueness required
    ("x_win_sessionize", "events", ("user_id", "ts", "event_id"), ()),
    # x_etl_global_row_number: per-pid row_number over (ts, event_id)
    # after a range shuffle on the same key; the row number is the output
    ("x_etl_global_row_number", "events", ("ts", "event_id"), ()),
    # x_etl_zorder_stats: ntile over (zval, l_orderkey, l_linenumber),
    # output aggregates only (l_partkey, l_suppkey) per bucket — peers may
    # exist iff identical in those (the sf0.001 fixture has exactly one
    # such fully-duplicated row)
    ("x_etl_zorder_stats", "lineitem",
     ("zval", "l_orderkey", "l_linenumber"), ("l_partkey", "l_suppkey")),
]


@pytest.mark.parametrize(
    "op,tbl,key,consumed",
    _RANK_CONSUMER_CONTRACTS,
    ids=[r[0] for r in _RANK_CONSUMER_CONTRACTS],
)
def test_rank_consumer_peers_are_indistinguishable(
    spark, sf_dir, op, tbl, key, consumed
):
    """The determinism contract of every rank-based operator, asserted on
    the fixture: peer rows under the operator's ordering key carry no
    distinguishing consumed column, so every engine-chosen peer order
    yields one output.  The operators themselves are oracle-checked; this
    pins the fixture-side assumption so a fixture change that breaks it
    fails loudly here instead of as an unexplained driver hash flake."""
    from dataengineer_scripts_spark.operators.etl import _zvalue_sql
    from dataengineer_scripts_spark.tables import table

    df = table(spark, sf_dir, tbl)
    if "zval" in key:
        df = df.withColumn(
            "zval", F.expr(_zvalue_sql("l_partkey", "l_suppkey", "div"))
        )
    if consumed:
        bad = (
            df.groupBy(*key)
            .agg(F.countDistinct(F.struct(*consumed)).alias("d"))
            .filter(F.col("d") > 1)
            .count()
        )
        assert bad == 0, (
            f"{op}: {bad} ordering-key peer groups differ in {consumed}"
        )
    else:
        dupes = df.groupBy(*key).count().filter(F.col("count") > 1).count()
        assert dupes == 0, f"{op}: {dupes} duplicate {key} tuples in {tbl}"


@given(
    pairs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2**40),
            st.integers(min_value=0, max_value=2**40),
        ),
        min_size=1,
        max_size=25,
    )
)
@SET
def test_zvalue_interleave_matches_python_reference(spark, pairs):
    """The portable div/mod Morton interleave must equal a direct Python
    bit-interleave of the 16-bit-masked keys — including keys far above
    the mask (the % quantization) and zero."""
    from dataengineer_scripts_spark.operators.etl import (
        ZORDER_BITS,
        _zvalue_sql,
    )

    def z_ref(x: int, y: int) -> int:
        x &= (1 << ZORDER_BITS) - 1
        y &= (1 << ZORDER_BITS) - 1
        out = 0
        for i in range(ZORDER_BITS):
            out |= ((x >> i) & 1) << (2 * i)
            out |= ((y >> i) & 1) << (2 * i + 1)
        return out

    df = spark.createDataFrame(
        [(i, x, y) for i, (x, y) in enumerate(pairs)], "i int, x long, y long"
    )
    got = {
        r.i: r.z
        for r in df.select(
            "i", F.expr(_zvalue_sql("x", "y", "div")).alias("z")
        ).collect()
    }
    for i, (x, y) in enumerate(pairs):
        assert got[i] == z_ref(x, y), (x, y)


def test_pq_codes_match_python_argmin_reference(spark, sf_dir):
    """PQ encoding must equal a direct per-vector Python argmin against
    the same codebook: round-6 distances, ties to the lowest seed id —
    verified row-by-row on the whole fixture, independent of the SQL
    oracle path."""
    import numpy as np

    from dataengineer_scripts_spark import registry
    from dataengineer_scripts_spark.operators.llm import PQ_K, PQ_M
    from dataengineer_scripts_spark.tables import table

    emb = {
        r.vec_id: np.array(r.e)
        for r in table(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("e"),
        )
        .collect()
    }
    seeds = sorted(k for k in emb if k < PQ_K)
    dim = len(next(iter(emb.values())))
    w = dim // PQ_M
    got = {
        r.vec_id: ([int(c) for c in r.codes.split("-")], r.err_micro)
        for r in registry.definitions()["x_llm_embed_pq"]
        .fn(spark, sf_dir)
        .collect()
    }
    assert set(got) == set(emb)
    for vid, v in emb.items():
        codes, err = [], 0
        for m in range(PQ_M):
            sub = v[m * w:(m + 1) * w]
            best_k, best_d = None, None
            for k in seeds:  # ascending seed id → first win on ties
                d = round(float(((sub - emb[k][m * w:(m + 1) * w]) ** 2).sum()), 6)
                if best_d is None or d < best_d:
                    best_k, best_d = k, d
            codes.append(best_k)
            err += int(np.floor(best_d * 1e6 + 0.5))
        assert got[vid] == (codes, err), vid


# --- xlsx round-trip ---------------------------------------------------------

# Cell scalars the workbook model can carry.  \r excluded: the XML spec
# normalizes \r/\r\n to \n AT PARSE TIME (any conformant reader does), so
# carriage returns cannot round-trip through OOXML in principle.
_CELL = st.one_of(
    st.none(),
    st.booleans(),
    # read_xlsx parses numerics through float(); beyond 2^53 an int's
    # exact value has no float form, which OOXML shares (Excel itself
    # stores 15 significant digits)
    st.integers(min_value=-(2**53), max_value=2**53),
    st.floats(allow_nan=True, allow_infinity=True),
    st.text(
        alphabet=st.characters(
            blacklist_categories=("Cs",), blacklist_characters="\r"
        ),
        max_size=40,
    ),
)


def _expected_cell(v):
    """What read_xlsx must return for a written cell: the documented
    writer canonicalizations, nothing else."""
    import math

    from dataengineer_scripts_spark.xlsx import _XML_ILLEGAL

    if isinstance(v, bool) or v is None:
        return v
    if isinstance(v, float) and not math.isfinite(v):
        return str(v)  # NaN/Inf have no OOXML numeric form
    if isinstance(v, float) and v.is_integer():
        return int(v)  # integral floats read back as ints
    if isinstance(v, str):
        return _XML_ILLEGAL.sub("", v)  # XML 1.0 illegal chars stripped
    return v


@given(
    rows=st.lists(
        st.fixed_dictionaries(
            {
                "name": _CELL,
                "status": st.sampled_from(
                    ["Success", "Failed", "Not Synced", "", "other"]
                ),
                "n": _CELL,
            }
        ),
        min_size=1,
        max_size=6,
    )
)
@settings(max_examples=40, deadline=None)
def test_xlsx_write_read_roundtrip(rows, tmp_path_factory):
    """write_xlsx → read_xlsx is the identity on cell values up to the
    writer's documented canonicalizations, and per-status fills follow
    STATUS_FILLS — over arbitrary unicode/numeric/None payloads.  This
    is the contract the snk_excel_values driver gate rests on."""
    from datetime import date

    from dataengineer_scripts_spark.sinks import STATUS_FILLS, build_workbook_model
    from dataengineer_scripts_spark.xlsx import read_xlsx, write_xlsx

    model = build_workbook_model(
        rows, columns=["name", "status", "n"], report_date=date(2026, 1, 2)
    )
    p = str(tmp_path_factory.mktemp("xl") / "rt.xlsx")
    write_xlsx(model, p)
    wb = read_xlsx(p)
    assert set(wb["rows"]) == {1, 2} | set(range(3, 3 + len(rows)))
    assert wb["rows"][2] == ["name", "status", "n"]
    for i, r in enumerate(rows):
        want = [_expected_cell(r["name"]), r["status"], _expected_cell(r["n"])]
        got = wb["rows"][3 + i]
        # NaN != NaN: compare via repr for the non-finite-string case is
        # unnecessary (they became strings); plain equality is exact here
        assert got == want, (i, got, want)
        assert wb["row_fills"][3 + i] == STATUS_FILLS.get(
            str(r["status"]), "FFFFFF"
        )


# --- two-phase exact dedup ---------------------------------------------------


@given(
    texts=st.lists(
        st.sampled_from(["aa", "bb", "cc", "dd dd", ""]),
        min_size=1,
        max_size=20,
    ),
)
@SET
def test_exact_text_groups_match_single_phase_reference(spark, texts):
    """The two-phase hash-bucketed exact dedup (_exact_text_groups) must
    equal a direct single-phase groupBy(text) on arbitrary small corpora
    with heavy duplication — the exactness claim the two-phase form rests
    on.  The tiny text pool forces every corpus through the multi-member
    bucket (broadcast-semi + regroup) path.  Beyond the callers'
    min/count, the aggs include avg/sum and an order-normalized collect —
    NOT grouping-refinement-safe aggregates, correct here because
    phase-1 values are only emitted for single-member buckets (the r13
    advice docstring relaxation, now load-bearing and therefore pinned)."""
    from dataengineer_scripts_spark.operators.llm import _exact_text_groups

    df = spark.createDataFrame(
        [(i, t, len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, n_chars long",
    )
    aggs = {
        "canonical_id": F.min("doc_id"),
        "n_copies": F.count("*"),
        "n_chars": F.min("n_chars"),
        "mean_id": F.round(F.avg("doc_id"), 9),
        "sum_chars": F.sum("n_chars"),
        "all_ids": F.array_sort(F.collect_list("doc_id")),
    }
    got = sorted(map(tuple, _exact_text_groups(df, aggs).collect()))
    want = sorted(
        map(tuple, df.groupBy("text").agg(*[c.alias(n) for n, c in aggs.items()]).drop("text").collect())
    )
    assert got == want


# --- pair-Jaccard ------------------------------------------------------------


@given(
    sets=st.lists(
        st.sets(st.integers(0, 12), min_size=1, max_size=8),
        min_size=2,
        max_size=4,
    )
)
@SET
def test_pair_jaccard_matches_set_reference_and_is_symmetric(spark, sets):
    """_pair_jaccard over arbitrary tiny shingle sets must equal
    |A∩B| / |A∪B| exactly, be symmetric in its pair orientation, and
    score every self-pair 1.0.  Pairs with an empty intersection are
    (by construction of the two-step equi-join) absent from the output —
    the candidate generators upstream only ever emit pairs sharing a
    shingle, which the reference mirrors."""
    from dataengineer_scripts_spark.operators.llm import _pair_jaccard

    sh = spark.createDataFrame(
        [(i, h) for i, s in enumerate(sets) for h in s], "doc_id long, h long"
    )
    ids = range(len(sets))
    pairs = spark.createDataFrame(
        [(a, b) for a in ids for b in ids], "doc_a long, doc_b long"
    )
    got = {
        (r.doc_a, r.doc_b): r.j for r in _pair_jaccard(pairs, sh).collect()
    }
    for a in ids:
        for b in ids:
            inter = len(sets[a] & sets[b])
            if inter == 0:
                assert (a, b) not in got
            else:
                want = inter / len(sets[a] | sets[b])
                assert got[(a, b)] == pytest.approx(want, abs=1e-12)
                assert got[(a, b)] == got[(b, a)]  # symmetry
        assert got[(a, a)] == pytest.approx(1.0)  # self-pair


# --- boundary-straddle packing ----------------------------------------------


@given(
    docs=st.lists(
        st.tuples(st.sampled_from(["en", "fr"]), st.integers(0, 5)),
        min_size=1,
        max_size=25,
    ),
    capacity=st.integers(1, 9),
)
@SET
def test_pack_assignments_match_fold_and_capacity_invariants(
    spark, docs, capacity
):
    """The packing kernel (_pack_assignments — shared by
    x_llm_pack_sequences and flagship_curation stage 7) must equal the
    sequential fold it declaratively re-expresses, for arbitrary tiny
    corpora and capacities: pack_id = tokens-before // capacity in
    (lang, doc_id) order.  Invariants checked on top of the fold match:
    pack ids are non-decreasing per lang, and a pack's fill before its
    final doc is always < capacity (boundary-straddle: only the LAST doc
    of a pack may overrun)."""
    from dataengineer_scripts_spark.operators.llm import _pack_assignments

    df = spark.createDataFrame(
        [(i, lang, n) for i, (lang, n) in enumerate(docs)],
        "doc_id long, lang string, n_tokens long",
    )
    got = {
        r.doc_id: r.pack_id
        for r in _pack_assignments(df, capacity).collect()
    }
    fills: dict[str, int] = {}
    packs: dict[str, list] = {}
    for i, (lang, n) in enumerate(docs):  # doc_id order == enumerate order
        before = fills.get(lang, 0)
        assert got[i] == before // capacity, (i, docs, capacity)
        fills[lang] = before + n
        packs.setdefault(lang, []).append(got[i])
    for lang, ids in packs.items():
        assert ids == sorted(ids)  # non-decreasing per lang
    # boundary-straddle: within a pack, every doc but the last STARTS at
    # fill < capacity relative to the pack base — equivalent to the fold
    # match above, asserted directly for the documented phrasing
    for lang in packs:
        base_fill = 0
        for i, (lg, n) in enumerate(docs):
            if lg != lang:
                continue
            assert base_fill - got[i] * capacity < capacity
            base_fill += n


# --- winnowing guarantee -----------------------------------------------------


@given(
    shared=st.text(alphabet="abcd ", min_size=11, max_size=20),
    pad_a=st.text(alphabet="wxyz", max_size=30),
    pad_b=st.text(alphabet="wxyz", max_size=30),
    pos_a=st.integers(0, 30),
    pos_b=st.integers(0, 30),
)
@settings(max_examples=60, deadline=None)
def test_winnowing_guarantee_holds_at_arbitrary_positions(
    shared, pad_a, pad_b, pos_a, pos_b
):
    """Schleimer et al.'s guarantee, hypothesis-driven and Spark-free:
    any shared substring of length >= k + w - 1 (= 11) contributes at
    least one common selected fingerprint HASH, wherever it sits in
    either document.  The reference kernel is the one
    tests/test_winnowing.py pins to the operator on fixture docs, so
    this extends the operator's guarantee to arbitrary embeddings; the
    pad alphabet is disjoint from the shared alphabet so the guarantee's
    premise (the substring is genuinely shared) cannot be accidentally
    strengthened by pad collisions."""
    from tests.test_winnowing import _ref_fingerprints

    a = pad_a[: pos_a] + shared + pad_a[pos_a:]
    b = pad_b[: pos_b] + shared + pad_b[pos_b:]
    ha = {k // 2048 for k in _ref_fingerprints(a)}
    hb = {k // 2048 for k in _ref_fingerprints(b)}
    assert ha & hb, (a, b)


# --- connected components ----------------------------------------------------


@given(
    n=st.integers(1, 8),
    edges=st.lists(
        st.tuples(st.integers(0, 7), st.integers(0, 7)), max_size=12
    ),
)
@SET
def test_components_match_union_find_reference(spark, n, edges):
    """Both component kernels — the min-label sweep loop
    (_min_label_components) and the large-star/small-star alternation
    (_two_phase_components) it falls back to on deep graphs — must equal
    a direct union-find on arbitrary small graphs, including self-loops,
    parallel edges, isolated nodes and the empty edge set.  These label
    the flagship's near-dup collapse, so a wrong merge here corrupts the
    curated corpus silently."""
    from dataengineer_scripts_spark.operators.llm import (
        _min_label_components,
        _two_phase_components,
    )

    edges = [(a, b) for a, b in edges if a < n and b < n]
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    roots: dict[int, list] = {}
    for i in range(n):
        roots.setdefault(find(i), []).append(i)
    want = {i: min(members) for members in roots.values() for i in members}

    nodes_df = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs_df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {
        r.doc_id: r.cluster_id
        for r in _min_label_components(nodes_df, pairs_df).collect()
    }
    assert got == want, (n, edges)

    sym = pairs_df.selectExpr("doc_a as src", "doc_b as dst").unionAll(
        pairs_df.selectExpr("doc_b as src", "doc_a as dst")
    )
    got2 = {
        r.doc_id: r.cluster_id
        for r in _two_phase_components(nodes_df, sym).collect()
    }
    assert got2 == want, (n, edges)


# --- simhash signature kernel -------------------------------------------------


@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 3),
            st.integers(-(2**63), 2**63 - 1),
        ),
        min_size=1,
        max_size=30,
    ),
    bits=st.sampled_from([4, 16, 60, 64]),
)
@SET
def test_simhash_signature_matches_python_majority(spark, rows, bits):
    """_simhash_sig (the majority-vote kernel shared by the production
    xxhash64 simhash and its md5 oracle companion) must equal a direct
    Python bit-majority on arbitrary token-hash multisets — NEGATIVE
    64-bit hashes included (Spark's shiftright is arithmetic, Python's
    >> sign-extends: both extract two's-complement bit k for k <= 63),
    and at bits=64 where the assembled signature's bit 63 must wrap to
    a negative long exactly as Java shiftleft does."""
    from collections import defaultdict

    from dataengineer_scripts_spark.operators.llm import _simhash_sig

    df = spark.createDataFrame(rows, "doc_id long, h long")
    got = {r.doc_id: (r.sig, r.n) for r in _simhash_sig(df, bits).collect()}

    byd = defaultdict(list)
    for d, h in rows:
        byd[d].append(h)
    assert set(got) == set(byd)
    for d, hs in byd.items():
        sig = 0
        for k in range(bits):
            if 2 * sum((h >> k) & 1 for h in hs) > len(hs):
                sig |= 1 << k
        if sig >= 2**63:  # Java long wrap at the bit-63 sign position
            sig -= 2**64
        assert got[d] == (sig, len(hs)), (d, hs, bits)


@st.composite
def _xlsx_row_cells(draw):
    """A row as (value, explicit_col_or_None) cells: values mix numbers
    and inline strings; roughly half the cells carry an r= column
    reference (possibly OUT of ascending order — the r13 advice
    scenario), the rest rely on OOXML's next-after-previous placement."""
    n = draw(st.integers(min_value=1, max_value=8))
    vals = draw(
        st.lists(
            st.one_of(
                st.integers(-999, 999),
                st.text(alphabet="abcdxyz", min_size=1, max_size=5),
            ),
            min_size=n,
            max_size=n,
        )
    )
    refs = draw(
        st.lists(
            st.one_of(st.none(), st.integers(min_value=1, max_value=12)),
            min_size=n,
            max_size=n,
        )
    )
    return list(zip(vals, refs))


@given(row=_xlsx_row_cells())
@settings(max_examples=60, deadline=None)
def test_read_xlsx_placement_matches_ooxml_model(row, tmp_path_factory):
    """read_xlsx cell placement must follow the OOXML model for ARBITRARY
    interleavings of referenced and unreferenced cells: a cell with an
    r= reference lands at that column; a cell without one lands at the
    column AFTER THE PREVIOUS CELL (not max(seen)+1 — the two differ as
    soon as a writer emits referenced cells out of ascending order; r13
    advice item 3).  The r12 example regression covered one omitted-cell
    shape; this pins the full placement semantics against the model on
    randomized rows (duplicate references resolve last-write-wins in
    both)."""
    import zipfile
    from xml.sax.saxutils import escape

    from dataengineer_scripts_spark import xlsx as X

    # the OOXML placement model, stated independently of the parser
    cells: dict[int, object] = {}
    prev = 0
    for value, ref in row:
        col = ref if ref is not None else prev + 1
        prev = col
        cells[col] = value
    want = [cells.get(i) for i in range(1, max(cells) + 1)]

    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    body = []
    for value, ref in row:
        r_attr = f' r="{X.col_letter(ref)}1"' if ref is not None else ""
        if isinstance(value, str):
            body.append(
                f'<c{r_attr} t="inlineStr"><is><t>{escape(value)}</t></is></c>'
            )
        else:
            body.append(f"<c{r_attr}><v>{value}</v></c>")
    sheet = (
        f'<worksheet xmlns="{ns}"><sheetData>'
        f'<row r="1">{"".join(body)}</row>'
        "</sheetData></worksheet>"
    )
    p = str(tmp_path_factory.mktemp("xlsx_prop") / "cells.xlsx")
    with zipfile.ZipFile(p, "w") as zf:
        zf.writestr("[Content_Types].xml", X._CONTENT_TYPES)
        zf.writestr("_rels/.rels", X._ROOT_RELS)
        zf.writestr("xl/workbook.xml", X._WORKBOOK)
        zf.writestr("xl/_rels/workbook.xml.rels", X._WORKBOOK_RELS)
        zf.writestr("xl/styles.xml", X._styles_xml([]))
        zf.writestr("xl/worksheets/sheet1.xml", sheet)
    assert X.read_xlsx(p)["rows"][1] == want


@st.composite
def _digraphs(draw):
    """(n, edges) with every node guaranteed >=1 out-edge AND >=1
    in-edge and no self-loops: a cyclic shift plus random extra edges —
    the _pagerank_step contract (the production affinity graph is
    symmetric, hence dangling-free in both directions)."""
    n = draw(st.integers(min_value=2, max_value=8))
    edges = {(i, (i + 1) % n) for i in range(n)}
    extras = draw(
        st.sets(
            st.tuples(
                st.integers(0, n - 1), st.integers(0, n - 1)
            ).filter(lambda e: e[0] != e[1]),
            max_size=12,
        )
    )
    return n, sorted(edges | extras)


@given(graph=_digraphs(), weights=st.lists(st.integers(1, 9), min_size=8, max_size=8))
@SET
def test_pagerank_step_matches_reference_and_conserves_mass(
    spark, graph, weights
):
    """One _pagerank_step on an ARBITRARY dangling-free sparse digraph
    must (a) match the pure-Python damping/teleport formula
    round((1-d)/n + d*sum(r_src/out_src), 12) point-for-point and
    (b) conserve rank mass: sum(r') = (1-d) + d*sum(r) to within the
    per-node 1e-12 rounding — the invariant that makes the power
    iteration a stochastic-matrix fixpoint (r13 verdict item 5).  The
    existing iterative-refs tests pin the one production graph; this
    fuzzes the kernel over random topologies and non-uniform rank
    vectors."""
    from dataengineer_scripts_spark.operators.bi import (
        PAGERANK_DAMPING,
        _pagerank_step,
    )

    n, edges = graph
    w = weights[:n]
    tot = sum(w)
    r0 = {f"b{i}": round(w[i] / tot, 12) for i in range(n)}
    outdeg = {i: sum(1 for s, _ in edges if s == i) for i in range(n)}

    trans = spark.createDataFrame(
        [(f"b{s}", f"b{d}", outdeg[s]) for s, d in edges],
        "src string, dst string, d long",
    )
    r = spark.createDataFrame(list(r0.items()), "brand string, r double")

    got = {row.brand: row.r for row in _pagerank_step(trans, n, r).collect()}

    contrib = {f"b{i}": 0.0 for i in range(n)}
    for s, d in edges:
        contrib[f"b{d}"] += r0[f"b{s}"] / outdeg[s]
    want = {
        b: round((1.0 - PAGERANK_DAMPING) / n + PAGERANK_DAMPING * c, 12)
        for b, c in contrib.items()
    }
    assert set(got) == set(want)
    for b in want:
        assert abs(got[b] - want[b]) <= 2e-12, (b, got[b], want[b])
    mass_in = sum(r0.values())
    assert abs(
        sum(got.values()) - ((1.0 - PAGERANK_DAMPING) + PAGERANK_DAMPING * mass_in)
    ) <= n * 2e-12


@given(
    strings=st.lists(
        st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=126),
                min_size=0, max_size=24),
        min_size=1,
        max_size=6,
    ),
    data=st.data(),
)
@settings(max_examples=50, deadline=None)
def test_read_xlsx_shared_strings_rich_text_runs(strings, data, tmp_path_factory):
    """Shared-string resolution must survive ARBITRARY rich-text run
    splits: openpyxl splits a styled cell's text into <r><t>…</t></r>
    runs at style boundaries, and read_xlsx concatenates every
    descendant <t> — the property pins that any split of any string
    (including empty runs and empty strings) reads back as the original,
    with cells referencing shared indices in any repetition/order.  The
    r11-advice example test covers one split; this covers the space the
    snk_excel_values gate depends on under an openpyxl writer."""
    import zipfile
    from xml.sax.saxutils import escape

    from dataengineer_scripts_spark import xlsx as X

    def runs_of(s: str) -> list[str]:
        # draw a random split of s into 1..4 contiguous runs
        n_cuts = data.draw(st.integers(0, 3))
        cuts = sorted(
            data.draw(
                st.lists(st.integers(0, len(s)), min_size=n_cuts,
                         max_size=n_cuts)
            )
        )
        bounds = [0, *cuts, len(s)]
        return [s[a:b] for a, b in zip(bounds, bounds[1:])]

    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    si = []
    for s in strings:
        if data.draw(st.booleans()):  # plain <t> form
            si.append(f"<si><t>{escape(s)}</t></si>")
        else:  # rich-text runs
            si.append(
                "<si>"
                + "".join(f"<r><t>{escape(r)}</t></r>" for r in runs_of(s))
                + "</si>"
            )
    shared = f'<sst xmlns="{ns}">{"".join(si)}</sst>'

    # cells reference shared indices with repetition, in draw order
    refs = data.draw(
        st.lists(st.integers(0, len(strings) - 1), min_size=1, max_size=8)
    )
    cells = "".join(
        f'<c r="{X.col_letter(i + 1)}1" t="s"><v>{ix}</v></c>'
        for i, ix in enumerate(refs)
    )
    sheet = (
        f'<worksheet xmlns="{ns}"><sheetData>'
        f'<row r="1">{cells}</row></sheetData></worksheet>'
    )
    p = str(tmp_path_factory.mktemp("xlsx_sst") / "sst.xlsx")
    with zipfile.ZipFile(p, "w") as zf:
        zf.writestr("[Content_Types].xml", X._CONTENT_TYPES)
        zf.writestr("_rels/.rels", X._ROOT_RELS)
        zf.writestr("xl/workbook.xml", X._WORKBOOK)
        zf.writestr("xl/_rels/workbook.xml.rels", X._WORKBOOK_RELS)
        zf.writestr("xl/styles.xml", X._styles_xml([]))
        zf.writestr("xl/sharedStrings.xml", shared)
        zf.writestr("xl/worksheets/sheet1.xml", sheet)
    got = X.read_xlsx(p)["rows"][1]
    want = [strings[ix] for ix in refs]
    # a trailing empty shared string reads back as a valueless cell (None
    # vs ''): read_xlsx row width ends at the last non-absent cell value;
    # normalize both sides the way the snk_excel_values gate does
    norm = lambda xs: [x if x is not None else "" for x in xs]  # noqa: E731
    assert norm(got) == want


@given(
    n=st.integers(min_value=1, max_value=150),
    seed=st.integers(0, 2**31 - 1),
)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_zorder_stats_matches_oracle_on_random_tables(
    spark, sf_dir, n, seed, tmp_path_factory
):
    """x_etl_zorder_stats (single-window ntile) must reproduce its DuckDB
    oracle's granule stats on arbitrary random lineitem tables —
    including n < ZORDER_BUCKETS, where ntile leaves buckets empty and
    every row is its own granule (the fixtures never reach that edge)."""
    import os
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    from dataengineer_scripts_spark.operators.etl import (
        _ZORDER_ORACLE,
        x_etl_zorder_stats,
    )
    from dataengineer_scripts_spark.tables import TABLE_NAMES
    from tests.conftest import make_duck

    rng = random.Random(seed)
    # unique (l_orderkey, l_linenumber) keeps the ordering total, the
    # determinism contract both engines require; zval collisions are free
    rows = [
        (rng.randrange(1 << 16), rng.randrange(1 << 16), i // 7 + 1, i % 7 + 1)
        for i in range(n)
    ]
    d = tmp_path_factory.mktemp("zorder_prop")
    cols = ("l_partkey", "l_suppkey", "l_orderkey", "l_linenumber")
    pq.write_table(
        pa.table({c: pa.array([r[i] for r in rows], pa.int64())
                  for i, c in enumerate(cols)}),
        str(d / "lineitem.parquet"),
    )
    # make_duck views every fixture table; only lineitem is random
    for name in TABLE_NAMES:
        if name != "lineitem":
            os.symlink(os.path.abspath(f"{sf_dir}/{name}.parquet"),
                       d / f"{name}.parquet")

    got = sorted(map(tuple, x_etl_zorder_stats(spark, str(d)).collect()))
    con = make_duck(str(d))
    try:
        want = sorted(con.execute(_ZORDER_ORACLE).fetchall())
    finally:
        con.close()
    assert got == want


# --- streaming/runtime kernels (r14 verdict item 6) --------------------------


@st.composite
def _split_event_log(draw):
    """A tiny keyed event log plus a random TIME split into staging
    batches: events as (user_id, ts_offset_sec, event_id, event_type,
    value), sorted by (ts, event_id) so prefix cuts are time-range cuts —
    the same staging shape ``stream_events_split`` produces, with the cut
    POSITIONS randomized instead of fixed quartiles."""
    n = draw(st.integers(min_value=1, max_value=20))
    rows = [
        (
            draw(st.integers(1, 4)),
            draw(st.integers(0, 48 * 3600)),
            i,
            draw(st.sampled_from(["click", "view", "error"])),
            draw(st.integers(0, 999)) / 10.0,
        )
        for i in range(n)
    ]
    rows.sort(key=lambda t: (t[1], t[2]))
    cuts = sorted(draw(st.sets(st.integers(1, n - 1), max_size=3))) if n > 1 else []
    bounds = [0, *cuts, n]
    return [rows[a:b] for a, b in zip(bounds, bounds[1:])]


@given(batches=_split_event_log())
@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_upsert_materialize_is_batch_boundary_independent(
    spark, batches, tmp_path_factory
):
    """x_stream_upsert_materialize's core claim, fuzzed on the REAL
    streaming runtime: for ANY time-split of the staging dir, running the
    foreachBatch append-winners upsert one file per micro-batch and
    compacting must equal the single-batch per-key argmax over the whole
    log.  The registered op runs one fixed 4-way split; this drives the
    same upsert kernel over randomized cut positions (including the
    no-cut and every-row-alone-adjacent shapes hypothesis shrinks to),
    which is exactly the replay/merge independence a production CDC
    materialization relies on."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    schema = (
        "user_id bigint, ts timestamp, event_id bigint, "
        "event_type string, value double"
    )

    def to_df(rows):
        return spark.createDataFrame(
            [(u, base + dt.timedelta(seconds=s), e, t, v)
             for u, s, e, t, v in rows],
            schema,
        )

    root = tmp_path_factory.mktemp("upsert_prop")
    src, state_dir, ckpt = str(root / "staging"), str(root / "state"), str(root / "ckpt")
    for batch in batches:
        to_df(batch).coalesce(1).write.mode("append").parquet(src)

    latest = F.max(F.struct("ts", "event_id", "event_type", "value")).alias("w")
    out_cols = ["user_id", "w.ts", "w.event_id", "w.event_type", "w.value"]

    def upsert(b, batch_id):
        (
            b.groupBy("user_id").agg(latest).select(*out_cols)
            .write.mode("append").parquet(state_dir)
        )

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(upsert)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = sorted(map(tuple, (
        spark.read.parquet(state_dir)
        .groupBy("user_id").agg(latest).select(*out_cols).collect()
    )))
    want = sorted(map(tuple, (
        to_df([r for b in batches for r in b])
        .groupBy("user_id").agg(latest).select(*out_cols).collect()
    )))
    assert got == want


@given(page_size=st.integers(1, 11), data=st.data())
@SET
def test_rest_stream_offsets_are_restart_invariant(spark, sf_dir, page_size, data):
    """RestStreamReader's offset algebra under random restart points: the
    offset is an absolute row position, so (1) replaying ANY committed
    split 0 < o1 < ... < ok < total via readBetweenOffsets must
    concatenate to exactly the full listing — no duplicated or lost rows
    across restarts, the exactly-once contract the checkpoint relies on;
    (2) a fresh read() from any offset resumes with exactly the tail; and
    (3) offsets are PAGE-SIZE independent — a reader restarted with a
    different page_size must replay identical ranges (the checkpoint
    outlives reconfiguration)."""
    from dataengineer_scripts_spark.operators.etl import _server
    from dataengineer_scripts_spark.sources.rest import RestStreamReader, login

    api = _server(spark, sf_dir)
    token = login(api.base_url)

    def reader(ps):
        return RestStreamReader(
            {"base_url": api.base_url, "token": token, "page_size": str(ps)}
        )

    r1 = reader(page_size)
    it, end = r1.read(r1.initialOffset())
    full = list(it)
    total = int(end["row"])
    assert total == len(full) > 0

    # (1) random split replay: concatenation == full listing
    mids = sorted(data.draw(st.sets(st.integers(1, total - 1), max_size=5)))
    offsets = [0, *mids, total]
    replay = []
    for a, b in zip(offsets, offsets[1:]):
        replay.extend(r1.readBetweenOffsets({"row": a}, {"row": b}))
    assert replay == full

    # (2) resume from an arbitrary committed offset: exactly the tail
    o = data.draw(st.integers(0, total))
    it2, end2 = r1.read({"row": o})
    tail = list(it2)
    if o >= total:
        assert tail == [] and int(end2["row"]) == o
    else:
        assert int(end2["row"]) == total and tail == full[o:]

    # (3) page-size independence of the committed ranges
    other = data.draw(st.integers(1, 11).filter(lambda p: p != page_size))
    r2 = reader(other)
    for a, b in zip(offsets, offsets[1:]):
        assert list(r2.readBetweenOffsets({"row": a}, {"row": b})) == full[a:b]


@given(
    n_nodes=st.integers(0, 30),
    page_size=st.integers(1, 9),
    budget=st.integers(1, 5),
    appended=st.integers(0, 10),
)
@settings(max_examples=15, deadline=None)
def test_rest_stream_completes_under_any_token_expiry(
    n_nodes, page_size, budget, appended
):
    """Liveness under token expiry (r19): a fresh token's listing budget
    is ≥ 1 and each fetch performs at most one re-login before retrying
    THAT fetch with the fresh token, so the driver-side stream poll
    terminates and stays exactly-once for EVERY expiry budget ≥ 1 — no
    row lost to a 401, none replayed, across polls and appends."""
    from dataengineer_scripts_spark.sources.rest import (
        RestStreamReader,
        login,
    )
    from dataengineer_scripts_spark.sources.stub_api import StubApi

    def mk(n0, n1):
        return [
            {"id": i, "name": f"n{i}", "type": "job", "status": "S",
             "export_status": "S"}
            for i in range(n0, n1)
        ]

    with StubApi(mk(0, n_nodes), expire_token_after=budget) as api:
        reader = RestStreamReader(
            {
                "base_url": api.base_url,
                "token": login(api.base_url),
                "page_size": str(page_size),
            }
        )
        it, off = reader.read(reader.initialOffset())
        assert [r[0] for r in it] == list(range(n_nodes))
        assert int(off["row"]) == n_nodes
        # server grows between polls; the next poll sees exactly the delta
        api.nodes = mk(0, n_nodes + appended)
        it2, off2 = reader.read(off)
        assert [r[0] for r in it2] == list(range(n_nodes, n_nodes + appended))
        assert int(off2["row"]) == n_nodes + appended
        # recovery replay of the first committed range is equally immune
        assert [
            r[0] for r in reader.readBetweenOffsets({"row": 0}, off)
        ] == list(range(n_nodes))


@given(
    n_nodes=st.integers(1, 40),
    page_size=st.integers(1, 9),
    budget=st.integers(1, 8),
)
@settings(max_examples=15, deadline=None)
def test_rest_batch_token_expiry_is_all_or_error(n_nodes, page_size, budget):
    """Safety under token expiry (r19): the page walk that rest_read runs
    (token only, no credentials) either delivers EVERY row or raises
    TokenExpiredError — never a silent truncation that could be mistaken
    for a complete result."""
    from dataengineer_scripts_spark.sources.rest import (
        TokenExpiredError,
        _get_json,
        _walk_pages,
        login,
    )
    from dataengineer_scripts_spark.sources.stub_api import PROJECTS_PATH, StubApi

    nodes = [
        {"id": i, "name": f"n{i}", "type": "job", "status": "S",
         "export_status": "S"}
        for i in range(n_nodes)
    ]
    with StubApi(nodes, expire_token_after=budget) as api:
        token = login(api.base_url)
        try:
            rows = _walk_pages(
                lambda url: _get_json(url, token),
                api.base_url + PROJECTS_PATH,
                page_size,
            )
        except TokenExpiredError:
            return  # fail-fast leg: acceptable, and loud
        assert [r["id"] for r in rows] == list(range(n_nodes))


@st.composite
def _xlsx_sheet_rows(draw):
    """A sheet as 1-5 rows: each row carries an explicit r= row reference
    (possibly out of order or duplicate) or None (OOXML: previous row + 1),
    and 1-4 numeric cells whose column refs are likewise randomly present,
    out of order, or omitted."""
    n_rows = draw(st.integers(1, 5))
    out = []
    for _ in range(n_rows):
        row_ref = draw(st.one_of(st.none(), st.integers(1, 8)))
        n = draw(st.integers(1, 4))
        vals = draw(st.lists(st.integers(-99, 99), min_size=n, max_size=n))
        refs = draw(
            st.lists(st.one_of(st.none(), st.integers(1, 6)), min_size=n, max_size=n)
        )
        out.append((row_ref, list(zip(vals, refs))))
    return out


@given(sheet_rows=_xlsx_sheet_rows())
@settings(max_examples=60, deadline=None)
def test_read_xlsx_row_and_cell_placement_match_ooxml_model(
    sheet_rows, tmp_path_factory
):
    """The full two-level OOXML placement model, fuzzed together: ROW
    elements may omit their r= reference (landing at previous row + 1 —
    the same next-after-previous rule as cells) or emit references out of
    ascending order; CELLS within each row mix explicit, out-of-order and
    omitted column refs as in the single-row r14 property.  Duplicate
    row references resolve last-write-wins at the whole-row grain, like
    duplicate cell references do at the cell grain.  The model is stated
    independently of the parser; read_xlsx must reproduce it exactly."""
    import zipfile

    from dataengineer_scripts_spark import xlsx as X

    # A cell's r= encodes the ROW number too, so explicit cell refs are
    # only emitted inside rows that themselves carry r= (a writer that
    # leaves the row implicit has no row digit to put in the cell ref);
    # normalize the EFFECTIVE cell refs once and feed model and XML from
    # the same normalized spec so they describe the same document.
    norm = [
        (row_ref, [(v, ref if row_ref is not None else None) for v, ref in spec])
        for row_ref, spec in sheet_rows
    ]

    # independent statement of the placement model
    grid: dict[int, list] = {}
    prev_row = 0
    for row_ref, cell_spec in norm:
        r = row_ref if row_ref is not None else prev_row + 1
        prev_row = r
        cells: dict[int, object] = {}
        prev = 0
        for value, ref in cell_spec:
            col = ref if ref is not None else prev + 1
            prev = col
            cells[col] = value
        grid[r] = [cells.get(i) for i in range(1, max(cells) + 1)]

    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    body = []
    for row_ref, cell_spec in norm:
        cs = []
        for value, ref in cell_spec:
            if ref is not None:
                cs.append(f'<c r="{X.col_letter(ref)}{row_ref}"><v>{value}</v></c>')
            else:
                cs.append(f"<c><v>{value}</v></c>")
        r_attr = f' r="{row_ref}"' if row_ref is not None else ""
        body.append(f"<row{r_attr}>{''.join(cs)}</row>")
    sheet = (
        f'<worksheet xmlns="{ns}"><sheetData>{"".join(body)}</sheetData></worksheet>'
    )
    p = str(tmp_path_factory.mktemp("xlsx_rows") / "rows.xlsx")
    with zipfile.ZipFile(p, "w") as zf:
        zf.writestr("[Content_Types].xml", X._CONTENT_TYPES)
        zf.writestr("_rels/.rels", X._ROOT_RELS)
        zf.writestr("xl/workbook.xml", X._WORKBOOK)
        zf.writestr("xl/_rels/workbook.xml.rels", X._WORKBOOK_RELS)
        zf.writestr("xl/styles.xml", X._styles_xml([]))
        zf.writestr("xl/worksheets/sheet1.xml", sheet)
    assert X.read_xlsx(p)["rows"] == grid


# --- CDC compaction + resample/ffill vs Python references --------------------


#: 2024-02-01 00:00:00 UTC — fixed epoch base for synthesized events.
_EV_EPOCH = 1_706_745_600


def _write_events(spark, tmp_path_factory, tag, rows):
    """Stage (event_id, epoch_sec, user_id, event_type, value) rows as an
    events.parquet fixture dir for driving a REGISTERED op.  Timestamps
    are built INSIDE Spark from epoch seconds (``timestamp_seconds``), so
    the staged instants are OS-timezone-independent — naive-datetime
    ``createDataFrame`` would interpret wall times in the OS zone and
    shift every date-grain reference under a hostile TZ."""
    d = tmp_path_factory.mktemp(tag)
    (
        spark.createDataFrame(
            rows,
            "event_id long, tsec long, user_id long, event_type string, "
            "value double",
        )
        .select(
            "event_id",
            F.timestamp_seconds("tsec").alias("ts"),
            "user_id",
            "event_type",
            "value",
        )
        .write.mode("overwrite")
        .parquet(f"{d}/events.parquet")
    )
    return str(d)


@st.composite
def _cdc_log(draw):
    """A change log with FORCED collisions: few keys, a tiny timestamp
    pool (so last-writer-wins must fall through to the event_id
    tiebreak), unique event_ids."""
    n = draw(st.integers(min_value=1, max_value=25))
    return [
        (
            i,                                   # event_id (unique)
            draw(st.integers(0, 5)),             # ts slot (ties likely)
            draw(st.integers(1, 3)),             # user_id
            draw(st.sampled_from(["click", "view", "error"])),
            draw(st.integers(-99, 99)) / 4.0,
        )
        for i in range(n)
    ]


@given(log=_cdc_log())
@SET
def test_cdc_compact_matches_last_writer_wins_reference(
    spark, log, tmp_path_factory
):
    """x_etl_cdc_compact (the aggregate-form argmax, deliberately not a
    window) must pick exactly the last writer per (user_id, event_type)
    under the (ts, event_id) total order for ARBITRARY logs with
    timestamp ties — the tiebreak path the fixture's unique-ish
    timestamps rarely exercise.  Winners carry their FULL payload
    (event_id, ts, value) in the comparison: the unique event_id pins
    the tiebreak and no-drop/no-dup, and ts/value pin that the joined-
    back payload columns come from the winning row, not a join-side
    mixup."""
    from dataengineer_scripts_spark import registry

    d = _write_events(
        spark,
        tmp_path_factory,
        "cdc_prop",
        [
            (eid, _EV_EPOCH + slot * 3600, uid, typ, val)
            for eid, slot, uid, typ, val in log
        ],
    )
    out = registry.queries()["x_etl_cdc_compact"](spark, d)
    got = {
        (r.user_id, r.event_type): (r.event_id, r.tus, r.value)
        for r in out.withColumn("tus", F.unix_micros("ts")).collect()
    }

    want: dict[tuple, tuple] = {}
    best: dict[tuple, tuple] = {}
    for eid, slot, uid, typ, val in log:
        k = (uid, typ)
        if k not in best or (slot, eid) > best[k]:
            best[k] = (slot, eid)
            want[k] = (eid, (_EV_EPOCH + slot * 3600) * 1_000_000, val)
    assert got == want


@st.composite
def _sparse_events(draw):
    """Sparse per-user day streams: day offsets with GAPS (the ffill
    path), intra-day ties on the hour slot (the daily-close argmax
    path), unique event_ids.  Values are quarter-valued (k/4.0, exact
    in binary) ON PURPOSE: the reference compares Python round()
    (banker's) to the op's F.round (HALF_UP), which only agree when no
    6-decimal rounding tie can occur — keep the strategy tie-free if
    you widen it."""
    n = draw(st.integers(min_value=1, max_value=20))
    return [
        (
            i,
            draw(st.integers(0, 9)),             # day offset (gaps likely)
            draw(st.integers(0, 2)),             # hour slot (ties likely)
            draw(st.integers(1, 3)),             # user_id
            draw(st.integers(-99, 99)) / 4.0,
        )
        for i in range(n)
    ]


@given(events=_sparse_events())
@SET
def test_resample_ffill_matches_dense_grid_reference(
    spark, events, tmp_path_factory
):
    """x_etl_resample_ffill must equal the direct Python reference on
    arbitrary sparse streams: per user a DENSE daily grid from first to
    last active day (every gap day present with n_events=0), each day's
    close = the value of the day's last event by (ts, event_id), and
    gap days carrying the previous close forward.  Randomized gaps and
    intra-day ties exercise the sequence/explode grid and the argmax
    collapse harder than the fixture's dense event stream does."""
    import datetime as dt

    from dataengineer_scripts_spark import registry

    d = _write_events(
        spark,
        tmp_path_factory,
        "ffill_prop",
        [
            (eid, _EV_EPOCH + day * 86400 + hour * 3600, uid, "click", val)
            for eid, day, hour, uid, val in events
        ],
    )
    out = registry.queries()["x_etl_resample_ffill"](spark, d)
    got = sorted(
        (r.user_id, r.day, r.n_events, r.close_value)
        for r in out.select(
            "user_id",
            # the session is pinned UTC (apply_runtime_confs), so this
            # formats the UTC day of the instant — OS-zone-independent
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n_events",
            "close_value",
        ).collect()
    )

    def day_str(day: int) -> str:
        return dt.datetime.fromtimestamp(
            _EV_EPOCH + day * 86400, tz=dt.timezone.utc
        ).strftime("%Y-%m-%d")

    per_user: dict[int, dict[int, list]] = {}
    for eid, day, hour, uid, val in events:
        per_user.setdefault(uid, {}).setdefault(day, []).append(
            (hour, eid, val)
        )
    want = []
    for uid, days in per_user.items():
        close = None
        for day in range(min(days), max(days) + 1):
            evs = days.get(day, [])
            if evs:
                close = max(evs)[2]  # (hour, eid, val) — last writer's val
            want.append((uid, day_str(day), len(evs), round(close, 6)))
    assert got == sorted(want)


# --- tie-boundary fuzz: streaks, session gap, as-of tolerance -----------------
# (these reuse _write_events/_EV_EPOCH from the CDC section above)


@given(
    days=st.lists(
        st.tuples(st.integers(1, 3), st.integers(0, 15)),
        min_size=1,
        max_size=30,
    )
)
@SET
def test_streaks_match_python_islands_reference(spark, days, tmp_path_factory):
    """x_win_streaks (the day − row_number islands trick) must equal a
    direct Python run-length computation on arbitrary (user, day)
    activity sets — duplicate same-day events collapse first, adjacent
    days merge, gaps split, and singleton days are streaks of 1."""
    from dataengineer_scripts_spark import registry

    rows = [
        (i, _EV_EPOCH + day * 86400 + (i % 3) * 3600, uid, "view", 1.0)
        for i, (uid, day) in enumerate(days)
    ]
    d = _write_events(spark, tmp_path_factory, "streaks_prop", rows)
    got = {
        r.user_id: (r.n_active_days, r.n_streaks, r.longest_streak)
        for r in registry.queries()["x_win_streaks"](spark, d).collect()
    }

    want = {}
    per_user: dict[int, set] = {}
    for uid, day in days:
        per_user.setdefault(uid, set()).add(day)
    for uid, ds in per_user.items():
        sd = sorted(ds)
        runs = []
        run = 1
        for a, b in zip(sd, sd[1:]):
            if b == a + 1:
                run += 1
            else:
                runs.append(run)
                run = 1
        runs.append(run)
        want[uid] = (len(sd), len(runs), max(runs))
    assert got == want


@given(
    gaps=st.lists(
        st.sampled_from([0, 1, 1799, 1800, 1801, 4000]),
        min_size=1,
        max_size=15,
    ),
)
@SET
def test_sessionize_gap_boundary_matches_reference(
    spark, gaps, tmp_path_factory
):
    """x_win_sessionize's session cut is STRICTLY greater than the
    30-minute gap (a gap of exactly SESSION_GAP_US keeps the session) —
    the boundary the fixture's organic gaps almost never land on.  Gaps
    are drawn from around the boundary (1799/1800/1801 s) plus 0 s ties
    (broken by event_id), and the op must equal a direct Python replay
    of the rule on every (session bounds, size, duration)."""
    from dataengineer_scripts_spark import registry

    qs = registry.queries()  # loads operator modules in canonical order
    from dataengineer_scripts_spark.operators.relational import SESSION_GAP_US

    uid = 1  # single-user stream: the cut rule is per-user by definition
    offs = [0]
    for g in gaps:
        offs.append(offs[-1] + g)
    rows = [
        (i, _EV_EPOCH + off, uid, "view", 1.0)
        for i, off in enumerate(offs)
    ]
    d = _write_events(spark, tmp_path_factory, "sess_prop", rows)
    out = qs["x_win_sessionize"](spark, d)
    got = sorted(
        (r.session_seq, r.s0, r.s1, r.n_events, r.duration_us)
        for r in out.select(
            "session_seq",
            F.unix_micros("session_start").alias("s0"),
            F.unix_micros("session_end").alias("s1"),
            "n_events",
            "duration_us",
        ).collect()
    )

    # timestamps were built from epoch seconds inside Spark, so the
    # reference clock is plain epoch arithmetic — OS-zone-independent
    base_us = _EV_EPOCH * 1_000_000
    sessions = [[offs[0]]]
    for prev, cur in zip(offs, offs[1:]):
        # ties (gap 0) stay in-session; the cut is gap > SESSION_GAP_US
        if (cur - prev) * 1_000_000 > SESSION_GAP_US:
            sessions.append([cur])
        else:
            sessions[-1].append(cur)
    want = sorted(
        (
            seq + 1,
            base_us + s[0] * 1_000_000,
            base_us + s[-1] * 1_000_000,
            len(s),
            (s[-1] - s[0]) * 1_000_000,
        )
        for seq, s in enumerate(sessions)
    )
    assert got == want


@given(
    events=st.lists(
        st.tuples(
            st.integers(0, 48),                      # hour offset
            st.sampled_from(["purchase", "error"]),
        ),
        min_size=1,
        max_size=20,
    )
)
@SET
def test_asof_tolerance_boundary_matches_reference(
    spark, events, tmp_path_factory
):
    """x_join_asof_tolerance must keep a match at EXACTLY the 24 h
    tolerance (>= comparison), match coincident purchase+error pairs
    (purchases sort before errors at the same ts), and drop errors whose
    latest purchase is older than the tolerance or absent — verified
    against the quadratic Python reference on hour-grain streams that
    land on the boundary by construction."""
    from dataengineer_scripts_spark import registry

    qs = registry.queries()  # loads operator modules in canonical order
    from dataengineer_scripts_spark.operators.relational import (
        ASOF_TOLERANCE_SEC,
    )

    rows = [
        (i, _EV_EPOCH + h * 3600, 1, typ, 1.0)
        for i, (h, typ) in enumerate(events)
    ]
    d = _write_events(spark, tmp_path_factory, "asof_tol_prop", rows)
    out = qs["x_join_asof_tolerance"](spark, d)
    got = {r.event_id: r.gap_sec for r in out.collect()}

    want = {}
    for i, (h, typ) in enumerate(events):
        if typ != "error":
            continue
        cands = [h2 for h2, t2 in events if t2 == "purchase" and h2 <= h]
        if not cands:
            continue
        gap = (h - max(cands)) * 3600
        if gap <= ASOF_TOLERANCE_SEC:
            want[i] = gap
    assert got == want
