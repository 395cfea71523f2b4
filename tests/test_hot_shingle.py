"""Skewed corpora for the n-gram pair operators: one boilerplate shingle
in almost every document, and a template copied across most of the
corpus.  ``x_llm_dedup_ngram_jaccard`` and ``x_llm_dedup_containment``
must equal their DuckDB oracles (the exact all-pairs answer) on both, so
a shingle shared by many documents can neither drop a true pair nor
distort a reported value."""

from __future__ import annotations

import duckdb

from dataengineer_scripts_spark import registry
from dataengineer_scripts_spark.operators.llm import (
    x_llm_dedup_containment,
    x_llm_dedup_ngram_jaccard,
)

from .oracle_utils import assert_matches_oracle

DEFS = registry.definitions()

#: 152 docs share the boilerplate trigram "hot1 hot2 hot3"; docs 1/2 are
#: exact dups that also share rare shingles.
BOILERPLATE = [
    (1, "r1 r2 r3 r4 hot1 hot2 hot3"),
    (2, "r1 r2 r3 r4 hot1 hot2 hot3"),
] + [(i, f"u{i}a u{i}b hot1 hot2 hot3") for i in range(10, 160)]

#: 120 literal copies of a template whose every shingle they share, plus
#: one doc that is only half template.
TEMPLATE = [(i, "hot1 hot2 hot3 hot4 hot5") for i in range(120)] + [
    (500, "c1 c2 c3 c4 hot1 hot2 hot3")
]


def _assert_oracles(spark, tmp_path, docs):
    """Write ``docs`` as the documents table and check both operators
    against their oracles over it; return the fixture dir."""
    path = tmp_path / "documents.parquet"
    spark.createDataFrame(
        [(i, t, "en", "src0", len(t)) for i, t in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(path))
    with duckdb.connect() as con:
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}/*.parquet')"
        )
        for name in ("x_llm_dedup_ngram_jaccard", "x_llm_dedup_containment"):
            d = DEFS[name]
            assert_matches_oracle(d.fn(spark, str(tmp_path)), con, d.oracle, name)
    return str(tmp_path)


def test_boilerplate_corpus_matches_oracle(spark, tmp_path):
    sf = _assert_oracles(spark, tmp_path, BOILERPLATE)

    out = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in x_llm_dedup_ngram_jaccard(spark, sf).collect()
    }
    # J counts ALL shingles: docs 1/2 are identical → J = 1.0 (counting
    # only the rare ones would report 4/(5+5-4) < 1); boilerplate-only
    # pairs such as (10, 11) have J = 1/5 and stay out.
    assert out == {(1, 2): 1.0}
    cont = {
        (r.doc_inner, r.doc_outer): r.containment
        for r in x_llm_dedup_containment(spark, sf).collect()
    }
    assert cont == {(1, 2): 1.0, (2, 1): 1.0}


def test_template_corpus_matches_oracle(spark, tmp_path):
    sf = _assert_oracles(spark, tmp_path, TEMPLATE)

    # every pair of template copies shares its whole shingle set...
    out = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in x_llm_dedup_ngram_jaccard(spark, sf).collect()
    }
    template_pairs = {(a, b) for (a, b) in out if a != 500 and b != 500}
    assert len(template_pairs) == 120 * 119 // 2
    assert all(out[p] == 1.0 for p in template_pairs)
    # ...while the half-template doc has J = 1/7 with each copy
    assert not any(a == 500 or b == 500 for (a, b) in out)
