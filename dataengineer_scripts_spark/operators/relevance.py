"""Text-relevance ranking operators (TF-IDF, BM25, per-language
character profiles) over the ``documents`` corpus.

These are the search/retrieval layer a training-data pipeline needs
next to its dedup/quality layer: TF-IDF surfaces each document's most
characteristic terms (keyword extraction / topic tagging), BM25 ranks
documents against a query term set (retrieval for decontamination
audits and eval-set mining), and the per-language character-trigram
profile is the classic language-ID model build (the trained twin of
``x_llm_lang_id``'s heuristic scorer).

Design notes:
- Everything reduces to token/char explodes feeding hash aggregates on
  (doc, term)-grained keys — map-side partials absorb the within-doc
  repetition before any shuffle, and every join key is a term/doc id,
  never text.
- Corpus-level statistics (N, avgdl, per-term df) are aggregate-sized:
  N/avgdl ride a single-row broadcast; df joins on the term key.
- Float discipline: scores are ELEMENTWISE double expressions of
  exactly-aggregated integers wherever possible (ln of a count ratio,
  products of counts); the one float SUM (BM25's per-doc term sum)
  accumulates DECIMAL so partition order cannot move the rounded
  result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import register
from ..tables import rebalanced, table

#: TF-IDF report depth and BM25 shape parameters (the standard Okapi
#: constants).
TFIDF_TOP_K = 5
BM25_K1 = 1.2
BM25_B = 0.75
#: Fixed query-term set for the registered BM25 ranking (high-df corpus
#: terms so every sf produces a dense, non-degenerate ranking).
BM25_QUERY = ("hash", "join", "vector")
#: Parallelism of the two-level Zipf vocabulary rank (sort tasks).
ZIPF_RANK_PARTS = 8


@register(
    "x_llm_tfidf_topk",
    oracle=f"""
    WITH tf AS (
        SELECT doc_id, w AS term, count(*) AS tf
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
              FROM documents)
        GROUP BY doc_id, w
    ),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    n AS (SELECT count(*) AS n FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term, tf.tf, df.df,
               round(tf.tf * ln((n.n + 1.0) / (df.df + 1.0)), 6) AS tfidf
        FROM tf, df, n WHERE tf.term = df.term
    )
    SELECT doc_id, term, tf::BIGINT AS tf, df::BIGINT AS df, tfidf,
           rnk::BIGINT AS rnk
    FROM (SELECT *, row_number() OVER (
              PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rnk
          FROM scored)
    WHERE rnk <= {TFIDF_TOP_K}
    """,
)
def x_llm_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per document — keyword extraction:
    ``tf × ln((N+1)/(df+1))`` with raw term frequency and smoothed IDF.

    Determinism: tf, df and N are exact integer aggregates; the score is
    ONE elementwise double expression of them (no float accumulation
    anywhere), so both engines compute bit-identical scores, and the
    top-k rank orders by the ROUNDED score with the term string as
    tiebreak.

    Plan: one token explode → (doc, term) hash aggregate (map-side
    partials eat within-doc repeats); df is a second aggregate of the
    FIRST's output (term-distinct rows, no re-explode); N rides a
    single-row broadcast; the per-doc top-k is a rank window partitioned
    by doc_id — the same shuffle key the tf aggregate just used."""
    tf = (
        rebalanced(table(spark, sf_dir, "documents"))
        .select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    df_t = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = table(spark, sf_dir, "documents").agg(F.count("*").alias("n"))
    scored = (
        tf.join(df_t, "term")
        .join(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf") * F.log((F.col("n") + 1.0) / (F.col("df") + 1.0)), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= TFIDF_TOP_K)
        .select("doc_id", "term", "tf", "df", "tfidf", "rnk")
    )


@register(
    "x_llm_bm25_rank",
    oracle=f"""
    WITH dl AS (
        SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents
    ),
    stats AS (
        SELECT count(*) AS n, sum(dl)::DOUBLE / count(*) AS avgdl FROM dl
    ),
    tf AS (
        SELECT doc_id, w AS term, count(*) AS tf
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
              FROM documents)
        WHERE w IN {BM25_QUERY!r}
        GROUP BY doc_id, w
    ),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    parts AS (
        SELECT tf.doc_id,
               ln(1.0 + (stats.n - df.df + 0.5) / (df.df + 0.5))
               * tf.tf * ({BM25_K1} + 1.0)
               / (tf.tf + {BM25_K1} * (1.0 - {BM25_B}
                                       + {BM25_B} * dl.dl / stats.avgdl))
                   AS s
        FROM tf, df, dl, stats
        WHERE tf.term = df.term AND tf.doc_id = dl.doc_id
    )
    SELECT doc_id, round(sum(s::DECIMAL(30,12)), 6)::DOUBLE AS bm25,
           count(*) AS n_terms
    FROM parts GROUP BY doc_id
    """,
)
def x_llm_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 score of every document against a fixed query term set
    — the retrieval scorer behind decontamination audits and eval-set
    mining (rank the corpus for a benchmark query, inspect the head).

    Determinism: tf/df/N/dl are exact integer aggregates and avgdl is
    one exact-int division, so each term's partial score is elementwise
    double math; the only float SUM (over a document's matched query
    terms) accumulates DECIMAL(30,12), making the rounded total
    partition-order independent.

    Plan: the term filter applies AT THE EXPLODE (only query-term rows
    survive into the aggregate, so the (doc, term) frame is
    |query|-bounded per doc, not vocabulary-sized); df and the N/avgdl
    scalars are broadcast; doc length joins on doc_id, the same key the
    final per-doc sum groups on."""
    docs = rebalanced(table(spark, sf_dir, "documents"))
    dl = docs.select(
        "doc_id", F.size(F.split("text", " ")).alias("dl")
    )
    stats = dl.agg(
        F.count("*").alias("n"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    tf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .filter(F.col("term").isin(*BM25_QUERY))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    df_t = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf = F.log(
        1.0 + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    norm = F.col("tf") + BM25_K1 * (
        1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl")
    )
    s = idf * F.col("tf") * (BM25_K1 + 1.0) / norm
    return (
        tf.join(F.broadcast(df_t), "term")
        .join(dl, "doc_id")
        .join(F.broadcast(stats))
        .select("doc_id", s.cast("decimal(30,12)").alias("s"))
        .groupBy("doc_id")
        .agg(
            F.round(F.sum("s"), 6).cast("double").alias("bm25"),
            F.count("*").alias("n_terms"),
        )
    )


def _zipf_numbered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-barrier stage of the two-level Zipf rank: the vocabulary
    aggregate, range-partitioned on the rank key with per-partition
    ``row_number`` — the ``x_etl_global_row_number`` shape.  Factored
    out so the plan test can assert on the PRE-checkpoint plan (the
    operator checkpoints it, which hides the range shuffle from the
    final plan text)."""
    # Materialize the vocab aggregate BEFORE the range shuffle:
    # repartitionByRange SAMPLES its child to place boundaries, so an
    # unmaterialized child would run the corpus explode+aggregate twice
    # (measured ~2x the op's cost); checkpointed, both the sampling and
    # the shuffle read the vocab-grain frame.
    v = (
        rebalanced(table(spark, sf_dir, "documents"))
        .select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
        .localCheckpoint()
    )
    parts = v.repartitionByRange(
        ZIPF_RANK_PARTS, F.col("c").desc(), "w"
    ).withColumn("pid", F.spark_partition_id())
    local_rn = F.row_number().over(
        Window.partitionBy("pid").orderBy(F.col("c").desc(), "w")
    )
    return parts.withColumn("local_rn", local_rn)


@register(
    "x_llm_zipf_fit",
    oracle="""
    WITH v AS (
        SELECT w, count(*) AS c
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        GROUP BY w
    ),
    r AS (
        SELECT ln(row_number() OVER (ORDER BY c DESC, w)) AS lx,
               ln(c) AS ly
        FROM v
    ),
    s AS (
        SELECT count(*) AS n,
               sum(lx::DECIMAL(30,12))::DOUBLE AS sx,
               sum(ly::DECIMAL(30,12))::DOUBLE AS sy,
               sum((lx * ly)::DECIMAL(30,12))::DOUBLE AS sxy,
               sum((lx * lx)::DECIMAL(30,12))::DOUBLE AS sxx,
               sum((ly * ly)::DECIMAL(30,12))::DOUBLE AS syy
        FROM r
    )
    SELECT n AS n_terms,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
           round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n,
                 6) AS intercept,
           round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
    FROM s
    """,
)
def x_llm_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus vocabulary: OLS of log-frequency on
    log-rank — the one-number sanity check of a text corpus (natural
    language sits near slope −1; synthetic or heavily deduplicated text
    drifts).  Composes the vocabulary count with the
    sufficient-statistics regression of ``x_agg_regression_stats``.

    Ranks are deterministic (count desc, term tiebreak), the log terms
    are elementwise doubles of exact counts, and all six moments
    accumulate DECIMAL — both engines produce the same single row.

    Plan: one token explode → vocabulary hash aggregate; the rank is
    TWO-LEVEL (the ``x_etl_global_row_number`` shape): the vocab
    frame is ``repartitionByRange`` on the rank key ``(c desc, w)``,
    ranks are per-partition ``row_number``, and per-partition counts
    broadcast back as offsets — global rank = offset + local rank,
    bit-identical to a single global window (rank recovery is
    boundary-placement-independent) but the sort runs as
    ZIPF_RANK_PARTS parallel tasks instead of funneling the whole
    vocabulary through one partition.  The localCheckpoint is
    the usual consistency barrier: counts/offsets/join must read ONE
    pid assignment since range-boundary sampling differs per execution.
    The moments then collapse to one row.

    Measured (r11 scale stress, BASELINE.md round-11 addendum): 1.4x
    wall at 30x corpus — the two-level shape's fixed cost dominates and
    the per-row work stays fully parallel."""
    numbered = _zipf_numbered(spark, sf_dir).localCheckpoint()
    offsets = (
        numbered.groupBy("pid")
        .agg(F.count("*").alias("cnt"))
        .select(
            "pid",
            F.coalesce(
                F.sum("cnt").over(
                    Window.orderBy("pid").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ).alias("offset"),
        )
    )
    r = numbered.join(F.broadcast(offsets), "pid").select(
        F.log((F.col("offset") + F.col("local_rn")).cast("double")).alias("lx"),
        F.log(F.col("c").cast("double")).alias("ly"),
    )
    lx, ly = F.col("lx"), F.col("ly")
    s = r.agg(
        F.count("*").alias("n"),
        F.sum(lx.cast("decimal(30,12)")).cast("double").alias("sx"),
        F.sum(ly.cast("decimal(30,12)")).cast("double").alias("sy"),
        F.sum((lx * ly).cast("decimal(30,12)")).cast("double").alias("sxy"),
        F.sum((lx * lx).cast("decimal(30,12)")).cast("double").alias("sxx"),
        F.sum((ly * ly).cast("decimal(30,12)")).cast("double").alias("syy"),
    )
    n = F.col("n")
    sx, sy = F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    # try_divide: a SINGLE-term vocabulary (e.g. an all-empty-text corpus,
    # whose only "word" is the empty string) has exactly-zero rank
    # variance — n*sxx - sx² is bit-exactly 0 in both engines (one
    # element: 1·lx² − lx·lx), so DuckDB's double/0 → NULL is mirrored by
    # try_divide where ANSI Spark would throw (adversarial probe, r17)
    slope = F.try_divide(n * sxy - sx * sy, n * sxx - sx * sx)
    return s.select(
        n.alias("n_terms"),
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
        F.round(
            F.try_divide(
                (n * sxy - sx * sy) * (n * sxy - sx * sy),
                (n * sxx - sx * sx) * (n * syy - sy * sy),
            ),
            6,
        ).alias("r2"),
    )


#: Character-profile depth: top trigrams kept per language.
TRIGRAM_TOP_K = 10


@register(
    "x_llm_char_trigram_profile",
    oracle=f"""
    WITH t AS (
        SELECT lang, substr(text, i, 3) AS tri
        FROM documents,
             unnest(generate_series(1, len(text) - 2)) AS r(i)
        WHERE len(text) >= 3
    ),
    c AS (SELECT lang, tri, count(*) AS cnt FROM t GROUP BY lang, tri)
    SELECT lang, tri, cnt, rnk::BIGINT AS rnk
    FROM (SELECT *, row_number() OVER (
              PARTITION BY lang ORDER BY cnt DESC, tri) AS rnk
          FROM c)
    WHERE rnk <= {TRIGRAM_TOP_K}
    """,
)
def x_llm_char_trigram_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language top-10 character trigrams — the model
    build for n-gram language identification (each language's trigram
    frequency head IS its classifier profile; ``x_llm_lang_id`` is the
    scoring side).

    Plan: a position explode (|text| rows per doc) feeding one
    (lang, trigram) hash aggregate — counts are exact integers, so the
    rank window (cnt desc, trigram tiebreak) is fully deterministic.
    The explode is the dominant cost and is embarrassingly parallel;
    the aggregate's key space is languages × distinct trigrams, tiny
    relative to the input, so map-side partials collapse nearly all of
    the fan-out before the shuffle."""
    d = rebalanced(table(spark, sf_dir, "documents")).filter(
        F.length("text") >= 3
    )
    tri = d.select(
        "lang",
        F.explode(F.sequence(F.lit(1), F.length("text") - 2)).alias("i"),
        "text",
    ).select("lang", F.expr("substring(text, i, 3)").alias("tri"))
    counts = tri.groupBy("lang", "tri").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("lang").orderBy(F.col("cnt").desc(), "tri")
    return (
        counts.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= TRIGRAM_TOP_K)
        .select("lang", "tri", "cnt", "rnk")
    )
