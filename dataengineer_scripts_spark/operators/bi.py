"""Business-intelligence analytic shapes over the star schema and the
events stream: distribution diagnostics (entropy, Gini), trend analysis
(period-over-period), association mining (market basket), and cohort
revenue.

Design notes:
- Each operator reduces to exact integer/decimal aggregates plus
  elementwise double math (the repo-wide float contract): entropies,
  Gini coefficients, growth rates and lifts are closed-form expressions
  of exactly-accumulated sums, so results are partition-order
  independent and every operator here is oracle-checked.
- The only quadratic-looking step (basket pair generation) is quadratic
  per ORDER (bounded by basket size, ~7 lines), never per table — the
  self-join key is the order key, so it scales linearly in orders.
- Rank windows carry unique tiebreaks; tie-invariant formulas (Gini's
  rank weights within equal values) are noted where ties cannot change
  the result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import register
from ..session_cache import session_shared as _session_shared
from ..tables import local_frame, table


@register(
    "x_agg_entropy",
    oracle="""
    WITH c AS (
        SELECT user_id, event_type, count(*) AS c
        FROM events GROUP BY user_id, event_type
    ),
    t AS (SELECT user_id, sum(c)::BIGINT AS n FROM c GROUP BY user_id)
    SELECT c.user_id, min(t.n)::BIGINT AS n_events,
           count(*) AS n_types,
           round(sum((-(c.c::DOUBLE / t.n) * ln(c.c::DOUBLE / t.n))
                     ::DECIMAL(30,12)), 6)::DOUBLE AS entropy
    FROM c JOIN t ON c.user_id = t.user_id
    GROUP BY c.user_id
    """,
)
def x_agg_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each user's event-type distribution — the
    behavioral-diversity diagnostic (0 = monomaniac bot, ln(5) = uses
    every feature equally); the same shape scores label balance in a
    training corpus or source diversity in a mixture.

    Counts are exact; each ``-p·ln p`` term is elementwise double math
    of two exact integers, and the per-user sum (≤ |event types| terms)
    accumulates DECIMAL — bit-identical across engines and partitions.

    Plan: two hash aggregates keyed on user_id (the per-type counts,
    then the totals rejoined on the same key) and a final user-keyed
    sum — one logical shuffle key throughout, so AQE reuses the
    exchange."""
    c = (
        table(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count("*").alias("c"))
    )
    t = c.groupBy("user_id").agg(F.sum("c").alias("n"))
    p = F.col("c").cast("double") / F.col("n")
    return (
        c.join(t, "user_id")
        .groupBy("user_id")
        .agg(
            F.min("n").alias("n_events"),
            F.count("*").alias("n_types"),
            F.round(F.sum((-p * F.log(p)).cast("decimal(30,12)")), 6)
            .cast("double")
            .alias("entropy"),
        )
    )


@register(
    "x_agg_gini",
    oracle="""
    WITH r AS (
        SELECT c_mktsegment AS segment, o_totalprice AS x,
               row_number() OVER (PARTITION BY c_mktsegment
                                  ORDER BY o_totalprice, o_orderkey) AS i,
               count(*) OVER (PARTITION BY c_mktsegment) AS n
        FROM orders JOIN customer ON o_custkey = c_custkey
    )
    SELECT segment, min(n)::BIGINT AS n_orders,
           round(sum(((2.0 * i - n - 1) * x)::DECIMAL(38,8))::DOUBLE
                 / (min(n) * sum(x::DECIMAL(30,10))::DOUBLE), 6) AS gini
    FROM r GROUP BY segment
    """,
)
def x_agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of order-value concentration per market segment
    — the inequality diagnostic behind "does 20% of the customer base
    drive 80% of revenue?", identically the token-share concentration
    check for a training-source mixture.

    Uses the rank formulation ``Σ(2i−n−1)·xᵢ / (n·Σxᵢ)`` over values
    sorted ascending.  The orderkey tiebreak makes ranks deterministic;
    within a tie group the formula is permutation-invariant (equal x
    share the same coefficient SUM however ranks distribute), so ties
    cannot move the result.  Numerator terms are elementwise; both sums
    accumulate DECIMAL.

    Plan: one segment-keyed sort window assigns ranks, then a hash
    aggregate on the SAME key — one exchange, reused."""
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    r = (
        table(spark, sf_dir, "orders")
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.col("o_totalprice").alias("x"),
            "o_orderkey",
        )
    )
    w = Window.partitionBy("segment").orderBy("x", "o_orderkey")
    wn = Window.partitionBy("segment")
    ranked = r.select(
        "segment",
        "x",
        F.row_number().over(w).alias("i"),
        F.count("*").over(wn).alias("n"),
    )
    num_term = (2.0 * F.col("i") - F.col("n") - 1) * F.col("x")
    return (
        ranked.groupBy("segment")
        .agg(
            F.min("n").alias("n_orders"),
            (
                F.sum(num_term.cast("decimal(38,8)")).cast("double")
                / (
                    F.min("n")
                    * F.sum(F.col("x").cast("decimal(30,10)")).cast("double")
                )
            ).alias("g"),
        )
        .select("segment", "n_orders", F.round("g", 6).alias("gini"))
    )


@register(
    "x_win_period_over_period",
    oracle="""
    WITH m AS (
        SELECT date_trunc('month', o_orderdate)::DATE AS month,
               sum(o_totalprice::DECIMAL(30,10)) AS rev,
               count(*) AS n_orders
        FROM orders GROUP BY month
    )
    SELECT month, round(rev, 2)::DOUBLE AS revenue, n_orders,
           round(100.0 * (rev::DOUBLE - lag(rev::DOUBLE) OVER w)
                 / lag(rev::DOUBLE) OVER w, 4) AS pct_change
    FROM m WINDOW w AS (ORDER BY month)
    """,
)
def x_win_period_over_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth — the canonical trend report:
    monthly totals plus the percentage change from the prior month
    (NULL for the first month).

    The monthly totals are decimal-exact, so the lag ratio is double
    math over two identical-in-both-engines numbers.  Months are the
    window's total order — no tiebreak needed.

    Plan: one hash aggregate to month grain (map-side partials collapse
    the fact table to ~dozens of rows), then a single-partition lag
    window over the TINY aggregate — the global window is safe
    precisely because it runs above month-grain data, never the fact.
    Measured (r12 stress): 1.2x wall at 10x orders, output constant at
    the month grain — `scale_stress_r12_windows.json @ 489b79a`."""
    m = (
        table(spark, sf_dir, "orders")
        .groupBy(F.date_trunc("month", "o_orderdate").cast("date").alias("month"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(30,10)")).alias("rev"),
            F.count("*").alias("n_orders"),
        )
    )
    w = Window.orderBy("month")
    rev_d = F.col("rev").cast("double")
    prev = F.lag(rev_d).over(w)
    return m.select(
        "month",
        F.round("rev", 2).cast("double").alias("revenue"),
        "n_orders",
        F.round(100.0 * (rev_d - prev) / prev, 4).alias("pct_change"),
    )


#: Minimum co-occurrence count for a reported brand pair.
BASKET_MIN_SUPPORT = 5


def _basket_ob_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-checkpoint lineage of :func:`_basket_ob` — exposed separately
    (the ``_exact_text_buckets`` convention) so the plan guard in
    ``tests/test_analytics_plans.py`` can assert the DISTINCT collapses
    multiplicity BEFORE the pair self-join on the real lineage, which the
    session-shared checkpoint hides from consumer plans."""
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .select("l_orderkey", "p_brand")
        .distinct()
    )


def _basket_ob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT ``(l_orderkey, p_brand)`` basket frame, session-shared:
    the market-basket rules, both PageRank variants and the recursive-CTE
    walk all start from exactly this frame (their oracles each inline the
    identical ``ob`` CTE).  One bench/driver session used to run the
    lineitem⋈part + distinct three times over; sharing the materialized
    frame makes it once-per-session — the same discipline as the corpus
    shingle frame in ``operators/llm.py``."""
    return _session_shared(
        spark, sf_dir, "basket_ob", lambda: _basket_ob_build(spark, sf_dir)
    )


def _brand_pair_counts_build(
    spark: SparkSession, sf_dir: str, ob: DataFrame
) -> DataFrame:
    """Pre-checkpoint lineage of :func:`_brand_pair_counts` over a
    caller-supplied basket frame (plan-guard hook, same convention as
    :func:`_basket_ob_build`)."""
    a = ob.select("l_orderkey", F.col("p_brand").alias("brand_a"))
    b = ob.select("l_orderkey", F.col("p_brand").alias("brand_b"))
    return (
        a.join(b, "l_orderkey")
        .filter(F.col("brand_a") < F.col("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(F.count("*").alias("c_ab"))
    )


def _brand_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangular brand co-occurrence counts ``(brand_a < brand_b, c_ab)``
    over the shared basket frame, session-shared and UNFILTERED: the
    market-basket rules filter it at BASKET_MIN_SUPPORT, the affinity
    digraph symmetrizes it (an ordered pair's count equals its unordered
    pair's count, so the triangular form carries the full information at
    half the aggregate size).  The order-keyed self-join — the family's
    one data-sized shuffle — runs once per session instead of once per
    consumer."""
    return _session_shared(
        spark,
        sf_dir,
        "brand_pair_counts",
        lambda: _brand_pair_counts_build(spark, sf_dir, _basket_ob(spark, sf_dir)),
    )


def _brand_e0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The top-2 rank-cut brand-affinity digraph ``e0 (src, dst)``,
    session-shared: PageRank symmetrizes it, the recursive-CTE walk uses
    it directly.  Derived from the shared triangular counts by emitting
    both orientations (count-preserving, see ``_brand_pair_counts``) and
    keeping each src's top-2 partners (ties break on (c desc, dst), and
    dst is unique within a src group, so the cut is deterministic)."""
    def build() -> DataFrame:
        pc = _brand_pair_counts(spark, sf_dir)
        co = pc.select(
            F.col("brand_a").alias("src"), F.col("brand_b").alias("dst"), "c_ab"
        ).unionAll(
            pc.select(
                F.col("brand_b").alias("src"), F.col("brand_a").alias("dst"), "c_ab"
            )
        )
        rk = Window.partitionBy("src").orderBy(F.col("c_ab").desc(), "dst")
        return (
            co.withColumn("rk", F.row_number().over(rk))
            .filter(F.col("rk") <= 2)
            .select("src", "dst")
        )

    return _session_shared(spark, sf_dir, "brand_e0", build)


@register(
    "x_agg_market_basket",
    oracle=f"""
    WITH ob AS (
        SELECT DISTINCT l_orderkey, p_brand
        FROM lineitem JOIN part ON l_partkey = p_partkey
    ),
    n1 AS (SELECT p_brand, count(*) AS c1 FROM ob GROUP BY p_brand),
    tot AS (SELECT count(DISTINCT l_orderkey) AS n FROM ob),
    pairs AS (
        SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
               count(*) AS c_ab
        FROM ob a JOIN ob b ON a.l_orderkey = b.l_orderkey
                           AND a.p_brand < b.p_brand
        GROUP BY a.p_brand, b.p_brand
        HAVING count(*) >= {BASKET_MIN_SUPPORT}
    )
    SELECT brand_a, brand_b, c_ab AS n_both,
           round(c_ab::DOUBLE / tot.n, 6) AS support,
           round(c_ab::DOUBLE / na.c1, 6) AS confidence,
           round(c_ab::DOUBLE * tot.n / (na.c1::DOUBLE * nb.c1), 6) AS lift
    FROM pairs, tot, n1 na, n1 nb
    WHERE na.p_brand = brand_a AND nb.p_brand = brand_b
    """,
)
def x_agg_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules at brand grain: for every brand
    pair co-occurring in ≥5 orders, the support,
    confidence (A→B) and lift — the classic affinity-mining query
    (and the co-occurrence shape behind ``x_llm_collocations``, on
    transactions instead of token windows).

    All three measures are elementwise ratios of exact counts — no
    float accumulation at all.

    Plan: the basket frame is DISTINCT (order, brand) — multiplicity
    within an order is collapsed BEFORE pair generation, so the
    self-join on the order key is quadratic only in a basket's distinct
    brands (≤ 25 here, single digits in practice), linear in orders.
    Per-brand counts and the order total are broadcast back onto the
    pair aggregate.  Measured: 2.5 s at 1x facts vs 3.5 s at 10x
    (exponent 0.14, `scale_stress_r13_graph.json @ 489b79a`) with the
    brand-pair output constant."""
    ob = _basket_ob(spark, sf_dir)
    n1 = ob.groupBy("p_brand").agg(F.count("*").alias("c1"))
    tot = ob.agg(F.count_distinct("l_orderkey").alias("n"))
    pairs = _brand_pair_counts(spark, sf_dir).filter(
        F.col("c_ab") >= BASKET_MIN_SUPPORT
    )
    na = n1.select(F.col("p_brand").alias("brand_a"), F.col("c1").alias("ca"))
    nb = n1.select(F.col("p_brand").alias("brand_b"), F.col("c1").alias("cb"))
    c_ab = F.col("c_ab").cast("double")
    return (
        pairs.join(F.broadcast(na), "brand_a")
        .join(F.broadcast(nb), "brand_b")
        .join(F.broadcast(tot))
        .select(
            "brand_a",
            "brand_b",
            F.col("c_ab").alias("n_both"),
            F.round(c_ab / F.col("n"), 6).alias("support"),
            F.round(c_ab / F.col("ca"), 6).alias("confidence"),
            # ca*cb in long arithmetic would silently wrap at fact-scale
            # counts; promote to double before the product
            F.round(
                c_ab * F.col("n") / (F.col("ca").cast("double") * F.col("cb")),
                6,
            ).alias("lift"),
        )
    )


@register(
    "x_win_cohort_revenue",
    oracle="""
    WITH first_seen AS (
        SELECT user_id, date_trunc('month', min(ts))::DATE AS cohort_month
        FROM events GROUP BY user_id
    ),
    act AS (
        SELECT e.user_id, f.cohort_month,
               date_trunc('month', e.ts)::DATE AS activity_month,
               e.event_type, e.value
        FROM events e JOIN first_seen f ON e.user_id = f.user_id
    )
    SELECT cohort_month, activity_month,
           datediff('month', cohort_month, activity_month)::BIGINT
               AS month_index,
           count(DISTINCT user_id) AS n_users,
           round(sum(CASE WHEN event_type = 'purchase' THEN value
                          ELSE 0 END::DECIMAL(30,10)), 2)::DOUBLE
               AS purchase_revenue
    FROM act GROUP BY cohort_month, activity_month
    """,
)
def x_win_cohort_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort revenue matrix (long form): users bucketed by first-seen
    month, each cohort's active-user count and purchase revenue per
    subsequent activity month — the retention×monetization report every
    growth dashboard is built on (``x_agg_retention`` gives the
    presence triangle; this adds the revenue dimension).

    Plan: the cohort anchor is ONE user-keyed min aggregate joined back
    onto events by user (broadcast at dimension scale, shuffle join at
    fact scale — the optimizer's call); the matrix is a single hash
    aggregate on (cohort, activity) month grain.  Revenue accumulates
    DECIMAL; the distinct-user count is exact."""
    ev = table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("month", F.min("ts")).cast("date").alias("cohort_month")
    )
    act = ev.join(first_seen, "user_id").select(
        "user_id",
        "cohort_month",
        F.date_trunc("month", "ts").cast("date").alias("activity_month"),
        "event_type",
        "value",
    )
    rev = F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(
        0.0
    )
    return (
        act.groupBy("cohort_month", "activity_month")
        .agg(
            F.count_distinct("user_id").alias("n_users"),
            F.round(F.sum(rev.cast("decimal(30,10)")), 2)
            .cast("double")
            .alias("purchase_revenue"),
        )
        .select(
            "cohort_month",
            "activity_month",
            (
                (F.year("activity_month") - F.year("cohort_month")) * 12
                + (F.month("activity_month") - F.month("cohort_month"))
            )
            .cast("bigint")
            .alias("month_index"),
            "n_users",
            "purchase_revenue",
        )
    )


@register(
    "x_agg_corr_matrix",
    oracle="""
    WITH m AS (
        SELECT l_returnflag,
               count(*)::BIGINT AS n,
               sum(l_quantity::DECIMAL(38,10))::DOUBLE AS sx,
               sum(l_extendedprice::DECIMAL(38,10))::DOUBLE AS sy,
               sum(l_discount::DECIMAL(38,10))::DOUBLE AS sz,
               sum((l_quantity * l_quantity)::DECIMAL(38,10))::DOUBLE AS sxx,
               sum((l_extendedprice * l_extendedprice)
                   ::DECIMAL(38,10))::DOUBLE AS syy,
               sum((l_discount * l_discount)::DECIMAL(38,10))::DOUBLE AS szz,
               sum((l_quantity * l_extendedprice)
                   ::DECIMAL(38,10))::DOUBLE AS sxy,
               sum((l_quantity * l_discount)::DECIMAL(38,10))::DOUBLE AS sxz,
               sum((l_extendedprice * l_discount)
                   ::DECIMAL(38,10))::DOUBLE AS syz
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           round((n * sxy - sx * sy)
                 / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
               AS corr_qty_price,
           round((n * sxz - sx * sz)
                 / sqrt((n * sxx - sx * sx) * (n * szz - sz * sz)), 6)
               AS corr_qty_disc,
           round((n * syz - sy * sz)
                 / sqrt((n * syy - sy * sy) * (n * szz - sz * sz)), 6)
               AS corr_price_disc
    FROM m
    """,
)
def x_agg_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix of three lineitem measures
    (quantity, extended price, discount) per return flag — the
    feature-screening primitive (which measures co-move?) computed the
    scale-correct way: ONE pass accumulates the ten sufficient
    statistics (n, three sums, three squares, three cross-products) and
    every pairwise correlation is closed-form algebra on that single
    aggregate row — NOT one corr() pass per pair, which would scan the
    fact table three times.

    Exact decimal accumulation of elementwise double products makes the
    moments partition-order independent; the correlation algebra then
    runs in double on identical inputs in both engines."""
    li = table(spark, sf_dir, "lineitem")
    q, p, dc = F.col("l_quantity"), F.col("l_extendedprice"), F.col("l_discount")

    def dsum(c, alias):
        return F.sum(c.cast("decimal(38,10)")).cast("double").alias(alias)

    m = li.groupBy("l_returnflag").agg(
        F.count("*").cast("bigint").alias("n"),
        dsum(q, "sx"), dsum(p, "sy"), dsum(dc, "sz"),
        dsum(q * q, "sxx"), dsum(p * p, "syy"), dsum(dc * dc, "szz"),
        dsum(q * p, "sxy"), dsum(q * dc, "sxz"), dsum(p * dc, "syz"),
    )
    n = F.col("n")

    def corr(sab, sa, sb, saa, sbb):
        return F.round(
            (n * F.col(sab) - F.col(sa) * F.col(sb))
            / F.sqrt(
                (n * F.col(saa) - F.col(sa) * F.col(sa))
                * (n * F.col(sbb) - F.col(sb) * F.col(sb))
            ),
            6,
        )

    return m.select(
        "l_returnflag",
        "n",
        corr("sxy", "sx", "sy", "sxx", "syy").alias("corr_qty_price"),
        corr("sxz", "sx", "sz", "sxx", "szz").alias("corr_qty_disc"),
        corr("syz", "sy", "sz", "syy", "szz").alias("corr_price_disc"),
    )


@register(
    "x_win_rank_change",
    oracle="""
    WITH m AS (
        SELECT (year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1
                   AS mi,
               n_name,
               round(sum(o_totalprice::DECIMAL(30,10)), 2)::DOUBLE AS rev
        FROM orders, customer, nation
        WHERE o_custkey = c_custkey AND c_nationkey = n_nationkey
        GROUP BY 1, 2
    ),
    r AS (
        SELECT mi, n_name, rev,
               row_number() OVER (PARTITION BY mi
                                  ORDER BY rev DESC, n_name)::BIGINT AS rnk
        FROM m
    )
    SELECT a.mi AS month_idx, a.n_name, a.rev AS revenue, a.rnk,
           b.rnk AS prev_rnk, (b.rnk - a.rnk)::BIGINT AS rank_gain
    FROM r a JOIN r b ON b.mi = a.mi - 1 AND b.n_name = a.n_name
    """,
)
def x_win_rank_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """League-table movement: each nation's revenue rank within a month
    versus the previous month (positive rank_gain = climbed) — the BI
    "movers and shakers" report.

    Plan: the data-sized work is ONE hash aggregate to (month, nation)
    grain; the rank window PARTITIONS BY month over that bounded frame
    (25 nations per partition — never an unpartitioned data-sized
    window), and the month-over-month comparison is a self-equi-join of
    the tiny ranked frame on (month-1, nation).  Revenue is rounded to
    cents BEFORE ranking with an n_name tiebreak, so rank order is
    deterministic and identical cross-engine."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nt = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    mi = (
        (F.year("o_orderdate") - F.lit(1995)) * 12 + F.month("o_orderdate") - 1
    ).alias("mi")
    m = (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nt), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(mi, F.col("n_name"))
        .agg(
            F.round(F.sum(F.col("o_totalprice").cast("decimal(30,10)")), 2)
            .cast("double")
            .alias("rev")
        )
        # the ranked frame self-joins month-on-month: materialize the
        # bounded (month, nation) grain once or the whole orders join
        # re-executes per side (measured 6 scans without the barrier)
        .localCheckpoint()
    )
    w = Window.partitionBy("mi").orderBy(F.col("rev").desc(), "n_name")
    r = m.withColumn("rnk", F.row_number().over(w).cast("bigint"))
    prev = r.select(
        (F.col("mi") + 1).alias("mi"),
        F.col("n_name"),
        F.col("rnk").alias("prev_rnk"),
    )
    return r.join(prev, ["mi", "n_name"]).select(
        F.col("mi").alias("month_idx"),
        "n_name",
        F.col("rev").alias("revenue"),
        "rnk",
        "prev_rnk",
        (F.col("prev_rnk") - F.col("rnk")).cast("bigint").alias("rank_gain"),
    )


@register(
    "x_agg_waterfall",
    oracle="""
    WITH cy AS (
        SELECT o_custkey,
               round(sum(CASE WHEN year(o_orderdate) = 1995
                              THEN o_totalprice ELSE 0 END
                         ::DECIMAL(30,10)), 2)::DOUBLE AS r95,
               round(sum(CASE WHEN year(o_orderdate) = 1996
                              THEN o_totalprice ELSE 0 END
                         ::DECIMAL(30,10)), 2)::DOUBLE AS r96
        FROM orders WHERE year(o_orderdate) IN (1995, 1996)
        GROUP BY 1
    )
    SELECT n_name,
           round(sum(r95::DECIMAL(30,10)), 2)::DOUBLE AS rev_1995,
           round(sum(r96::DECIMAL(30,10)), 2)::DOUBLE AS rev_1996,
           round(sum(CASE WHEN r95 = 0 THEN r96 ELSE 0 END
                     ::DECIMAL(30,10)), 2)::DOUBLE AS new_rev,
           round(sum(CASE WHEN r96 = 0 THEN r95 ELSE 0 END
                     ::DECIMAL(30,10)), 2)::DOUBLE AS churned_rev,
           round(sum(CASE WHEN r95 > 0 AND r96 > r95 THEN r96 - r95
                          ELSE 0 END::DECIMAL(30,10)), 2)::DOUBLE
               AS expansion_rev,
           round(sum(CASE WHEN r96 > 0 AND r95 > r96 THEN r95 - r96
                          ELSE 0 END::DECIMAL(30,10)), 2)::DOUBLE
               AS contraction_rev
    FROM cy, customer, nation
    WHERE o_custkey = c_custkey AND c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def x_agg_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-bridge waterfall between two years per nation: the
    year-over-year delta decomposed into new-customer, churned,
    expansion and contraction components (the identity
    rev_1996 = rev_1995 + new − churned + expansion − contraction holds
    row-by-row) — the board-deck "where did growth come from" chart as
    one relational plan.

    Plan: ONE conditional aggregate collapses orders to per-customer
    (r95, r96) pairs — both years in the same pass, never a
    join of two year slices; classification is a codegen'd CASE over
    the pair; the nation rollup rides broadcast dims.  Per-customer
    subtotals are rounded to cents before classification so the
    zero/greater tests are exact cross-engine."""
    o = table(spark, sf_dir, "orders").filter(
        F.year("o_orderdate").isin(1995, 1996)
    )

    def ysum(y):
        return (
            F.round(
                F.sum(
                    F.when(F.year("o_orderdate") == y, F.col("o_totalprice"))
                    .otherwise(0.0)
                    .cast("decimal(30,10)")
                ),
                2,
            )
            .cast("double")
        )

    cy = o.groupBy("o_custkey").agg(ysum(1995).alias("r95"), ysum(1996).alias("r96"))
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nt = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    r95, r96 = F.col("r95"), F.col("r96")

    def dsum(c_, alias):
        return (
            F.round(F.sum(c_.cast("decimal(30,10)")), 2)
            .cast("double")
            .alias(alias)
        )

    return (
        # customer is fact-sized at scale — shuffle join on the key
        # (AQE may still broadcast at small SF); only nation broadcasts
        cy.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nt), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            dsum(r95, "rev_1995"),
            dsum(r96, "rev_1996"),
            dsum(F.when(r95 == 0, r96).otherwise(0.0), "new_rev"),
            dsum(F.when(r96 == 0, r95).otherwise(0.0), "churned_rev"),
            dsum(
                F.when((r95 > 0) & (r96 > r95), r96 - r95).otherwise(0.0),
                "expansion_rev",
            ),
            dsum(
                F.when((r96 > 0) & (r95 > r96), r95 - r96).otherwise(0.0),
                "contraction_rev",
            ),
        )
    )


@register(
    "x_agg_benford_distribution",
    oracle="""
    WITH d AS (
        SELECT substr(floor(o_totalprice)::BIGINT::VARCHAR, 1, 1)::BIGINT
                   AS digit
        FROM orders WHERE o_totalprice >= 1
    ),
    c AS (SELECT digit, count(*)::BIGINT AS n FROM d GROUP BY digit),
    t AS (SELECT sum(n)::BIGINT AS total FROM c)
    SELECT digit, n,
           round(n::DOUBLE / total, 6) AS observed,
           round(log10(1.0 + 1.0 / digit), 6) AS benford_expected,
           round(n::DOUBLE / total - log10(1.0 + 1.0 / digit), 6)
               AS deviation
    FROM c, t
    """,
)
def x_agg_benford_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order values: observed
    leading-digit shares against the log10(1 + 1/d) expectation — the
    classic fraud/data-fabrication screen (organically-generated
    amounts follow Benford; invented or capped ones pile up on
    specific digits).

    Plan: the digit is a codegen'd string projection of the floored
    value (substr of the integer text — no float log tricks whose
    boundary cases could split across engines); one hash aggregate to
    ≤ 9 rows; the total is an unpartitioned window over that bounded
    frame (a second aggregate would re-scan orders to recompute the
    counts).  Shares and the expectation are elementwise doubles on
    identical inputs."""
    d = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") >= 1)
        .select(
            F.substring(
                F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
            )
            .cast("bigint")
            .alias("digit")
        )
    )
    c = d.groupBy("digit").agg(F.count("*").cast("bigint").alias("n"))
    # grand total as an unpartitioned window over the <=9-row aggregate —
    # a second c.agg() would RE-SCAN orders to recompute the digit counts
    t = c.withColumn("total", F.sum("n").over(Window.partitionBy()))
    obs = F.col("n").cast("double") / F.col("total")
    exp_ = F.log10(1.0 + 1.0 / F.col("digit"))
    return t.select(
        "digit",
        "n",
        F.round(obs, 6).alias("observed"),
        F.round(exp_, 6).alias("benford_expected"),
        F.round(obs - exp_, 6).alias("deviation"),
    )


@register(
    "x_agg_ab_test",
    oracle="""
    WITH u AS (
        SELECT user_id,
               CASE WHEN ('0x' || substr(md5(user_id::VARCHAR), 1, 13))
                             ::BIGINT % 2 = 0
                    THEN 'A' ELSE 'B' END AS arm,
               max(CASE WHEN event_type = 'purchase' AND value > 50
                        THEN 1 ELSE 0 END) AS conv
        FROM events GROUP BY 1, 2
    ),
    s AS (
        SELECT sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END)::BIGINT AS n_a,
               sum(CASE WHEN arm = 'A' THEN conv ELSE 0 END)::BIGINT AS c_a,
               sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END)::BIGINT AS n_b,
               sum(CASE WHEN arm = 'B' THEN conv ELSE 0 END)::BIGINT AS c_b
        FROM u
    )
    SELECT n_a, c_a, round(c_a::DOUBLE / n_a, 6) AS rate_a,
           n_b, c_b, round(c_b::DOUBLE / n_b, 6) AS rate_b,
           CASE WHEN c_a + c_b > 0 AND c_a + c_b < n_a + n_b
                THEN round((c_a::DOUBLE / n_a - c_b::DOUBLE / n_b)
                     / sqrt(((c_a + c_b)::DOUBLE / (n_a + n_b))
                            * (1.0 - (c_a + c_b)::DOUBLE / (n_a + n_b))
                            * (1.0 / n_a + 1.0 / n_b)), 6)
           END AS z_stat,
           coalesce(abs(CASE WHEN c_a + c_b > 0 AND c_a + c_b < n_a + n_b
                THEN (c_a::DOUBLE / n_a - c_b::DOUBLE / n_b)
                     / sqrt(((c_a + c_b)::DOUBLE / (n_a + n_b))
                            * (1.0 - (c_a + c_b)::DOUBLE / (n_a + n_b))
                            * (1.0 / n_a + 1.0 / n_b))
                END) > 1.96, FALSE) AS significant
    FROM s
    """,
)
def x_agg_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion A/B conversion test: users hash-split into arms
    (md5 parity — deterministic, balanced, assignment-stable like the
    dataset-split op), conversion = any purchase over 50 (a plain
    any-purchase definition saturates p to 1.0 on the fixture and the
    pooled variance degenerates to zero), pooled two-proportion
    z-statistic with the 1.96 two-sided significance call — the
    experimentation readout every product pipeline runs.

    Plan: ONE user-keyed aggregate collapses events to (user, arm,
    converted) — arm is a codegen'd hash projection, conversion a
    conditional max; the arm totals are a second 4-column conditional
    aggregate to ONE row, and the z algebra is elementwise double math
    over exact integers (identical in both engines — no sampling, no
    approximation)."""
    h = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 13), 16, 10
    ).cast("bigint")
    u = (
        table(spark, sf_dir, "events")
        .groupBy("user_id", F.when(h % 2 == 0, "A").otherwise("B").alias("arm"))
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("value") > 50),
                    1,
                ).otherwise(0)
            ).alias("conv")
        )
    )

    def csum(cond, col_, alias):
        return (
            F.sum(F.when(cond, col_).otherwise(0)).cast("bigint").alias(alias)
        )

    a = F.col("arm") == "A"
    s = u.agg(
        csum(a, F.lit(1), "n_a"),
        csum(a, F.col("conv"), "c_a"),
        csum(~a, F.lit(1), "n_b"),
        csum(~a, F.col("conv"), "c_b"),
    )
    # try_divide throughout the rate/z algebra: an EMPTY ARM (every user
    # hashing to one side — the one-user warehouse, or any single-user
    # shard at scale) has n = 0, where DuckDB's double/0 yields NULL and
    # ANSI Spark would throw (adversarial warehouse probe, r17).  NULL
    # rates/z propagate to significant = false via the coalesce below,
    # identically in both engines.
    ra = F.try_divide(F.col("c_a").cast("double"), F.col("n_a"))
    rb = F.try_divide(F.col("c_b").cast("double"), F.col("n_b"))
    p = F.try_divide(
        (F.col("c_a") + F.col("c_b")).cast("double"),
        (F.col("n_a") + F.col("n_b")),
    )
    # degenerate pooled proportion (nobody / everybody converted) has
    # zero variance: z is NULL, significant false — and the guard keeps
    # the op ANSI-safe at any scale factor
    nondegen = ((F.col("c_a") + F.col("c_b")) > 0) & (
        (F.col("c_a") + F.col("c_b")) < (F.col("n_a") + F.col("n_b"))
    )
    z = F.when(
        nondegen,
        (ra - rb)
        / F.sqrt(
            p
            * (1.0 - p)
            * (
                F.try_divide(F.lit(1.0), F.col("n_a"))
                + F.try_divide(F.lit(1.0), F.col("n_b"))
            )
        ),
    )
    return s.select(
        "n_a",
        "c_a",
        F.round(ra, 6).alias("rate_a"),
        "n_b",
        "c_b",
        F.round(rb, 6).alias("rate_b"),
        F.round(z, 6).alias("z_stat"),
        F.coalesce(F.abs(z) > 1.96, F.lit(False)).alias("significant"),
    )


#: PageRank geometry: damping factor and unrolled iteration count.
PAGERANK_DAMPING = 0.85
PAGERANK_ITERS = 3


def _pagerank_iter_sql(i: int) -> str:
    """One unrolled PageRank iteration as a DuckDB CTE (r{i-1} -> r{i}).

    PAGERANK_DAMPING (and its teleport complement) is interpolated here
    AND in the Spark expression below — one source of truth, so changing
    the constant cannot desync engine and oracle."""
    return f"""r{i} AS (
        SELECT e.dst AS brand,
               round({1.0 - PAGERANK_DAMPING!r} / min(nn.n)
                     + {PAGERANK_DAMPING!r}
                       * sum((r{i - 1}.r / deg.d)::DECIMAL(38,18))
                           ::DOUBLE, 12) AS r
        FROM edges e
        JOIN r{i - 1} ON e.src = r{i - 1}.brand
        JOIN deg ON e.src = deg.src, nn
        GROUP BY e.dst
    )"""


@register(
    "x_graph_pagerank",
    oracle=f"""
    WITH ob AS (
        SELECT DISTINCT l_orderkey, p_brand
        FROM lineitem JOIN part ON l_partkey = p_partkey
    ),
    co AS (
        SELECT a.p_brand AS src, b.p_brand AS dst, count(*) AS c
        FROM ob a JOIN ob b
          ON a.l_orderkey = b.l_orderkey AND a.p_brand <> b.p_brand
        GROUP BY 1, 2
    ),
    e0 AS (
        SELECT src, dst FROM (
            SELECT src, dst,
                   row_number() OVER (PARTITION BY src
                                      ORDER BY c DESC, dst) AS rk
            FROM co
        ) ranked WHERE rk <= 2
    ),
    edges AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
    deg AS (SELECT src, count(*)::BIGINT AS d FROM edges GROUP BY src),
    nodes AS (SELECT DISTINCT src AS brand FROM edges),
    nn AS (SELECT count(*)::BIGINT AS n FROM nodes),
    r0 AS (SELECT brand, 1.0 / n AS r FROM nodes, nn),
    {", ".join(_pagerank_iter_sql(i) for i in range(1, PAGERANK_ITERS + 1))}
    SELECT r{PAGERANK_ITERS}.brand,
           round(r{PAGERANK_ITERS}.r, 6) AS pagerank,
           deg.d AS degree
    FROM r{PAGERANK_ITERS} JOIN deg ON r{PAGERANK_ITERS}.brand = deg.src
    """,
)
def x_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the brand-affinity digraph (each brand's top-2
    co-occurrence partners, symmetrized — a RANK cut, not a support
    cut: a fixed support threshold makes the dense basket graph
    COMPLETE, on which PageRank is uniformly 1/n and the output
    vacuous), 3 unrolled power iterations at damping 0.85 — the
    iterative-graph-algorithm shape on Spark: each iteration is a
    bounded join-aggregate over the SAME materialized edge frame,
    exactly how label propagation runs in the dedup cluster family (and
    how a full PageRank would run to convergence; 3 iterations keep the
    oracle finitely unrollable).  Checked against a loop-free pure-
    Python reference in ``tests/test_iterative_refs.py``.

    Determinism: neighbor contributions accumulate as exact
    DECIMAL(38,18) of elementwise doubles, and every iteration's rank
    is rounded to 12 decimals in BOTH engines before the next — ranks
    are bit-identical cross-engine at each step by induction.  The
    co-occurrence graph is symmetric, so there are no dangling nodes
    and every node has in-edges.

    Plan: pair generation reuses the market-basket shape (DISTINCT
    (order, brand) first — quadratic per basket, linear in orders);
    edges/degrees/nodes are brand-grain bounded and localCheckpointed
    once; each iteration adds ONE small join-aggregate (broadcast
    edges), never re-reading the fact table."""
    edges, deg, nodes, trans = _pagerank_graph(spark, sf_dir)
    # node-grain scalar off the checkpointed frame; an EMPTY graph
    # (adversarial empty-facts corpus) has no rows — any positive
    # placeholder works because every downstream frame is empty too
    _first = nodes.first()
    n_nodes = _first["n"] if _first is not None else 1
    r = nodes.select("brand", (1.0 / F.col("n")).alias("r"))
    for _ in range(PAGERANK_ITERS):
        r = _pagerank_step(trans, n_nodes, r)
    return (
        r.join(
            F.broadcast(deg.select(F.col("src").alias("brand"), "d")), "brand"
        )
        .select(
            "brand",
            F.round("r", 6).alias("pagerank"),
            F.col("d").alias("degree"),
        )
    )


def _pagerank_edges_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetrized rank-cut affinity edge set (each brand keeps its top-2
    co-occurrence partners; ties break on (count desc, dst)).  The rank
    cut itself is the session-shared ``_brand_e0`` (one basket self-join
    per session for this family + market basket + the recursive walk);
    symmetrizing the checkpointed brand-grain frame is a narrow union."""
    e0 = _brand_e0(spark, sf_dir)
    return e0.unionByName(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def _pagerank_graph(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """(edges, deg, nodes, trans) of the rank-cut brand-affinity digraph
    — the shared graph build of both PageRank variants, cached via the
    repo-wide ``session_cache`` mechanism (one dict, not a bespoke
    twin): both variants (and repeated harness runs) read ONE
    materialized graph instead of re-running the fact-table pair
    generation.  edges/nodes/trans are localCheckpointed once
    (brand-grain bounded; checkpointed frames are deterministic, so
    cached-vs-fresh results are bit-identical); every iteration
    downstream is a join-aggregate over these frames, never re-reading
    the fact table.  trans (the edge frame with source out-degree
    attached) is materialized BEFORE the loop — iterations must not
    re-run the edges⋈deg join (the recursive-CTE lesson: anything
    invariant across iterations is checkpointed ahead of them)."""
    edges = _session_shared(
        spark, sf_dir, "pagerank_edges",
        lambda: _pagerank_edges_build(spark, sf_dir),
    )
    deg = edges.groupBy("src").agg(F.count("*").cast("bigint").alias("d"))
    nodes = _session_shared(
        spark, sf_dir, "pagerank_nodes",
        lambda: edges.select(F.col("src").alias("brand"))
        .distinct()
        .withColumn("n", F.count("*").over(Window.partitionBy())),
    )
    trans = _session_shared(
        spark, sf_dir, "pagerank_trans",
        lambda: edges.join(deg, "src").select("src", "dst", "d"),
    )
    return edges, deg, nodes, trans


def _pagerank_step(
    trans: DataFrame, n_nodes: int, r: DataFrame
) -> DataFrame:
    """One power iteration r -> r': neighbor contributions accumulate as
    exact DECIMAL(38,18) of elementwise doubles and the new rank rounds
    to 12 decimals (the cross-engine induction invariant of the unrolled
    oracle).  PRECONDITION (r19 ADVICE): ``trans`` must be a SYMMETRIZED
    edge set — the teleport-only fold below is row-preserving only
    because the dst-keyed aggregate's key set then equals the node set;
    an asymmetric caller would silently drop dst-only nodes the old
    inner join used to filter.  Both callers build trans from
    ``_pagerank_graph``, whose edge frame is symmetrized by
    construction (``_pagerank_edges_build`` unions both orientations).  The node-grain rank frame is broadcast into the transition
    join (BroadcastHashJoin — no exchange), so a step is ONE shuffle
    stage: the dst-keyed aggregate.  ``n_nodes`` is the graph's node
    count as a DRIVER scalar: the count is loop-invariant and node-grain
    (a handful of brands), so folding the teleport term
    ``(1-d)/n`` into a literal removes the per-step broadcast join the
    old ``nodes`` frame paid — 35-45 converged iterations used to add
    35-45 broadcast builds of pure overhead.  Dropping the join is
    row-preserving: the graph is symmetric, so the aggregate's dst set
    equals the node set and the old inner join never filtered.  IEEE
    double division in Python and in codegen round identically, so ranks
    stay bit-identical to the joined form (oracle-pinned for the
    unrolled twin)."""
    contrib = trans.join(
        F.broadcast(r), trans["src"] == r["brand"]
    ).select(
        F.col("dst").alias("brand"),
        (F.col("r") / F.col("d")).alias("contrib"),
    )
    return (
        contrib.groupBy("brand")
        .agg(
            F.sum(F.col("contrib").cast("decimal(38,18)"))
            .cast("double")
            .alias("s")
        )
        .select(
            "brand",
            F.round(
                F.lit((1.0 - PAGERANK_DAMPING) / n_nodes)
                + PAGERANK_DAMPING * F.col("s"),
                12,
            ).alias("r"),
        )
    )


#: Convergence-mode geometry: stop when the max per-node rank movement
#: across a PAGERANK_CHECK_EVERY-iteration block drops below
#: PAGERANK_EPS (or at the iteration cap — a safety valve, not the
#: expected exit on any connected graph).  1e-6 is the conventional
#: power-iteration tolerance (networkx default; far tighter than
#: GraphFrames' tol=0.01) — the block cadence exits at 35–45 counted
#: iterations (7–9 five-step blocks) on the fixture affinity graphs
#: (35 at sf0.001/sf0.1, 45 at sf0.01), with ranks already identical
#: to a tighter 1e-9 run at the 6-decimal output precision.
PAGERANK_EPS = 1e-6
PAGERANK_MAX_ITERS = 60
PAGERANK_CHECK_EVERY = 5


@register(
    "x_graph_pagerank_converged",  # unbounded iteration → rows-only
    why_no_oracle="unbounded fixpoint loop has no finite SQL unrolling",
    gate="shares `_pagerank_step` verbatim with the oracle-attested unrolled "
         "`x_graph_pagerank`; checked "
         "point-for-point against a pure-Python fixpoint loop in "
         "`tests/test_iterative_refs.py`",
)
def x_graph_pagerank_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-to-fixpoint PageRank over the same rank-cut affinity digraph
    as ``x_graph_pagerank`` — the PRODUCTION form of the iterative graph
    shape (the unrolled twin pins 3 iterations only so its oracle stays
    finitely expressible; this one iterates until the block delta drops
    below PAGERANK_EPS).  Rows-only by design: an unbounded loop has no finite
    SQL unrolling — the math is instead checked point-for-point against
    a pure-Python power iteration run with the same cadence in
    ``tests/test_iterative_refs.py``, and each step is the
    oracle-attested ``_pagerank_step`` code shared verbatim.

    Plan/loop posture (the GraphFrames checkpointInterval form):
    PAGERANK_CHECK_EVERY steps chain LAZILY — five bounded
    join-aggregates over the once-checkpointed transition frame execute
    as one job — and the block's terminal action is ONE ``collect`` that
    returns the endpoint ranks TOGETHER with each node's movement (max
    per-node movement over the whole block — a stricter signal than a
    single step's delta, since per-step deltas shrink monotonically
    under the damping contraction).  The next block's rank frame is
    rebuilt from the collected node-grain rows as an Arrow-backed local
    frame (doubles round-trip collect -> pandas -> Arrow exactly, so
    ranks stay bit-identical to the checkpointed form), which both
    truncates lineage WITHOUT a separate eager-checkpoint job and keeps
    each step's broadcast build off the Python worker path.  Probing
    every step instead measured 32 s at sf0.1 —
    ~140 tiny driver-scheduled jobs of pure overhead for a 25-node
    frame; the r19 shape (eager block checkpoint + separate probe job)
    paid TWO scheduled jobs per block where this pays one.  The
    per-block driver round trip is node-grain by construction (brand
    cardinality) — the same boundedness argument as the broadcast-rank
    step (see ``_pagerank_step``); for web-scale node sets both would
    move to frame-resident form together.  The transition frame
    shuffles once at build and iterations move node-grain rows only, so
    the iteration count is set by graph topology, not table size
    (measured: 9.4 s at 1x facts vs 6.3 s at 10x,
    `scale_stress_r13_graph.json @ 489b79a`); for graphs whose node
    frame outgrows the broadcast ceiling (web-scale, not
    dimension-scale), drop the ``broadcast(r)`` hint and the same loop
    becomes a src-co-partitioned shuffle join — the plan Spark picks
    automatically once the hint is absent."""
    edges, deg, nodes, trans = _pagerank_graph(spark, sf_dir)
    # node-grain scalar off the checkpointed frame; an EMPTY graph
    # (adversarial empty-facts corpus) has no rows — any positive
    # placeholder works because every downstream frame is empty too
    _first = nodes.first()
    n_nodes = _first["n"] if _first is not None else 1

    # nodes.first() above already materialized every fact-sized ancestor
    # (the _brand_e0 / edges / nodes checkpoints) under the session
    # confs; from here on every loop stage is node-grain, so the loop
    # runs under a scoped shuffle width derived from the node count
    # (~64k rows per reduce partition) instead of the session default,
    # and — in the node-grain regime — without AQE, whose per-stage
    # re-optimization is pure driver latency on 1-2-partition shuffles
    # it cannot improve (aggregates are outside AQE's skew handling).
    # Both knobs scale with the GRAPH, not the box: a web-scale node set
    # raises loop_parts right back and keeps AQE on.  Same-session A/B
    # at sf0.1 (35 iterations): 6.1-9.8 s -> ~5.5 s loop wall.
    r = nodes.select("brand", (1.0 / F.col("n")).alias("r")).localCheckpoint()
    session_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    loop_confs = {
        "spark.sql.shuffle.partitions": str(
            max(1, min(session_parts, (n_nodes + 65535) // 65536))
        ),
    }
    if n_nodes <= 1_000_000:
        loop_confs["spark.sql.adaptive.enabled"] = "false"
    saved_confs = {k: spark.conf.get(k) for k in loop_confs}
    iters = 0
    try:
        for k, v in loop_confs.items():
            spark.conf.set(k, v)
        while iters < PAGERANK_MAX_ITERS:
            new_r = r
            for _ in range(PAGERANK_CHECK_EVERY):
                new_r = _pagerank_step(trans, n_nodes, new_r)
            # ONE job per block: endpoint ranks and per-node movement
            # come back in the same collect; the delta max and the next
            # block's rank frame are derived driver-side from the
            # node-grain rows.  The rebuild is a local_frame, which
            # lands as JVM-resident Arrow batches — rebuilding via
            # parallelize() instead re-pickles rows through a Python
            # worker on EVERY step's broadcast build and measured
            # 1.2-2.3 s SLOWER than the eager-checkpoint form it
            # replaces; float64 survives collect -> Arrow exactly, so
            # ranks stay bit-identical (asserted against the
            # checkpointed form at sf0.1 during the A/B).
            block = (
                new_r.join(
                    r.select("brand", F.col("r").alias("r_prev")), "brand"
                )
                .select(
                    "brand",
                    "r",
                    F.abs(F.col("r") - F.col("r_prev")).alias("d"),
                )
                .collect()
            )
            iters += PAGERANK_CHECK_EVERY
            delta = max((row["d"] for row in block), default=None)
            r = local_frame(
                spark,
                [(row["brand"], row["r"]) for row in block],
                "brand string, r double",
            )
            if delta is not None and delta < PAGERANK_EPS:
                break
    finally:
        for k, v in saved_confs.items():
            spark.conf.set(k, v)
    return (
        r.join(
            F.broadcast(deg.select(F.col("src").alias("brand"), "d")), "brand"
        )
        .select(
            "brand",
            F.round("r", 6).alias("pagerank"),
            F.col("d").alias("degree"),
            F.lit(iters).cast("int").alias("n_iters"),
        )
    )


#: The recursive walk, shared verbatim by both engines (the engine-side
#: SQL reads a materialized `brand_edges` view; the oracle inlines the
#: same edge definition as CTEs — _EDGES_SQL below).
RECURSIVE_WALK_SQL = """
WITH RECURSIVE walk (brand, depth) AS (
    SELECT CAST('Brand#1' AS STRING), 0
    UNION ALL
    SELECT e.dst, w.depth + 1
    FROM walk w JOIN brand_edges e ON e.src = w.brand
    WHERE w.depth < 6
)
SELECT brand, CAST(min(depth) AS BIGINT) AS hops
FROM walk GROUP BY brand
"""

#: Edge definition (top-2-affinity brand digraph) as oracle CTEs.
_EDGES_SQL = """
    ob AS (
        SELECT DISTINCT l_orderkey, p_brand
        FROM lineitem JOIN part ON l_partkey = p_partkey
    ),
    co AS (
        SELECT a.p_brand AS src, b.p_brand AS dst, count(*) AS c
        FROM ob a JOIN ob b
          ON a.l_orderkey = b.l_orderkey AND a.p_brand <> b.p_brand
        GROUP BY a.p_brand, b.p_brand
    ),
    brand_edges AS (
        SELECT src, dst FROM (
            SELECT src, dst,
                   row_number() OVER (PARTITION BY src
                                      ORDER BY c DESC, dst) AS rk
            FROM co
        ) ranked WHERE rk <= 2
    )
"""


@register(
    "x_sql_recursive_cte",
    oracle="WITH RECURSIVE " + _EDGES_SQL.strip() + ",\n"
    + RECURSIVE_WALK_SQL.strip().removeprefix("WITH RECURSIVE "),
)
def x_sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE through the SQL-text surface (Spark 4's WITH
    RECURSIVE): BFS hop counts from a seed brand over the
    top-2-affinity brand digraph — the recursive walk text is ONE
    shared constant run through ``spark.sql()`` and embedded verbatim
    in the DuckDB oracle (the ``x_sql_text_api`` contract extended to
    iteration), attesting parser, recursion loop and fixpoint
    semantics end-to-end.

    The graph is each brand's top-2 co-occurrence partners (a rank cut,
    not a fixed support cut, so it stays sparse and the walk
    non-trivial at EVERY scale factor); the walk is depth-capped at 6,
    bounding the recursion frontier regardless of corpus size.

    Plan: the data-sized work (the co-occurrence count) is materialized
    ONCE as a localCheckpointed view BEFORE the loop — Spark inlines
    CTEs into every recursion step, so leaving the edge definition
    inside the recursive query would re-run the corpus aggregate per
    iteration (measured 6x the cost); each UnionLoop step is then a
    bounded join against the checkpoint.  The edge set is the
    session-shared ``_brand_e0`` (identical to the oracle's inlined
    ``brand_edges`` CTE), so one basket self-join per session serves
    this walk, both PageRank variants and the market-basket rules.
    Scale-measured: 2.7 s at 1x facts vs 4.2 s at 10x (exponent 0.17,
    `scale_stress_r13_graph.json @ 489b79a`) — only the edge
    materialization sees the corpus; the recursion walks the bounded
    brand digraph."""
    _brand_e0(spark, sf_dir).createOrReplaceTempView("brand_edges")
    return spark.sql(RECURSIVE_WALK_SQL)


@register(
    "x_agg_weighted_stats",
    oracle="""
    SELECT l_returnflag,
           round(sum((l_quantity * l_extendedprice)::DECIMAL(38,10))
                     ::DOUBLE
                 / sum(l_quantity::DECIMAL(30,10))::DOUBLE, 6)
               AS wmean_price,
           round(sqrt(
               sum((l_quantity * l_extendedprice * l_extendedprice)
                   ::DECIMAL(38,10))::DOUBLE
                   / sum(l_quantity::DECIMAL(30,10))::DOUBLE
               - pow(sum((l_quantity * l_extendedprice)::DECIMAL(38,10))
                         ::DOUBLE
                     / sum(l_quantity::DECIMAL(30,10))::DOUBLE, 2)), 6)
               AS wstddev_price,
           round(sum(l_quantity::DECIMAL(30,10)), 2)::DOUBLE
               AS total_weight
    FROM lineitem GROUP BY l_returnflag
    """,
)
def x_agg_weighted_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted mean and standard deviation of unit price per
    return flag — the weighted-moments aggregate (every averaged metric
    over transactions of unequal size needs it; the unweighted mean
    over-counts small lots).  Three exact decimal moment sums
    (Σw, Σwx, Σwx²) and closed-form algebra — the
    ``x_agg_corr_matrix`` sufficient-statistics pattern specialized to
    weights.

    Plan: ONE hash aggregate, map-side combinable; the mean/stddev
    algebra is a codegen'd projection over the per-group moment row."""
    w_, x = F.col("l_quantity"), F.col("l_extendedprice")

    def dsum(c, alias):
        return F.sum(c.cast("decimal(38,10)")).cast("double").alias(alias)

    m = table(spark, sf_dir, "lineitem").groupBy("l_returnflag").agg(
        dsum(w_ * x, "swx"),
        dsum(w_ * x * x, "swxx"),
        F.sum(w_.cast("decimal(30,10)")).alias("sw_dec"),
    )
    sw = F.col("sw_dec").cast("double")
    wmean = F.col("swx") / sw
    return m.select(
        "l_returnflag",
        F.round(wmean, 6).alias("wmean_price"),
        F.round(F.sqrt(F.col("swxx") / sw - F.pow(wmean, 2)), 6).alias(
            "wstddev_price"
        ),
        F.round(F.col("sw_dec"), 2).cast("double").alias("total_weight"),
    )


@register(
    "x_agg_decile_edges",
    oracle="""
    WITH q AS (
        SELECT l_returnflag,
               quantile_cont(l_extendedprice,
                             [0.1, 0.2, 0.3, 0.4, 0.5,
                              0.6, 0.7, 0.8, 0.9]) AS qs
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           generate_subscripts(qs, 1)::BIGINT AS decile,
           round(unnest(qs), 6) AS edge
    FROM q
    """,
)
def x_agg_decile_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact decile edges of extended price per return flag, one row per
    (group, decile) — the banding table that length-stratified sampling,
    price banding and SLA tiering consume (compute edges ONCE on the
    aggregate path, band rows later with a broadcast when-chain — never
    an ntile window over the fact table).

    Exact interpolated percentiles (Spark ``percentile`` ≡ DuckDB
    ``quantile_cont``) over identical doubles; the nine requests share
    ONE sort per group inside the aggregate, and posexplode unpivots the
    array result to scalar rows for the driver's comparator.

    Plan: one hash aggregate (percentile buffers merge map-side), then
    a codegen'd posexplode of the 9-element array — group-grain
    everywhere after the scan."""
    q = (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.expr(
                "percentile(l_extendedprice,"
                " array(0.1D, 0.2D, 0.3D, 0.4D, 0.5D,"
                " 0.6D, 0.7D, 0.8D, 0.9D))"
            ).alias("qs")
        )
    )
    return q.select(
        "l_returnflag",
        F.posexplode("qs").alias("pos", "edge_raw"),
    ).select(
        "l_returnflag",
        (F.col("pos") + 1).cast("bigint").alias("decile"),
        F.round("edge_raw", 6).alias("edge"),
    )


@register(
    "x_etl_outlier_iqr",
    oracle="""
    WITH q AS (
        SELECT l_returnflag,
               quantile_cont(l_extendedprice, 0.25) AS q1,
               quantile_cont(l_extendedprice, 0.75) AS q3
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_returnflag,
           round(q1, 6) AS q1, round(q3, 6) AS q3,
           round(q3 - q1, 6) AS iqr,
           sum(CASE WHEN l_extendedprice < q1 - 1.5 * (q3 - q1)
                    THEN 1 ELSE 0 END)::BIGINT AS n_low,
           sum(CASE WHEN l_extendedprice > q3 + 1.5 * (q3 - q1)
                    THEN 1 ELSE 0 END)::BIGINT AS n_high,
           count(*)::BIGINT AS n_rows
    FROM lineitem l JOIN q ON l.l_returnflag = q.l_returnflag
    GROUP BY l.l_returnflag, q1, q3
    """,
)
def x_etl_outlier_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier report: per-group quartiles, IQR and the
    count of rows beyond 1.5×IQR each side — the data-quality screen
    run before any statistical aggregate is trusted (the robust
    complement to ``x_ts_anomaly_mad``, on value distributions instead
    of time series).

    Two passes by necessity: exact quartiles need the value
    distribution before fences can be tested (the group-grain fence
    frame then broadcasts onto the counting scan, so the second pass is
    a scan plus a broadcast join with no extra shuffle; an approx-quantile
    single-pass variant trades this for the GK sketch, the
    ``x_agg_approx_quantile`` path).  Fences compare UNROUNDED in both
    engines so a boundary row cannot flip on a rounding edge.

    Plan: aggregate 1 (percentile) → broadcast join → aggregate 2
    (conditional counts) — both aggregates map-side combinable."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    q = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.25D)").alias("q1"),
        F.expr("percentile(l_extendedprice, 0.75D)").alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    j = li.join(F.broadcast(q), "l_returnflag")
    return (
        j.groupBy("l_returnflag", "q1", "q3")
        .agg(
            F.sum(
                F.when(F.col("l_extendedprice") < F.col("q1") - 1.5 * iqr, 1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("n_low"),
            F.sum(
                F.when(F.col("l_extendedprice") > F.col("q3") + 1.5 * iqr, 1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("n_high"),
            F.count("*").cast("bigint").alias("n_rows"),
        )
        .select(
            "l_returnflag",
            F.round("q1", 6).alias("q1"),
            F.round("q3", 6).alias("q3"),
            F.round(iqr, 6).alias("iqr"),
            "n_low",
            "n_high",
            "n_rows",
        )
    )
