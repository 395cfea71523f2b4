"""TPC-H-derived analytic suite over the fixture star schema.

The fixture tables (TESTDATA.md) are TPC-H-shaped, and the classic suite
is the canonical acceptance test for an analytics engine: every query
below is the standard TPC-H shape adapted to the columns the fixtures
actually carry (no ``partsupp``, no ``l_commitdate``/``l_receiptdate``,
no ``c_phone`` — each adaptation is noted per query).  Q1's pricing
summary and Q3's shipping priority already exist as
``x_agg_sum_avg_min_max`` and ``x_join_multiway_analytic``
(operators/relational.py); this module adds the remaining distinct
shapes: EXISTS-per-group (Q4), the 6-table snowflake revenue rollup
(Q5), the selective scan aggregate (Q6), returned-item top-k (Q10), the
outer-join count distribution (Q13), the conditional revenue share
(Q14), the HAVING-gated large-order join (Q18), disjunctive
predicate-pushdown revenue (Q19), the anti-join + scalar-subquery
report (Q22), and — added round 9 — the bilateral self-joined-dimension
rollup (Q7), the eight-table conditional market share (Q8), the late-
shipment priority counts (Q12), the aggregate-then-scalar-max top
supplier (Q15), the decorrelated per-key-average revenue filter (Q17)
and the semi+anti "only late supplier" correlation (Q21).  Round 16
completes the suite: Q2/Q9/Q11/Q16/Q20 need ``partsupp``, which the
fixture does not carry as a file but fully determines — the DISTINCT
(l_partkey, l_suppkey) pairs plus two deterministic key-derived
measures (see the derived-partsupp comment mid-module), computed
identically in the Spark plan and the DuckDB oracle so the driver's
value hash attests the derivation itself.

Design notes:
- region/nation/part/customer are dimension-sided and broadcast; orders
  and lineitem are the fact sides and meet in AQE-managed shuffle joins
  on their natural keys (skew-split enabled in session.py).
- Every float sum is accumulated as DECIMAL(30,10) of the per-row term
  in BOTH engines (each term is a deterministic elementwise double
  product; decimal addition is exact and associative, so the rounded
  result is bit-identical regardless of partitioning — a plain double
  sum rounds differently across engines at half-cent boundaries).
- The one top-k query (Q10) carries a deterministic tiebreak
  (``c_custkey``) under the rounded sort key, per SURVEY.md §7.4.2.
- EXISTS / NOT EXISTS lower to semi/anti joins — never a correlated
  per-row subquery, never a cartesian (guarded in tests/test_plans.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..tables import table


def _ts(s: str):
    return F.lit(s).cast("timestamp")


@register(
    "x_tpch_q4_order_priority",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1996-04-01'
      AND EXISTS (
            SELECT 1 FROM lineitem l
            WHERE l.l_orderkey = o.o_orderkey
              AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    """,
)
def x_tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (order priority checking): orders placed in a quarter
    with at least one line item shipped more than 60 days after the
    order date, counted per priority.  Adaptation: the fixture has no
    ``l_commitdate``/``l_receiptdate``, so the lateness predicate is
    ``l_shipdate > o_orderdate + 60 days`` — same correlated-EXISTS
    shape, same selectivity role.

    Plan: the EXISTS lowers to ONE left-semi join on ``l_orderkey`` with
    the lateness inequality as a join residual — the quarter filter
    prunes the orders scan first, so the semi join probes only the
    quarter's orders; no correlated per-row subquery, no second pass."""
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-01-01"))
        & (F.col("o_orderdate") < _ts("1996-04-01"))
    )
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count("*").alias("order_count"))


@register(
    "x_tpch_q5_local_supplier_volume",
    oracle="""
    SELECT n_name,
           round(sum((l_extendedprice * (1 - l_discount))::DECIMAL(30,10)), 2)
               ::DOUBLE AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n_name
    """,
)
def x_tpch_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume): revenue from line items where
    the customer and supplier share a nation inside one region, per
    nation, for one order year — the suite's deepest join tree (six
    tables, snowflake + a fact-fact join).

    Plan: region→nation prunes FIRST (broadcast, 'ASIA' cuts nations
    5×), then customer and supplier join that pruned dim broadcast-side;
    the only data-sized shuffles are orders⋈lineitem on orderkey and the
    customer-supplier nation equality enforced as a residual on the
    already-joined row — Catalyst pushes ``r_name`` and the date range
    into the scans (PushedFilters), so the fact shuffle carries one
    filtered year, not the table."""
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = table(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    )
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-01-01"))
        & (F.col("o_orderdate") < _ts("1997-01-01"))
    )
    li = table(spark, sf_dir, "lineitem")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(s),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(30,10)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
    )


@register(
    "x_tpch_q6_forecast_revenue",
    oracle="""
    SELECT round(sum((l_extendedprice * l_discount)::DECIMAL(30,10)), 2)
               ::DOUBLE AS revenue,
           count(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def x_tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change): the revenue that would have
    been lost had discounts in a band been eliminated for one ship year —
    a pure selective scan aggregate, zero joins.

    Plan: ALL three predicates reach the parquet scan as PushedFilters
    and the scan reads exactly four columns (ReadSchema); the aggregate
    is a map-side partial + one single-row final.  This is the query
    shape where a columnar scan does all the work: it is bounded by
    I/O after row-group min/max skipping, nothing else."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= _ts("1996-01-01"))
            & (F.col("l_shipdate") < _ts("1997-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * F.col("l_discount")).cast(
                        "decimal(30,10)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@register(
    "x_tpch_q10_returned_items",
    oracle="""
    SELECT c_custkey, c_name,
           round(sum((l_extendedprice * (1 - l_discount))::DECIMAL(30,10)), 2)
               ::DOUBLE AS revenue,
           round(c_acctbal, 2) AS c_acctbal, n_name
    FROM customer, orders, lineitem, nation
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND c_nationkey = n_nationkey AND l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1996-04-01'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def x_tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned item reporting): the 20 customers who lost the
    most revenue to returned items in one quarter — the classic "who to
    call" churn report.

    Plan: return flag + date range push into the two fact scans, the
    orderkey fact-fact join shuffles only the quarter's returned lines,
    customer/nation ride in broadcast-side, and the top-20 is a TakeOrdered
    over the rounded sort key with ``c_custkey`` as the deterministic
    tiebreak (ties in rounded revenue would otherwise make the cut
    engine-dependent)."""
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-01-01"))
        & (F.col("o_orderdate") < _ts("1996-04-01"))
    )
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(30,10)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            F.round("c_acctbal", 2).alias("c_acctbal"),
            "n_name",
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@register(
    "x_tpch_q13_customer_distribution",
    oracle="""
    SELECT c_count, count(*) AS custdist
    FROM (
        SELECT c_custkey, count(o_orderkey) AS c_count
        FROM customer LEFT JOIN orders
          ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
        GROUP BY c_custkey
    )
    GROUP BY c_count
    """,
)
def x_tpch_q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer distribution): how many customers placed 0, 1,
    2… qualifying orders — the outer-join-then-histogram shape that
    catches engines that drop unmatched rows.  Adaptation: the original
    excludes orders by comment pattern; the fixture has no comment, so
    the exclusion is ``o_orderpriority <> '5-LOW'`` — same
    filter-inside-left-join semantics (the filter must NOT eliminate
    customers, only their orders).

    Plan: the filter rides IN the join condition (a WHERE would turn the
    outer join inner); ``count(o_orderkey)`` counts non-null matches so
    order-less customers land in the 0 bucket.  Two hash aggregates; the
    second groups on a cardinality-bounded key (distinct order counts),
    so the final shuffle is tiny."""
    c = table(spark, sf_dir, "customer").select("c_custkey")
    o = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderpriority"
    )
    per_cust = (
        c.join(
            o,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "5-LOW"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@register(
    "x_tpch_q14_promo_revenue",
    oracle="""
    SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0 END::DECIMAL(30,10))::DOUBLE
                 / sum((l_extendedprice * (1 - l_discount))
                       ::DECIMAL(30,10))::DOUBLE, 4)
               AS promo_revenue_pct
    FROM lineitem, part
    WHERE l_partkey = p_partkey
      AND l_shipdate >= TIMESTAMP '1996-09-01'
      AND l_shipdate < TIMESTAMP '1996-10-01'
    """,
)
def x_tpch_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect): promotional parts' share of one
    month's revenue.  Adaptation: fixture ``p_type`` is a plain category
    ('PROMO', 'ECONOMY', …), so the test is equality, not the original
    ``LIKE 'PROMO%'`` — same conditional-aggregate-ratio shape.

    Plan: date range pushes into the lineitem scan (one month survives),
    part is broadcast, and both the conditional and total sums ride ONE
    aggregate — the ratio is computed in the single-row final, not via
    two passes."""
    p = table(spark, sf_dir, "part").select("p_partkey", "p_type")
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-09-01"))
        & (F.col("l_shipdate") < _ts("1996-10-01"))
    )
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                100.0
                * F.sum(
                    F.when(F.col("p_type") == "PROMO", disc)
                    .otherwise(0.0)
                    .cast("decimal(30,10)")
                ).cast("double")
                / F.sum(disc.cast("decimal(30,10)")).cast("double"),
                4,
            ).alias("promo_revenue_pct")
        )
    )


@register(
    "x_tpch_q18_large_volume_customer",
    oracle="""
    SELECT c_custkey, c_name, o_orderkey, o_orderdate,
           round(o_totalprice, 2) AS o_totalprice,
           round(sum(l_quantity::DECIMAL(30,10)), 2)::DOUBLE AS sum_qty
    FROM customer, orders, lineitem
    WHERE c_custkey = o_custkey AND o_orderkey = l_orderkey
      AND o_orderkey IN (
          SELECT l_orderkey FROM lineitem
          GROUP BY l_orderkey HAVING sum(l_quantity) > 250)
    GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
    """,
)
def x_tpch_q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large volume customer): orders whose total quantity
    exceeds a threshold, with their customer — the HAVING-subquery-gated
    join shape.

    Plan: the gating aggregate (sum(l_quantity) per order, HAVING) runs
    once and semi-joins the fact ON THE SAME KEY the per-order aggregate
    just shuffled on, so AQE reuses the exchange; customers broadcast.
    The qualifying-order set is threshold-selective (<<1% of orders), so
    everything after the gate is small."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 250)
        .select("l_orderkey")
    )
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        li.join(big, "l_orderkey", "semi")
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(
            F.round(F.sum(F.col("l_quantity").cast("decimal(30,10)")), 2)
            .cast("double")
            .alias("sum_qty")
        )
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "sum_qty",
        )
    )


@register(
    "x_tpch_q19_discounted_revenue",
    oracle="""
    SELECT round(sum((l_extendedprice * (1 - l_discount))::DECIMAL(30,10)), 2)
               ::DOUBLE AS revenue,
           count(*) AS n_items
    FROM lineitem, part
    WHERE l_partkey = p_partkey
      AND ((p_brand = 'Brand#12' AND l_quantity BETWEEN 1 AND 11)
        OR (p_brand = 'Brand#3' AND l_quantity BETWEEN 10 AND 20)
        OR (p_brand = 'Brand#21' AND l_quantity BETWEEN 20 AND 30))
    """,
)
def x_tpch_q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (discounted revenue): revenue from three disjunctive
    brand × quantity-band baskets — the OR-of-ANDs predicate that
    separates engines that can only push conjunctions.  Adaptation: the
    fixture part has no container/size combinations rich enough for the
    original triple, so the disjunction is brand × quantity bands.

    Plan: part is broadcast; the disjunction evaluates as the join
    residual in one codegen stage.  The quantity bounds (1..30 overall)
    still push to the lineitem scan as a covering range predicate —
    Catalyst derives ``l_quantity >= 1 AND l_quantity <= 30`` from the
    disjunction, so row groups outside the hull are skipped even though
    the full predicate is per-brand."""
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    li = table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    basket = (
        ((F.col("p_brand") == "Brand#12") & q.between(1, 11))
        | ((F.col("p_brand") == "Brand#3") & q.between(10, 20))
        | ((F.col("p_brand") == "Brand#21") & q.between(20, 30))
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .filter(basket)
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(30,10)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@register(
    "x_tpch_q22_global_sales_opportunity",
    oracle="""
    WITH pos AS (
        SELECT sum(c_acctbal::DECIMAL(30,10))::DOUBLE / count(*) AS a
        FROM customer WHERE c_acctbal > 0
    )
    SELECT n_name, count(*) AS numcust,
           round(sum(c_acctbal::DECIMAL(30,10)), 2)::DOUBLE AS totacctbal
    FROM customer c, nation, pos
    WHERE c.c_nationkey = n_nationkey AND c.c_acctbal > pos.a
      AND NOT EXISTS (
          SELECT 1 FROM orders o
          WHERE o.o_custkey = c.c_custkey
            AND o.o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY n_name
    """,
)
def x_tpch_q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (global sales opportunity): well-funded customers who
    have gone quiet — above-average account balance, no recent orders —
    counted per market.  Adaptation: the fixture has no ``c_phone``, so
    the market is the customer's nation and "no orders" is scoped to the
    recent window (every fixture customer has SOME order), preserving
    the scalar-subquery + NOT-EXISTS + aggregate composition.

    Plan: the positive-balance average is ONE scalar computed in a
    single-row aggregate and broadcast into the filter (no per-row
    subquery); NOT EXISTS lowers to a left-anti join against the
    date-pruned orders projection; nation broadcasts.  Anti-join input
    is already average-filtered, so the shuffle carries only the
    above-average slice."""
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    # decimal-exact average: the threshold is a comparison boundary, so a
    # parallel double sum (order-dependent in the last ulp) could flip a
    # customer across engines/runs; exact sum / exact count is identical
    # everywhere
    pos_avg = c.filter(F.col("c_acctbal") > 0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(30,10)")).cast("double")
            / F.count("*")
        ).alias("a")
    )
    recent = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= _ts("2000-01-01"))
        .select("o_custkey")
    )
    return (
        c.join(F.broadcast(pos_avg))
        .filter(F.col("c_acctbal") > F.col("a"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "anti")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum(F.col("c_acctbal").cast("decimal(30,10)")), 2)
            .cast("double")
            .alias("totacctbal"),
        )
    )


@register(
    "x_tpch_q7_volume_shipping",
    oracle="""
    SELECT supp_nation, cust_nation, l_year,
           round(sum(volume), 2)::DOUBLE AS revenue
    FROM (
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               year(l_shipdate) AS l_year,
               (l_extendedprice * (1 - l_discount))::DECIMAL(30,10) AS volume
        FROM supplier, lineitem, orders, customer, nation n1, nation n2
        WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
          AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
          AND c_nationkey = n2.n_nationkey
          AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
               OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
          AND l_shipdate >= TIMESTAMP '1995-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def x_tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping): bilateral trade volume between two
    nations per shipment year — the self-joined-dimension shape (nation
    appears TWICE, once through supplier, once through customer) with a
    disjunctive cross-pair predicate.  Adaptation: fixture nation names.

    Plan: both nation copies broadcast (25 rows each) onto supplier and
    customer, which themselves broadcast onto the fact join; the
    disjunctive pair filter is evaluated as a residual on the joined row
    (it references BOTH sides, so no single scan can absorb it — but the
    per-side IN ('NATION_1','NATION_2') implication is pushed into each
    broadcast dim, shrinking supplier/customer ~12.5× before the fact
    join).  The only data-sized shuffle is orders⋈lineitem."""
    two = ["NATION_1", "NATION_2"]
    n = table(spark, sf_dir, "nation").filter(F.col("n_name").isin(two))
    s = (
        table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(n.select(
                F.col("n_nationkey").alias("sn_key"),
                F.col("n_name").alias("supp_nation"),
            )),
            F.col("s_nationkey") == F.col("sn_key"),
        )
        .select("s_suppkey", "supp_nation")
    )
    c = (
        table(spark, sf_dir, "customer")
        .join(
            F.broadcast(n.select(
                F.col("n_nationkey").alias("cn_key"),
                F.col("n_name").alias("cust_nation"),
            )),
            F.col("c_nationkey") == F.col("cn_key"),
        )
        .select("c_custkey", "cust_nation")
    )
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1995-01-01"))
        & (F.col("l_shipdate") < _ts("1997-01-01"))
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(30,10)"
    )
    return (
        li.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(c), F.col("c_custkey") == F.col("o_custkey"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .groupBy(
            "supp_nation", "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(F.round(F.sum(vol), 2).cast("double").alias("revenue"))
    )


@register(
    "x_tpch_q8_market_share",
    oracle="""
    SELECT o_year,
           round(sum(CASE WHEN nation = 'NATION_2' THEN volume
                          ELSE 0 END)::DOUBLE
                 / sum(volume)::DOUBLE, 6) AS mkt_share
    FROM (
        SELECT year(o_orderdate) AS o_year,
               (l_extendedprice * (1 - l_discount))::DECIMAL(30,10)
                   AS volume,
               n2.n_name AS nation
        FROM part, supplier, lineitem, orders, customer,
             nation n1, nation n2, region
        WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
          AND l_orderkey = o_orderkey AND o_custkey = c_custkey
          AND c_nationkey = n1.n_nationkey
          AND n1.n_regionkey = r_regionkey AND r_name = 'ASIA'
          AND s_nationkey = n2.n_nationkey
          AND o_orderdate >= TIMESTAMP '1995-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
          AND p_type = 'ECONOMY'
    ) all_nations
    GROUP BY o_year
    """,
)
def x_tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share): one supplier nation's share of
    a part type's revenue sold into one region, per order year — the
    eight-table snowflake with a conditional-share final.  Adaptation:
    fixture nation/part-type domains; two-year window inside the fixture
    date range.

    Plan: region→nation(customer side) prunes to one region broadcast-
    side; part's type filter pushes into its scan and broadcasts; the
    supplier nation rides a second broadcast copy of nation.  Share and
    total ride ONE aggregate (conditional sum / sum) — never two passes
    over the joined fact."""
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n1 = table(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    )
    c = (
        table(spark, sf_dir, "customer")
        .join(
            F.broadcast(n1.select(F.col("n_nationkey").alias("cn_key"))),
            F.col("c_nationkey") == F.col("cn_key"),
        )
        .select("c_custkey")
    )
    n2 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("nation")
    )
    s = (
        table(spark, sf_dir, "supplier")
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("sn_key"))
        .select("s_suppkey", "nation")
    )
    p = table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1995-01-01"))
        & (F.col("o_orderdate") < _ts("1997-01-01"))
    )
    li = table(spark, sf_dir, "lineitem")
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(30,10)"
    )
    joined = (
        li.join(F.broadcast(p.select("p_partkey")), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
    )
    return joined.groupBy(F.year("o_orderdate").alias("o_year")).agg(
        F.round(
            F.sum(F.when(F.col("nation") == "NATION_2", vol).otherwise(
                F.lit(0).cast("decimal(30,10)")
            )).cast("double")
            / F.sum(vol).cast("double"),
            6,
        ).alias("mkt_share")
    )


@register(
    "x_tpch_q12_shipmode_priority",
    oracle="""
    SELECT l_returnflag,
           sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
           sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END)::BIGINT AS low_line_count
    FROM orders, lineitem
    WHERE o_orderkey = l_orderkey
      AND l_shipdate > o_orderdate + INTERVAL 90 DAY
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY l_returnflag
    """,
)
def x_tpch_q12_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 (shipping modes and order priority): among one year's
    LATE shipments, per category, how many carried high- vs low-priority
    orders — the conditional-count pair over a fact-fact join.
    Adaptation: the fixture has no ``l_shipmode``/``l_commitdate``/
    ``l_receiptdate``, so the category is ``l_returnflag`` and "late" is
    ``l_shipdate > o_orderdate + 90 days`` — same shape: a lateness
    inequality joining the two facts, a year filter on the line side,
    and two complementary conditional counts.

    Plan: the year range pushes into the lineitem scan; the lateness
    predicate is a join residual on the orderkey shuffle join; both
    counts ride ONE aggregate."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") < _ts("1997-01-01"))
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(
            o,
            (F.col("o_orderkey") == F.col("l_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")),
        )
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).cast("bigint").alias("low_line_count"),
        )
    )


@register(
    "x_tpch_q15_top_supplier",
    oracle="""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               round(sum((l_extendedprice * (1 - l_discount))
                         ::DECIMAL(30,10)), 2)::DOUBLE AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier, revenue
    WHERE s_suppkey = supplier_no
      AND total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
)
def x_tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): the supplier(s) with maximum revenue in
    one quarter — the aggregate-then-scalar-subquery-over-the-aggregate
    shape (the original's CREATE VIEW used twice).

    Plan: ONE hash aggregate builds the per-supplier revenue frame; the
    max is a 1-row aggregate OF that frame joined back broadcast-nested-
    loop (1 row, zero data motion), so the quarter's lineitem is scanned
    once — not once per subquery mention.  Revenue is rounded to cents
    BEFORE the max comparison in both engines, so the equality is exact
    cross-engine.  Supplier is dimension-sided and broadcasts."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") < _ts("1996-04-01"))
    )
    rev = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(30,10)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("total_revenue")
        )
        # rev feeds both the max subquery and the final join: materialize
        # the supplier-grain frame once so the quarter's lineitem really
        # IS scanned a single time (as the docstring promises)
        .localCheckpoint()
    )
    mx = rev.agg(F.max("total_revenue").alias("max_revenue"))
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(mx), F.col("total_revenue") == F.col("max_revenue"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("supplier_no"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "x_tpch_q17_small_quantity_revenue",
    oracle="""
    SELECT round(sum(l_extendedprice::DECIMAL(30,10))::DOUBLE / 7.0, 2)
               AS avg_yearly
    FROM lineitem, part
    WHERE p_partkey = l_partkey
      AND p_brand = 'Brand#1' AND p_size < 10
      AND l_quantity < (
          SELECT 0.2 * avg(l_quantity) FROM lineitem l2
          WHERE l2.l_partkey = lineitem.l_partkey)
    """,
)
def x_tpch_q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue): yearly revenue lost if
    small orders (below 20% of a part's average quantity) were not
    filled, for one brand — the correlated scalar subquery whose
    decorrelation is a per-key aggregate joined back.  Adaptation: the
    fixture has no ``p_container``, so the second part predicate is
    ``p_size < 10``.

    Plan: the subquery decorrelates into ONE hash aggregate of lineitem
    grouped by partkey — but only over the brand's parts: the broadcast
    part dim semi-prunes the aggregate's input BEFORE it runs, so the
    avg is computed for the ~1/25 of parts that can match, not the whole
    catalog (the classic Q17 rewrite).  Quantities are small exact
    integers in double, so 0.2*avg is bit-identical cross-engine; the
    revenue sum is decimal-exact."""
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#1") & (F.col("p_size") < 10)
    ).select("p_partkey")
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    pruned = li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    thresh = pruned.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        (0.2 * F.avg("l_quantity")).alias("qty_cap")
    )
    return (
        pruned.join(
            thresh,
            (F.col("l_partkey") == F.col("t_partkey"))
            & (F.col("l_quantity") < F.col("qty_cap")),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(30,10)")).cast(
                    "double"
                )
                / 7.0,
                2,
            ).alias("avg_yearly")
        )
    )


@register(
    "x_tpch_q21_waiting_suppliers",
    oracle="""
    SELECT s_name, count(*) AS numwait
    FROM supplier, lineitem l1, orders, nation
    WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
      AND o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND EXISTS (
          SELECT 1 FROM lineitem l2
          WHERE l2.l_orderkey = l1.l_orderkey
            AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
          SELECT 1 FROM lineitem l3, orders o3
          WHERE l3.l_orderkey = l1.l_orderkey
            AND l3.l_suppkey <> l1.l_suppkey
            AND o3.o_orderkey = l3.l_orderkey
            AND l3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAY)
      AND s_nationkey = n_nationkey AND n_name = 'NATION_3'
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
)
def x_tpch_q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (suppliers who kept orders waiting): suppliers in one
    nation who were the ONLY late supplier on a finished multi-supplier
    order — the suite's hardest correlation shape: a semi join (some
    other supplier participated) AND an anti join (no other supplier was
    late) over the same fact.  Adaptation: no
    ``l_commitdate``/``l_receiptdate`` in the fixture, so "late" is
    ``l_shipdate > o_orderdate + 60 days``, with the order date riding
    the already-required orders join.

    Plan: nation prunes supplier broadcast-side (~1/25); the late-l1
    frame joins orders once (status filter pushed into the scan); the
    EXISTS lowers to a left-semi and the NOT EXISTS to a left-anti on
    ``l_orderkey`` with the supplier-inequality (and lateness) as join
    residuals — three shuffles on the same key, which AQE coalesces into
    one exchange reuse; no correlated per-row execution.  The final
    top-20 is TakeOrderedAndProject with the s_name tiebreak."""
    n = table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    s = (
        table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name")
    )
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    l1 = (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(late)
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
    )
    l2 = li.select(
        F.col("l_orderkey").alias("l2_orderkey"),
        F.col("l_suppkey").alias("l2_suppkey"),
    )
    # late lines of OTHER suppliers: join lineitem back to finished orders
    l3 = (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(late)
        .select(
            F.col("l_orderkey").alias("l3_orderkey"),
            F.col("l_suppkey").alias("l3_suppkey"),
        )
    )
    waited = (
        l1.join(
            l2,
            (F.col("l2_orderkey") == F.col("l_orderkey"))
            & (F.col("l2_suppkey") != F.col("l_suppkey")),
            "semi",
        )
        .join(
            l3,
            (F.col("l3_orderkey") == F.col("l_orderkey"))
            & (F.col("l3_suppkey") != F.col("l_suppkey")),
            "anti",
        )
    )
    return (
        waited.groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Derived partsupp (round 16): the five remaining TPC-H shapes — Q2, Q9,
# Q11, Q16, Q20 — all need ``partsupp``, which the fixture does not carry.
# The relationship it models IS present in the data: every lineitem row
# names a (l_partkey, l_suppkey) pair, so the part-supplier dimension is
# the DISTINCT pair set observed in the fact table, and the two missing
# measures are deterministic integer functions of the keys (computed
# IDENTICALLY in the Spark plan and the DuckDB oracle, so the driver's
# value-hash verifies the whole derivation end-to-end):
#
#   ps_availqty   = (47*ps_partkey + 31*ps_suppkey) % 100   + 1   (1..100)
#   ps_supplycost = ((13*ps_partkey + 7*ps_suppkey) % 90000
#                    + 10000) / 100.0                 (100.00..999.99)
#
# Both engines evaluate % on non-negative BIGINTs and one exact IEEE
# division by 100.0, so the derived columns are bit-identical.  Deriving
# from lineitem (rather than dbgen's 4-suppliers-per-part formula, which
# the fixture's pairs do NOT follow) keeps Q9's spec shape: every
# lineitem row finds exactly one partsupp row.
#
# Cost: the derivation is one DISTINCT over two int64 columns,
# built ONCE per session and shared by all five consumers (session_cache) —
# partial map-side dedup, 16-byte exchange rows, no payload; downstream
# joins are pair- or part-grain.  At fixture scale the pair set is ~0.86x
# the fact rows; at warehouse scale it is sublinear in lineitem (pairs
# repeat across orders).

_PSUPP_SQL = """
    psupp AS (
        SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
               ((l_partkey * 47 + l_suppkey * 31) % 100) + 1 AS ps_availqty,
               ((l_partkey * 13 + l_suppkey * 7) % 90000 + 10000) / 100.0
                   AS ps_supplycost
        FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
    )
"""


def _partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The derived part-supplier dimension (see module comment above).

    Session-shared: five queries consume the same derivation, so the
    DISTINCT-over-lineitem runs once per (session, fixture) and the
    checkpointed pair frame is reused — the same once-per-session
    discipline the shingle/pair frames use (``session_cache``).  The
    derivation is deterministic (distinct + integer arithmetic), so
    cached-vs-fresh results are bit-identical."""
    from ..session_cache import session_shared

    def build() -> DataFrame:
        pairs = (
            table(spark, sf_dir, "lineitem")
            .select("l_partkey", "l_suppkey")
            .distinct()
        )
        pk, sk = F.col("l_partkey"), F.col("l_suppkey")
        return pairs.select(
            pk.alias("ps_partkey"),
            sk.alias("ps_suppkey"),
            ((pk * 47 + sk * 31) % 100 + 1).alias("ps_availqty"),
            (((pk * 13 + sk * 7) % 90000 + 10000) / 100.0).alias(
                "ps_supplycost"
            ),
        )

    return session_shared(spark, sf_dir, "tpch_partsupp", build)


@register(
    "x_tpch_q2_minimum_cost_supplier",
    oracle=f"""
    WITH {_PSUPP_SQL},
    cand AS (
        SELECT ps_partkey, ps_supplycost, s_acctbal, s_name, n_name,
               p_partkey, p_brand
        FROM psupp, supplier, nation, region, part
        WHERE ps_suppkey = s_suppkey AND s_nationkey = n_nationkey
          AND n_regionkey = r_regionkey AND r_name = 'ASIA'
          AND p_partkey = ps_partkey
          AND p_size <= 25 AND p_type LIKE '%ANDARD'
    ),
    min_cost AS (
        SELECT ps_partkey AS m_partkey, min(ps_supplycost) AS min_sc
        FROM cand GROUP BY ps_partkey
    )
    SELECT round(s_acctbal, 2) AS s_acctbal, s_name, n_name, p_partkey,
           p_brand, round(ps_supplycost, 2) AS ps_supplycost
    FROM cand, min_cost
    WHERE m_partkey = ps_partkey AND ps_supplycost = min_sc
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
)
def x_tpch_q2_minimum_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 (minimum cost supplier): for each qualifying part, the
    supplier in a region offering it at the lowest supply cost — the
    correlated-MIN-subquery shape, decorrelated as aggregate + equality
    join back.  Adaptations: partsupp is the derived dimension (module
    comment above); fixture part has no ``p_mfgr``, so the report carries
    ``p_brand``; parts are uniform over 50 sizes x 6 types (a single
    spec-style (size, type) cell holds ~7 parts), so the size predicate
    is a range (``p_size <= 25``) to keep the LIMIT-100 top-k
    load-bearing.

    Plan: region -> nation -> supplier broadcast-prune the pair set; the
    filtered part dim broadcasts onto it; the per-part MIN groups on
    ``ps_partkey`` and joins back on (partkey, cost) — the equality join
    is exact because ps_supplycost is injective in ps_suppkey for a
    fixed part over any supplier-key span below 90000 (gcd(7, 90000)=1,
    so 7*ds ≡ 0 mod 90000 only at ds multiples of 90000 — property-
    tested in tests/test_tpch.py, and far beyond any fixture span).
    The top-100 is TakeOrderedAndProject under the unique
    (acctbal desc, nation, supplier, part) key, never a global sort."""
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    s = (
        table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_acctbal", "s_name", "n_name")
    )
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_size") <= 25) & F.col("p_type").like("%ANDARD")
    ).select("p_partkey", "p_brand")
    cand = (
        _partsupp(spark, sf_dir)
        .join(F.broadcast(s), F.col("ps_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(p), F.col("p_partkey") == F.col("ps_partkey"))
    )
    min_cost = cand.groupBy(F.col("ps_partkey").alias("m_partkey")).agg(
        F.min("ps_supplycost").alias("min_sc")
    )
    return (
        cand.join(
            min_cost,
            (F.col("m_partkey") == F.col("ps_partkey"))
            & (F.col("ps_supplycost") == F.col("min_sc")),
        )
        .select(
            F.round("s_acctbal", 2).alias("s_acctbal"),
            "s_name",
            "n_name",
            "p_partkey",
            "p_brand",
            F.round("ps_supplycost", 2).alias("ps_supplycost"),
        )
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@register(
    "x_tpch_q9_product_type_profit",
    oracle=f"""
    WITH {_PSUPP_SQL}
    SELECT nation, o_year, round(sum(amount), 2)::DOUBLE AS sum_profit
    FROM (
        SELECT n_name AS nation, year(o_orderdate) AS o_year,
               (l_extendedprice * (1 - l_discount)
                - ps_supplycost * l_quantity)::DECIMAL(30,10) AS amount
        FROM part, supplier, lineitem, psupp, orders, nation
        WHERE s_suppkey = l_suppkey
          AND ps_suppkey = l_suppkey AND ps_partkey = l_partkey
          AND p_partkey = l_partkey AND o_orderkey = l_orderkey
          AND s_nationkey = n_nationkey
          AND p_name LIKE '%red%'
    ) profit
    GROUP BY nation, o_year
    """,
)
def x_tpch_q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (product type profit): profit on a product line —
    revenue minus supply cost — by supplier nation and order year, the
    suite's widest join (six tables, lineitem joined on THREE different
    keys).  Adaptations: derived partsupp (module comment); the product
    line is ``p_name LIKE '%red%'`` (the fixture's color vocabulary has
    no 'green').

    Plan: the name-filtered part dim broadcasts and prunes lineitem
    first (~13% survives); the pair-grain partsupp joins on the
    composite (partkey, suppkey) — pair-grain, so AQE broadcasts it at
    test scale and shuffle-joins at warehouse scale; supplier+nation
    broadcast; the one unavoidable fact-fact exchange is the orders join
    on ``l_orderkey``.  Profit terms are per-row doubles (deterministic
    elementwise IEEE ops) accumulated as DECIMAL(30,10), the suite's
    exact-sum convention."""
    p = table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%")).select(
        "p_partkey"
    )
    sn = (
        table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(table(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "n_name")
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_quantity", "l_extendedprice", "l_discount",
    )
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("ps_supplycost") * F.col("l_quantity")
    ).cast("decimal(30,10)")
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(
            _partsupp(spark, sf_dir),
            (F.col("ps_partkey") == F.col("l_partkey"))
            & (F.col("ps_suppkey") == F.col("l_suppkey")),
        )
        .join(F.broadcast(sn), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
            amount.alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(F.round(F.sum("amount"), 2).cast("double").alias("sum_profit"))
    )


@register(
    "x_tpch_q11_important_stock",
    oracle=f"""
    WITH {_PSUPP_SQL},
    val AS (
        SELECT ps_partkey, ps_supplycost * ps_availqty AS v
        FROM psupp, supplier, nation
        WHERE ps_suppkey = s_suppkey AND s_nationkey = n_nationkey
          AND n_name = 'NATION_15'
    ),
    tot AS (SELECT sum(v::DECIMAL(30,10))::DOUBLE AS total,
                   count(DISTINCT ps_partkey) AS n_parts FROM val)
    SELECT ps_partkey, round(sum(v::DECIMAL(30,10)), 2)::DOUBLE AS value
    FROM val, tot
    GROUP BY ps_partkey, tot.total, tot.n_parts
    HAVING sum(v::DECIMAL(30,10))::DOUBLE > 2.0 * tot.total / tot.n_parts
    """,
)
def x_tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (important stock identification): parts whose stock
    value held by one nation's suppliers exceeds a fraction of that
    nation's total stock value — the scalar-subquery-threshold HAVING
    shape.  Adaptations: derived partsupp (module comment); fixture
    nation names; the spec's fraction is 0.0001/SF — scale-DEPENDENT by
    design, which a query can't know — so the threshold here is the
    self-normalizing equivalent, 2x the nation's AVERAGE per-part value
    (a fixed fraction goes vacuous as the part universe grows: 0.001
    kept 215 parts at sf0.01 and ZERO at sf0.1, caught by the r16 scale
    stress).

    Plan: nation->supplier broadcast-prunes the pair set to one nation
    (~1/25); ONE shuffle groups value by part; the nation total and the
    part count are a single-row aggregate broadcast into the HAVING
    filter (never a per-row subquery, never a second scan of the pair
    set — the val frame feeds both aggregates).  Both engines
    accumulate the per-row double terms as DECIMAL(30,10), so the
    threshold comparison sees bit-identical doubles on a boundary."""
    sn = (
        table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                table(spark, sf_dir, "nation").filter(
                    F.col("n_name") == "NATION_15"
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    val = (
        _partsupp(spark, sf_dir)
        .join(F.broadcast(sn), F.col("ps_suppkey") == F.col("s_suppkey"))
        .select(
            "ps_partkey",
            (F.col("ps_supplycost") * F.col("ps_availqty"))
            .cast("decimal(30,10)")
            .alias("v"),
        )
    )
    tot = val.agg(
        F.sum("v").cast("double").alias("total"),
        F.countDistinct("ps_partkey").alias("n_parts"),
    )
    return (
        val.groupBy("ps_partkey")
        .agg(F.sum("v").alias("v_sum"))
        .join(F.broadcast(tot))
        .filter(
            F.col("v_sum").cast("double")
            > 2.0 * F.col("total") / F.col("n_parts")
        )
        .select(
            "ps_partkey",
            F.round("v_sum", 2).cast("double").alias("value"),
        )
    )


@register(
    "x_tpch_q16_parts_supplier_relationship",
    oracle=f"""
    WITH {_PSUPP_SQL}
    SELECT p_brand, p_type, p_size,
           count(DISTINCT ps_suppkey) AS supplier_cnt
    FROM psupp, part
    WHERE p_partkey = ps_partkey
      AND p_brand <> 'Brand#21' AND p_type <> 'MEDIUM'
      AND p_size IN (1, 4, 9, 16, 25, 36, 49)
      AND ps_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    """,
)
def x_tpch_q16_parts_supplier_relationship(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q16 (parts/supplier relationship): how many suppliers can
    provide each surviving (brand, type, size) combination, excluding
    blacklisted suppliers — the NOT-IN + COUNT-DISTINCT shape.
    Adaptations: derived partsupp (module comment); the fixture supplier
    has no ``s_comment``, so the spec's complaint blacklist is
    ``s_acctbal < 0`` (same rare-exclusion role); spec-style seven-value
    size list.

    Plan: the brand/type/size filter broadcasts part onto the pair set;
    the NOT IN lowers to a broadcast left-ANTI join against the
    (non-null, tiny) blacklist — never a per-row subquery; COUNT
    DISTINCT shuffles once on the (brand, type, size) group key with
    partial per-partition dedup."""
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#21")
        & (F.col("p_type") != "MEDIUM")
        & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    bad = table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        _partsupp(spark, sf_dir)
        .join(F.broadcast(p), F.col("p_partkey") == F.col("ps_partkey"))
        .join(
            F.broadcast(bad),
            F.col("ps_suppkey") == F.col("s_suppkey"),
            "anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
    )


@register(
    "x_tpch_q20_potential_part_promotion",
    oracle=f"""
    WITH {_PSUPP_SQL},
    shipped AS (
        SELECT l_partkey, l_suppkey,
               0.5 * sum(l_quantity::DECIMAL(30,10))::DOUBLE AS half_qty
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1998-01-01'
        GROUP BY l_partkey, l_suppkey
    )
    SELECT s_name FROM supplier, nation
    WHERE s_suppkey IN (
        SELECT ps_suppkey FROM psupp, shipped
        WHERE ps_partkey = l_partkey AND ps_suppkey = l_suppkey
          AND ps_partkey IN (
              SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
          AND ps_availqty > half_qty
    ) AND s_nationkey = n_nationkey AND n_name = 'NATION_15'
    """,
)
def x_tpch_q20_potential_part_promotion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q20 (potential part promotion): suppliers in one nation
    holding surplus stock (availqty above half of what they shipped in a
    year) of a named part family — the nested IN-chain shape (supplier
    IN partsupp IN part, with a correlated per-pair shipping aggregate).
    Adaptations: derived partsupp (module comment); part family
    ``'small%'`` (no 'forest' in the fixture vocabulary); fixture nation
    names.  A pair that shipped nothing in the window yields a NULL
    aggregate in the spec and is excluded — the inner join on the
    aggregated year reproduces exactly that.

    Plan: the year aggregate groups lineitem on the SAME composite key
    the pair-set DISTINCT shuffles on — at test scale AQE broadcasts
    the (smaller, year-filtered) aggregate into the pair join, and at
    warehouse scale both sides are already hash-partitioned on
    (partkey, suppkey), so the join adds no exchange beyond the two the
    derivation itself owns in either regime; the part-family IN
    lowers to a broadcast left-SEMI join; qualifying pair -> supplier is
    a second semi join, so each supplier surfaces once; nation
    broadcasts.  No correlated per-row subquery anywhere."""
    shipped = (
        table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= _ts("1997-01-01"))
            & (F.col("l_shipdate") < _ts("1998-01-01"))
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            (
                F.lit(0.5)
                * F.sum(F.col("l_quantity").cast("decimal(30,10)")).cast(
                    "double"
                )
            ).alias("half_qty")
        )
    )
    small = table(spark, sf_dir, "part").filter(
        F.col("p_name").like("small%")
    ).select("p_partkey")
    qualifying = (
        _partsupp(spark, sf_dir)
        .join(
            shipped,
            (F.col("ps_partkey") == F.col("l_partkey"))
            & (F.col("ps_suppkey") == F.col("l_suppkey")),
        )
        .join(F.broadcast(small), F.col("ps_partkey") == F.col("p_partkey"), "semi")
        .filter(F.col("ps_availqty") > F.col("half_qty"))
        .select("ps_suppkey")
    )
    n = table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_15")
    return (
        table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(qualifying, F.col("s_suppkey") == F.col("ps_suppkey"), "semi")
        .select("s_name")
    )
