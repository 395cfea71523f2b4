"""Relational core (SURVEY.md §2.2 projections/filters, §2.3 joins,
§2.4 aggregations, §2.6 limits/sorts/set-ops) plus the §2.9 relational
extension surface (join family, agg family, windows, top-k, set ops,
array functions, pandas-UDF surface).

Design notes:
- Dimension sides of joins are broadcast (`F.broadcast`) — region/nation/
  customer/supplier/part are dims in this star schema; fact-fact joins go
  through AQE-managed shuffle with skew-join splitting enabled (session.py).
- Aggregates are plain hash aggregates on natural keys: Catalyst supplies
  the partial (map-side) aggregation split automatically.
- Floating aggregates are rounded IN THE QUERY (both engines accumulate in
  parallel, so last-ulp sum order differences are expected; rounding is the
  contract, matching the oracle's rounding).
- Anything order-sensitive (LIMIT / first-match / top-k) carries a total
  deterministic order via a unique tiebreak key (SURVEY.md §7.4.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import register
from ..session_cache import session_shared as _session_shared
from ..tables import local_frame, table

# ---------------------------------------------------------------------------
# §2.2 Projections / filters / predicates
# ---------------------------------------------------------------------------


@register(
    "proj_alias_literal",
    oracle="""
    SELECT c_name, c_custkey, c_name AS init_name, 'Delman' AS loc
    FROM customer
    """,
)
def proj_alias_literal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection with rename + constant column — the reference's
    `SELECT [name],[id],[name] as init_name,'Delman' AS [loc]`
    (Job Cek Script/app.py:72)."""
    return table(spark, sf_dir, "customer").select(
        "c_name",
        "c_custkey",
        F.col("c_name").alias("init_name"),
        F.lit("Delman").alias("loc"),
    )


@register(
    "proj_nested_field",
    oracle="""
    SELECT o_orderkey AS node_src, l_linenumber AS node_id,
           l_returnflag AS node_type
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    """,
)
def proj_nested_field(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-document access (`response['data']['nodes']` → per-node
    fields, sync.py:51,54): build the array-of-structs document shape from
    lineitem (`collect_list(struct(...))`), then `explode` + dot-path —
    the declarative twin of iterating a JSON nodes array."""
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    docs = (
        orders.join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderkey")
        .agg(
            F.collect_list(
                F.struct(
                    F.col("l_linenumber").alias("id"),
                    F.col("l_returnflag").alias("type"),
                )
            ).alias("nodes")
        )
    )
    node = F.explode("nodes").alias("node")
    return docs.select(F.col("o_orderkey").alias("node_src"), node).select(
        "node_src",
        F.col("node.id").alias("node_id"),
        F.col("node.type").alias("node_type"),
    )


@register(
    "flt_neq_const",
    oracle="SELECT event_id, event_type FROM events WHERE event_type <> 'view'",
)
def flt_neq_const(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inequality row filter (`type != "next"`, sync.py:52)."""
    return table(spark, sf_dir, "events").filter(
        F.col("event_type") != "view"
    ).select("event_id", "event_type")


@register(
    "flt_not_null",
    oracle="""
    SELECT o_orderkey, o_custkey FROM orders
    WHERE o_custkey IS NOT NULL
    """,
)
def flt_not_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-key guard before the expensive per-key work (app.py:118,171)."""
    return table(spark, sf_dir, "orders").filter(
        F.col("o_custkey").isNotNull()
    ).select("o_orderkey", "o_custkey")


@register(
    "flt_not_in_list",
    oracle="""
    SELECT event_id, event_type FROM events
    WHERE NOT (event_type IN ('click','purchase','view','signup')
               OR event_type IS NULL)
    """,
)
def flt_not_in_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitelist-with-None error predicate (`status not in
    ["SUCCESS", None, ...]`, app.py:113,188).  Python's `not in` is
    2-valued; SQL `NOT IN (NULL, ...)` is 3-valued — the faithful mapping
    is `~(isin(non_null) | isNull())` (SURVEY.md §7.4.1)."""
    t = F.col("event_type")
    return table(spark, sf_dir, "events").filter(
        ~(t.isin("click", "purchase", "view", "signup") | t.isNull())
    ).select("event_id", "event_type")


@register(
    "flt_nonempty_guard",
    oracle="""
    SELECT user_id, count(*) AS n_err FROM events
    WHERE event_type = 'error' GROUP BY user_id HAVING count(*) > 0
    """,
)
def flt_nonempty_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Branch on non-empty fetched collection (`if data:`, app.py:133,169)
    → conditional COUNT per key, keep keys with count > 0.  O(1) aggregate
    state per group (a collect_list + size formulation holds the whole
    group in memory — a per-group memory bomb under key skew at scale)."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .agg(F.count(F.when(F.col("event_type") == "error", 1)).alias("n_err"))
        .filter(F.col("n_err") > 0)
    )


@register(
    "flt_key_membership",
    oracle="""
    SELECT event_id, json_extract_string(props, '$.k') IS NOT NULL AS has_k,
           json_extract_string(props, '$.missing') IS NOT NULL AS has_missing
    FROM events
    """,
)
def flt_key_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-shape discrimination by key presence (`'day_of_week' in
    repeat_period`, app.py:138) → JSON-path null test."""
    return table(spark, sf_dir, "events").select(
        "event_id",
        F.get_json_object("props", "$.k").isNotNull().alias("has_k"),
        F.get_json_object("props", "$.missing").isNotNull().alias("has_missing"),
    )


# ---------------------------------------------------------------------------
# §2.3 Joins (reference-shaped)
# ---------------------------------------------------------------------------


@register(
    "join_point_lookup",
    oracle="""
    SELECT o_orderkey, o_custkey, c_name, c_mktsegment
    FROM orders LEFT JOIN customer ON o_custkey = c_custkey
    """,
)
def join_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row keyed fetch loop (app.py:115-217) = left-outer equi join;
    the dim side is broadcast — a broadcast hash join, no shuffle of the
    fact table."""
    orders = table(spark, sf_dir, "orders")
    customer = table(spark, sf_dir, "customer")
    return orders.join(
        F.broadcast(customer), orders.o_custkey == customer.c_custkey, "left"
    ).select("o_orderkey", "o_custkey", "c_name", "c_mktsegment")


@register(
    "join_memo_dedup",
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey AS k, count(*) AS n_orders,
             round(sum(o_totalprice), 2) AS spend
      FROM orders GROUP BY o_custkey
    )
    SELECT o_orderkey, o_custkey, n_orders, spend
    FROM orders JOIN per_cust ON o_custkey = k
    """,
)
def join_memo_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoize expensive work per distinct key, reuse for duplicates
    (`explored` defaultdict, app.py:112,119-122,218) → dedup-before-work +
    re-join.  Catalyst analog of the reference's cache: compute once per
    key (one hash aggregate), broadcast-or-shuffle join back."""
    orders = table(spark, sf_dir, "orders")
    per_cust = orders.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("spend"),
    )
    return orders.join(per_cust, orders.o_custkey == per_cust.k).select(
        "o_orderkey", "o_custkey", "n_orders", "spend"
    )


@register(
    "join_url_construct",
    oracle="""
    SELECT o_orderkey,
           'https://api.example/nodes/' || o_orderkey || '/sync' AS url
    FROM orders
    """,
)
def join_url_construct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key → endpoint mapping by concat (sync.py:38,55) — the projection
    feeding the point-lookup join."""
    return table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.concat(
            F.lit("https://api.example/nodes/"),
            F.col("o_orderkey").cast("string"),
            F.lit("/sync"),
        ).alias("url"),
    )


# ---------------------------------------------------------------------------
# §2.4 Aggregations (reference-shaped)
# ---------------------------------------------------------------------------

_ERR_LINE = "%010d --> %s"


@register(
    "agg_collect_errors",
    oracle=f"""
    SELECT user_id,
           string_agg(printf('{_ERR_LINE}', event_id, event_type), chr(10)
                      ORDER BY event_id) AS note
    FROM events WHERE event_type = 'error'
    GROUP BY user_id
    """,
)
def agg_collect_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collect failing nodes per key and fold into one note string
    (app.py:188,256-261) → `collect_list` + `array_sort` + `array_join`
    (zero-padded ids make string order == numeric order, so the note is
    deterministic under any partitioning)."""
    e = table(spark, sf_dir, "events").filter(F.col("event_type") == "error")
    return e.groupBy("user_id").agg(
        F.array_join(
            F.array_sort(
                F.collect_list(F.format_string(_ERR_LINE, "event_id", "event_type"))
            ),
            "\n",
        ).alias("note")
    )


@register(
    "agg_count_threshold",
    oracle="""
    SELECT user_id,
           CASE WHEN count(*) > 150 THEN 'error in more than 150 nodes'
                ELSE 'errors: ' || count(*) END AS note
    FROM events WHERE event_type = 'error' GROUP BY user_id
    """,
)
def agg_count_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cardinality-gated aggregate (>5 errors ⇒ fixed literal,
    app.py:256,262-263; threshold scaled to the fixture's error volume)."""
    e = table(spark, sf_dir, "events").filter(F.col("event_type") == "error")
    n = F.count("*")
    return e.groupBy("user_id").agg(
        F.when(n > 150, F.lit("error in more than 150 nodes"))
        .otherwise(F.concat(F.lit("errors: "), n.cast("string")))
        .alias("note")
    )


@register(
    "agg_exists_to_status",
    oracle="""
    SELECT user_id,
           CASE WHEN count(*) FILTER (WHERE event_type = 'error') > 0
                THEN 'Failed' ELSE 'Success' END AS status
    FROM events GROUP BY user_id
    """,
)
def agg_exists_to_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Existence aggregate → classification (any error node ⇒ Failed,
    app.py:265-270)."""
    e = table(spark, sf_dir, "events")
    n_err = F.sum((F.col("event_type") == "error").cast("int"))
    return e.groupBy("user_id").agg(
        F.when(n_err > 0, "Failed").otherwise("Success").alias("status")
    )


@register(
    "agg_first_per_key",
    oracle="""
    SELECT user_id, ts, event_type FROM (
      SELECT user_id, ts::TIMESTAMP AS ts, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def agg_first_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First element of a per-key ordered collection (first non-null
    monitoring run, app.py:170-178) → `row_number` over an EXPLICIT order
    column — API order materialized as data (SURVEY.md §7.4.2).  The
    tiebreak on the unique event_id makes the pick total."""
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        table(spark, sf_dir, "events")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "ts", "event_type")
    )


# ---------------------------------------------------------------------------
# §2.6 Limits / first-match
# ---------------------------------------------------------------------------


@register(
    "lim_page_fetch",
    oracle="SELECT event_id, event_type FROM events ORDER BY event_id LIMIT 8",
)
def lim_page_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded page fetch (`page_size=8&page=0`, app.py:126) — LIMIT 8
    under a total order so the page is deterministic."""
    return (
        table(spark, sf_dir, "events")
        .orderBy("event_id")
        .limit(8)
        .select("event_id", "event_type")
    )


@register(
    "lim_first_match",
    oracle="""
    SELECT event_id, user_id, event_type FROM events
    WHERE event_type = 'purchase' ORDER BY event_id LIMIT 1
    """,
)
def lim_first_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Early termination on first qualifying row (`break`,
    app.py:147,157,178) → filter + ordered LIMIT 1 (Catalyst plans a
    TakeOrderedAndProject — no full sort)."""
    return (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .orderBy("event_id")
        .limit(1)
        .select("event_id", "user_id", "event_type")
    )


# ---------------------------------------------------------------------------
# §2.9 Extension: scans & join family
# ---------------------------------------------------------------------------


@register("x_scan_parquet", oracle="SELECT r_regionkey, r_name FROM region")
def x_scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar parquet scan with projection pruning (ReadSchema carries
    only the selected columns)."""
    return table(spark, sf_dir, "region").select("r_regionkey", "r_name")


@register(
    "x_join_inner",
    oracle="""
    SELECT c_mktsegment,
           count(*) AS n_items,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY c_mktsegment
    """,
)
def x_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner join chain over the star schema (TPC-H Q3 shape): fact-fact
    join shuffles on the key, the customer dim is broadcast."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_items"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
    )


@register(
    "x_join_left",
    oracle="""
    SELECT n_name, count(c_custkey) AS n_customers
    FROM nation LEFT JOIN customer ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def x_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-outer join preserving unmatched dim rows (nations with zero
    customers still report, count(col) skips their nulls)."""
    n = table(spark, sf_dir, "nation")
    c = table(spark, sf_dir, "customer")
    return (
        n.join(c, c.c_nationkey == n.n_nationkey, "left")
        .groupBy("n_name")
        .agg(F.count("c_custkey").alias("n_customers"))
    )


@register(
    "x_join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def x_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS): customers having at least one order —
    no row multiplication, right side reduced to its keys."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return c.join(
        o, c.c_custkey == o.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@register(
    "x_join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderpriority = '1-URGENT')
    """,
)
def x_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS): customers with no urgent orders (the
    right side is filtered first so the anti-set is non-degenerate at
    every scale factor)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return c.join(
        o, c.c_custkey == o.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@register(
    "x_join_cross",
    oracle="""
    SELECT r_name, n_name FROM region CROSS JOIN nation
    """,
)
def x_join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross join — only sane between tiny dims (5×25 here); at scale the
    engine's LLM ops replace cross products with LSH bucketing
    (SURVEY.md §4.3)."""
    r = table(spark, sf_dir, "region")
    n = table(spark, sf_dir, "nation")
    return r.crossJoin(n).select("r_name", "n_name")


@register(
    "x_join_range",
    oracle="""
    WITH bands(band, lo, hi) AS (
      VALUES ('budget', 0.0, 500.0), ('mid', 500.0, 1200.0),
             ('premium', 1200.0, 100000.0)
    )
    SELECT p_partkey, band
    FROM part JOIN bands ON p_retailprice >= lo AND p_retailprice < hi
    """,
)
def x_join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (range/theta) join: price-band classification.  The band
    table is tiny → broadcast nested-loop join, the right physical plan;
    a fact-fact range join at scale would bucketize the range key first
    (see streaming/llm modules for that pattern)."""
    p = table(spark, sf_dir, "part")
    bands = local_frame(
        spark,
        [("budget", 0.0, 500.0), ("mid", 500.0, 1200.0),
         ("premium", 1200.0, 100000.0)],
        "band string, lo double, hi double",
    )
    cond = (p.p_retailprice >= bands.lo) & (p.p_retailprice < bands.hi)
    return p.join(F.broadcast(bands), cond).select("p_partkey", "band")


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    n_salt: int = 8,
) -> DataFrame:
    """Skew-salted equi-join: the fact side gets a uniform salt derived
    from the whole ROW (`xxhash64` of the fact key + a row-unique column
    is unavailable generically, so `monotonically_increasing_id` seeds the
    salt), the dim side is replicated ``n_salt`` ways, and the join runs
    on (key, salt) — a single hot key's rows spread across ``n_salt``
    shuffle partitions instead of one straggler task.  AQE's skew-join
    split is the first line of defense (enabled in ENGINE_CONFS); explicit
    salting is the deterministic fallback for extreme single-key skew or
    for engines/stages AQE can't split (e.g. a skewed aggregation feeding
    the join).  Cost: dim side ×n_salt — use only on skewed keys (a
    production variant salts ONLY keys above a frequency threshold)."""
    salt = F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(n_salt))
    f = fact.withColumn("_salt", salt)
    d = dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    )
    return f.join(
        d, (F.col(fact_key) == F.col(dim_key)) & (f["_salt"] == d["_salt"])
    ).drop(d["_salt"])


@register(
    "x_join_skew_salted",
    oracle="""
    SELECT o_orderkey, o_custkey, c_name
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
)
def x_join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The salting pattern registered over the fixture join (uniform keys
    here — the result must equal the plain join; the skew-splitting
    property is asserted on a crafted hot-key corpus in
    tests/test_skew.py)."""
    orders = table(spark, sf_dir, "orders")
    customer = table(spark, sf_dir, "customer")
    return salted_join(orders, customer, "o_custkey", "c_custkey").select(
        "o_orderkey", "o_custkey", "c_name"
    )


@register(
    "x_join_asof",
    oracle="""
    SELECT e.event_id, e.user_id, e.ts,
           (SELECT max(p.ts)
            FROM events p
            WHERE p.user_id = e.user_id AND p.event_type = 'purchase'
              AND p.ts <= e.ts)::TIMESTAMP AS last_purchase_ts
    FROM events e WHERE e.event_type = 'error'
    """,
)
def x_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join (most-recent-match-at-or-before): for every error event,
    the timestamp of the user's latest purchase at or before it.

    Spark has no ASOF JOIN operator; the scalable formulation is a MERGED-
    STREAM RUNNING MAX, not a join: both sides already live in one table
    keyed by user, so one window pass ordered by event time carries the
    running `max(ts) where type='purchase'` forward, and error rows read
    it directly.  ONE shuffle (by user_id) + one sort — no range-join
    pair explosion, no per-row subquery.  On equal timestamps the purchase
    sorts FIRST (at-or-before is inclusive).  For two separate tables the
    same pattern is union-tag → window — this is the standard Spark
    rendering of as-of semantics at scale."""
    e = table(spark, sf_dir, "events")
    is_purchase = F.col("event_type") == "purchase"
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", F.when(is_purchase, 0).otherwise(1), "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    running = e.withColumn(
        "last_purchase_ts", F.max(F.when(is_purchase, F.col("ts"))).over(w)
    )
    return running.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts", "last_purchase_ts"
    )


# ---------------------------------------------------------------------------
# §2.9 Extension: aggregation family
# ---------------------------------------------------------------------------


@register(
    "x_agg_hypertable_rollup",
    oracle="""
    SELECT date_trunc('day', ts::TIMESTAMP)::DATE AS d, event_type,
           count(*) AS n,
           round(sum(value::DECIMAL(30,9)), 4)::DOUBLE AS total_value,
           count(DISTINCT date_trunc('hour', ts::TIMESTAMP)) AS n_hours
    FROM events GROUP BY 1, 2
    """,
)
def x_agg_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate rollup: the DAILY aggregate is
    computed FROM the HOURLY aggregate, not from raw rows — the
    TimescaleDB/materialized-rollup pattern where each resolution
    reaggregates the finer one: the daily layer reaggregates ~24× fewer
    rows instead of rescanning the raw events.  `n_hours` (count of hourly
    partials per day) proves the intermediate resolution exists.  The
    oracle aggregates raw rows directly, so the rollup must agree with the
    one-level sum exactly — which double addition does NOT guarantee
    (FP addition is non-associative; an hourly→daily re-sum can differ in
    the last ulp and flip a round(...,4) near a tie).  Both engines
    therefore sum ``value`` as DECIMAL(30,9) — decimal addition IS
    associative, so the two-level plan equals the direct sum bit-for-bit
    at any partitioning — and cast back to double after the final round."""
    e = table(spark, sf_dir, "events")
    hourly = (
        e.groupBy(
            F.date_trunc("hour", "ts").alias("h"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(30,9)")).alias("sv"),
        )
    )
    return (
        hourly.groupBy(F.to_date(F.date_trunc("day", "h")).alias("d"), "event_type")
        .agg(
            F.sum("n").alias("n"),
            F.round(F.sum("sv"), 4).cast("double").alias("total_value"),
            F.count("*").cast("bigint").alias("n_hours"),
        )
    )


@register(
    "x_agg_sum_avg_min_max",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(avg(l_quantity), 4) AS avg_qty,
           round(avg(l_extendedprice), 4) AS avg_price,
           round(min(l_extendedprice), 2) AS min_price,
           round(max(l_extendedprice), 2) AS max_price,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-06-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def x_agg_sum_avg_min_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic hash aggregate (TPC-H Q1 shape): filter pushed to the scan,
    partial+final aggregation split by Catalyst, 6 aggregates one pass."""
    li = table(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-06-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum(price), 2).alias("sum_base_price"),
            F.round(F.sum(price * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg(price), 4).alias("avg_price"),
            F.round(F.min(price), 2).alias("min_price"),
            F.round(F.max(price), 2).alias("max_price"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "x_agg_count_distinct",
    oracle="""
    SELECT o_orderpriority,
           count(DISTINCT o_custkey) AS n_custs,
           count(*) AS n_orders
    FROM orders GROUP BY o_orderpriority
    """,
)
def x_agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregate — Catalyst expands to a two-phase plan
    (partial distinct then final) rather than a naive global shuffle."""
    return table(spark, sf_dir, "orders").groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_custs"),
        F.count("*").alias("n_orders"),
    )


@register(
    "x_agg_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def x_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals (ROLLUP) — one shuffle, grouping-set
    expansion handled by the engine."""
    return table(spark, sf_dir, "lineitem").rollup(
        "l_returnflag", "l_linestatus"
    ).agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"), F.count("*").alias("n"))


@register(
    "x_agg_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def x_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All grouping combinations (CUBE)."""
    return table(spark, sf_dir, "lineitem").cube(
        "l_returnflag", "l_linestatus"
    ).agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"), F.count("*").alias("n"))


@register(
    "x_agg_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
    """,
)
def x_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit grouping sets via the SQL API (same Catalyst plan as the
    DataFrame rollup/cube family)."""
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        """
    )


# ---------------------------------------------------------------------------
# §2.9 Extension: window functions
# ---------------------------------------------------------------------------


@register(
    "x_win_distribution",
    oracle="""
    SELECT c_custkey, c_nationkey,
           ntile(4) OVER w AS quartile,
           floor(percent_rank() OVER w * 1000000 + 0.5) / 1000000 AS pct_rank,
           floor(cume_dist() OVER w * 1000000 + 0.5) / 1000000 AS cume
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
    """,
)
def x_win_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions (ntile / percent_rank / cume_dist)
    per nation — one shuffle by the partition key, one sort; the unique
    c_custkey tiebreak makes the ordering (and therefore every
    distribution value) total and cross-engine deterministic.

    Rounding is the explicit half-up ``floor(x*1e6 + 0.5)/1e6`` spelled
    identically in BOTH engines: (rank-1)/(n-1) lands exactly on decimal
    .5 ulp boundaries for round group sizes (0.0640625 at sf0.1), where
    Spark's round() (half-up on the decimal expansion) and DuckDB's
    (half-even) disagree — the shared IEEE mul/add/floor sequence cannot."""
    c = table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")

    def half_up6(col):
        return F.floor(col * F.lit(1_000_000.0) + F.lit(0.5)) / F.lit(1_000_000.0)

    return c.select(
        "c_custkey",
        "c_nationkey",
        F.ntile(4).over(w).alias("quartile"),
        half_up6(F.percent_rank().over(w)).alias("pct_rank"),
        half_up6(F.cume_dist().over(w)).alias("cume"),
    )


@register(
    "x_agg_percentile",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.25), 4) AS p25,
           round(quantile_cont(l_quantity, 0.50), 4) AS p50,
           round(quantile_cont(l_quantity, 0.75), 4) AS p75,
           round(quantile_cont(l_extendedprice, 0.95), 4) AS price_p95
    FROM lineitem GROUP BY l_returnflag
    """,
)
def x_agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (`F.percentile` ≡ SQL
    PERCENTILE_CONT ≡ DuckDB quantile_cont).  Exact percentile is a
    sort-based aggregate (per-group value buffers): one shuffle on the
    group key, then each group's values are held and sorted; with three
    return flags that is three buffers of a few thousand doubles."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_quantity", F.lit(0.25)), 4).alias("p25"),
        F.round(F.percentile("l_quantity", F.lit(0.50)), 4).alias("p50"),
        F.round(F.percentile("l_quantity", F.lit(0.75)), 4).alias("p75"),
        F.round(F.percentile("l_extendedprice", F.lit(0.95)), 4).alias("price_p95"),
    )


@register(
    "x_win_rank",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           rank() OVER w AS rnk,
           dense_rank() OVER w AS drnk,
           row_number() OVER (PARTITION BY o_orderpriority
                              ORDER BY o_totalprice DESC, o_orderkey) AS rn
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC)
    """,
)
def x_win_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking windows: rank/dense_rank share ties; row_number carries a
    unique tiebreak so it is total (SURVEY.md §7.4.2)."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(F.desc("o_totalprice"))
    wt = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), "o_orderkey"
    )
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.row_number().over(wt).alias("rn"),
    )


@register(
    "x_win_lag_lead",
    oracle="""
    SELECT event_id, user_id,
           lag(event_type) OVER w AS prev_type,
           lead(event_type) OVER w AS next_type,
           round(epoch(ts::TIMESTAMP
                       - (lag(ts::TIMESTAMP) OVER w)), 0) AS gap_sec
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def x_win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic lag/lead over event time with a unique tiebreak; gap
    seconds rounded to whole seconds on both sides."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # unix_micros keeps the arithmetic integral (exact past 2^53, where a
    # double-seconds cast would round) and works on TimestampType regardless
    # of how the parquet scan delivered the column.
    gap = (
        F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
    ) / F.lit(1_000_000)
    return table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.lag("event_type").over(w).alias("prev_type"),
        F.lead("event_type").over(w).alias("next_type"),
        F.round(gap, 0).alias("gap_sec"),
    )


@register(
    "x_win_running",
    oracle="""
    SELECT event_id, user_id,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW), 2) AS running_value,
           count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS n_so_far
    FROM events
    """,
)
def x_win_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-spec running aggregate (rowsBetween unbounded-preceding →
    current).  Running sums accumulate in ORDER, so the float result is
    deterministic and rounds identically on both engines."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 2).alias("running_value"),
        F.count("*").over(w).alias("n_so_far"),
    )


# ---------------------------------------------------------------------------
# §2.9 Extension: sort / top-k / set ops
# ---------------------------------------------------------------------------


@register(
    "x_sort_limit_topk",
    oracle="""
    SELECT o_orderkey, round(o_totalprice, 2) AS total
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def x_sort_limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k — Catalyst plans TakeOrderedAndProject (per-partition
    heap + driver merge), NOT a total sort; the unique tiebreak makes the
    k-set deterministic."""
    return (
        table(spark, sf_dir, "orders")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(10)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("total"))
    )


@register(
    "x_topk_per_group",
    oracle="""
    SELECT o_orderpriority, o_orderkey, round(o_totalprice, 2) AS total
    FROM (
      SELECT *, row_number() OVER (PARTITION BY o_orderpriority
                                   ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
)
def x_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group: window row_number ≤ k — one shuffle on the group
    key, no global sort."""
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), "o_orderkey"
    )
    return (
        table(spark, sf_dir, "orders")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "o_orderpriority", "o_orderkey", F.round("o_totalprice", 2).alias("total")
        )
    )


@register(
    "x_set_union",
    oracle="""
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    UNION
    SELECT o_custkey AS c_custkey FROM orders
    """,
)
def x_set_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct) via `unionByName` + `distinct`."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = o.select(F.col("o_custkey").alias("c_custkey"))
    return a.unionByName(b).distinct()


@register(
    "x_set_intersect",
    oracle="""
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    INTERSECT
    SELECT o_custkey AS c_custkey FROM orders
    """,
)
def x_set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct) — planned as a left-semi join + aggregate."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = o.select(F.col("o_custkey").alias("c_custkey"))
    return a.intersect(b)


@register(
    "x_set_except",
    oracle="""
    SELECT c_custkey FROM customer
    EXCEPT
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    """,
)
def x_set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct) — planned as a left-anti join + aggregate."""
    c = table(spark, sf_dir, "customer")
    return c.select("c_custkey").exceptAll(
        c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    ).distinct()


# ---------------------------------------------------------------------------
# §2.9 Extension: array/map functions & pandas-UDF surface
# ---------------------------------------------------------------------------


@register(
    "x_fn_array_map",
    oracle="""
    SELECT vec_id,
           len(embedding) AS dim,
           -- a fold PROPAGATES a NULL element (Spark F.aggregate; SQL
           -- `+` semantics) while DuckDB's list_sum IGNORES NULLs — the
           -- any-NULL case mirrors the fold (NULL-element probe, r18)
           CASE WHEN len(list_filter(embedding, x -> x IS NULL)) > 0
                THEN NULL
                ELSE round(list_sum(list_transform(embedding,
                                    x -> CAST(x AS DOUBLE) * x)), 3)
           END AS norm_sq,
           round(coalesce(list_sum(list_transform(
                     list_filter(embedding, x -> x > 0),
                     x -> CAST(x AS DOUBLE))), 0.0), 3)
             AS pos_sum
    FROM embeddings
    """,
)
def x_fn_array_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions (`transform` / `filter` / `aggregate`)
    — JVM lambda evaluation over the embedding arrays, no Python."""
    # pos_sum of an all-nonpositive vector is the FOLD IDENTITY 0.0 (this
    # is a higher-order fold with an explicit seed, not SQL SUM) — the
    # oracle coalesces DuckDB's sum-over-empty NULL to match (corpus
    # fuzz, r17: the all-zero vector exposed the divergence).
    emb = F.col("embedding")
    norm_sq = F.aggregate(
        emb, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
    )
    pos_sum = F.aggregate(
        F.filter(emb, lambda x: x > 0), F.lit(0.0),
        lambda acc, x: acc + x.cast("double"),
    )
    return table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.size(emb).alias("dim"),
        F.round(norm_sq, 3).alias("norm_sq"),
        F.round(pos_sum, 3).alias("pos_sum"),
    )


@register(
    "x_udf_pandas",
    oracle="""
    SELECT event_id,
           round(1.0 / (1.0 + exp(-value)), 6) AS sigmoid_value
    FROM events
    """,
)
def x_udf_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized (Arrow-batched) Pandas UDF — the sanctioned slow path
    (SURVEY.md §2.10): one Arrow batch per 10k rows, numpy math inside,
    never row-at-a-time Python."""
    import pandas as pd  # noqa: F401
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def sigmoid(s):
        import numpy as np

        return 1.0 / (1.0 + np.exp(-s))

    return table(spark, sf_dir, "events").select(
        "event_id", F.round(sigmoid("value"), 6).alias("sigmoid_value")
    )


@register(
    "x_join_multiway_analytic",
    oracle="""
    SELECT l_orderkey,
           round(sum((l_extendedprice * (1 - l_discount))::DECIMAL(30,10)),
                 2)::DOUBLE AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
      AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def x_join_multiway_analytic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped three-table analytic (segment revenue top-10): the
    canonical Catalyst showcase — all three filters push into their
    parquet scans, and the join strategy is deliberately left to
    Catalyst/AQE: no broadcast hints, because the right answer is
    size-dependent (at fixture scale AQE broadcasts the filtered customer
    and orders sides — shuffle-free; on larger inputs the same
    declarative plan falls back to shuffle joins on the join keys).  The
    top-10 is TakeOrderedAndProject (per-partition heaps), never a global sort.
    Revenue terms are double-multiplied (elementwise, deterministic) then
    summed as DECIMAL(30,10) — decimal addition associates, so the
    grouped sum is bit-equal across engines and partitionings; tie-break
    on l_orderkey keeps the LIMIT deterministic."""
    cutoff = F.lit("1998-06-01 00:00:00").cast("timestamp")
    cust = table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    rev = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
    ).cast("decimal(30,10)")
    return (
        li.join(
            orders.join(cust, F.col("c_custkey") == F.col("o_custkey")),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(rev), 2).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


#: Quantiles the approximate-percentile sketch reports.
APPROX_QUANTILES = [0.5, 0.9, 0.99]
#: GK sketch accuracy: rank error <= n / accuracy.
APPROX_QUANTILE_ACCURACY = 10_000


@register(
    "x_agg_approx_quantile",  # sketch output → rows-only by design
    why_no_oracle="sketch quantiles are engine-specific",
    gate="rank-error envelope vs sorted exact values gated in "
         "`tests/test_warehouse.py::test_approx_quantile_within_rank_error` "
         "(exact companion `x_agg_median`)",
)
def x_agg_approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles (p50/p90/p99 of extended price per return
    flag) via ``approx_percentile`` — Spark's Greenwald-Khanna sketch:
    mergeable partial state, so the plan is ONE map-side-partial hash
    aggregate regardless of data size, where exact percentiles need a
    full sort (or one shuffle + per-key sort) of every value.  Rank error is
    bounded by n/accuracy.  No cross-engine oracle (DuckDB's
    approx_quantile is a t-digest — a different sketch with different
    value selection); tests/test_warehouse.py gates every reported
    quantile against the exact percentile within the sketch's rank-error
    envelope."""
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            *[
                F.expr(
                    f"approx_percentile(l_extendedprice, {q},"
                    f" {APPROX_QUANTILE_ACCURACY})"
                ).alias(f"p{int(q * 100)}")
                for q in APPROX_QUANTILES
            ]
        )
    )


# ---------------------------------------------------------------------------
# §2.9 additions: batch sessionization + explicit-values pivot
# ---------------------------------------------------------------------------

#: Gap that closes a session (classic 30-minute web-analytics cut).
SESSION_GAP_US = 1_800 * 1_000_000


@register(
    "x_win_sessionize",
    oracle=f"""
    WITH o AS (
        SELECT user_id, ts, event_id,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 AS prev
        FROM events
    ),
    s AS (
        SELECT user_id, ts,
               sum(CASE WHEN prev IS NULL
                        OR epoch_us(ts) - epoch_us(prev) > {SESSION_GAP_US}
                        THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id)::BIGINT
                 AS session_seq
        FROM o
    )
    SELECT user_id, session_seq,
           min(ts) AS session_start,
           max(ts) AS session_end,
           count(*)::BIGINT AS n_events,
           (epoch_us(max(ts)) - epoch_us(min(ts)))::BIGINT AS duration_us
    FROM s
    GROUP BY user_id, session_seq
    """,
)
def x_win_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization of the event stream: per user, a new session
    starts when the gap to the previous event exceeds 30 minutes; emit
    one summary row per session (bounds, event count, duration).  The
    batch twin of ``x_stream_session`` — backfills use exactly this
    query over the historical table.

    Gap and duration compare in integer MICROSECONDS on both engines
    (``unix_micros`` / ``epoch_us``) — second-truncating ``unix_timestamp``
    could flip a boundary event across the cut on one engine only.

    Plan: ONE wide shuffle total — hash on user_id for the lag/cumsum
    window (the irreducible cost of per-user ordering), and the session
    rollup REUSES that partitioning (hashpartitioning(user_id) satisfies
    the clustered distribution on the finer (user_id, session_seq)
    grouping keys), so the aggregate runs in place with no second
    exchange.  Tie-break on event_id keeps the lag ordering total under
    duplicate timestamps — which assumes (user_id, ts, event_id) is a key
    of events (table contract; asserted by
    ``tests/test_properties.py::test_events_tiebreak_key_is_unique``).

    Measured (r12 stress, 30x events replicas with fresh user
    populations): 1.9x wall at 30x data, session rows exactly 30x
    (95k -> 2.86M) — `scale_stress_r12_x30.json @ 489b79a`."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    is_new = F.when(
        prev.isNull()
        | (F.unix_micros("ts") - F.unix_micros(prev) > SESSION_GAP_US),
        F.lit(1),
    ).otherwise(F.lit(0))
    sess = (
        table(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id")
        .select(
            "user_id",
            "ts",
            F.sum(is_new).over(w).cast("bigint").alias("session_seq"),
        )
    )
    return sess.groupBy("user_id", "session_seq").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count("*").cast("bigint").alias("n_events"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
        .cast("bigint")
        .alias("duration_us"),
    )


#: Pivot spread values, pinned so the plan needs no distinct-values pre-pass.
PIVOT_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "x_agg_pivot",
    oracle="""
    SELECT user_id,
           count(*) FILTER (WHERE event_type = 'click')::BIGINT AS n_click,
           count(*) FILTER (WHERE event_type = 'error')::BIGINT AS n_error,
           count(*) FILTER (WHERE event_type = 'purchase')::BIGINT
             AS n_purchase,
           count(*) FILTER (WHERE event_type = 'signup')::BIGINT AS n_signup,
           count(*) FILTER (WHERE event_type = 'view')::BIGINT AS n_view
    FROM events
    GROUP BY user_id
    """,
)
def x_agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long→wide): per-user event counts spread into one column
    per event type — the feature-matrix shape every activity model and
    BI export wants.  The spread values are PINNED (a data-dependent
    value set would need a whole extra distinct-scan job over the events
    just to learn the column names, and one skewed/typo'd row would add
    a column), and absent combinations surface as 0, not null.

    Lowered MANUALLY to conditional counts rather than the DataFrame
    ``pivot()`` DSL: even with an explicit value list, ``pivot`` compiles
    to TWO stacked aggregates (count per (key, value), then a
    ``pivotfirst`` re-aggregate per key) with TWO exchanges; the
    conditional-count form is the plan you actually want — ONE hash
    aggregate on user_id, map-side partials, one exchange, same shape as
    a plain groupBy/count however many spread columns there are."""
    return (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            *[
                F.count(F.when(F.col("event_type") == t, F.lit(1)))
                .cast("bigint")
                .alias(f"n_{t}")
                for t in PIVOT_EVENT_TYPES
            ]
        )
    )


# ---------------------------------------------------------------------------
# Correlated subqueries, rewritten to join plans
# ---------------------------------------------------------------------------
# SQL users write EXISTS / NOT EXISTS / scalar correlated subqueries; the
# scalable execution of every one of them is a join.  These operators state
# the rewrite explicitly in DataFrame form (semi join, anti join,
# aggregate-then-rejoin) while each oracle keeps the subquery spelling, so
# the driver's comparison is itself the proof that the rewrite preserves
# the correlated semantics.


@register(
    "x_sub_exists_semi",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
    )
    GROUP BY o_orderpriority
    """,
)
def x_sub_exists_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS (TPC-H Q4 shape: orders with at least one line
    shipped after the order date), rewritten as a LEFT SEMI join on the
    correlation key with the non-equi date comparison as a join residual.

    Scale: the semi join hashes on l_orderkey — the equi part of the
    correlation — so each order meets only its own lines; the date
    predicate evaluates per matched pair, never as a filter-after-
    cartesian.  Semi join also stops probing an order at its FIRST
    qualifying line (no duplicate-match blowup a plain inner join +
    distinct would pay), which is exactly EXISTS semantics."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    hit = o.join(
        li,
        (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
        "left_semi",
    )
    return hit.groupBy("o_orderpriority").agg(
        F.count("*").alias("order_count")
    )


#: "High-value order" cut for the NOT EXISTS rewrite — roughly the top
#: ~20% of o_totalprice in the fixtures, so the anti join keeps a
#: non-trivial survivor set at every scale factor (a predicate that
#: filters to zero rows would make the oracle comparison vacuous).
SUB_HIGH_VALUE_ORDER = 400000.0


@register(
    "x_sub_not_exists_anti",
    oracle=f"""
    SELECT c_mktsegment,
           count(*) AS numcust,
           round(sum(c_acctbal), 2) AS totacctbal
    FROM customer c
    WHERE c_acctbal > 0.0 AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_totalprice > {SUB_HIGH_VALUE_ORDER}
    )
    GROUP BY c_mktsegment
    """,
)
def x_sub_not_exists_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated NOT EXISTS (TPC-H Q22 shape: positive-balance customers
    who never placed a high-value order), rewritten as a LEFT ANTI join.

    Scale: BOTH local filters run before the join — c_acctbal > 0 on the
    probe side, o_totalprice > cut pushed into the orders scan — so only
    surviving rows shuffle, and the anti join's build input is the
    filtered key column, not the fact table.  Anti join is the only
    correct lowering here: EXCEPT-based rewrites change semantics under
    duplicate customers, and a left join + IS NULL filter carries the
    full orders payload through the shuffle for no reason."""
    c = table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 0.0)
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > SUB_HIGH_VALUE_ORDER)
        .select("o_custkey")
    )
    miss = c.join(o, c.c_custkey == o.o_custkey, "left_anti")
    return miss.groupBy("c_mktsegment").agg(
        F.count("*").alias("numcust"),
        F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
    )


@register(
    "x_sub_scalar_avg",
    oracle="""
    SELECT l.l_partkey,
           count(*) AS n_small,
           round(sum(l.l_extendedprice) / 7.0, 4) AS avg_yearly
    FROM lineitem l
    WHERE l.l_quantity < round(0.2 * (
        SELECT avg(l2.l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = l.l_partkey
    ), 6)
    GROUP BY l.l_partkey
    """,
)
def x_sub_scalar_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated SCALAR subquery (TPC-H Q17 shape: lines ordering less
    than 20% of their part's average quantity), rewritten as aggregate-
    then-rejoin: compute the per-part threshold once as a hash aggregate,
    join it back on the part key, filter, re-aggregate.

    Scale: the naive reading re-computes the per-part average PER OUTER
    ROW (O(n) correlated scans); the rewrite computes each threshold
    exactly once.  Both the threshold aggregate and the rejoin hash on
    l_partkey, so under AQE the join reuses the aggregate's partitioning
    — one wide shuffle of the fact table total.  The threshold is rounded
    to 6 decimals IN BOTH ENGINES before the comparison: the average's
    last ulp depends on parallel accumulation order, and an unrounded
    boundary lets the same row pass on one engine and fail on the other."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    thresh = li.groupBy("l_partkey").agg(
        F.round(0.2 * F.avg("l_quantity"), 6).alias("_qty_cut")
    )
    return (
        li.join(thresh, "l_partkey")
        .filter(F.col("l_quantity") < F.col("_qty_cut"))
        .groupBy("l_partkey")
        .agg(
            F.count("*").alias("n_small"),
            F.round(F.sum("l_extendedprice") / 7.0, 4).alias("avg_yearly"),
        )
    )


@register(
    "x_sub_exists_other",
    oracle="""
    SELECT l1.l_suppkey, count(*) AS n_shared_order_items
    FROM lineitem l1
    WHERE EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey
    )
    GROUP BY l1.l_suppkey
    """,
)
def x_sub_exists_other(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-correlated EXISTS with an inequality (TPC-H Q21 core: line
    items whose order also involves a DIFFERENT supplier), rewritten as a
    self LEFT SEMI join — equi on the order key, ``suppkey <>`` as the
    join residual.

    Scale: both sides hash on l_orderkey (bounded lines per order), so
    the inequality runs inside each order's bucket — never a cartesian.
    The probe side stops at the first other-supplier match per line
    (EXISTS short-circuit).  An equivalent window rewrite
    (count(distinct suppkey) over order > 1) would sort per order; the
    semi join keeps it pure hash."""
    li = table(spark, sf_dir, "lineitem")
    l1 = li.select("l_orderkey", "l_suppkey")
    l2 = li.select(
        F.col("l_orderkey").alias("_ok2"), F.col("l_suppkey").alias("_sk2")
    )
    hit = l1.join(
        l2,
        (l1.l_orderkey == F.col("_ok2")) & (l1.l_suppkey != F.col("_sk2")),
        "left_semi",
    )
    return hit.groupBy("l_suppkey").agg(
        F.count("*").alias("n_shared_order_items")
    )


@register(
    "x_agg_hll_merge_exact",
    oracle="""
    WITH daily AS (
        SELECT DISTINCT time_bucket(INTERVAL 1 DAY, ts::TIMESTAMP) AS day,
               event_type, user_id
        FROM events
    )
    SELECT event_type,
           count(DISTINCT user_id)::BIGINT AS n_users_exact,
           count(DISTINCT day)::BIGINT AS n_daily_groups
    FROM daily GROUP BY event_type
    """,
)
def x_agg_hll_merge_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event type, the exact number of distinct users and of days
    with any event.  Plan: one distinct over (day, event_type, user_id)
    — the daily partial dedup — then a per-type rollup with two exact
    distinct counts, so the rollup reads the deduped rows, not the raw
    events."""
    daily = (
        table(spark, sf_dir, "events")
        .select(
            F.date_trunc("day", F.col("ts")).alias("day"),
            "event_type",
            "user_id",
        )
        .distinct()
    )
    return daily.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("n_users_exact"),
        F.countDistinct("day").cast("bigint").alias("n_daily_groups"),
    )


@register(
    "x_agg_median",
    oracle="""
    SELECT o_orderpriority,
           round(quantile_cont(o_totalprice, 0.5), 4) AS median_price,
           round(quantile_cont(o_totalprice, 0.9), 4) AS p90_price,
           count(*) AS n_orders
    FROM orders GROUP BY o_orderpriority
    """,
)
def x_agg_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT median / p90 per group (linear-interpolated, the
    quantile_cont definition both engines share) — the accuracy-first
    complement of ``x_agg_approx_quantile``'s GK sketch.  Exact
    percentile must buffer each group's values, so this is the operator
    you reach for on group counts × group sizes that fit a task (here:
    5 priorities); at whole-corpus cardinalities the approx twin is the
    scale path, and the pair is the accuracy/scale trade stated as two
    registry entries."""
    return (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias(
                "median_price"
            ),
            F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias(
                "p90_price"
            ),
            F.count("*").alias("n_orders"),
        )
    )


#: Fuzzy-join parameters: block on the last name token (entity "type"),
#: accept pairs within this edit distance.
FUZZY_MAX_DIST = 3


@register(
    "x_join_fuzzy_name",
    oracle=f"""
    WITH names AS (
        SELECT p_name, count(*) AS n,
               regexp_extract(p_name, '(\\S+)$', 1) AS blk
        FROM part GROUP BY p_name
    )
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           levenshtein(a.p_name, b.p_name) AS dist,
           a.n AS n_a, b.n AS n_b
    FROM names a JOIN names b
      ON a.blk = b.blk AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= {FUZZY_MAX_DIST}
    """,
)
def x_join_fuzzy_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy (edit-distance) matching — the entity-resolution
    primitive: DISTINCT part names within Levenshtein FUZZY_MAX_DIST of
    each other, with each name's row count carried along so a resolver
    can merge the entities.  Two decisions bound the work: (1) the match runs
    over the DISTINCT-name vocabulary (one hash aggregate first), so
    output and pair work are vocabulary²-bounded, not row² — matching raw
    rows would emit every duplicate × duplicate combination and grow
    quadratically with data size; (2) candidates are generated only within
    a blocking key (the last name token ≈ the entity type), so the
    per-block distance computation never goes vocabulary × vocabulary
    either.  Skewed blocks get the salting treatment of
    ``x_join_skew_salted``."""
    names = (
        table(spark, sf_dir, "part")
        .groupBy("p_name")
        .agg(F.count("*").alias("n"))
        .withColumn("blk", F.regexp_extract("p_name", r"(\S+)$", 1))
    )
    a = names.select(
        F.col("p_name").alias("name_a"), F.col("n").alias("n_a"), "blk"
    )
    b = names.select(
        F.col("p_name").alias("name_b"), F.col("n").alias("n_b"), "blk"
    )
    return (
        a.join(b, "blk")
        .filter(F.col("name_a") < F.col("name_b"))
        .filter(F.levenshtein("name_a", "name_b") <= FUZZY_MAX_DIST)
        .select(
            "name_a",
            "name_b",
            F.levenshtein("name_a", "name_b").cast("bigint").alias("dist"),
            "n_a",
            "n_b",
        )
    )


#: Histogram geometry: fixed-width bins pinned in code — data-dependent
#: bin edges would need an extra min/max pre-pass over the corpus.
HIST_BIN_WIDTH = 60000.0
HIST_N_BINS = 10


@register(
    "x_agg_histogram",
    oracle=f"""
    SELECT least(floor(o_totalprice / {HIST_BIN_WIDTH})::BIGINT,
                 {HIST_N_BINS - 1}) AS bin,
           count(*) AS n_orders,
           round(min(o_totalprice), 2) AS lo,
           round(max(o_totalprice), 2) AS hi
    FROM orders GROUP BY 1
    """,
)
def x_agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order value (10 bins, top bin open) —
    the distribution profile behind every dashboard and skew check.
    Bin edges are PINNED constants: deriving them from data would cost a
    min/max pre-pass over the corpus before the real aggregation; with
    fixed edges this is ONE hash aggregate whose map-side partial
    collapses each task to at most HIST_N_BINS rows.  The exact per-bin
    min/max double as the evidence a reader needs to refine edges for a
    second pass."""
    bin_ = F.least(
        F.floor(F.col("o_totalprice") / HIST_BIN_WIDTH).cast("bigint"),
        F.lit(HIST_N_BINS - 1).cast("bigint"),
    )
    return (
        table(spark, sf_dir, "orders")
        .groupBy(bin_.alias("bin"))
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


@register(
    "x_agg_mode",
    oracle="""
    WITH cnt AS (
        SELECT source, lang, count(*) AS c
        FROM documents GROUP BY source, lang
    )
    SELECT source, lang AS mode_lang, c AS n_docs_mode
    FROM (SELECT *, row_number() OVER (PARTITION BY source
                                       ORDER BY c DESC, lang) AS rn
          FROM cnt)
    WHERE rn = 1
    """,
)
def x_agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group mode: each source's most frequent language (ties to
    the lexicographically smallest — a pinned total order, since engines
    disagree on arbitrary-tie ``max_by``), with the winning count.  The
    categorical counterpart of ``x_agg_median``, and the mixture sanity
    check a corpus build runs per source.

    Plan: the same argmax-as-aggregates shape as ``x_llm_dedup_keep_best``
    — counts (one hash aggregate), per-source max (second, source-sized),
    then min-lang at the max — no sort window anywhere, every shuffle key
    is `source` so AQE chains the exchanges; the oracle spells it as the
    equivalent deterministic ``row_number`` pick.

    Session-shared with ``flagship_analytics`` (which embeds this frame
    as its `mode` metric): one build per session, plan shape asserted on
    the exposed pre-checkpoint ``_mode_build``."""
    return _session_shared(
        spark, sf_dir, "agg_mode", lambda: _mode_build(spark, sf_dir)
    )


def _mode_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-checkpoint lineage of :func:`x_agg_mode` (plan-guard hook)."""
    cnt = (
        table(spark, sf_dir, "documents")
        .groupBy("source", "lang")
        .agg(F.count("*").alias("c"))
    )
    best = cnt.groupBy("source").agg(F.max("c").alias("_cmax"))
    return (
        cnt.join(best, "source")
        .filter(F.col("c") == F.col("_cmax"))
        .groupBy("source")
        .agg(
            F.min("lang").alias("mode_lang"),
            F.max("c").alias("n_docs_mode"),
        )
    )


#: Funnel stage sequence over the events fixture: the canonical
#: view → click → purchase conversion ladder, strictly-ordered in time.
FUNNEL_STAGES = ("view", "click", "purchase")


@register(
    "x_agg_funnel",
    oracle=f"""
    WITH s1 AS (
        SELECT user_id, min(ts::TIMESTAMP) AS t1 FROM events
        WHERE event_type = '{FUNNEL_STAGES[0]}' GROUP BY user_id
    ),
    s2 AS (
        SELECT e.user_id, min(e.ts::TIMESTAMP) AS t2
        FROM events e JOIN s1 USING (user_id)
        WHERE e.event_type = '{FUNNEL_STAGES[1]}' AND e.ts::TIMESTAMP > s1.t1
        GROUP BY e.user_id
    ),
    s3 AS (
        SELECT e.user_id, min(e.ts::TIMESTAMP) AS t3
        FROM events e JOIN s2 USING (user_id)
        WHERE e.event_type = '{FUNNEL_STAGES[2]}' AND e.ts::TIMESTAMP > s2.t2
        GROUP BY e.user_id
    )
    SELECT (SELECT count(*) FROM s1)::BIGINT AS n_stage1,
           (SELECT count(*) FROM s2)::BIGINT AS n_stage2,
           (SELECT count(*) FROM s3)::BIGINT AS n_stage3
    """,
)
def x_agg_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel analysis: users who viewed, then clicked strictly
    after their first view, then purchased strictly after that first
    click — the product-analytics conversion query, expressed as the
    classic first-touch chain (stage k anchors at the user's EARLIEST
    qualifying event after stage k-1, so a user converts at most once).

    Timestamps are compared at microsecond precision on both sides
    (``ts::TIMESTAMP`` truncates DuckDB's nanos exactly like the engine's
    parquet reader) and ``min(ts)`` needs no tie-break: equal-ts events of
    the same user collapse to one anchor value by the aggregate itself.

    Plan: three filtered min-aggregates chained by user_id equi-joins —
    every shuffle hashes user_id, so AQE reuses one exchange layout; each
    stage's frame shrinks monotonically (funnels only narrow).  The
    stage-1 aggregate dominates and is a map-side-combinable min;
    nothing ever sorts or windows the event log.

    Session-shared with ``flagship_analytics`` (its `funnel` metric):
    one build per session, plan shape asserted on ``_funnel_build``."""
    return _session_shared(
        spark, sf_dir, "agg_funnel", lambda: _funnel_build(spark, sf_dir)
    )


def _funnel_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-checkpoint lineage of :func:`x_agg_funnel` (plan-guard hook)."""
    ev = table(spark, sf_dir, "events")
    s1 = (
        ev.filter(F.col("event_type") == FUNNEL_STAGES[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == FUNNEL_STAGES[1])
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == FUNNEL_STAGES[2])
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    c1 = s1.agg(F.count("*").alias("n_stage1"))
    c2 = s2.agg(F.count("*").alias("n_stage2"))
    c3 = s3.agg(F.count("*").alias("n_stage3"))
    return c1.crossJoin(c2).crossJoin(c3)


#: Week-index epoch for cohort analysis: the fixture's first event day.
#: Integer day-diff div 7 on BOTH engines — no timezone- or
#: origin-sensitive week truncation (date_trunc('week') and time_bucket
#: disagree on origins across engines; an explicit epoch cannot).
RETENTION_EPOCH = "2024-01-01"


@register(
    "x_agg_retention",
    oracle=f"""
    WITH wk AS (
        SELECT DISTINCT user_id,
               date_diff('day', DATE '{RETENTION_EPOCH}',
                         ts::TIMESTAMP) // 7 AS w
        FROM events
    ),
    coh AS (SELECT user_id, min(w) AS c FROM wk GROUP BY user_id)
    SELECT coh.c::BIGINT AS cohort_week,
           (wk.w - coh.c)::BIGINT AS week_offset,
           count(*)::BIGINT AS n_users
    FROM wk JOIN coh USING (user_id)
    GROUP BY 1, 2
    """,
)
def x_agg_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by their FIRST active week
    (the cohort), counted in every later week they return — the
    (cohort_week, week_offset) → user-count triangle behind every
    retention dashboard.  Week indices are integer day-differences from a
    pinned epoch ``div 7``: pure integer arithmetic both engines compute
    identically, where ``date_trunc('week')``/``time_bucket`` carry
    engine-specific origin conventions.

    Plan: distinct (user, week) is one dedup aggregate; the cohort min is
    a second aggregate on the SAME user_id key; the join and the final
    cell rollup reuse that key until the last cells-sized aggregate —
    AQE chains one exchange layout through the whole query, and the
    per-user frames are weeks-bounded (≤ a few rows each) regardless of
    event volume.  The first dedup dominates and is map-side
    combinable.

    Session-shared with ``flagship_analytics`` (its `retention` metric):
    one build per session, lineage exposed as ``_retention_build``."""
    return _session_shared(
        spark, sf_dir, "agg_retention", lambda: _retention_build(spark, sf_dir)
    )


def _retention_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-checkpoint lineage of :func:`x_agg_retention`."""
    wk = (
        table(spark, sf_dir, "events")
        .select(
            "user_id",
            F.expr(
                f"datediff(to_date(ts), date'{RETENTION_EPOCH}') div 7"
            ).alias("w"),
        )
        .distinct()
    )
    coh = wk.groupBy("user_id").agg(F.min("w").alias("c"))
    return (
        wk.join(coh, "user_id")
        .groupBy(
            F.col("c").cast("bigint").alias("cohort_week"),
            (F.col("w") - F.col("c")).cast("bigint").alias("week_offset"),
        )
        .agg(F.count("*").alias("n_users"))
    )


#: Trailing time-frame width for the range-frame window (seconds).
RANGE_FRAME_SEC = 3600


@register(
    "x_win_range_frame",
    oracle=f"""
    SELECT event_id, user_id,
           (epoch_us(ts::TIMESTAMP) // 1000000)::BIGINT AS sec,
           count(*) OVER w AS n_1h,
           round(avg(value) OVER w, 6) AS avg_1h
    FROM events
    WINDOW w AS (
        PARTITION BY user_id
        ORDER BY (epoch_us(ts::TIMESTAMP) // 1000000)::BIGINT
        RANGE BETWEEN {RANGE_FRAME_SEC} PRECEDING AND CURRENT ROW
    )
    """,
)
def x_win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based sliding frame: per event, the count and mean value of
    the same user's events in the trailing hour — RANGE framing over
    actual time, where ``x_win_running``/``x_win_lag_lead`` use ROWS
    framing over positions.  The moving-aggregate shape behind rate
    limiting, anomaly baselines, and rolling feature engineering.

    Determinism: the frame bound is EPOCH SECONDS as an integer on both
    sides (sub-second precision differs across engines — DuckDB frames
    nanos, Spark's rangeBetween needs a numeric key anyway), and RANGE
    framing makes equal-second peers members of each other's frames, so
    peer order inside the partition cannot change any aggregate; the
    mean is rounded 6 against accumulation-order ulps.

    Plan: ONE hash exchange on user_id + an intra-partition sort —
    identical shuffle shape to the sessionize window, so AQE shares the
    layout when composed; the frame aggregates stream over the sorted
    run: a single wide stage with per-user state bounded by the hour's
    event count."""
    # integer floor-div like the oracle's epoch_us // 1000000 — a double
    # division could truncate one low on values that round just under
    sec = F.expr("unix_micros(ts) div 1000000")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("sec"))
        .rangeBetween(-RANGE_FRAME_SEC, 0)
    )
    return (
        table(spark, sf_dir, "events")
        .select("event_id", "user_id", sec.alias("sec"), "value")
        .select(
            "event_id",
            "user_id",
            "sec",
            F.count("*").over(w).alias("n_1h"),
            F.round(F.avg("value").over(w), 6).alias("avg_1h"),
        )
    )


#: Rolling-distinct window width in days (the WAU window).
ROLLING_DISTINCT_DAYS = 7


@register(
    "x_agg_rolling_distinct",
    oracle=f"""
    WITH ud AS (
        SELECT DISTINCT user_id,
               date_diff('day', DATE '{RETENTION_EPOCH}',
                         ts::TIMESTAMP) AS d
        FROM events
    ),
    cover AS (
        SELECT DISTINCT user_id, d + g.o AS d2
        FROM ud, unnest(generate_series(0, {ROLLING_DISTINCT_DAYS - 1}))
             AS g(o)
    ),
    days AS (SELECT DISTINCT d FROM ud)
    SELECT cover.d2::BIGINT AS day_idx,
           count(*)::BIGINT AS n_users_7d
    FROM cover JOIN days ON cover.d2 = days.d
    GROUP BY 1
    """,
)
def x_agg_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling DISTINCT count (7-day active users per day) — the metric a
    plain window cannot produce, because distinct does not decompose over
    sliding frames (yesterday's WAU and today's events don't tell you
    today's WAU).  The scalable rendering inverts the window: each
    (user, active-day) fact COVERS the 7 window
    end-days it contributes to, so a map-side explode of w tiny integers
    plus one dedup turns window-distinct into two plain hash aggregates —
    no per-day re-scan, no O(days × window) self-join, no
    approximate-distinct compromise.  Output days are restricted to days
    that actually occur (the fixture's observed range), and day indices
    are integer diffs from the pinned epoch (the retention convention).

    Dedup of (user, day) is the dominant aggregate and is map-side
    combinable; the 7× cover explode multiplies the DEDUPED frame, not
    raw events.

    Session-shared with ``flagship_analytics`` (its `wau` metric): one
    build per session, lineage exposed as ``_rolling_distinct_build``."""
    return _session_shared(
        spark,
        sf_dir,
        "agg_rolling_distinct",
        lambda: _rolling_distinct_build(spark, sf_dir),
    )


def _rolling_distinct_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-checkpoint lineage of :func:`x_agg_rolling_distinct`."""
    ud = (
        table(spark, sf_dir, "events")
        .select(
            "user_id",
            F.expr(f"datediff(to_date(ts), date'{RETENTION_EPOCH}')").alias(
                "d"
            ),
        )
        .distinct()
    )
    cover = (
        ud.select(
            "user_id",
            F.explode(
                F.sequence(
                    F.col("d"), F.col("d") + (ROLLING_DISTINCT_DAYS - 1)
                )
            ).alias("d2"),
        )
        .distinct()
    )
    days = ud.select("d").distinct()
    return (
        cover.join(days, cover.d2 == days.d)
        .groupBy(F.col("d2").cast("bigint").alias("day_idx"))
        .agg(F.count("*").alias("n_users_7d"))
    )


#: As-of tolerance: a purchase only "explains" an error within this gap.
ASOF_TOLERANCE_SEC = 24 * 3600


@register(
    "x_join_asof_tolerance",
    oracle=f"""
    SELECT e.event_id, e.user_id, e.ts,
           (SELECT max(p.ts) FROM events p
            WHERE p.user_id = e.user_id AND p.event_type = 'purchase'
              AND p.ts <= e.ts)::TIMESTAMP AS last_purchase_ts,
           (epoch_us(e.ts::TIMESTAMP)
            - epoch_us((SELECT max(p.ts) FROM events p
                        WHERE p.user_id = e.user_id
                          AND p.event_type = 'purchase'
                          AND p.ts <= e.ts)::TIMESTAMP)) // 1000000
               AS gap_sec
    FROM events e
    WHERE e.event_type = 'error'
      AND (SELECT max(p.ts) FROM events p
           WHERE p.user_id = e.user_id AND p.event_type = 'purchase'
             AND p.ts <= e.ts)
          >= e.ts - INTERVAL {ASOF_TOLERANCE_SEC} SECOND
    """,
)
def x_join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join with a match tolerance: each error event joined to the
    user's latest purchase at or before it, KEPT only when that purchase
    falls within the trailing 24 h — the sensor-fusion/attribution
    variant where a stale match is as useless as none (pandas
    ``merge_asof(tolerance=...)``, QuestDB ``ASOF JOIN ... TOLERANCE``).

    Same scalable shape as ``x_join_asof`` — merged-stream running max
    over ONE user_id shuffle, purchases sorting before coincident errors
    — plus a codegen'd gap filter; the gap is reported in integer
    seconds via ``unix_micros`` floor-division, exact in both engines.
    The tolerance does not change the plan, only the filter."""
    e = table(spark, sf_dir, "events")
    is_purchase = F.col("event_type") == "purchase"
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", F.when(is_purchase, 0).otherwise(1), "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    running = e.withColumn(
        "last_purchase_ts", F.max(F.when(is_purchase, F.col("ts"))).over(w)
    )
    gap_sec = F.expr(
        "(unix_micros(ts) - unix_micros(last_purchase_ts)) div 1000000"
    )
    return (
        running.filter(F.col("event_type") == "error")
        .filter(
            F.col("last_purchase_ts")
            >= F.col("ts") - F.expr(f"INTERVAL {ASOF_TOLERANCE_SEC} SECOND")
        )
        .select(
            "event_id",
            "user_id",
            "ts",
            "last_purchase_ts",
            gap_sec.alias("gap_sec"),
        )
    )


# ---------------------------------------------------------------------------
# Flagship: the product-analytics daily report (round 8)
# ---------------------------------------------------------------------------

from ..registry import oracle_of as _oracle_of  # noqa: E402


def _flagship_analytics_oracle() -> str:
    """Composite oracle: each member query's REGISTERED oracle embedded as
    a subquery, so the flagship's ground truth is definitionally the
    members' — no duplicated SQL to drift.  (etl registers before
    relational in ``_load_all``'s import order, so the DQ oracle is
    available here.)"""
    return f"""
    SELECT 'funnel' AS metric, s.key AS key, s.value AS value
    FROM ({_oracle_of("x_agg_funnel")}) f,
         LATERAL (VALUES ('stage1', f.n_stage1), ('stage2', f.n_stage2),
                         ('stage3', f.n_stage3)) AS s(key, value)
    UNION ALL
    SELECT 'wau', day_idx::VARCHAR, n_users_7d
    FROM ({_oracle_of("x_agg_rolling_distinct")})
    UNION ALL
    SELECT 'retention',
           cohort_week::VARCHAR || '+' || week_offset::VARCHAR, n_users
    FROM ({_oracle_of("x_agg_retention")})
    UNION ALL
    SELECT 'mode', source || ':' || mode_lang, n_docs_mode
    FROM ({_oracle_of("x_agg_mode")})
    UNION ALL
    SELECT 'dq', rule_id, n_violations
    FROM ({_oracle_of("x_etl_dq_report")})
    """


@register("flagship_analytics", oracle=_flagship_analytics_oracle())
def flagship_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The product-analytics daily report: funnel conversion, rolling
    7-day active users, the cohort-retention matrix, per-source dominant
    language, and the data-quality gate — five operators COMPOSED into
    one (metric, key, value) frame, the artifact a scheduled reporting
    job publishes each morning.  Like ``flagship_curation`` proves the
    curation operators compose, this proves the analytics layer does:
    the Spark side calls the registered member operators and reshapes
    their frames; the oracle embeds the members' REGISTERED oracle SQL
    as subqueries, so one driver hash-match re-attests five operators
    and their composition in a single row set.

    Plan: a union of five independent subplans — Spark schedules their
    stages concurrently, and every member keeps its standalone shape
    (funnel's user_id-chained min-aggregates, WAU's window inversion,
    retention's single exchange layout, mode's argmax aggregates, DQ's
    conditional scans).  Composition adds zero shuffles: the reshape
    to (metric, key, value) is a codegen'd projection per member."""
    from .etl import x_etl_dq_report

    # stack() unpivots the ONE funnel row in a single projection — a
    # union of three selects over `f` would re-execute the funnel's
    # chained min-aggregate subplan once per branch.
    funnel = x_agg_funnel(spark, sf_dir).select(
        F.lit("funnel").alias("metric"),
        F.expr(
            "stack(3, 'stage1', n_stage1, 'stage2', n_stage2,"
            " 'stage3', n_stage3) AS (key, value)"
        ),
    )
    wau = x_agg_rolling_distinct(spark, sf_dir).select(
        F.lit("wau").alias("metric"),
        F.col("day_idx").cast("string").alias("key"),
        F.col("n_users_7d").alias("value"),
    )
    ret = x_agg_retention(spark, sf_dir).select(
        F.lit("retention").alias("metric"),
        F.concat(
            F.col("cohort_week").cast("string"),
            F.lit("+"),
            F.col("week_offset").cast("string"),
        ).alias("key"),
        F.col("n_users").alias("value"),
    )
    mode = x_agg_mode(spark, sf_dir).select(
        F.lit("mode").alias("metric"),
        F.concat("source", F.lit(":"), "mode_lang").alias("key"),
        F.col("n_docs_mode").alias("value"),
    )
    dq = x_etl_dq_report(spark, sf_dir).select(
        F.lit("dq").alias("metric"),
        F.col("rule_id").alias("key"),
        F.col("n_violations").alias("value"),
    )
    return funnel.unionByName(wau).unionByName(ret).unionByName(mode).unionByName(dq)


@register(
    "x_win_streaks",
    oracle=f"""
    WITH ud AS (
        SELECT DISTINCT user_id,
               date_diff('day', DATE '{RETENTION_EPOCH}',
                         ts::TIMESTAMP) AS d
        FROM events
    ),
    isl AS (
        SELECT user_id, d,
               d - row_number() OVER (PARTITION BY user_id ORDER BY d)
                   AS island
        FROM ud
    ),
    runs AS (
        SELECT user_id, island, count(*) AS len
        FROM isl GROUP BY user_id, island
    )
    SELECT user_id,
           sum(len)::BIGINT AS n_active_days,
           count(*)::BIGINT AS n_streaks,
           max(len)::BIGINT AS longest_streak
    FROM runs GROUP BY user_id
    """,
)
def x_win_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: each user's consecutive-active-day streaks —
    total active days, number of distinct streaks, and the longest run —
    the engagement metric behind every 'N-day streak' feature and the
    canonical SQL-pattern the window family was missing.  The island
    key is the classic ``day − row_number()`` trick: consecutive days
    share a constant difference, so runs become plain group keys.
    Deterministic by construction: the ordering key is the DISTINCT
    active day (unique per user), and everything is integer arithmetic.

    Plan: dedup (user, day) — map-side combinable, the frame all the
    engagement ops share — then ONE user_id window for the row_number
    and two hash aggregates that reuse the same user-keyed exchange
    layout (AQE chains them).  Per-user state is days-bounded regardless
    of event volume."""
    ud = (
        table(spark, sf_dir, "events")
        .select(
            "user_id",
            F.expr(f"datediff(to_date(ts), date'{RETENTION_EPOCH}')").alias(
                "d"
            ),
        )
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("d")
    isl = ud.select(
        "user_id", "d", (F.col("d") - F.row_number().over(w)).alias("island")
    )
    runs = isl.groupBy("user_id", "island").agg(F.count("*").alias("len"))
    return runs.groupBy("user_id").agg(
        F.sum("len").cast("bigint").alias("n_active_days"),
        F.count("*").alias("n_streaks"),
        F.max("len").cast("bigint").alias("longest_streak"),
    )


@register(
    "x_join_full_outer",
    oracle="""
    WITH billed AS (
        SELECT date_trunc('month', o_orderdate)::DATE AS month,
               round(sum(o_totalprice::DECIMAL(30,10)), 2)::DOUBLE AS billed
        FROM orders GROUP BY month
    ),
    shipped AS (
        SELECT date_trunc('month', l_shipdate)::DATE AS month,
               round(sum((l_extendedprice * (1 - l_discount))
                         ::DECIMAL(30,10)), 2)::DOUBLE AS shipped
        FROM lineitem GROUP BY month
    )
    SELECT coalesce(b.month, s.month) AS month, b.billed, s.shipped,
           CASE WHEN b.month IS NULL THEN 'shipped_only'
                WHEN s.month IS NULL THEN 'billed_only'
                ELSE 'both' END AS status
    FROM billed b FULL OUTER JOIN shipped s ON b.month = s.month
    """,
)
def x_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join — the reconciliation shape: monthly billed
    revenue (orders) against monthly shipped revenue (lineitem), keeping
    months present on EITHER side (shipping trails billing by months at
    the range edges, which is exactly what a reconciliation must
    surface, and what inner/left joins silently drop).

    Plan: both sides aggregate to month grain FIRST (map-side partials
    collapse the facts to dozens of rows), so the full-outer join runs
    over aggregate-sized inputs — the cheap way to reconcile at any
    scale; joining the raw facts full-outer would shuffle everything to
    preserve null-extension semantics."""
    billed = (
        table(spark, sf_dir, "orders")
        .groupBy(F.date_trunc("month", "o_orderdate").cast("date").alias("month"))
        .agg(
            F.round(F.sum(F.col("o_totalprice").cast("decimal(30,10)")), 2)
            .cast("double")
            .alias("billed")
        )
    )
    shipped = (
        table(spark, sf_dir, "lineitem")
        .groupBy(F.date_trunc("month", "l_shipdate").cast("date").alias("month"))
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
            .alias("shipped")
        )
    )
    b = billed.withColumnRenamed("month", "b_month")
    s = shipped.withColumnRenamed("month", "s_month")
    return (
        b.join(s, F.col("b_month") == F.col("s_month"), "full_outer")
        .select(
            F.coalesce("b_month", "s_month").alias("month"),
            "billed",
            "shipped",
            F.when(F.col("b_month").isNull(), F.lit("shipped_only"))
            .when(F.col("s_month").isNull(), F.lit("billed_only"))
            .otherwise(F.lit("both"))
            .alias("status"),
        )
    )


@register(
    "x_set_except_all",
    oracle="""
    SELECT o_custkey AS custkey FROM orders
    EXCEPT ALL
    SELECT c_custkey FROM customer WHERE c_acctbal > 5000
    """,
)
def x_set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset difference (EXCEPT ALL): each premium customer
    (acctbal > 5000) cancels exactly ONE of their order occurrences,
    all other multiplicity is preserved — the bag semantics that plain
    EXCEPT (set) collapses, completing the set-op family
    (``x_set_union/intersect/except`` are the distinct variants).

    Plan: Spark lowers ``exceptAll`` to a count-aggregate + generate
    (per-key multiplicity arithmetic), not a sort — one shuffle on the
    value, output multiplicity = max(left_n − right_n, 0)."""
    o = table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey")
    )
    prem = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 5000)
        .select(F.col("c_custkey").alias("custkey"))
    )
    return o.exceptAll(prem)


#: Range-bucketization geometry: proximity window and bucket width (equal,
#: so each probe touches exactly its own and two neighbor buckets).
RANGE_BUCKET_SEC = 300


@register(
    "x_join_range_bucketed",
    oracle=f"""
    SELECT p.event_id AS purchase_id, e.event_id AS error_id,
           round((epoch_us(e.ts) - epoch_us(p.ts)) / 1.0e6, 6) AS dt_sec
    FROM events p JOIN events e
      ON e.ts >= p.ts - INTERVAL {RANGE_BUCKET_SEC} SECOND
     AND e.ts <= p.ts + INTERVAL {RANGE_BUCKET_SEC} SECOND
    WHERE p.event_type = 'purchase' AND e.event_type = 'error'
    """,
)
def x_join_range_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact range join by bucketization: every purchase paired with
    every error event within ±300s — incident correlation
    ("did checkouts fail around that error burst?").  This is the
    technique ``x_join_range``'s broadcast-band plan cannot give you
    when BOTH sides are fact-sized: Spark has no native range-join
    optimization, and the naive theta join is a nested loop over n²
    comparisons.

    Bucketize instead: bucket the probe side by floor(epoch/W), explode
    the build side into its own and both neighbor buckets (window = W,
    so three buckets cover every possible match), equi-join on the
    bucket id, and apply the true |Δt| ≤ W predicate as the join
    residual.  Cost: 3× build-side duplication buys an EQUI join —
    shuffle-partitionable, AQE-skew-splittable, n·density instead of
    n².  The same trick backs the streaming interval join and the LSH
    band join.

    Determinism: Δt is an exact integer microsecond difference scaled
    once — no float accumulation."""
    ev = table(spark, sf_dir, "events")
    w_us = RANGE_BUCKET_SEC * 1_000_000
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.unix_micros("ts").alias("p_us"),
    )
    e = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"),
        F.unix_micros("ts").alias("e_us"),
    )
    probe = p.withColumn("bucket", F.floor(F.col("p_us") / w_us))
    build = e.select(
        "error_id",
        "e_us",
        F.explode(
            F.array(
                F.floor(F.col("e_us") / w_us) - 1,
                F.floor(F.col("e_us") / w_us),
                F.floor(F.col("e_us") / w_us) + 1,
            )
        ).alias("bucket"),
    )
    dt = F.col("e_us") - F.col("p_us")
    return (
        probe.join(build, "bucket")
        .filter((dt >= -w_us) & (dt <= w_us))
        .select(
            "purchase_id",
            "error_id",
            F.round(dt / 1.0e6, 6).alias("dt_sec"),
        )
    )


#: ONE SQL text, two engines: executed verbatim by spark.sql() over the
#: registered temp views AND by the DuckDB oracle — the dialect-portable
#: ANSI subset (CAST not ::, subquery not QUALIFY, rank with explicit
#: tiebreak).
PORTABLE_TOPN_SQL = """
    SELECT c_nationkey, c_custkey, round(c_acctbal, 2) AS acctbal, rnk
    FROM (SELECT c_custkey, c_nationkey, c_acctbal,
                 CAST(rank() OVER (PARTITION BY c_nationkey
                                   ORDER BY c_acctbal DESC, c_custkey)
                      AS BIGINT) AS rnk
          FROM customer WHERE c_acctbal > 0) t
    WHERE rnk <= 3
"""


@register("x_sql_text_api", oracle=PORTABLE_TOPN_SQL)
def x_sql_text_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-text entry point: the IDENTICAL ANSI string runs through
    ``spark.sql()`` over registered temp views and through the DuckDB
    oracle — `queries()` and `oracle_sql()` share one constant
    (``PORTABLE_TOPN_SQL``), so a hash match here attests the engine's
    SQL surface end-to-end (parser → Catalyst → execution), not just the
    DataFrame API that every other operator exercises.

    Catalyst compiles the text to exactly the plan the DataFrame
    spelling would get: scan-pushed ``c_acctbal > 0`` filter, one
    nation-keyed rank window, rank filter above it."""
    from ..tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(PORTABLE_TOPN_SQL)


@register(
    "x_udf_pandas_grouped_agg",
    oracle="""
    WITH r AS (
        SELECT c_nationkey, c_acctbal,
               row_number() OVER (PARTITION BY c_nationkey
                                  ORDER BY c_acctbal, c_custkey) AS rn,
               count(*) OVER (PARTITION BY c_nationkey) AS n
        FROM customer
    )
    SELECT c_nationkey,
           count(*) AS n_kept,
           round(sum(c_acctbal::DECIMAL(30,10))::DOUBLE / count(*), 6)
               AS trimmed_mean
    FROM r
    WHERE rn > floor(n * 0.1) AND rn <= n - floor(n * 0.1)
    GROUP BY c_nationkey
    """,
)
def x_udf_pandas_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized user-defined AGGREGATE (pandas GROUPED_AGG): per-nation
    10%-trimmed mean of account balances — the custom-aggregate escape
    hatch for statistics the built-ins lack, demonstrated on one that
    needs the whole group (order statistics), completing the UDF surface
    next to ``x_udf_pandas``'s scalar form.

    Arrow ships each nation's balances to Python ONCE as a single array
    (``AggregateInPandas`` — never row-at-a-time ``BatchEvalPython``);
    the UDF sorts, trims 10% from each tail, and returns ``fsum`` of the
    kept slice over its count.  ``math.fsum`` is the correctly-rounded
    true sum, which equals the oracle's exact DECIMAL sum cast to double
    — so the float result is bit-identical despite two entirely
    different execution paths.  Trim ties are harmless: equal values at
    the cut keep the same multiset whichever copies survive.

    Scale: grouped-agg UDFs require the whole group in memory on one
    executor — right for dimension-keyed groups like this (thousands of
    rows); for fact-sized groups use the sketch/sufficient-statistics
    operators instead (``x_agg_percentile``, ``x_agg_regression_stats``)."""
    import math

    import numpy as np
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit functionType (not hint inference): this module stringifies
    # annotations via `from __future__ import annotations`, so pd.Series
    # hints would not resolve here (llm.py:44 documents the same trap)
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def trimmed_mean(v):
        xs = np.sort(v.to_numpy())
        k = int(len(xs) * 0.1)
        kept = xs[k : len(xs) - k]
        return math.fsum(float(x) for x in kept) / len(kept)

    @pandas_udf("long", PandasUDFType.GROUPED_AGG)
    def n_kept(v):
        k = int(len(v) * 0.1)
        return len(v) - 2 * k

    c = table(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey").agg(
        n_kept("c_acctbal").alias("n_kept"),
        F.round(trimmed_mean("c_acctbal"), 6).alias("trimmed_mean"),
    )


@register(
    "x_agg_string_agg",
    oracle="""
    SELECT r_name,
           count(*)::BIGINT AS n_nations,
           string_agg(n_name, ',' ORDER BY n_name) AS nations_csv
    FROM region, nation
    WHERE n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def x_agg_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG / string_agg): each region's
    member nations as one deterministic comma-joined string — the
    denormalization step that feeds labels, reports and prompt
    templates.  Spark has no ordered listagg aggregate, so the portable
    spelling is collect_list → array_sort → concat_ws, which is exactly
    equivalent to ``string_agg(... ORDER BY ...)`` because the sort
    happens AFTER collection (collection order — nondeterministic under
    partitioning — never reaches the output).

    Plan: one hash aggregate over the broadcast-joined dims; collect_list
    is bounded by group fan-in (25 nations), the known LISTAGG scaling
    caveat (a group's list must fit an executor — true of any engine's
    string_agg)."""
    r = table(spark, sf_dir, "region")
    n = table(spark, sf_dir, "nation")
    return (
        n.join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(
            F.count("*").cast("bigint").alias("n_nations"),
            F.concat_ws(",", F.array_sort(F.collect_list("n_name"))).alias(
                "nations_csv"
            ),
        )
    )


@register(
    "x_set_symmetric_diff",
    oracle="""
    WITH a AS (
        SELECT DISTINCT o_custkey AS k FROM orders
        WHERE year(o_orderdate) = 1995
    ),
    b AS (
        SELECT DISTINCT o_custkey AS k FROM orders
        WHERE year(o_orderdate) = 2000
    )
    SELECT k AS c_custkey, 'only_1995' AS side
    FROM (SELECT k FROM a EXCEPT SELECT k FROM b)
    UNION ALL
    SELECT k, 'only_2000'
    FROM (SELECT k FROM b EXCEPT SELECT k FROM a)
    """,
)
def x_set_symmetric_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric difference with provenance: customers who ordered in
    1995 XOR in 2000, tagged by which side they belong to — the churn /
    new-cohort split (EXCEPT each way + union), completing the set
    family (union / intersect / except / except-all already
    registered).

    Plan: both year filters push into the orders scan; each side
    reduces to a distinct on the key and the two EXCEPTs lower to hash
    left-anti joins on already-distinct inputs — never a sort, and the
    second side reuses the first's shuffle layout (same key)."""
    o = table(spark, sf_dir, "orders")
    # each key set feeds BOTH anti-joins: materialize them once or the
    # orders scan re-executes per consumption (4 scans without this)
    a = (
        o.filter(F.year("o_orderdate") == 1995)
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
        .localCheckpoint()
    )
    b = (
        o.filter(F.year("o_orderdate") == 2000)
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
        .localCheckpoint()
    )
    only_a = a.join(b, "c_custkey", "left_anti").withColumn(
        "side", F.lit("only_1995")
    )
    only_b = b.join(a, "c_custkey", "left_anti").withColumn(
        "side", F.lit("only_2000")
    )
    return only_a.unionByName(only_b)


@register(
    "x_join_scd2_pointintime",
    oracle="""
    WITH dim AS (
        SELECT c_custkey, TIMESTAMP '1995-01-01' AS valid_from,
               c_mktsegment AS seg
        FROM customer
        UNION ALL
        SELECT c_custkey, TIMESTAMP '1998-01-01',
               'MOVED_' || c_mktsegment
        FROM customer WHERE c_custkey % 3 = 0
    ),
    merged AS (
        SELECT c_custkey AS k, valid_from AS t, 0 AS typ,
               seg, valid_from, NULL::BIGINT AS o_orderkey
        FROM dim
        UNION ALL
        SELECT o_custkey, o_orderdate, 1, NULL, NULL, o_orderkey
        FROM orders
    ),
    carried AS (
        SELECT k, t, typ, o_orderkey,
               last_value(seg IGNORE NULLS) OVER fr AS eff_segment,
               last_value(valid_from IGNORE NULLS) OVER fr AS eff_from
        FROM merged
        WINDOW fr AS (PARTITION BY k ORDER BY t, typ, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT o_orderkey, k AS o_custkey, t AS o_orderdate,
           eff_segment, eff_from
    FROM carried WHERE typ = 1
    """,
)
def x_join_scd2_pointintime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (SCD Type-2) dimension join: each order resolves
    the dimension version that was valid ON ITS ORDER DATE — the
    temporal-correctness join every warehouse needs once dims carry
    history (joining today's segment onto 1996 orders silently rewrites
    the past).  The versioned dim is synthesized deterministically from
    customer (v1 from 1995-01-01; a changed v2 from 1998-01-01 for
    every third customer) so both engines see identical history.

    Plan: the merged-stream formulation (the ``x_join_asof`` shape on a
    composite key): union dim-version rows and fact rows into one
    stream, ONE window partitioned by the business key ordered by
    (date, type, tiebreak) carries the last version attributes forward
    (dim rows sort before same-date facts, so a version effective on
    the order date applies), then facts filter out.  ONE shuffle on the
    key — versus the naive range join (fact × every version, then
    max-filter) which doubles the fact shuffle and risks BNL on the
    range predicate.  The union's dim side is version-count-sized, small
    against the fact stream."""
    c = table(spark, sf_dir, "customer")
    v1 = c.select(
        F.col("c_custkey").alias("k"),
        F.lit("1995-01-01").cast("timestamp").alias("t"),
        F.lit(0).alias("typ"),
        F.col("c_mktsegment").alias("seg"),
        F.lit("1995-01-01").cast("timestamp").alias("valid_from"),
        F.lit(None).cast("bigint").alias("o_orderkey"),
    )
    v2 = c.filter(F.col("c_custkey") % 3 == 0).select(
        F.col("c_custkey").alias("k"),
        F.lit("1998-01-01").cast("timestamp").alias("t"),
        F.lit(0).alias("typ"),
        F.concat(F.lit("MOVED_"), F.col("c_mktsegment")).alias("seg"),
        F.lit("1998-01-01").cast("timestamp").alias("valid_from"),
        F.lit(None).cast("bigint").alias("o_orderkey"),
    )
    facts = table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").alias("t"),
        F.lit(1).alias("typ"),
        F.lit(None).cast("string").alias("seg"),
        F.lit(None).cast("timestamp").alias("valid_from"),
        "o_orderkey",
    )
    fr = (
        Window.partitionBy("k")
        .orderBy("t", "typ", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    merged = v1.unionByName(v2).unionByName(facts)
    return (
        merged.select(
            "k",
            "t",
            "typ",
            "o_orderkey",
            F.last("seg", ignorenulls=True).over(fr).alias("eff_segment"),
            F.last("valid_from", ignorenulls=True).over(fr).alias("eff_from"),
        )
        .filter(F.col("typ") == 1)
        .select(
            "o_orderkey",
            F.col("k").alias("o_custkey"),
            F.col("t").alias("o_orderdate"),
            "eff_segment",
            "eff_from",
        )
    )


@register(
    "x_agg_bitmask_usage",
    oracle="""
    WITH m AS (
        SELECT user_id,
               bit_or(CASE event_type
                      WHEN 'click' THEN 1 WHEN 'view' THEN 2
                      WHEN 'purchase' THEN 4 WHEN 'signup' THEN 8
                      ELSE 16 END)::BIGINT AS feature_mask
        FROM events GROUP BY user_id
    )
    SELECT user_id, feature_mask,
           (bit_count(feature_mask))::BIGINT AS n_features,
           ((feature_mask & 4) > 0) AS has_purchased
    FROM m
    """,
)
def x_agg_bitmask_usage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-usage bitmask per user: each event type maps to a bit,
    BIT_OR folds a user's history into one integer, POPCOUNT gives the
    breadth score — the compact set-membership encoding behind
    segment-targeting filters ('used purchase AND signup') that at
    warehouse scale replaces five boolean columns (or a slow
    array_distinct) with single-integer bitwise algebra.

    Plan: ONE hash aggregate; bit_or partials fold map-side (bitwise OR
    is commutative/associative — ideal combine), and the popcount /
    membership tests are codegen'd projections above it."""
    m = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.bit_or(
                F.when(F.col("event_type") == "click", 1)
                .when(F.col("event_type") == "view", 2)
                .when(F.col("event_type") == "purchase", 4)
                .when(F.col("event_type") == "signup", 8)
                .otherwise(16)
            )
            .cast("bigint")
            .alias("feature_mask")
        )
    )
    return m.select(
        "user_id",
        "feature_mask",
        F.bit_count("feature_mask").cast("bigint").alias("n_features"),
        (F.col("feature_mask").bitwiseAND(4) > 0).alias("has_purchased"),
    )


@register(
    "x_win_first_last_value",
    oracle="""
    SELECT DISTINCT user_id,
           first_value(value) OVER fr AS first_val,
           last_value(value) OVER fr AS last_val,
           nth_value(value, 2) OVER fr AS second_val,
           count(*) OVER fr AS n_events
    FROM events
    WINDOW fr AS (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING
                      AND UNBOUNDED FOLLOWING)
    """,
)
def x_win_first_last_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIRST_VALUE / LAST_VALUE / NTH_VALUE over the full per-user frame
    — the value-navigation window family (first touch, latest state,
    second observation) completing the rank/lag/running/range/frame
    coverage.  The frame is explicitly UNBOUNDED-to-UNBOUNDED: the
    default RANGE..CURRENT ROW frame silently makes last_value mean
    'current row', the classic window gotcha this operator pins
    correctly in both engines; ordering carries the (ts, event_id)
    total order so nth_value is deterministic under timestamp ties.

    Plan: one user-keyed sort window; DISTINCT collapses the
    event-sized window output to user grain (all four values are
    frame-constant per user, so the distinct is exact)."""
    fr = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        table(spark, sf_dir, "events")
        .select(
            "user_id",
            F.first("value").over(fr).alias("first_val"),
            F.last("value").over(fr).alias("last_val"),
            F.nth_value("value", 2).over(fr).alias("second_val"),
            F.count("*").over(fr).alias("n_events"),
        )
        .distinct()
    )


@register(
    "x_agg_grouping_id",
    oracle="""
    SELECT coalesce(source, '(all)') AS source,
           coalesce(lang, '(all)') AS lang,
           grouping(source)::BIGINT AS g_source,
           grouping(lang)::BIGINT AS g_lang,
           count(*)::BIGINT AS n_docs
    FROM documents
    GROUP BY GROUPING SETS ((source, lang), (source), (lang), ())
    """,
)
def x_agg_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING() markers over grouping sets: the per-row flags that
    tell a report renderer which NULLs mean 'aggregated over' versus
    data NULLs — without them a cube/rollup consumer cannot distinguish
    a subtotal row from a row whose key is genuinely NULL (the
    companion surface to ``x_agg_rollup``/``x_agg_cube``/
    ``x_agg_grouping_sets``, which exercise the set expansion but not
    the markers).  Keys are coalesced to '(all)' AFTER the marker is
    taken, the rendering the markers exist to make safe.

    Plan: one expand + hash aggregate (the standard grouping-sets
    lowering); markers are virtual columns of the expand, costing
    nothing."""
    d = table(spark, sf_dir, "documents")
    return (
        d.groupingSets(
            [["source", "lang"], ["source"], ["lang"], []],
            "source",
            "lang",
        )
        .agg(
            F.grouping("source").cast("bigint").alias("g_source"),
            F.grouping("lang").cast("bigint").alias("g_lang"),
            F.count("*").cast("bigint").alias("n_docs"),
        )
        .select(
            F.coalesce("source", F.lit("(all)")).alias("source"),
            F.coalesce("lang", F.lit("(all)")).alias("lang"),
            "g_source",
            "g_lang",
            "n_docs",
        )
    )


@register(
    "x_agg_bool_logic",
    oracle="""
    SELECT c_nationkey,
           bool_and(c_acctbal > 0) AS all_positive,
           bool_or(c_acctbal < 0) AS any_negative,
           sum(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END)
               ::BIGINT AS n_building,
           count(*)::BIGINT AS n_customers
    FROM customer GROUP BY c_nationkey
    """,
)
def x_agg_bool_logic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregate surface: EVERY/ANY (bool_and/bool_or) plus a
    conditional count per group — the predicate-rollup family behind
    contract checks ('every row in the partition satisfies X') and
    segment flags, completing the aggregate surface next to the
    numeric/distinct/sketch families.

    Plan: one hash aggregate; boolean AND/OR partials are single-bit
    map-side combines (the cheapest aggregate Spark has)."""
    return (
        table(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(
            F.every(F.col("c_acctbal") > 0).alias("all_positive"),
            F.some(F.col("c_acctbal") < 0).alias("any_negative"),
            F.sum(F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0))
            .cast("bigint")
            .alias("n_building"),
            F.count("*").cast("bigint").alias("n_customers"),
        )
    )


@register(
    "x_agg_audience_overlap",
    oracle="""
    WITH ut AS (
        SELECT DISTINCT user_id, event_type FROM events
    ),
    n1 AS (SELECT event_type, count(*)::BIGINT AS n FROM ut GROUP BY 1)
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           count(*)::BIGINT AS n_both,
           na.n AS n_a, nb.n AS n_b,
           round(count(*)::DOUBLE / (na.n + nb.n - count(*)), 6)
               AS jaccard
    FROM ut a
    JOIN ut b ON a.user_id = b.user_id AND a.event_type < b.event_type
    JOIN n1 na ON na.event_type = a.event_type
    JOIN n1 nb ON nb.event_type = b.event_type
    GROUP BY a.event_type, b.event_type, na.n, nb.n
    """,
)
def x_agg_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap matrix: for every pair of event types, the
    exact distinct-user intersection and Jaccard — the
    campaign/feature-overlap question ('do purchasers also click?').

    Plan: the market-basket shape on users — DISTINCT (user, type)
    FIRST (one hash aggregate), so the self-join is quadratic only in a
    user's type set (≤ 5 here), linear in users; per-type audience
    sizes are a types-sized frame joined broadcast; one final pair
    aggregate.  The deduped frame is localCheckpointed — it feeds the
    sizes and both join sides, and without the barrier each consumer
    would re-scan events."""
    # ut feeds THREE consumers (sizes + both join sides): materialize the
    # deduped frame once (keep_best's localCheckpoint pattern) so events
    # is scanned a single time, not once per consumer
    ut = (
        table(spark, sf_dir, "events")
        .select("user_id", "event_type")
        .distinct()
        .localCheckpoint()
    )
    n1 = ut.groupBy("event_type").agg(F.count("*").cast("bigint").alias("n"))
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select("user_id", F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").cast("bigint").alias("n_both"))
    )
    na = n1.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    nb = n1.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    return (
        pairs.join(F.broadcast(na), "type_a")
        .join(F.broadcast(nb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_both",
            "n_a",
            "n_b",
            F.round(
                F.col("n_both").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_both")),
                6,
            ).alias("jaccard"),
        )
    )
