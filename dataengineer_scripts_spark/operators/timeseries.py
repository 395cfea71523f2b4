"""Time-series and statistical analytics over the ``events`` stream table
and the order history: rolling anomaly detection, time-weighted
averaging, marketing attribution, and grouped regression/correlation
from sufficient statistics.

Design notes:
- Every operator is ONE pass over events/orders: window functions ride a
  single (user/segment)-keyed shuffle; nothing is collected, nothing is
  iterated driver-side.
- Float discipline (the cross-engine contract used throughout the
  repo): every SUM of a float accumulates DECIMAL of the per-row term
  — per-row products of doubles are deterministic elementwise, decimal
  addition is exact and associative, so derived statistics (means,
  variances, slopes) are bit-identical regardless of partitioning, in
  Spark and in the DuckDB oracle alike.  This is also the
  sufficient-statistics pattern that makes the aggregates
  map-side-combinable at scale: each group reduces to a handful of
  exact sums that merge associatively across partitions.
- Rank/lead/last windows carry the (ts, event_id) total order
  (SURVEY.md §7.4.2 — ts alone can tie).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import register
from ..tables import local_frame, table

#: Rolling-anomaly geometry: trailing window size and the |z| flag bar.
ZSCORE_WINDOW = 10
ZSCORE_BAR = 2.0


@register(
    "x_ts_rolling_zscore",
    oracle=f"""
    WITH w AS (
        SELECT event_id, user_id, ts, value,
               count(*) OVER fr AS n,
               sum(value::DECIMAL(30,10)) OVER fr AS s,
               sum((value * value)::DECIMAL(30,10)) OVER fr AS s2
        FROM events
        WINDOW fr AS (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN {ZSCORE_WINDOW - 1} PRECEDING
                          AND CURRENT ROW)
    )
    SELECT event_id, user_id, ts, value,
           round(s::DOUBLE / n, 6) AS mean_w,
           CASE WHEN n > 1
                 AND (s2::DOUBLE - s::DOUBLE * s::DOUBLE / n) / (n - 1) > 0
                THEN round((value - s::DOUBLE / n)
                           / sqrt((s2::DOUBLE - s::DOUBLE * s::DOUBLE / n)
                                  / (n - 1)), 6)
           END AS z,
           CASE WHEN n > 1
                 AND (s2::DOUBLE - s::DOUBLE * s::DOUBLE / n) / (n - 1) > 0
                THEN abs((value - s::DOUBLE / n)
                         / sqrt((s2::DOUBLE - s::DOUBLE * s::DOUBLE / n)
                                / (n - 1))) > {ZSCORE_BAR}
                ELSE FALSE
           END AS is_anomaly
    FROM w
    """,
)
def x_ts_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection: each event's value against the
    mean/stddev of its user's trailing 10-event window —
    the online outlier flag of metric monitoring, fraud scoring and
    sensor QA, as one declarative pass.

    The variance comes from exact decimal rolling sums (n, Σx, Σx²) via
    ``(Σx² − (Σx)²/n)/(n−1)`` — deterministic across engines AND the
    mergeable-moments form a streaming/scale-out version would keep.
    Degenerate windows (n=1 or zero variance from cancellation) yield
    NULL z / FALSE flag by the same branch in both engines.

    Plan: ONE user-keyed shuffle; all three frame aggregates share the
    single window spec, and the z/flag math is a Project above it."""
    fr = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(ZSCORE_WINDOW - 1), 0)
    )
    v = F.col("value")
    n = F.count("*").over(fr)
    s = F.sum(v.cast("decimal(30,10)")).over(fr).cast("double")
    s2 = F.sum((v * v).cast("decimal(30,10)")).over(fr).cast("double")
    mean = s / n
    var = (s2 - s * s / n) / (n - 1)
    z = (v - mean) / F.sqrt(var)
    ok = (n > 1) & (var > 0)
    return table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.round(mean, 6).alias("mean_w"),
        F.when(ok, F.round(z, 6)).alias("z"),
        F.when(ok, F.abs(z) > ZSCORE_BAR).otherwise(F.lit(False)).alias(
            "is_anomaly"
        ),
    )


@register(
    "x_ts_time_weighted_avg",
    oracle="""
    WITH d AS (
        SELECT user_id, date_trunc('day', ts)::DATE AS day, ts, event_id,
               value,
               epoch_us(lead(ts) OVER (PARTITION BY user_id,
                                       date_trunc('day', ts)
                                       ORDER BY ts, event_id))
                   - epoch_us(ts) AS dt_us
        FROM events
    )
    SELECT user_id, day,
           round(sum((value * dt_us)::DECIMAL(38,6))::DOUBLE
                 / sum(dt_us::DECIMAL(38,6))::DOUBLE, 6) AS twap,
           count(*) AS n_intervals
    FROM d WHERE dt_us IS NOT NULL
    GROUP BY user_id, day
    """,
)
def x_ts_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value (TWAP) per user per day: each
    observation weighted by how long it was "current" (until the next
    event that day) — the correct daily average for irregularly-sampled
    gauges, where the arithmetic mean over-weights bursts.

    Weights are exact integer microsecond gaps from the (ts, event_id)
    lead; ``value × dt`` is elementwise, both sums accumulate DECIMAL,
    and the final division happens once per group — deterministic in
    both engines.  Days with a single event have no weighted interval
    and drop out (matching the open-ended last observation, which has
    no duration within the day).

    Plan: one (user, day)-keyed sort window for the lead, then a hash
    aggregate on the SAME key — AQE reuses the exchange; nothing else
    shuffles."""
    day = F.date_trunc("day", "ts").cast("date")
    ev = table(spark, sf_dir, "events").select(
        "user_id",
        day.alias("day"),
        "ts",
        "event_id",
        "value",
    )
    wl = Window.partitionBy("user_id", "day").orderBy("ts", "event_id")
    d = ev.withColumn(
        "dt_us",
        F.unix_micros(F.lead("ts").over(wl)) - F.unix_micros("ts"),
    ).filter(F.col("dt_us").isNotNull())
    return (
        d.groupBy("user_id", "day")
        .agg(
            # try_divide: a user-day whose events are ALL simultaneous has
            # zero total duration (every lead gap is 0) — TWAP is then
            # undefined: NULL in DuckDB (double/0), a throw under ANSI
            # Spark (duplicate-timestamp warehouse probe, r17)
            F.round(
                F.try_divide(
                    F.sum(
                        (F.col("value") * F.col("dt_us")).cast("decimal(38,6)")
                    ).cast("double"),
                    F.sum(F.col("dt_us").cast("decimal(38,6)")).cast("double"),
                ),
                6,
            ).alias("twap"),
            F.count("*").alias("n_intervals"),
        )
    )


#: Touchpoint event types eligible for purchase attribution.
TOUCH_TYPES = ("click", "view")


@register(
    "x_ts_attribution_last_touch",
    oracle=f"""
    WITH t AS (
        SELECT event_id, user_id, ts, event_type,
               last_value(CASE WHEN event_type IN {TOUCH_TYPES!r}
                               THEN event_id END IGNORE NULLS) OVER fr
                   AS touch_id,
               last_value(CASE WHEN event_type IN {TOUCH_TYPES!r}
                               THEN event_type END IGNORE NULLS) OVER fr
                   AS touch_type,
               last_value(CASE WHEN event_type IN {TOUCH_TYPES!r}
                               THEN ts END IGNORE NULLS) OVER fr
                   AS touch_ts
        FROM events
        WINDOW fr AS (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id AS purchase_id, user_id, ts AS purchase_ts,
           touch_id, touch_type, touch_ts
    FROM t WHERE event_type = 'purchase'
    """,
)
def x_ts_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: every purchase event joined to
    the user's most recent preceding touchpoint (click/view) — the
    carry-forward pattern behind conversion funnels and channel ROI.

    Formulated as ``last(…, ignorenulls)`` over the strictly-preceding
    frame in the (ts, event_id) total order: no self-join, no per-user
    collect — one window pass attributes every purchase, and purchases
    with no prior touch keep NULLs.  All three touch columns read the
    SAME frame under the same total order, so they come from the same
    touch row by construction.

    Plan: one user-keyed sort window; the purchase filter is applied
    ABOVE the window (the frame must see non-purchase rows), which is
    the semantic cost of carry-forward — the window output is
    event-sized, but no extra shuffle follows it."""
    fr = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_touch = F.col("event_type").isin(*TOUCH_TYPES)
    ev = table(spark, sf_dir, "events")
    t = ev.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.last(F.when(is_touch, F.col("event_id")), ignorenulls=True)
        .over(fr)
        .alias("touch_id"),
        F.last(F.when(is_touch, F.col("event_type")), ignorenulls=True)
        .over(fr)
        .alias("touch_type"),
        F.last(F.when(is_touch, F.col("ts")), ignorenulls=True)
        .over(fr)
        .alias("touch_ts"),
    )
    return t.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        "touch_id",
        "touch_type",
        "touch_ts",
    )


@register(
    "x_ts_time_to_convert",
    oracle="""
    WITH s AS (
        SELECT user_id, min(ts) AS signup_ts FROM events
        WHERE event_type = 'signup' GROUP BY user_id
    ),
    p AS (
        SELECT e.user_id, min(e.ts) AS first_purchase_ts
        FROM events e JOIN s ON e.user_id = s.user_id
        WHERE e.event_type = 'purchase' AND e.ts >= s.signup_ts
        GROUP BY e.user_id
    )
    SELECT s.user_id, s.signup_ts, p.first_purchase_ts,
           round((epoch_us(p.first_purchase_ts)
                  - epoch_us(s.signup_ts)) / 3600.0e6, 6) AS hours_to_convert
    FROM s JOIN p ON s.user_id = p.user_id
    """,
)
def x_ts_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion latency: per user, the time from first signup to the
    first purchase AT OR AFTER it — the funnel-velocity metric
    (``x_agg_funnel`` counts who converts; this measures how fast).

    The latency is an exact integer microsecond difference scaled to
    hours (one elementwise division — no float accumulation), so both
    engines agree bit-for-bit.

    Plan: two user-keyed min aggregates; the purchase side filters
    against the signup anchor with the anchor joined in BEFORE its min
    (the purchase-after-signup predicate must see the anchor, so the
    join is on the aggregate's own key and AQE reuses the exchange)."""
    ev = table(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .filter(F.col("ts") >= F.col("signup_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase_ts"))
    )
    return s.join(p, "user_id").select(
        "user_id",
        "signup_ts",
        "first_purchase_ts",
        F.round(
            (
                F.unix_micros("first_purchase_ts") - F.unix_micros("signup_ts")
            )
            / 3.6e9,
            6,
        ).alias("hours_to_convert"),
    )


@register(
    "x_agg_regression_stats",
    oracle="""
    WITH pairs AS (
        SELECT c_mktsegment AS segment,
               CAST(round(c_acctbal * 100) AS BIGINT) AS xc,
               CAST(round(o_totalprice * 100) AS BIGINT) AS yc
        FROM orders JOIN customer ON o_custkey = c_custkey
    ),
    s AS (
        SELECT segment, count(*) AS n,
               sum(CAST(xc AS HUGEINT)) AS sxc,
               sum(CAST(yc AS HUGEINT)) AS syc,
               sum(CAST(xc AS HUGEINT) * yc) AS sxyc,
               sum(CAST(xc AS HUGEINT) * xc) AS sxxc,
               sum(CAST(yc AS HUGEINT) * yc) AS syyc
        FROM pairs GROUP BY segment
    )
    SELECT segment, n,
           round((n * sxyc - sxc * syc)::DOUBLE
                 / NULLIF((n * sxxc - sxc * sxc)::DOUBLE, 0), 8) AS slope,
           round((syc::DOUBLE / 100.0
                  - (n * sxyc - sxc * syc)::DOUBLE
                    / NULLIF((n * sxxc - sxc * sxc)::DOUBLE, 0)
                    * (sxc::DOUBLE / 100.0)) / n, 6) AS intercept,
           round((n * sxyc - sxc * syc)::DOUBLE
                 / NULLIF(sqrt((n * sxxc - sxc * sxc)::DOUBLE
                               * (n * syyc - syc * syc)::DOUBLE), 0), 6)
               AS corr
    FROM s
    """,
)
def x_agg_regression_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment OLS regression (order value on customer balance) and
    Pearson correlation, computed from sufficient statistics — the
    grouped-regression shape of cohort analytics (does a bigger balance
    predict bigger orders, per market segment?).

    (n, Σx, Σy, Σxy, Σx², Σy²) accumulate as EXACT INTEGER CENTS (the
    money columns are cent-valued, so ``round(v*100)`` recovers the
    exact integer and every moment is integer arithmetic end-to-end);
    slope/intercept/corr are closed-form doubles of those six exact
    numbers — bit-identical across engines and trivially map-side
    combinable (the merge state a distributed ``regr_slope`` keeps
    internally, spelled out so the oracle can replay it).  Exactness is
    load-bearing, not cosmetic: with double moments, a constant-x
    segment's variance is ±ulp noise, and the r16 fuzz caught the full
    failure ladder — DIVIDE_BY_ZERO, DuckDB's hard sqrt(−ε) error, and
    finally engines disagreeing on which side of zero the noise landed
    (a decimal-cast half-tie in Σxy made slope 0.0 vs 4.0 on a 3-order
    segment).  Integer moments make zero variance EXACTLY zero in both
    engines; degenerate segments answer NULL per regr_slope semantics.

    Plan: customer broadcasts into the orders fact; ONE hash aggregate
    on segment produces all six moments in a single pass."""
    c = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    pairs = (
        table(spark, sf_dir, "orders")
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.col("c_acctbal").alias("x"),
            F.col("o_totalprice").alias("y"),
        )
    )
    cents = pairs.select(
        "segment",
        F.round(F.col("x") * 100).cast("long").alias("xc"),
        F.round(F.col("y") * 100).cast("long").alias("yc"),
    )
    xc, yc = F.col("xc"), F.col("yc")
    # per-row cent products fit a long: x is c_acctbal cents (~1e6),
    # y is o_totalprice cents (~5.5e7), so the largest per-row product is
    # y*y ≈ 3e15 (x*y ≈ 5.5e13) — vs int64 max ~9.2e18, ≥3000×
    # headroom; sums accumulate decimal
    s = cents.groupBy("segment").agg(
        F.count("*").alias("n"),
        F.sum(xc.cast("decimal(20,0)")).alias("sxc"),
        F.sum(yc.cast("decimal(20,0)")).alias("syc"),
        F.sum((xc * yc).cast("decimal(38,0)")).alias("sxyc"),
        F.sum((xc * xc).cast("decimal(38,0)")).alias("sxxc"),
        F.sum((yc * yc).cast("decimal(38,0)")).alias("syyc"),
    )
    n = F.col("n")
    nd = n.cast("decimal(20,0)")
    sxc, syc = F.col("sxc"), F.col("syc")
    sxyc, sxxc, syyc = F.col("sxyc"), F.col("sxxc"), F.col("syyc")
    # EXACT integer moments (decimal scale 0): a degenerate segment's
    # variance is exactly zero in both engines, so NULLIF is a complete
    # guard — no epsilon, no clamp.  cents² units cancel in slope/corr;
    # intercept converts the two first moments back to currency units.
    # Magnitude budget for nd*sxxc (decimal(20,0) × decimal(38,0), result
    # capped at decimal(38,0)): at 1e9 rows/segment of ~1e14-cent²
    # products, sxxc ~1e23 and nd*sxxc ~1e32 — six orders under the
    # decimal(38,0) cap; the cap is only approached near ~1e14
    # rows/segment, where non-ANSI Spark would yield NULL while DuckDB's
    # HUGEINT (max ~1.7e38) raises — revisit the moment layout (mean-shift
    # the cents first) before claiming segments that large.
    den = (nd * sxxc - sxc * sxc).cast("double")
    cov = (nd * sxyc - sxc * syc).cast("double")
    var_y = (nd * syyc - syc * syc).cast("double")
    sx_d = sxc.cast("double") / 100.0
    sy_d = syc.cast("double") / 100.0
    slope = cov / F.nullif(den, F.lit(0))
    return s.select(
        "segment",
        "n",
        F.round(slope, 8).alias("slope"),
        F.round((sy_d - slope * sx_d) / n, 6).alias("intercept"),
        F.round(
            cov / F.nullif(F.sqrt(den * var_y), F.lit(0)), 6
        ).alias("corr"),
    )


#: Moving-average crossover geometry (trading-signal classic): short and
#: long trailing day windows over the daily revenue series.
MA_SHORT = 7
MA_LONG = 28


@register(
    "x_ts_ma_crossover",
    oracle=f"""
    WITH daily AS (
        SELECT date_trunc('day', o_orderdate)::DATE AS day,
               sum(o_totalprice::DECIMAL(30,10)) AS rev
        FROM orders GROUP BY day
    ),
    ma AS (
        SELECT day,
               round(avg(rev::DOUBLE) OVER (ORDER BY day
                     ROWS BETWEEN {MA_SHORT - 1} PRECEDING AND CURRENT ROW),
                     6) AS short_ma,
               round(avg(rev::DOUBLE) OVER (ORDER BY day
                     ROWS BETWEEN {MA_LONG - 1} PRECEDING AND CURRENT ROW),
                     6) AS long_ma,
               row_number() OVER (ORDER BY day) AS rn
        FROM daily
    ),
    flagged AS (
        SELECT day, short_ma, long_ma, rn,
               short_ma > long_ma AS above,
               lag(short_ma > long_ma) OVER (ORDER BY day) AS prev_above
        FROM ma
    )
    SELECT day, short_ma, long_ma,
           CASE WHEN above AND NOT prev_above
                THEN 'golden' ELSE 'death' END AS signal
    FROM flagged
    WHERE rn > {MA_LONG} AND above <> prev_above
    """,
)
def x_ts_ma_crossover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving-average crossover detection over the daily revenue series:
    days where the 7-day mean crosses the 28-day mean
    (golden/death cross) — the trend-change alarm of ops dashboards and
    trading signals, warm-up period excluded.

    Daily totals are decimal-exact; both trailing means divide an
    exact sum by an exact count... here ``avg`` runs over a SEQUENTIAL
    frame of already-exact per-day doubles in both engines, and the
    crossing COMPARISON is done on the 6-rounded means, so the flag
    flips identically.  Day grain makes the row frame a true day window
    (the series is gap-free at this grain; a gap-robust variant would
    range-frame over the date).

    Plan: one hash aggregate to day grain, then two frame averages and
    a lag sharing ONE global sort over day-grain data (hundreds of
    rows at any corpus scale — the aggregate did the data-sized work).
    Measured (r12 stress): 1.2x wall at 10x orders, output constant at
    the order-day grain — `scale_stress_r12_windows.json @ 489b79a`."""
    daily = (
        table(spark, sf_dir, "orders")
        .groupBy(F.date_trunc("day", "o_orderdate").cast("date").alias("day"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(30,10)")).alias("rev"))
    )
    wd = Window.orderBy("day")
    rev = F.col("rev").cast("double")
    ma = daily.select(
        "day",
        F.round(
            F.avg(rev).over(wd.rowsBetween(-(MA_SHORT - 1), 0)), 6
        ).alias("short_ma"),
        F.round(
            F.avg(rev).over(wd.rowsBetween(-(MA_LONG - 1), 0)), 6
        ).alias("long_ma"),
        F.row_number().over(wd).alias("rn"),
    )
    above = F.col("short_ma") > F.col("long_ma")
    return (
        ma.withColumn("above", above)
        .withColumn("prev_above", F.lag("above").over(Window.orderBy("day")))
        .filter(
            (F.col("rn") > MA_LONG)
            & (F.col("above") != F.col("prev_above"))
        )
        .select(
            "day",
            "short_ma",
            "long_ma",
            F.when(
                F.col("above") & ~F.col("prev_above"), F.lit("golden")
            )
            .otherwise(F.lit("death"))
            .alias("signal"),
        )
    )


@register(
    "x_ts_hour_of_day_profile",
    oracle="""
    SELECT event_type, extract(hour FROM ts)::BIGINT AS hour,
           count(*) AS n,
           round(sum(value::DECIMAL(30,10))::DOUBLE / count(*), 6)
               AS avg_value
    FROM events GROUP BY event_type, hour
    """,
)
def x_ts_hour_of_day_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonality profile per event type: volume and mean
    value for each of the 24 clock hours — the diurnal fingerprint
    behind load forecasting, anomaly baselines ("is 3am traffic
    normal?") and on-call dashboards.

    One hash aggregate on a (type, hour) key space of ≤ 24×|types| —
    map-side partials collapse the fact table almost entirely; the mean
    is an exact decimal sum over an exact count."""
    return (
        table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.hour("ts").cast("bigint").alias("hour"),
        )
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sum(F.col("value").cast("decimal(30,10)")).cast("double")
                / F.count("*"),
                6,
            ).alias("avg_value"),
        )
    )


#: Autocorrelation lags (days) reported by x_ts_autocorrelation.
AUTOCORR_LAGS = (1, 7)


@register(
    "x_ts_autocorrelation",
    oracle=f"""
    WITH daily AS (
        SELECT date_trunc('day', o_orderdate)::DATE AS day,
               sum(CAST(round(o_totalprice * 100) AS HUGEINT)) AS rev_c
        FROM orders GROUP BY day
    ),
    lagged AS (
        SELECT l.lag, a.rev_c AS xc, b.rev_c AS yc
        FROM daily a
        JOIN (SELECT unnest([{", ".join(str(k) for k in AUTOCORR_LAGS)}])
              AS lag) l ON TRUE
        JOIN daily b ON b.day = a.day + l.lag * INTERVAL 1 DAY
    ),
    s AS (
        SELECT lag, count(*) AS n,
               sum(xc) AS sxc, sum(yc) AS syc,
               sum(xc * yc) AS sxyc,
               sum(xc * xc) AS sxxc,
               sum(yc * yc) AS syyc
        FROM lagged GROUP BY lag
    )
    SELECT lag::BIGINT AS lag, n,
           round((n * sxyc - sxc * syc)::DOUBLE
                 / NULLIF(sqrt((n * sxxc - sxc * sxc)::DOUBLE
                               * (n * syyc - syc * syc)::DOUBLE), 0), 6)
               AS autocorr
    FROM s
    """,
)
def x_ts_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-k autocorrelation of the daily revenue series (k = 1 and 7
    days): the Pearson correlation of the series with its own k-shifted
    self — the quantitative "is there a weekly cycle?" test (lag-7 high
    + lag-1 low ⇒ strong weekly seasonality), feeding the same
    sufficient-statistics machinery as ``x_agg_regression_stats``.

    The day-grain totals are EXACT INTEGER CENTS and the six moments
    accumulate as scale-0 decimals — integer arithmetic end-to-end, so
    a constant or single-pair series has EXACTLY zero variance in both
    engines and answers NULL (with double moments the variance is ±ulp
    noise, and the r16 fuzz hit DuckDB's hard sqrt(−ε) error here; the
    autocorrelation itself is scale-invariant, so cents cancel).  The
    lag pairing is an equi-join on shifted dates (no window over the
    fact).

    Plan: the fact collapses to day grain first (one aggregate), so the
    lag self-join and the moments run over hundreds of rows at ANY
    corpus scale."""
    daily = (
        table(spark, sf_dir, "orders")
        .groupBy(F.date_trunc("day", "o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("decimal(20,0)")
            .alias("rev_c")
        )
        .localCheckpoint(eager=False)
    )
    lags = local_frame(spark, [(k,) for k in AUTOCORR_LAGS], "lag int")
    a = daily.select("day", F.col("rev_c").alias("xc"))
    b = daily.select(F.col("day").alias("bday"), F.col("rev_c").alias("yc"))
    lagged = (
        a.join(F.broadcast(lags))
        .join(b, F.expr("bday = day + make_interval(0, 0, 0, lag)"))
    )
    xc, yc = F.col("xc"), F.col("yc")
    s = lagged.groupBy("lag").agg(
        F.count("*").alias("n"),
        F.sum(xc).alias("sxc"),
        F.sum(yc).alias("syc"),
        F.sum((xc * yc).cast("decimal(38,0)")).alias("sxyc"),
        F.sum((xc * xc).cast("decimal(38,0)")).alias("sxxc"),
        F.sum((yc * yc).cast("decimal(38,0)")).alias("syyc"),
    )
    n = F.col("n")
    nd = n.cast("decimal(20,0)")
    sxc, syc = F.col("sxc"), F.col("syc")
    sxyc, sxxc, syyc = F.col("sxyc"), F.col("sxxc"), F.col("syyc")
    den_x = (nd * sxxc - sxc * sxc).cast("double")
    den_y = (nd * syyc - syc * syc).cast("double")
    cov = (nd * sxyc - sxc * syc).cast("double")
    return s.select(
        F.col("lag").cast("bigint").alias("lag"),
        "n",
        F.round(
            cov / F.nullif(F.sqrt(den_x * den_y), F.lit(0)), 6
        ).alias("autocorr"),
    )


@register(
    "x_ts_anomaly_mad",
    oracle="""
    WITH d AS (
        SELECT event_type, date_trunc('day', ts)::DATE AS day,
               round(sum(value::DECIMAL(30,10)), 6)::DOUBLE AS total
        FROM events GROUP BY 1, 2
    ),
    med AS (
        SELECT event_type, quantile_cont(total, 0.5) AS med
        FROM d GROUP BY 1
    ),
    dev AS (
        SELECT d.event_type, day, total, med, abs(total - med) AS adev
        FROM d JOIN med USING (event_type)
    ),
    mad AS (
        SELECT event_type, quantile_cont(adev, 0.5) AS mad
        FROM dev GROUP BY 1
    )
    SELECT dev.event_type, day, total,
           round(med, 6) AS median_total, round(mad.mad, 6) AS mad,
           (adev > 3 * mad.mad) AS is_anomaly
    FROM dev JOIN mad USING (event_type)
    """,
)
def x_ts_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation anomaly detection on daily volumes —
    the robust alternative to z-scores (one huge outlier day inflates a
    standard deviation and masks itself; the median and MAD barely
    move).  Flags days whose deviation exceeds 3×MAD per event type,
    the standard robust cutoff.

    Plan: the data-sized work is ONE hash aggregate to day grain
    (map-side combinable decimal sums); medians then run on the
    day-grain frame — exact interpolated percentile per event type
    (bounded: days × types rows), joined back broadcast-sized.  Exact
    medians of IDENTICAL rounded doubles in both engines, compared
    unrounded so the 3×MAD flag cannot straddle a rounding edge."""
    # the day-grain frame feeds the median, the deviation join and the
    # final projection: materialize it once or events is re-scanned per
    # consumer (measured 4 scans without the barrier)
    d = (
        table(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date(F.date_trunc("day", "ts")).alias("day"))
        .agg(
            F.round(F.sum(F.col("value").cast("decimal(30,10)")), 6)
            .cast("double")
            .alias("total")
        )
        .localCheckpoint()
    )
    med = d.groupBy("event_type").agg(
        F.expr("percentile(total, 0.5)").alias("med")
    )
    dev = d.join(med, "event_type").withColumn(
        "adev", F.abs(F.col("total") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(adev, 0.5)").alias("mad")
    )
    return dev.join(mad, "event_type").select(
        "event_type",
        "day",
        "total",
        F.round("med", 6).alias("median_total"),
        F.round("mad", 6).alias("mad"),
        (F.col("adev") > 3 * F.col("mad")).alias("is_anomaly"),
    )


@register(
    "x_ts_attribution_linear",
    oracle=f"""
    WITH conv AS (
        SELECT event_id AS cid, user_id, ts AS cts, value
        FROM events WHERE event_type = 'purchase'
    ),
    t AS (
        SELECT c.cid, c.value, e.event_type AS channel
        FROM conv c JOIN events e
          ON e.user_id = c.user_id
         AND e.event_type IN {TOUCH_TYPES!r}
         AND e.ts <= c.cts
         AND e.ts > c.cts - INTERVAL 7 DAY
    ),
    n AS (SELECT cid, count(*) AS n FROM t GROUP BY cid)
    SELECT channel,
           count(*)::BIGINT AS n_touches,
           round(sum((t.value / n.n)::DECIMAL(30,12)), 4)::DOUBLE
               AS credited_value
    FROM t JOIN n USING (cid)
    GROUP BY channel
    """,
)
def x_ts_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear (equal-weight) multi-touch attribution: each purchase's
    value splits evenly across ALL the user's touchpoints in the
    preceding 7 days, credited per channel — the multi-touch complement
    of ``x_ts_attribution_last_touch`` (last-touch hands the whole
    conversion to one event; linear is the other standard model).

    Plan: purchases join touches on user_id with the 7-day recency as a
    join residual — per-user bounded fan-out, shuffled once on user_id;
    the per-conversion touch count is a cid-partitioned window over
    the joined frame (bounded per conversion — and consuming the frame
    ONCE, where an aggregate re-joined on cid would re-execute the
    events join per consumer).  Per-row credit value/n is elementwise; the channel
    rollup accumulates it as exact decimal.  No window over raw events,
    no driver-side state."""
    ev = table(spark, sf_dir, "events")
    conv = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("cid"),
        F.col("user_id").alias("cuid"),
        F.col("ts").alias("cts"),
        F.col("value").alias("cvalue"),
    )
    touches = ev.filter(F.col("event_type").isin(*TOUCH_TYPES)).select(
        F.col("user_id").alias("tuid"),
        F.col("ts").alias("tts"),
        F.col("event_type").alias("channel"),
    )
    t = conv.join(
        touches,
        (F.col("tuid") == F.col("cuid"))
        & (F.col("tts") <= F.col("cts"))
        & (F.col("tts") > F.col("cts") - F.expr("INTERVAL 7 DAYS")),
    )
    # per-conversion touch count as a cid-partitioned window (bounded
    # per conversion) — an aggregate re-joined on cid would consume the
    # joined frame twice and re-scan events for each consumption
    n_w = F.count("*").over(Window.partitionBy("cid"))
    return (
        t.withColumn("n", n_w)
        .groupBy("channel")
        .agg(
            F.count("*").cast("bigint").alias("n_touches"),
            F.round(
                F.sum((F.col("cvalue") / F.col("n")).cast("decimal(30,12)")), 4
            )
            .cast("double")
            .alias("credited_value"),
        )
    )


#: EWMA geometry: trailing horizon (days) and per-day decay factor.
EWMA_HORIZON = 7
EWMA_DECAY = 0.5


@register(
    "x_ts_ewma",
    oracle=f"""
    WITH d AS (
        SELECT date_diff('day', DATE '1995-01-01', o_orderdate) AS di,
               round(sum(o_totalprice::DECIMAL(30,10)), 2)::DOUBLE AS rev
        FROM orders GROUP BY 1
    ),
    j AS (
        SELECT a.di, a.rev, b.rev AS rev_b, (a.di - b.di) AS g
        FROM d a, unnest(generate_series(0, {EWMA_HORIZON - 1})) AS o(g0)
        JOIN d b ON b.di = a.di - o.g0
        WHERE a.di - b.di = o.g0
    )
    SELECT (DATE '1995-01-01' + INTERVAL (di) DAY)::DATE AS day, rev,
           round(sum((power({EWMA_DECAY}, g) * rev_b)::DECIMAL(30,12))
                     ::DOUBLE
                 / sum(power({EWMA_DECAY}, g)::DECIMAL(30,12))::DOUBLE,
                 6) AS ewma
    FROM j GROUP BY di, rev
    """,
)
def x_ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of daily order revenue over
    a trailing 7-day horizon (decay 0.5 per day, weights renormalized
    over the days actually present) — the standard trend smoother whose
    infinite-memory recursive form is replaced by a finite horizon so
    it stays a closed-form aggregate (at decay 0.5 the truncation error
    is < 2^-7 of the weight mass).

    Plan: ONE hash aggregate to day grain does all data-sized work;
    the trailing window is then an EQUI-join — each day joins its 7
    offset rows through an exploded (0..6) offset key, never a
    range/BNL join and never a window with data-dependent weights
    (weights depend on the GAP, which no single window frame
    expression can carry).  Weighted sums accumulate per-row
    double-exact products (rev × 2^-g is an exact scaling) as decimals,
    so the renormalized EWMA is bit-identical cross-engine."""
    d = (
        table(spark, sf_dir, "orders")
        .groupBy(
            F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date")).alias(
                "di"
            )
        )
        .agg(
            F.round(F.sum(F.col("o_totalprice").cast("decimal(30,10)")), 2)
            .cast("double")
            .alias("rev")
        )
    )
    a = d.select(
        "di", "rev", F.explode(F.sequence(F.lit(0), F.lit(EWMA_HORIZON - 1))).alias("g")
    ).withColumn("bi", F.col("di") - F.col("g"))
    b = d.select(F.col("di").alias("bi"), F.col("rev").alias("rev_b"))
    j = a.join(b, "bi")
    w = F.pow(F.lit(EWMA_DECAY), F.col("g"))
    return (
        j.groupBy("di", "rev")
        .agg(
            F.round(
                F.sum((w * F.col("rev_b")).cast("decimal(30,12)")).cast("double")
                / F.sum(w.cast("decimal(30,12)")).cast("double"),
                6,
            ).alias("ewma")
        )
        .select(
            F.date_add(F.lit("1995-01-01").cast("date"), F.col("di").cast("int")).alias(
                "day"
            ),
            "rev",
            "ewma",
        )
    )


#: CUSUM drift-flag multiple of the per-type total's standard deviation.
CUSUM_SIGMA_BAR = 5.0


@register(
    "x_ts_cusum_drift",
    oracle=f"""
    WITH d AS (
        SELECT event_type, date_trunc('day', ts)::DATE AS day,
               round(sum(value::DECIMAL(30,10)), 6)::DOUBLE AS total
        FROM events GROUP BY 1, 2
    ),
    m AS (
        SELECT event_type,
               count(*)::BIGINT AS n,
               sum(total::DECIMAL(30,10))::DOUBLE AS s,
               sum((total * total)::DECIMAL(38,10))::DOUBLE AS s2
        FROM d GROUP BY 1
    ),
    c AS (
        SELECT d.event_type, day, total,
               s / n AS mu,
               sqrt((s2 - s * s / n) / (n - 1)) AS sigma,
               sum((total - s / n)::DECIMAL(30,12))
                   OVER (PARTITION BY d.event_type ORDER BY day
                         ROWS UNBOUNDED PRECEDING)::DOUBLE AS cusum
        FROM d JOIN m USING (event_type)
    )
    SELECT event_type, day, total,
           round(cusum, 6) + 0 AS cusum,
           (abs(cusum) > {CUSUM_SIGMA_BAR} * sigma) AS drift
    FROM c
    """,
)
def x_ts_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM drift detection on daily volumes: the running sum of
    deviations from each event type's overall mean, flagged when it
    wanders past 5σ — the change-point monitor that catches slow drifts
    a per-day threshold never sees (each day looks normal; the
    accumulated bias does not).

    Plan: data-sized work is ONE hash aggregate to day grain; the mean
    and σ come from a second aggregate over the day-grain frame
    (decimal moments, type-count rows, broadcast back); the running sum
    is a window PARTITIONED BY event_type over day grain — bounded
    partitions, exact decimal accumulation of deterministic per-day
    deviations, so the 5σ flag compares identical doubles in both
    engines."""
    d = (
        table(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date(F.date_trunc("day", "ts")).alias("day"))
        .agg(
            F.round(F.sum(F.col("value").cast("decimal(30,10)")), 6)
            .cast("double")
            .alias("total")
        )
    )
    m = d.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("total").cast("decimal(30,10)")).cast("double").alias("s"),
        F.sum((F.col("total") * F.col("total")).cast("decimal(38,10)"))
        .cast("double")
        .alias("s2"),
    )
    mu = F.col("s") / F.col("n")
    sigma = F.sqrt(
        (F.col("s2") - F.col("s") * F.col("s") / F.col("n")) / (F.col("n") - 1)
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = (
        d.join(F.broadcast(m), "event_type")
        .withColumn(
            "cusum",
            F.sum((F.col("total") - mu).cast("decimal(30,12)"))
            .over(w)
            .cast("double"),
        )
        .withColumn("sigma", sigma)
    )
    return c.select(
        "event_type",
        "day",
        "total",
        # + 0.0 canonicalizes IEEE negative zero (the all-days CUSUM is
        # exactly 0; -0.0 vs 0.0 would hash-differ cross-engine)
        (F.round("cusum", 6) + F.lit(0.0)).alias("cusum"),
        (F.abs(F.col("cusum")) > CUSUM_SIGMA_BAR * F.col("sigma")).alias("drift"),
    )


@register(
    "x_ts_seasonal_decompose",
    oracle="""
    WITH d AS (
        SELECT date_trunc('day', ts)::DATE AS day,
               dayofweek(date_trunc('day', ts)::DATE) AS wd,
               round(sum(value::DECIMAL(30,10)), 6)::DOUBLE AS total
        FROM events GROUP BY 1, 2
    ),
    t AS (
        SELECT day, wd, total,
               CASE WHEN count(*) OVER fr = 7
                    THEN sum(total::DECIMAL(30,10)) OVER fr::DOUBLE / 7
               END AS trend
        FROM d
        WINDOW fr AS (ORDER BY day ROWS BETWEEN 3 PRECEDING
                      AND 3 FOLLOWING)
    ),
    e AS (
        SELECT wd,
               sum((total - trend)::DECIMAL(30,12))::DOUBLE
                   / count(*) AS effect
        FROM t WHERE trend IS NOT NULL GROUP BY wd
    )
    SELECT day, total,
           round(trend, 6) AS trend,
           round(effect, 6) AS weekday_effect,
           round(total - trend - effect, 6) AS residual
    FROM t JOIN e USING (wd)
    WHERE trend IS NOT NULL
    """,
)
def x_ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of the daily volume
    series: total = trend (centered 7-day moving average) + weekday
    effect (mean detrended value per day-of-week) + residual — the
    first-pass structure view behind capacity planning and
    anomaly-baseline work (the residual is what MAD/CUSUM should watch
    once seasonality is removed).

    Plan: ONE hash aggregate to day grain does the data-sized work; the
    centered average is an unpartitioned ROWS window over the bounded
    day-grain frame (the ma_crossover precedent — guarded by the
    window-above-aggregate plan test), defined only where the 7-day
    frame is complete, so edges carry no truncated averages; the
    weekday effect is a 7-row aggregate of exact decimal sums joined
    back broadcast-sized.  The wd key's LABELS differ across engines
    (DuckDB dayofweek is 0=Sunday..6=Saturday; Spark's is 1..7) but wd
    is only an internal join/group key, never emitted, so only
    partition identity matters — the seven weekday classes line up
    regardless of labeling.  Measured (r12 stress): 0.7x wall at 10x
    events, output constant at the day grain —
    `scale_stress_r12_windows.json @ 489b79a`."""
    d = (
        table(spark, sf_dir, "events")
        .groupBy(F.to_date(F.date_trunc("day", "ts")).alias("day"))
        .agg(
            F.round(F.sum(F.col("value").cast("decimal(30,10)")), 6)
            .cast("double")
            .alias("total")
        )
        .withColumn("wd", F.dayofweek("day"))
    )
    fr = Window.orderBy("day").rowsBetween(-3, 3)
    t = d.withColumn(
        "trend",
        F.when(
            F.count("*").over(fr) == 7,
            F.sum(F.col("total").cast("decimal(30,10)")).over(fr).cast("double")
            / 7,
        ),
    )
    e = (
        t.filter(F.col("trend").isNotNull())
        .groupBy("wd")
        .agg(
            (
                F.sum((F.col("total") - F.col("trend")).cast("decimal(30,12)"))
                .cast("double")
                / F.count("*")
            ).alias("effect")
        )
    )
    return (
        t.filter(F.col("trend").isNotNull())
        .join(F.broadcast(e), "wd")
        .select(
            "day",
            "total",
            F.round("trend", 6).alias("trend"),
            F.round("effect", 6).alias("weekday_effect"),
            F.round(F.col("total") - F.col("trend") - F.col("effect"), 6).alias(
                "residual"
            ),
        )
    )


@register(
    "x_win_moving_median",
    oracle="""
    WITH d AS (
        SELECT event_type, date_trunc('day', ts)::DATE AS day,
               round(sum(value::DECIMAL(30,10)), 6)::DOUBLE AS total
        FROM events GROUP BY 1, 2
    )
    SELECT event_type, day, total,
           CASE WHEN count(*) OVER fr = 7
                THEN list_sort(list(total) OVER fr)[4]
           END AS med_7d
    FROM d
    WINDOW fr AS (PARTITION BY event_type ORDER BY day
                  ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    """,
)
def x_win_moving_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centered 7-day moving MEDIAN of daily volumes per event type —
    the robust trend line (a single spike day drags a moving average
    for a week; the moving median ignores it).  Median over a full
    7-row frame is the 4th order statistic — a DISCRETE pick, no
    interpolation, so cross-engine equality is element equality, and
    the frame-incomplete edges are NULL rather than medians of
    truncated windows.

    Spark has no median window aggregate; the portable spelling is
    collect_list over the frame → array_sort → element 4 — bounded by
    the frame length (7), so the per-row state is constant-sized.

    Plan: ONE hash aggregate to day grain, then ONE window pass
    PARTITIONED BY event_type over the bounded day-grain frame (never
    the raw events)."""
    d = (
        table(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date(F.date_trunc("day", "ts")).alias("day"))
        .agg(
            F.round(F.sum(F.col("value").cast("decimal(30,10)")), 6)
            .cast("double")
            .alias("total")
        )
    )
    fr = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-3, 3)
    )
    return d.select(
        "event_type",
        "day",
        "total",
        F.when(
            F.count("*").over(fr) == 7,
            F.element_at(F.array_sort(F.collect_list("total").over(fr)), 4),
        ).alias("med_7d"),
    )


#: Kaplan-Meier censoring horizon: users whose last activity falls within
#: this many hours of the observation end are censored (still active).
KM_CENSOR_HOURS = 72


@register(
    "x_ts_survival_km",
    oracle=f"""
    WITH ud AS (
        SELECT DISTINCT user_id, date_trunc('hour', ts) AS d
        FROM events
    ),
    life AS (
        SELECT user_id,
               date_diff('hour', min(d), max(d)) AS t,
               max(d) AS last_d
        FROM ud GROUP BY user_id
    ),
    horizon AS (SELECT max(d) AS end_d FROM ud),
    obs AS (
        SELECT t,
               CASE WHEN date_diff('hour', last_d, end_d)
                         >= {KM_CENSOR_HOURS} THEN 1 ELSE 0 END AS ev
        FROM life, horizon
    ),
    grid AS (
        SELECT t,
               sum(ev)::BIGINT AS d_t,
               sum(1 - ev)::BIGINT AS c_t,
               count(*)::BIGINT AS leaving
        FROM obs GROUP BY t
    ),
    risk AS (
        SELECT t, d_t, c_t,
               (sum(leaving) OVER (ORDER BY t DESC
                                   ROWS UNBOUNDED PRECEDING))::BIGINT
                   AS n_t
        FROM grid
    )
    SELECT t AS lifetime_hours, d_t AS n_churned, c_t AS n_censored, n_t
               AS n_at_risk,
           round(exp(sum(CASE WHEN d_t > 0
                              THEN ln(1.0 - d_t::DOUBLE / n_t)
                              ELSE 0 END::DECIMAL(30,18))
                     OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
                         ::DOUBLE), 6) AS survival
    FROM risk
    """,
)
def x_ts_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve of user lifetime (hours between first
    and last activity; the fixture's 30-day window makes day-grain
    lifetimes nearly constant, hour grain gives the curve real support):
    S(t) = prod over churn times <= t of (1 - d/n) —
    the retention-analysis standard that handles CENSORING correctly
    (users still active near the observation end are censored, not
    counted as churned — naive churn curves understate survival).

    Determinism: the cumulative PRODUCT is computed as exp of a
    running sum of ln(1 - d/n) terms — each term is elementwise double
    math of two exact integers, the running sum accumulates exact
    decimal, so the curve is partition-order independent and
    bit-identical cross-engine (a float product would be
    order-dependent; no product aggregate exists anyway).

    Plan: data-sized work is the distinct (user, day) pass + one
    user-grain aggregate; the grid, risk counts (a DESC running sum)
    and the curve are lifetime-grain (<= observation days) windows over
    bounded frames — the grain-bounded-window pattern, never a window
    over raw events.  Measured (r12 stress): 0.9x wall at 10x events,
    output constant at the lifetime grain —
    `scale_stress_r12_windows.json @ 489b79a`."""
    ud = (
        table(spark, sf_dir, "events")
        .select("user_id", F.date_trunc("hour", "ts").alias("d"))
        .distinct()
    )
    life = ud.groupBy("user_id").agg(
        (
            (F.unix_timestamp(F.max("d")) - F.unix_timestamp(F.min("d")))
            / 3600
        )
        .cast("bigint")
        .alias("t"),
        F.max("d").alias("last_d"),
    )
    # observation end as a 1-ROW aggregate broadcast-joined in — NOT an
    # unpartitioned window over `life`: users grow with the data, so a
    # global window there would funnel the whole user frame through one
    # task.  The 1-row max costs
    # a second column-pruned scan-only pass over events, which is
    # scan-linear and shuffle-free — the right trade.
    end = (
        table(spark, sf_dir, "events")
        .agg(F.date_trunc("hour", F.max("ts")).alias("end_d"))
    )
    obs = life.join(F.broadcast(end)).select(
        "t",
        F.when(
            (F.unix_timestamp(F.col("end_d")) - F.unix_timestamp(F.col("last_d")))
            / 3600
            >= KM_CENSOR_HOURS,
            1,
        )
        .otherwise(0)
        .alias("ev"),
    )
    grid = obs.groupBy("t").agg(
        F.sum("ev").cast("bigint").alias("d_t"),
        F.sum(1 - F.col("ev")).cast("bigint").alias("c_t"),
        F.count("*").cast("bigint").alias("leaving"),
    )
    w_desc = (
        Window.orderBy(F.col("t").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    risk = grid.withColumn(
        "n_t", F.sum("leaving").over(w_desc).cast("bigint")
    )
    w_asc = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    log_term = F.when(
        F.col("d_t") > 0,
        F.log(1.0 - F.col("d_t").cast("double") / F.col("n_t")),
    ).otherwise(0.0)
    return risk.select(
        F.col("t").alias("lifetime_hours"),
        F.col("d_t").alias("n_churned"),
        F.col("c_t").alias("n_censored"),
        F.col("n_t").alias("n_at_risk"),
        F.round(
            F.exp(
                F.sum(log_term.cast("decimal(30,18)"))
                .over(w_asc)
                .cast("double")
            ),
            6,
        ).alias("survival"),
    )


@register(
    "x_ts_peak_detection",
    oracle="""
    WITH d AS (
        SELECT event_type, date_trunc('day', ts)::DATE AS day,
               round(sum(value::DECIMAL(30,10)), 6)::DOUBLE AS total
        FROM events GROUP BY 1, 2
    )
    SELECT event_type, day, total
    FROM (
        SELECT event_type, day, total,
               lag(total) OVER w AS prev_t,
               lead(total) OVER w AS next_t
        FROM d
        WINDOW w AS (PARTITION BY event_type ORDER BY day)
    )
    WHERE prev_t IS NOT NULL AND next_t IS NOT NULL
      AND total > prev_t AND total > next_t
    """,
)
def x_ts_peak_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-maximum detection on the daily series: days strictly above
    BOTH neighbors — the spike-candidate pass feeding alerting and
    seasonality analysis (interior peaks only: series edges have one
    neighbor and are excluded rather than trivially flagged).

    Strict inequalities make the result tie-stable: a plateau of equal
    totals produces no peak in either engine, so float-identical
    rounded totals guarantee an identical peak set.

    Plan: one hash aggregate to day grain, then a single
    event_type-partitioned window pass supplies both neighbors — two
    frame navigations, one sort, bounded partitions."""
    d = (
        table(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date(F.date_trunc("day", "ts")).alias("day"))
        .agg(
            F.round(F.sum(F.col("value").cast("decimal(30,10)")), 6)
            .cast("double")
            .alias("total")
        )
    )
    w = Window.partitionBy("event_type").orderBy("day")
    n = d.select(
        "event_type",
        "day",
        "total",
        F.lag("total").over(w).alias("prev_t"),
        F.lead("total").over(w).alias("next_t"),
    )
    return n.filter(
        F.col("prev_t").isNotNull()
        & F.col("next_t").isNotNull()
        & (F.col("total") > F.col("prev_t"))
        & (F.col("total") > F.col("next_t"))
    ).select("event_type", "day", "total")


@register(
    "x_ts_week_over_week",
    oracle="""
    WITH d AS (
        SELECT event_type, date_trunc('day', ts)::DATE AS day,
               round(sum(value::DECIMAL(30,10)), 6)::DOUBLE AS total
        FROM events GROUP BY 1, 2
    )
    SELECT a.event_type, a.day, a.total,
           b.total AS total_prev_week,
           round(a.total - b.total, 6) AS wow_delta,
           round(100.0 * (a.total - b.total) / b.total, 4) AS wow_pct
    FROM d a JOIN d b
      ON a.event_type = b.event_type AND b.day = a.day - 7
    """,
)
def x_ts_week_over_week(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week same-weekday comparison: each day against the
    SAME weekday one week earlier — the seasonality-honest growth
    readout (day-over-day compares Monday to Sunday and reads weekly
    rhythm as change; WoW cancels it by construction, no decomposition
    needed).

    Plan: one hash aggregate to day grain, then a self-EQUI-join of the
    bounded day frame on (type, day−7) — an exact key, not a window
    (lag(7) over day rows would silently compare across GAPS if a day
    is missing; the equi-join inner-drops those pairs instead of
    mismatching them)."""
    # the day frame joins against itself: materialize once so events is
    # scanned a single time, not once per join side
    d = (
        table(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date(F.date_trunc("day", "ts")).alias("day"))
        .agg(
            F.round(F.sum(F.col("value").cast("decimal(30,10)")), 6)
            .cast("double")
            .alias("total")
        )
        .localCheckpoint()
    )
    prev = d.select(
        "event_type",
        (F.date_add("day", 7)).alias("day"),
        F.col("total").alias("total_prev_week"),
    )
    return d.join(prev, ["event_type", "day"]).select(
        "event_type",
        "day",
        "total",
        "total_prev_week",
        F.round(F.col("total") - F.col("total_prev_week"), 6).alias("wow_delta"),
        F.round(
            100.0
            * (F.col("total") - F.col("total_prev_week"))
            / F.col("total_prev_week"),
            4,
        ).alias("wow_pct"),
    )
