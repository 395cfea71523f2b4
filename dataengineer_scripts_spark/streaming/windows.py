"""Event-time windowing operators (SURVEY.md §2.9 x_stream_*).

Each operator is written once over an events DataFrame and works in BOTH
execution modes — batch (registered here with a DuckDB oracle; Spark's
`window`/`session_window` are ordinary expressions in batch) and
Structured Streaming (`readStream` + watermark; exercised in
tests/test_streaming.py with the memory sink).  That one-definition /
two-modes property is the Spark-native generalization of the reference's
"poll, classify staleness" loop (Job Cek Script/app.py:180-191).

Scale posture: event-time windows keyed by (window, type) or (user,
session) shuffle once on the group key; state in streaming mode is bounded
by the watermark — no unbounded maps (SURVEY.md §7.4.6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import register
from ..tables import table

#: Session gap sized to the fixture (≈67 events/user over 30 days →
#: mean inter-event gap ≈10.7 h, so a 12 h gap yields real merging).
SESSION_GAP = "12 hours"


def tumbling_counts(events: DataFrame, width: str = "1 day") -> DataFrame:
    """Tumbling event-time window aggregate — shared by batch and stream."""
    return (
        events.groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "total",
        )
    )


@register(
    "x_stream_tumbling",
    oracle="""
    SELECT time_bucket(INTERVAL 1 DAY, ts::TIMESTAMP) AS window_start,
           time_bucket(INTERVAL 1 DAY, ts::TIMESTAMP) + INTERVAL 1 DAY
             AS window_end,
           event_type, count(*) AS n, round(sum(value), 2) AS total
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def x_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-day event-time windows (`F.window(ts, "1 day")`)."""
    return tumbling_counts(table(spark, sf_dir, "events"))


@register(
    "x_stream_sliding",
    oracle="""
    WITH slid AS (
      SELECT time_bucket(INTERVAL 12 HOUR, ts::TIMESTAMP)
               - k * INTERVAL 12 HOUR AS window_start,
             event_type, value
      FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k)
    )
    SELECT window_start, window_start + INTERVAL 24 HOUR AS window_end,
           event_type, count(*) AS n, round(sum(value), 2) AS total
    FROM slid GROUP BY 1, 2, 3
    """,
)
def x_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (24 h wide, 12 h slide → every event in exactly two
    windows).  The oracle expands the two candidate starts explicitly."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "24 hours", "12 hours").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "total",
        )
    )


@register(
    "x_stream_session",
    oracle=f"""
    WITH ordered AS (
      SELECT user_id, ts::TIMESTAMP AS ts, value, event_id,
             lag(ts::TIMESTAMP) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS prev_ts
      FROM events
    ), flagged AS (
      SELECT *, CASE WHEN prev_ts IS NULL
                       OR ts - prev_ts > INTERVAL '{SESSION_GAP}'
                     THEN 1 ELSE 0 END AS new_s
      FROM ordered
    ), numbered AS (
      SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sess
      FROM flagged
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL '{SESSION_GAP}' AS session_end,
           count(*) AS n, round(sum(value), 2) AS total
    FROM numbered GROUP BY user_id, sess
    """,
)
def x_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (gap-merged per user).  Spark merges events whose
    `[ts, ts+gap)` windows overlap OR TOUCH — an event at exactly
    prev + gap extends the session (empirically pinned by the stream
    fuzz's exact-gap probe, tests/test_stream_fuzz.py; the fixture's
    irregular gaps never land on the boundary).  The oracle is the
    equivalent gaps-and-islands SQL: new session only when the gap is
    STRICTLY greater than SESSION_GAP, session_end = last event + gap."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", SESSION_GAP).alias("w"), "user_id")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n",
            "total",
        )
    )


@register(
    "x_stream_dedup",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def x_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key dedup — batch `dropDuplicates` on the key columns (projecting
    only the keys keeps the result deterministic); the streaming twin is
    `dropDuplicatesWithinWatermark` (tests/test_streaming.py)."""
    return (
        table(spark, sf_dir, "events")
        .select("user_id", "event_type")
        .dropDuplicates(["user_id", "event_type"])
    )


@register(
    "x_stream_watermark_late",
    oracle="""
    WITH mx AS (SELECT max(ts::TIMESTAMP) AS m FROM events)
    SELECT event_type,
           count(*) FILTER (WHERE ts::TIMESTAMP <  m - INTERVAL 1 DAY) AS n_late,
           count(*) FILTER (WHERE ts::TIMESTAMP >= m - INTERVAL 1 DAY) AS n_ontime
    FROM events, mx GROUP BY event_type
    """,
)
def x_stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data classification relative to the observed frontier
    (max event time − 1 day) — the batch analog of a 1-day watermark and
    the generalization of the reference's "Not Synced" staleness check
    (app.py:180-191)."""
    e = table(spark, sf_dir, "events")
    frontier = e.agg(F.max("ts").alias("m"))
    late = F.col("ts") < F.col("m") - F.expr("INTERVAL 1 DAY")
    return (
        e.crossJoin(F.broadcast(frontier))
        .groupBy("event_type")
        .agg(
            F.sum(late.cast("int")).cast("bigint").alias("n_late"),
            F.sum((~late).cast("int")).cast("bigint").alias("n_ontime"),
        )
    )


@register(
    "x_stream_smoke",  # real readStream run → rows-only by design
    why_no_oracle="the subject is the streaming runtime itself",
    gate="multi-batch memory-sink run asserted row-for-row against the "
         "batch engine in `tests/test_streaming.py`",
)
def x_stream_smoke(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered smoke of the ACTUAL streaming engine (the other
    x_stream_* entries run their shared definitions in batch mode; their
    streaming twins live in tests/test_streaming.py).  This one drives a
    real bounded ``readStream`` — file source → 1 h watermark → tumbling
    1-day windows — to completion through the memory sink
    (``processAllAvailable``), then returns the finalized windows (append
    mode: every emitted row is below the advanced watermark, hence final
    and deterministic).  Rows-only check: the subject is the streaming
    runtime itself, which no batch SQL oracle exercises."""
    from .runtime import run_to_memory, stream_events

    name = "stream_smoke_" + "".join(
        ch for ch in sf_dir.rsplit("/", 1)[-1] if ch.isalnum()
    )
    agg = (
        stream_events(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "total",
        )
    )
    run_to_memory(agg, name, "append")
    return spark.table(name)


@register(
    "x_stream_stateful",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    )
    SELECT user_id,
           count(*) FILTER (WHERE event_type = 'error'
                              AND prev_type IS DISTINCT FROM 'error')
             AS n_incidents
    FROM ordered GROUP BY user_id
    """,
)
def x_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom per-key stateful operator: count *incidents* (transitions
    into the 'error' state) per user.  Implemented as a grouped-map
    `applyInPandas` — the batch twin of `applyInPandasWithState`
    (exercised on a real stream in tests/test_streaming.py).  State is
    one row per key; partitioning is by the group key, so at scale this
    is a single shuffle + Arrow-batched per-group pass."""
    import pandas as pd

    def incidents(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"])
        is_err = (pdf["event_type"] == "error").to_numpy()
        prev = pd.Series(is_err).shift(1, fill_value=False).to_numpy()
        return pd.DataFrame(
            {
                "user_id": [pdf["user_id"].iloc[0]],
                "n_incidents": [int((is_err & ~prev).sum())],
            }
        )

    e = table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    return e.groupBy("user_id").applyInPandas(
        incidents, "user_id bigint, n_incidents bigint"
    )


def enriched_window_revenue(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static enrichment join + windowed rollup — shared by batch
    and stream (the join and window are ordinary expressions in both)."""
    return (
        events.join(F.broadcast(dim), events.user_id == dim.c_custkey, "left")
        .groupBy(
            F.window("ts", "1 day").alias("w"),
            F.coalesce("c_mktsegment", F.lit("UNKNOWN")).alias("segment"),
        )
        .agg(
            F.count("*").alias("n"),
            # decimal sum → rounding is partition-order-independent
            F.round(F.sum(F.col("value").cast("decimal(30,10)")), 2)
            .cast("double")
            .alias("revenue"),
        )
        .select(F.col("w.start").alias("window_start"), "segment", "n", "revenue")
    )


@register(
    "x_stream_join",
    oracle="""
    SELECT time_bucket(INTERVAL 1 DAY, e.ts::TIMESTAMP) AS window_start,
           COALESCE(c.c_mktsegment, 'UNKNOWN') AS segment,
           count(*) AS n,
           round(sum(e.value::DECIMAL(30,10)), 2)::DOUBLE AS revenue
    FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
)
def x_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: events (the unbounded side) enriched
    with the customer dimension, then rolled up per (day, segment).  In
    streaming mode Spark re-broadcasts the static side per micro-batch —
    the dim stays the broadcast build side and the stream is never
    shuffled for the join (only the window aggregate shuffles); the batch
    twin here pins the same physical shape with an explicit
    ``F.broadcast``.  Left join + COALESCE('UNKNOWN') keeps unmatched
    events — an enrichment must never drop facts.  The streaming twin
    runs in tests/test_streaming.py."""
    return enriched_window_revenue(
        table(spark, sf_dir, "events"),
        table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment"),
    )


def clickstream_attribution(clicks: DataFrame, purchases: DataFrame) -> DataFrame:
    """Stream-stream join body shared by batch and streaming: every click
    paired with the same user's purchases landing within [click, click+1d).
    Expects (user_id, click_id, click_ts) × (user_id, purchase_id,
    purchase_ts)."""
    lag = (
        F.unix_micros("purchase_ts") - F.unix_micros("click_ts")
    ) / F.lit(1_000_000)
    return (
        clicks.join(
            purchases,
            [
                clicks.user_id == purchases.user_id,
                F.col("purchase_ts") >= F.col("click_ts"),
                F.col("purchase_ts") < F.col("click_ts") + F.expr("INTERVAL 1 DAY"),
            ],
        )
        .select(
            clicks.user_id,
            "click_id",
            "purchase_id",
            F.round(lag, 0).alias("lag_sec"),
        )
    )


@register(
    "x_stream_stream_join",
    oracle="""
    SELECT a.user_id, a.event_id AS click_id, b.event_id AS purchase_id,
           round(epoch(b.ts::TIMESTAMP - a.ts::TIMESTAMP), 0) AS lag_sec
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'click' AND b.event_type = 'purchase'
     AND b.ts::TIMESTAMP >= a.ts::TIMESTAMP
     AND b.ts::TIMESTAMP < a.ts::TIMESTAMP + INTERVAL 1 DAY
    """,
)
def x_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM join (clickstream attribution): each click joined to
    the same user's purchases within the following day — the capability
    stream-static enrichment can't express, because BOTH sides arrive
    unbounded.  In streaming mode both sides carry watermarks and the
    event-time range condition bounds the join state: Spark buffers each
    side only until the other side's watermark passes the interval, so
    state is O(rate × interval) per key, not unbounded (the condition is
    WHY production stream-stream joins must be interval joins).  The
    equi-key (user_id) makes it a hash-partitioned join — one shuffle per
    side, co-partitioned on the key, at any scale.  Batch twin below;
    the real dual-``readStream`` twin with both watermarks runs in
    tests/test_streaming.py."""
    e = table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    return clickstream_attribution(clicks, purchases)


# --- streaming REST poll (§2.1's source surface, streaming twin) -----------


@register(
    "x_stream_rest_poll",
    oracle="""
    SELECT n_nationkey AS id, n_name AS name,
           CASE WHEN n_nationkey % 5 = 4 THEN 'next' ELSE 'job' END AS type,
           CASE WHEN n_nationkey % 7 = 3 THEN 'FAILED' ELSE 'SUCCESS'
                END AS status,
           CASE WHEN n_nationkey % 11 = 5 THEN NULL ELSE 'SUCCESS'
                END AS export_status
    FROM nation
    """,
)
def x_stream_rest_poll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REST source consumed as a STREAM: ``readStream.format("rest")``
    polls the paginated listing per microbatch and emits only rows appended
    since the last offset (offset = absolute row position; see
    ``sources.rest.RestStreamReader``).  This is the structured-streaming
    shape of the reference's timer poll loop (``Job Cek Script/
    app.py:161-165``) — checkpointable offsets instead of a sleep loop.

    Driven to completion through the memory sink (every queries() entry
    returns a batch-readable DataFrame); with a fresh checkpoint the first
    microbatch drains the whole deterministic node listing, so the result
    carries a full DuckDB oracle — the streaming runtime itself is under
    oracle check here, not just the poll plumbing."""
    from ..operators.etl import _server
    from ..sources.rest import login, rest_read_stream
    from .runtime import run_to_memory

    api = _server(spark, sf_dir)
    stream = rest_read_stream(spark, api.base_url, login(api.base_url))
    name = "stream_rest_poll_" + "".join(
        ch for ch in sf_dir.rsplit("/", 1)[-1] if ch.isalnum()
    )
    run_to_memory(stream, name, "append")
    return spark.table(name)


@register(
    "x_stream_upsert_materialize",
    oracle="""
    SELECT user_id, ts AS last_ts, event_id AS last_event_id,
           event_type AS last_type, value AS last_value
    FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id
                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1
    """,
)
def x_stream_upsert_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style keyed materialization through a REAL streaming run: the
    event stream is split into multiple micro-batches
    (``maxFilesPerTrigger=1`` over a time-partitioned staging of the
    fixture), and a ``foreachBatch`` sink upserts "latest event per user"
    into a parquet state location — the delta-log shape: each batch
    APPENDS its per-key winner (idempotent, no read-modify-write race),
    and the read side compacts with one final per-key argmax.

    The merge key is ``max_by`` over ``(ts, event_id)``, so the
    materialized state is independent of batch boundaries and arrival
    order — exactly why the same query has a batch SQL oracle (latest
    row per user over all events) despite running on the streaming
    runtime.

    Scale: per-batch winners are one hash aggregate of the micro-batch
    (keys-sized output); the state location grows by keys-per-batch and
    compaction is one aggregate over appended snapshots — the pattern a
    lakehouse MERGE performs, minus the transaction log this sandbox
    doesn't ship.  Measured (r12 stress): 2.0x wall at 30x events
    through the full stage-split-run-compact cycle, upserted keys
    exactly 30x (1.5k -> 45k) — `scale_stress_r12_x30.json @ 489b79a`."""
    import tempfile

    from .runtime import stream_events_split

    stream, n_batches = stream_events_split(spark, sf_dir, n_files=4)
    state_dir = tempfile.mkdtemp(prefix="spark_graft_upsert_state_")
    ckpt = tempfile.mkdtemp(prefix="spark_graft_upsert_ckpt_")

    latest = F.max(
        F.struct("ts", "event_id", "event_type", "value")
    ).alias("w")

    def upsert(batch: DataFrame, batch_id: int) -> None:
        (
            batch.groupBy("user_id")
            .agg(latest)
            .select("user_id", "w.ts", "w.event_id", "w.event_type", "w.value")
            .write.mode("append")
            .parquet(state_dir)
        )

    q = (
        stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    out = (
        spark.read.parquet(state_dir)
        .groupBy("user_id")
        .agg(latest)
        .select(
            "user_id",
            F.col("w.ts").alias("last_ts"),
            F.col("w.event_id").alias("last_event_id"),
            F.col("w.event_type").alias("last_type"),
            F.col("w.value").alias("last_value"),
        )
        # materialize the keys-sized result so the ephemeral state/ckpt
        # dirs can be reclaimed before the caller ever acts on the frame
        .localCheckpoint()
    )
    import shutil

    shutil.rmtree(state_dir, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    return out


@register(
    "x_stream_windowed_topk",
    oracle="""
    WITH w AS (
        SELECT time_bucket(INTERVAL 1 DAY, ts::TIMESTAMP) AS window_start,
               event_type, count(*) AS n,
               round(sum(value::DECIMAL(30,10)), 2)::DOUBLE AS total
        FROM events GROUP BY 1, 2
    )
    SELECT window_start, event_type, n, total, rnk
    FROM (SELECT *, CAST(row_number() OVER (
              PARTITION BY window_start
              ORDER BY n DESC, event_type) AS BIGINT) AS rnk
          FROM w) t
    WHERE rnk <= 2
    """,
)
def x_stream_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-window leaderboard: the top-2 event types of every tumbling
    1-day window by count — the trending-topics / top-errors panel.  In
    continuous operation this runs as the tumbling aggregate on the
    stream with the rank applied on the SINK side (per-window top-k is
    not an incremental streaming operator — a late event can reorder a
    window, so production materializes the windowed counts (append-mode
    after watermark) and ranks the closed windows downstream, exactly
    the split spelled here).

    Determinism: counts are exact, the rank orders by (n desc,
    event_type) — no tie ambiguity; the decimal value sum is
    partition-order independent.

    Plan: one hash aggregate to (window, type) grain, then a rank
    window partitioned by the SAME window key over aggregate-sized
    data."""
    win = F.window("ts", "1 day")
    counts = (
        table(spark, sf_dir, "events")
        .groupBy(win.alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(30,10)")), 2)
            .cast("double")
            .alias("total"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total")
    )
    rk = Window.partitionBy("window_start").orderBy(
        F.col("n").desc(), "event_type"
    )
    return (
        counts.withColumn("rnk", F.row_number().over(rk).cast("bigint"))
        .filter(F.col("rnk") <= 2)
    )
