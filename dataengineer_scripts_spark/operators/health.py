"""Flagship operator: job/event health classification (SURVEY.md §7.2, M0).

Declarative restatement of the reference's daily health report
(`Job Cek Script/app.py:115-220`) over the `events` fixture:

- whitelist filter on event type  — `flt_not_in_list` (app.py:113,188),
  with the reference's *Python* 2-valued `not in [None, ...]` semantics
  (NULL counts as whitelisted), not SQL 3-valued NOT IN (SURVEY.md §7.4.1);
- latest-event-per-key            — `agg_first_per_key` (app.py:170-178);
- staleness cutoff → "Not Synced" — `fn_date_ge` (app.py:180-191);
- bounded error-note aggregate    — `agg_collect_errors` (app.py:256-261)
  + `agg_count_threshold` (app.py:262-263, >5 ⇒ fixed literal)
  + `agg_exists_to_status` (app.py:265-270, any error ⇒ Failed).

Plan shape: one hash aggregate on `user_id` (single shuffle), then scalar
`when`-cascades — everything whole-stage-codegen'd, nothing collected:
a partial+final aggregate over the natural key, with no window, no join
and no Python worker.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..tables import table

#: Whitelisted (healthy) event types — analog of the node-status whitelist
#: ``["SUCCESS", None, "CREATED", "UPSTREAM FAILED"]`` at app.py:113.
WHITELIST = ("click", "purchase", "view", "signup")

#: Analysis cutoff date (fixture time range is 2024-01-01 → 2024-01-30;
#: fixed — not current_date() — so runs are deterministic for the oracle).
STALE_CUTOFF = "2024-01-25"

#: Reference truncates the note beyond this many failing nodes (app.py:262).
MAX_NOTE_ERRORS = 5


def _is_error(col):
    """Python-faithful 'not in whitelist-containing-None' (SURVEY.md §7.4.1)."""
    return ~(col.isin(*WHITELIST) | col.isNull())


def health_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = table(spark, sf_dir, "events")
    err = _is_error(F.col("event_type"))
    # Zero-padded id keeps string sort == numeric sort, making the joined
    # note deterministic under any partitioning (SURVEY.md §7.4.2).
    err_line = F.when(err, F.format_string("%010d --> %s", "event_id", "event_type"))
    per_user = events.groupBy("user_id").agg(
        F.max("ts").alias("last_ts"),
        F.sum(err.cast("int")).alias("n_err"),
        F.array_sort(F.collect_list(err_line)).alias("err_lines"),
    )
    stale = F.to_date("last_ts") < F.lit(STALE_CUTOFF).cast("date")
    status = (
        F.when(stale, "Not Synced")
        .when(F.col("n_err") > 0, "Failed")
        .otherwise("Success")
    )
    note = (
        F.when(
            stale,
            F.concat(
                F.lit("Last Sync at "),
                F.date_format("last_ts", "yyyy-MM-dd HH:mm:ss"),
            ),
        )
        .when(
            F.col("n_err") > MAX_NOTE_ERRORS,
            F.lit(f"error in more than {MAX_NOTE_ERRORS} nodes"),
        )
        .when(F.col("n_err") > 0, F.array_join("err_lines", "\n"))
        .otherwise("")
    )
    return per_user.select(
        "user_id",
        "last_ts",
        status.alias("status"),
        note.alias("error_note"),
        F.col("n_err").cast("bigint").alias("n_err"),
    )


HEALTH_ORACLE = f"""
WITH per_user AS (
  SELECT
    user_id,
    max(ts)::TIMESTAMP AS last_ts,
    count(*) FILTER (
      WHERE NOT (event_type IN ('click','purchase','view','signup')
                 OR event_type IS NULL)) AS n_err,
    string_agg(printf('%010d --> %s', event_id, event_type), chr(10)
               ORDER BY event_id) FILTER (
      WHERE NOT (event_type IN ('click','purchase','view','signup')
                 OR event_type IS NULL)) AS err_note
  FROM events
  GROUP BY user_id
)
SELECT
  user_id,
  last_ts,
  CASE WHEN last_ts::DATE < DATE '{STALE_CUTOFF}' THEN 'Not Synced'
       WHEN n_err > 0 THEN 'Failed'
       ELSE 'Success' END AS status,
  CASE WHEN last_ts::DATE < DATE '{STALE_CUTOFF}'
         THEN 'Last Sync at ' || strftime(last_ts, '%Y-%m-%d %H:%M:%S')
       WHEN n_err > {MAX_NOTE_ERRORS} THEN 'error in more than {MAX_NOTE_ERRORS} nodes'
       WHEN n_err > 0 THEN err_note
       ELSE '' END AS error_note,
  n_err
FROM per_user
"""

register("flagship_health", oracle=HEALTH_ORACLE)(health_report)
