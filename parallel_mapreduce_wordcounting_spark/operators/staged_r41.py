"""Feature-scaling / repeat-behavior wave. Like every ``staged_r*`` module with
``DEV_CASES``, it registers itself on import: the package root registers
each ``(key, fn, oracle)`` entry. tests/test_oracle_parity.py runs the
fn-vs-DuckDB compare; tests/test_staged_r41.py holds the independent
property checks.

Contents:

- ``fn_minmax_scale`` — per-group min-max feature scaling of order
  values to [0, 1] (the preprocessing step under every
  distance/threshold model), with the group extremes carried per row
  so the driver hash certifies both the scaling and its inputs.
- ``event_repeat_rate`` — repeat-purchase behavior: the share of buyers
  who purchase again, purchases per buyer, and the one-and-done count —
  the retention-economics number (repeat rate drives LTV more than
  any acquisition metric).
- ``event_weekend_ratio`` — weekend-vs-weekday volume and revenue with
  per-day-normalized rates (2 weekend days vs 5 weekdays — raw totals
  mislead without the normalization, which is the point of emitting
  both).

Exactness doctrine: unchanged — extremes, counts and cents are exact
integers; scaled values and rates are single divisions of exact parts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.loader import load_table, ts_day
from .exact import floor_day_us_sql, money_cents, money_cents_sql

_D38 = "decimal(38,0)"

# --- per-group min-max scaling -----------------------------------------------------------

FN_MINMAX_SCALE_ORACLE = (
    "WITH c AS ("
    f"  SELECT o_orderkey, o_orderpriority AS p, "
    f"  {money_cents_sql('o_totalprice')} AS cents FROM orders"
    "), mm AS ("
    "  SELECT p, CAST(min(cents) AS BIGINT) AS lo, "
    "  CAST(max(cents) AS BIGINT) AS hi FROM c GROUP BY p"
    ") SELECT o_orderkey, c.p, cents, lo, hi, "
    "round((cents - lo) / (1.0 * nullif(hi - lo, 0)), 6) AS scaled "
    "FROM c JOIN mm ON c.p = mm.p"
)


def fn_minmax_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group min-max scaling of order value to [0, 1] within each
    priority — the feature-engineering step under every
    distance/threshold model (unscaled features let the largest-unit
    column dominate any Euclidean or regularized objective). The group
    extremes travel WITH each row, so the driver hash certifies the
    scaling AND the statistics it derived from; a constant group
    (hi = lo) yields NULL via nullif on both engines rather than a
    divide-by-zero abort — the ANSI-mode trap this repo's try_divide/
    nullif doctrine exists for.

    Determinism: exact integer cents and extremes; one division per
    row.

    Scale: one group-extremes aggregate (≤|groups| rows broadcast back)
    + a per-row projection — the classic two-pass scaler, no window."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("p"),
        money_cents(F.col("o_totalprice")).alias("cents"),
    )
    mm = o.groupBy("p").agg(
        F.min("cents").cast("long").alias("lo"),
        F.max("cents").cast("long").alias("hi"),
    )
    return o.join(F.broadcast(mm), "p").select(
        "o_orderkey",
        "p",
        "cents",
        "lo",
        "hi",
        F.round(
            (F.col("cents") - F.col("lo"))
            / (1.0 * F.nullif(F.col("hi") - F.col("lo"), F.lit(0))),
            6,
        ).alias("scaled"),
    )


# --- repeat-purchase behavior ---------------------------------------------------------------

EVENT_REPEAT_RATE_ORACLE = (
    "WITH u AS ("
    "  SELECT user_id, CAST(count(*) AS BIGINT) AS k FROM events "
    "  WHERE event_type = 'purchase' GROUP BY user_id"
    ") SELECT CAST(count(*) AS BIGINT) AS n_buyers, "
    "CAST(sum(CASE WHEN k >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_repeat, "
    "CAST(sum(CASE WHEN k = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_one_and_done, "
    "round(sum(CASE WHEN k >= 2 THEN 1 ELSE 0 END) / (1.0 * count(*)), 6) "
    "AS repeat_rate, "
    "round(sum(k) / (1.0 * count(*)), 6) AS purchases_per_buyer "
    "FROM u HAVING count(*) > 0"
)


def event_repeat_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase behavior: of the users who bought at all, how
    many bought AGAIN (the repeat rate), how many were one-and-done,
    and purchases per buyer — the retention-economics trio that drives
    LTV more than any acquisition metric, and the denominator
    discipline matters: rates are over BUYERS, not all users, which is
    the error most dashboards make. One row the driver hash verifies.

    Determinism: pure integer counting; two divisions.

    Scale: one per-user map-side-combined count + a 1-row reduce."""
    u = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count("*").cast("long").alias("k"))
    )
    return u.agg(
        F.count("*").cast("long").alias("n_buyers"),
        F.sum(F.when(F.col("k") >= 2, 1).otherwise(0))
        .cast("long")
        .alias("n_repeat"),
        F.sum(F.when(F.col("k") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_one_and_done"),
        F.round(
            F.sum(F.when(F.col("k") >= 2, 1).otherwise(0)) / (1.0 * F.count("*")),
            6,
        ).alias("repeat_rate"),
        F.round(F.sum("k") / (1.0 * F.count("*")), 6).alias(
            "purchases_per_buyer"
        ),
    ).where(F.col("n_buyers") > 0)


# --- weekend vs weekday -----------------------------------------------------------------------

EVENT_WEEKEND_RATIO_ORACLE = (
    "WITH e AS ("
    f"  SELECT (({floor_day_us_sql()} % 7) + 7) % 7 AS dow, "
    f"  CASE WHEN event_type = 'purchase' THEN {money_cents_sql('value')} "
    "  ELSE 0 END AS cents FROM events"
    "), lab AS ("
    # epoch-day 0 = Thursday, so dow 2 = Saturday and dow 3 = Sunday
    "  SELECT CASE WHEN dow IN (2, 3) THEN 'weekend' ELSE 'weekday' END "
    "  AS segment, cents FROM e"
    "), s AS ("
    "  SELECT segment, CAST(count(*) AS BIGINT) AS n_events, "
    "  CAST(sum(cents) AS BIGINT) AS rev_cents, "
    "  CASE WHEN segment = 'weekend' THEN 2 ELSE 5 END AS n_days FROM lab "
    "  GROUP BY segment"
    ") SELECT segment, n_events, rev_cents, "
    "round(n_events / (1.0 * n_days), 6) AS events_per_day_type, "
    "round(rev_cents / (1.0 * n_days) / 100.0, 2) AS revenue_per_day_type "
    "FROM s"
)


def event_weekend_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekend vs weekday volume and purchase revenue — raw totals AND
    per-day-of-type normalizations (2 weekend days vs 5 weekdays: the
    raw split always "shows" weekdays winning ~5:2 even for a perfectly
    flat business, so the normalized columns are the honest comparison
    — another certified-pitfall pairing in the agg_ratio_pitfall
    genre). Weekend = epoch-day mod 7 ∈ {2, 3} (day 0 = Thursday ⇒
    Saturday/Sunday), the guarded-modulo day convention.

    Determinism: integer day arithmetic, counts and cents; two
    divisions per segment row.

    Scale: one labeling projection + a 2-group map-side-combined
    aggregate."""
    e = load_table(spark, sf_dir, "events").select(
        F.pmod(ts_day("ts"), F.lit(7)).alias("dow"),
        F.when(
            F.col("event_type") == "purchase", money_cents(F.col("value"))
        )
        .otherwise(0)
        .alias("cents"),
    )
    lab = e.select(
        F.when(F.col("dow").isin(2, 3), "weekend")
        .otherwise("weekday")
        .alias("segment"),
        "cents",
    )
    s = lab.groupBy("segment").agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum("cents").cast("long").alias("rev_cents"),
    ).withColumn(
        "n_days", F.when(F.col("segment") == "weekend", 2).otherwise(5)
    )
    return s.select(
        "segment",
        "n_events",
        "rev_cents",
        F.round(F.col("n_events") / (1.0 * F.col("n_days")), 6).alias(
            "events_per_day_type"
        ),
        F.round(
            F.col("rev_cents") / (1.0 * F.col("n_days")) / 100.0, 2
        ).alias("revenue_per_day_type"),
    )


DEV_CASES = [
    ("fn_minmax_scale", fn_minmax_scale, FN_MINMAX_SCALE_ORACLE),
    ("event_repeat_rate", event_repeat_rate, EVENT_REPEAT_RATE_ORACLE),
    ("event_weekend_ratio", event_weekend_ratio, EVENT_WEEKEND_RATIO_ORACLE),
]
