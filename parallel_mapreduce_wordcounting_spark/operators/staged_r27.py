"""Relational-surface / attribution / freshness wave. Like every ``staged_r*``
module with ``DEV_CASES``, it registers itself on import: the package root
registers each ``(key, fn, oracle)`` entry. tests/test_oracle_parity.py runs
the fn-vs-DuckDB compare; tests/test_staged_r27.py holds the independent
property checks.

Contents:

- ``sql_pivot`` — the PIVOT relational operator (long→wide): day-of-week
  × event-type counts via the real ``DataFrame.pivot`` API with an
  EXPLICIT value list (no extra distinct pass — the form that scales).
- ``sql_unpivot`` — the UNPIVOT/melt inverse (wide→long): per-priority
  order metrics melted to (priority, metric, value) rows via the real
  ``DataFrame.unpivot`` API — together they close the reshaping surface
  every BI layer expects from an engine.
- ``win_range_frame_days`` — a RANGE (value-based) window frame (renamed
  from ``win_range_frame`` at the round-10 collision audit: windows_ext.py
  registered that key in r03 with part-size-frame semantics, so the
  idempotence guard silently SKIPPED this op at promotion — the
  win_first_last_event lesson, caught by the REGISTRY-vs-DEV_CASES fn
  identity sweep): per order,
  the same-customer revenue within ±30 DAYS of its order date —
  semantics ROWS frames cannot express when the series has gaps
  (a ROWS frame counts neighbors; a RANGE frame measures distance).
- ``event_attribution_shapley`` — EXACT Shapley-value channel
  attribution over (user, day) journeys with 3 channels (click / view /
  signup): coalition conversion rates → closed-form 3-player Shapley
  weights (|S|!(n−|S|−1)!/n! ∈ {2,1,1,2}/6) — the game-theoretic
  attribution beside ``event_attribution``'s positional rules, exact
  because the coalition lattice is enumerable (2³ cells) while the
  JOURNEY volume stays distributed.
- ``dq_freshness`` — per-stream staleness: each event type's last event
  time vs the corpus watermark, lag in exact microseconds, >24 h stale
  flag — the first check any ingestion SLA dashboard runs.

Exactness doctrine: unchanged — pivot/unpivot/freshness are exact
integers; RANGE frames sum exact cents; Shapley values are rational
arithmetic over exact coalition counts evaluated through identical IEEE
trees (one division per coalition, the weighted sum of eight such).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.loader import load_table, ts_day
from .exact import floor_day_us_sql, money_cents, money_cents_sql

_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

# --- PIVOT (long -> wide) -------------------------------------------------------------

SQL_PIVOT_ORACLE = (
    "WITH g AS ("
    f"  SELECT {floor_day_us_sql()} AS day, event_type FROM events"
    ") SELECT ((day % 7) + 7) % 7 AS dow, "
    + ", ".join(
        f"CAST(sum(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS {t}"
        for t in _EVENT_TYPES
    )
    + " FROM g GROUP BY 1"
)


def sql_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PIVOT relational operator, long→wide: day-of-week rows ×
    event-type columns, each cell the event count — the contingency
    reshaping every BI export needs, via the REAL ``DataFrame.pivot``
    API with an EXPLICIT value list (without it, Spark runs an extra
    distinct-values job and the column set becomes data-dependent —
    the two things a 100 TB pivot cannot afford; with it, the pivot is
    one ordinary hash aggregate whose map-side combine carries five
    counters per dow). Absent cells coalesce to 0, mirroring the
    oracle's CASE-sums.

    Scale: identical to a groupBy(dow, type) count — the pivot is pure
    projection-time reshaping; the column list is a constant."""
    e = load_table(spark, sf_dir, "events")
    dow = ((ts_day("ts") % 7) + 7) % 7
    wide = (
        e.select(dow.alias("dow"), "event_type")
        .groupBy("dow")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)))  # pivot rejects count(*)'s star
    )
    return wide.select(
        "dow",
        *[
            F.coalesce(F.col(t), F.lit(0)).cast("long").alias(t)
            for t in _EVENT_TYPES
        ],
    )


# --- UNPIVOT (wide -> long) ------------------------------------------------------------

SQL_UNPIVOT_ORACLE = (
    "WITH w AS ("
    "  SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders, "
    f"  CAST(sum({money_cents_sql('o_totalprice')}) AS BIGINT) AS rev_cents, "
    "  CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers "
    "  FROM orders GROUP BY 1"
    ") SELECT o_orderpriority, 'n_orders' AS metric, "
    "CAST(n_orders AS DOUBLE) AS value FROM w "
    "UNION ALL SELECT o_orderpriority, 'rev_cents', CAST(rev_cents AS DOUBLE)"
    " FROM w "
    "UNION ALL SELECT o_orderpriority, 'n_customers', "
    "CAST(n_customers AS DOUBLE) FROM w"
)


def sql_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UNPIVOT (melt) relational operator, wide→long: a per-priority
    order summary (count, revenue cents, distinct customers) melted to
    (priority, metric, value) rows via the REAL ``DataFrame.unpivot``
    API — the inverse of ``sql_pivot``, and the shape that feeds metric
    stores and long-format plotting layers. Values share one DOUBLE
    type (the unpivot contract); every value is an exact integer cast
    once, so the doubles are exact.

    Scale: unpivot is projection-time row expansion (3 rows per input
    row, no shuffle); the expensive part is the upstream aggregate,
    which map-side combines."""
    o = load_table(spark, sf_dir, "orders")
    w = o.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum(money_cents(F.col("o_totalprice"))).cast("long").alias("rev_cents"),
        F.countDistinct("o_custkey").cast("long").alias("n_customers"),
    )
    return w.unpivot(
        ids=["o_orderpriority"],
        values=[
            F.col("n_orders").cast("double").alias("n_orders"),
            F.col("rev_cents").cast("double").alias("rev_cents"),
            F.col("n_customers").cast("double").alias("n_customers"),
        ],
        variableColumnName="metric",
        valueColumnName="value",
    )


# --- RANGE window frame -----------------------------------------------------------------

_RANGE_DAYS = 30

WIN_RANGE_FRAME_DAYS_ORACLE = (
    "WITH o AS ("
    "  SELECT o_orderkey, o_custkey, "
    "  date_diff('day', DATE '1970-01-01', o_orderdate) AS day, "
    f"  {money_cents_sql('o_totalprice')} AS cents FROM orders"
    ") SELECT o_orderkey, "
    "CAST(count(*) OVER w AS BIGINT) AS n_near, "
    "CAST(sum(cents) OVER w AS BIGINT) AS near_cents "
    "FROM o WINDOW w AS (PARTITION BY o_custkey ORDER BY day "
    f"RANGE BETWEEN {_RANGE_DAYS} PRECEDING AND {_RANGE_DAYS} FOLLOWING)"
)


def win_range_frame_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A RANGE (value-based) window frame: for every order, the count and
    revenue of the SAME customer's orders within ±30 calendar days of
    its order date — semantics a ROWS frame cannot express when order
    dates have gaps (ROWS counts physical neighbors; RANGE measures
    distance on the ORDER BY value, so a customer with a 6-month pause
    correctly sees a frame of 1). The burst-detection / local-density
    primitive behind "3 orders in one month" credit rules.

    Determinism: pure integer day arithmetic and exact cents sums.

    Scale: one hash-partition by customer + in-partition sort — the
    same single shuffle any per-entity window costs; the range frame is
    evaluated by the sliding two-pointer pass inside each partition."""
    o = load_table(spark, sf_dir, "orders")
    d = o.select(
        "o_orderkey",
        "o_custkey",
        F.datediff("o_orderdate", F.lit("1970-01-01")).cast("long").alias("day"),
        money_cents(F.col("o_totalprice")).alias("cents"),
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("day")
        .rangeBetween(-_RANGE_DAYS, _RANGE_DAYS)
    )
    return d.select(
        "o_orderkey",
        F.count("*").over(w).cast("long").alias("n_near"),
        F.sum("cents").over(w).cast("long").alias("near_cents"),
    )


# --- exact 3-channel Shapley attribution -------------------------------------------------

_SHAP_CHANNELS = ("click", "view", "signup")


def _shap_oracle() -> str:
    cells = "SELECT c1, c2, c3, count(*) AS n, sum(y) AS cv FROM u GROUP BY 1, 2, 3"
    # v(S): exact-set conversion rate, 0 when no journey has that set
    def v(c1: int, c2: int, c3: int) -> str:
        return (
            "coalesce(max(CASE WHEN c1 = {0} AND c2 = {1} AND c3 = {2} "
            "THEN cv / (1.0 * n) END), 0.0)".format(c1, c2, c3)
        )

    # 3-player Shapley weights: |S|! (3-|S|-1)! / 3! = {2,1,1,2}/6
    phi1 = (
        f"(2.0 * ({v(1,0,0)} - {v(0,0,0)}) + ({v(1,1,0)} - {v(0,1,0)}) "
        f"+ ({v(1,0,1)} - {v(0,0,1)}) + 2.0 * ({v(1,1,1)} - {v(0,1,1)})) / 6.0"
    )
    phi2 = (
        f"(2.0 * ({v(0,1,0)} - {v(0,0,0)}) + ({v(1,1,0)} - {v(1,0,0)}) "
        f"+ ({v(0,1,1)} - {v(0,0,1)}) + 2.0 * ({v(1,1,1)} - {v(1,0,1)})) / 6.0"
    )
    phi3 = (
        f"(2.0 * ({v(0,0,1)} - {v(0,0,0)}) + ({v(1,0,1)} - {v(1,0,0)}) "
        f"+ ({v(0,1,1)} - {v(0,1,0)}) + 2.0 * ({v(1,1,1)} - {v(1,1,0)})) / 6.0"
    )
    return (
        "WITH u AS ("
        f"  SELECT user_id, {floor_day_us_sql()} AS day, "
        "  max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c1, "
        "  max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS c2, "
        "  max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS c3, "
        "  max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y "
        "  FROM events GROUP BY 1, 2"
        f"), cells AS ({cells}) "
        "SELECT CAST(sum(n) AS BIGINT) AS n_journeys, "
        f"round({v(0,0,0)}, 6) AS base_rate, "
        f"round({v(1,1,1)}, 6) AS full_rate, "
        f"round({phi1}, 6) AS shapley_click, "
        f"round({phi2}, 6) AS shapley_view, "
        f"round({phi3}, 6) AS shapley_signup "
        "FROM cells HAVING sum(n) > 0"
    )


EVENT_ATTRIBUTION_SHAPLEY_ORACLE = _shap_oracle()


def event_attribution_shapley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Shapley-value attribution of purchase conversion to the
    click / view / signup channels over (user, day) journeys: the
    coalition value v(S) is the conversion rate of journeys whose
    exact channel set is S (0 when unobserved), and each channel's
    Shapley value is the closed-form 3-player weighted sum of its
    marginal contributions (weights |S|!(3−|S|−1)!/3! = 2,1,1,2 over 6)
    — the game-theoretically fair split (Shapley 1953) that positional
    rules (``event_attribution``'s first/last-touch) cannot give, exact
    here because the coalition lattice is 2³ cells while the journey
    volume stays distributed. Journeys are user-days (whole-user sets
    are degenerate on this fixture — every user touches every channel).

    Determinism: coalition counts are exact integers; each v(S) is one
    division, each φ a fixed weighted sum — identical IEEE trees, 6 dp
    display rounding.

    Scale: one map-side-combined (user, day) aggregate absorbs the
    event volume, one 8-cell aggregate, one 1-row projection."""
    e = load_table(spark, sf_dir, "events")
    u = e.groupBy("user_id", ts_day("ts").alias("day")).agg(
        *[
            F.max(
                F.when(F.col("event_type") == t, 1).otherwise(0)
            ).alias(f"c{i + 1}")
            for i, t in enumerate(_SHAP_CHANNELS)
        ],
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "y"
        ),
    )
    cells = u.groupBy("c1", "c2", "c3").agg(
        F.count("*").alias("n"), F.sum("y").alias("cv")
    )

    def v(c1: int, c2: int, c3: int):
        return F.coalesce(
            F.max(
                F.when(
                    (F.col("c1") == c1) & (F.col("c2") == c2) & (F.col("c3") == c3),
                    F.col("cv") / (1.0 * F.col("n")),
                )
            ),
            F.lit(0.0),
        )

    phi1 = (
        2.0 * (v(1, 0, 0) - v(0, 0, 0))
        + (v(1, 1, 0) - v(0, 1, 0))
        + (v(1, 0, 1) - v(0, 0, 1))
        + 2.0 * (v(1, 1, 1) - v(0, 1, 1))
    ) / 6.0
    phi2 = (
        2.0 * (v(0, 1, 0) - v(0, 0, 0))
        + (v(1, 1, 0) - v(1, 0, 0))
        + (v(0, 1, 1) - v(0, 0, 1))
        + 2.0 * (v(1, 1, 1) - v(1, 0, 1))
    ) / 6.0
    phi3 = (
        2.0 * (v(0, 0, 1) - v(0, 0, 0))
        + (v(1, 0, 1) - v(1, 0, 0))
        + (v(0, 1, 1) - v(0, 1, 0))
        + 2.0 * (v(1, 1, 1) - v(1, 1, 0))
    ) / 6.0
    out = cells.agg(
        F.sum("n").cast("long").alias("n_journeys"),
        F.round(v(0, 0, 0), 6).alias("base_rate"),
        F.round(v(1, 1, 1), 6).alias("full_rate"),
        F.round(phi1, 6).alias("shapley_click"),
        F.round(phi2, 6).alias("shapley_view"),
        F.round(phi3, 6).alias("shapley_signup"),
    )
    return out.where(F.col("n_journeys") > 0)


# --- ingestion freshness -----------------------------------------------------------------

_STALE_US = 24 * 3_600_000_000

DQ_FRESHNESS_ORACLE = (
    "WITH e AS ("
    "  SELECT event_type, CAST(epoch_ns(ts) // 1000 AS BIGINT) AS us "
    "  FROM events"
    "), m AS (SELECT max(us) AS wm FROM e) "
    "SELECT event_type, CAST(max(us) AS BIGINT) AS last_us, "
    "CAST(wm - max(us) AS BIGINT) AS lag_us, "
    f"wm - max(us) > {_STALE_US} AS stale "
    "FROM e, m GROUP BY event_type, wm"
)


def dq_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stream ingestion freshness: each event type's latest event
    time against the corpus watermark (the global max), the lag in
    EXACT integer microseconds, and a >24 h staleness flag — the first
    check an ingestion SLA dashboard runs, and the per-source
    complement of ``obs_metrics``' global health row (a dead upstream
    shows as one stale type while the watermark keeps advancing on the
    others).

    Determinism: pure integer µs arithmetic end to end (the loader's
    single timestamp policy) — no rounding anywhere.

    Scale: one map-side-combined per-type max + a 1-row watermark
    broadcast. Nothing else."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type", (F.unix_micros("ts")).alias("us")
    )
    m = e.agg(F.max("us").alias("wm"))
    return (
        e.crossJoin(F.broadcast(m))
        .groupBy("event_type", "wm")
        .agg(F.max("us").cast("long").alias("last_us"))
        .select(
            "event_type",
            "last_us",
            (F.col("wm") - F.col("last_us")).cast("long").alias("lag_us"),
            ((F.col("wm") - F.col("last_us")) > _STALE_US).alias("stale"),
        )
    )


DEV_CASES = [
    ("sql_pivot", sql_pivot, SQL_PIVOT_ORACLE),
    ("sql_unpivot", sql_unpivot, SQL_UNPIVOT_ORACLE),
    ("win_range_frame_days", win_range_frame_days, WIN_RANGE_FRAME_DAYS_ORACLE),
    (
        "event_attribution_shapley",
        event_attribution_shapley,
        EVENT_ATTRIBUTION_SHAPLEY_ORACLE,
    ),
    ("dq_freshness", dq_freshness, DQ_FRESHNESS_ORACLE),
]
