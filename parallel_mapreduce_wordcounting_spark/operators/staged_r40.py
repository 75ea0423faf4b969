"""Temporal-split / seasonality-strength / group-zscore wave. Like every
``staged_r*`` module with ``DEV_CASES``, it registers itself on import: the
package root registers each ``(key, fn, oracle)`` entry.
tests/test_oracle_parity.py runs the fn-vs-DuckDB compare;
tests/test_staged_r40.py holds the independent property checks.

Contents:

- ``split_time_holdout`` — the TEMPORAL train/holdout split (train
  strictly before the cutoff day, holdout from it) with the
  cross-split USER overlap surfaced — the leakage-safe alternative to
  ``split_train_val``'s random split for anything time-causal
  (forecasting, churn, conversion models), where a random split leaks
  the future into training; the overlap count is the entity-leakage
  surface a modeler must then decide about.
- ``event_seasonality_strength`` — Hyndman's seasonal-strength
  F_s = max(0, 1 − Var(remainder)/Var(seasonal + remainder)) on the
  ``event_seasonal_decompose`` components — ONE number for "how much of
  this series is weekday cycle", the quantitative follow-up to the
  decomposition's per-day view.
- ``win_group_zscore`` — per-event-type z-scores of daily counts
  against that TYPE's own mean/σ (exact n-scaled integer sufficient
  statistics per group) — the per-group standardization that makes
  heterogeneous streams comparable on one chart, flagging |z| > 3 days
  per stream rather than against a global envelope.

Exactness doctrine: unchanged — split counts and overlaps are exact
integers; seasonality components are the decompose wave's identical
IEEE trees (their variance reduce carries the documented float-sum
exception, absorbed by 4 dp rounding); group z-scores derive from
exact integer sums with the knife-edge |z|>3 flag decided on
bit-identical doubles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.loader import load_table, ts_day
from .exact import floor_day_us_sql

_D38 = "decimal(38,0)"

# --- temporal holdout split --------------------------------------------------------------

_HOLDOUT_TRAIN_DAYS = 24

SPLIT_TIME_HOLDOUT_ORACLE = (
    "WITH e AS ("
    f"  SELECT user_id, event_id, {floor_day_us_sql()} AS day FROM events"
    "), mn AS (SELECT min(day) AS d0 FROM e), "
    "lab AS ("
    f"  SELECT CASE WHEN day < d0 + {_HOLDOUT_TRAIN_DAYS} THEN 'train' "
    "  ELSE 'holdout' END AS split, user_id, event_id, day FROM e, mn"
    "), s AS ("
    "  SELECT split, CAST(count(*) AS BIGINT) AS n_events, "
    "  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users, "
    "  CAST(min(day) AS BIGINT) AS first_day, "
    "  CAST(max(day) AS BIGINT) AS last_day FROM lab GROUP BY split"
    "), ov AS ("
    "  SELECT CAST(count(*) AS BIGINT) AS overlap_users FROM ("
    "    SELECT user_id FROM lab WHERE split = 'train' "
    "    INTERSECT SELECT user_id FROM lab WHERE split = 'holdout')"
    ") SELECT split, n_events, n_users, first_day, last_day, overlap_users "
    "FROM s, ov"
)


def split_time_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TEMPORAL train/holdout split: train = the first 24 days,
    holdout = everything from the cutoff on (exact day arithmetic off
    the corpus minimum) — the leakage-safe split for anything
    time-causal, where ``split_train_val``'s random split would train
    on the future it predicts. Each side reports events, distinct
    users and its day span (the driver hash certifies the spans do not
    overlap), and BOTH rows carry the cross-split user-overlap count —
    the ENTITY-leakage surface (users present on both sides) that a
    per-user model must then group-split away, surfaced as a number
    instead of discovered as inflated validation metrics.

    Determinism: pure integer day arithmetic, exact counts, an exact
    DISTINCT-intersection for the overlap.

    Scale: one labeling scan (1-row min broadcast), one aggregate per
    side, one user-keyed intersection — all map-side combinable."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", ts_day("ts").alias("day")
    )
    mn = e.agg(F.min("day").alias("d0"))
    lab = e.crossJoin(F.broadcast(mn)).select(
        F.when(
            F.col("day") < F.col("d0") + _HOLDOUT_TRAIN_DAYS, "train"
        )
        .otherwise("holdout")
        .alias("split"),
        "user_id",
        "event_id",
        "day",
    )
    s = lab.groupBy("split").agg(
        F.count("*").cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.min("day").cast("long").alias("first_day"),
        F.max("day").cast("long").alias("last_day"),
    )
    tr = lab.where(F.col("split") == "train").select("user_id").distinct()
    ho = lab.where(F.col("split") == "holdout").select("user_id").distinct()
    ov = tr.intersect(ho).agg(F.count("*").cast("long").alias("overlap_users"))
    return s.crossJoin(F.broadcast(ov))


# --- seasonal strength -------------------------------------------------------------------------

EVENT_SEASONALITY_STRENGTH_ORACLE = (
    "WITH g AS ("
    f"  SELECT {floor_day_us_sql()} AS day, CAST(count(*) AS BIGINT) AS cnt "
    "  FROM events GROUP BY 1"
    "), w AS ("
    "  SELECT day, cnt, CAST(sum(cnt) OVER ww AS BIGINT) AS sum7, "
    "  count(*) OVER ww AS k7 FROM g "
    "  WINDOW ww AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)"
    "), t AS ("
    "  SELECT day, cnt, sum7, ((day % 7) + 7) % 7 AS dow, "
    "  7 * cnt - sum7 AS det7 FROM w WHERE k7 = 7"
    "), s AS ("
    "  SELECT dow, CAST(count(*) AS BIGINT) AS k, "
    "  CAST(sum(det7) AS BIGINT) AS sden FROM t GROUP BY dow"
    "), comp AS ("
    "  SELECT sden / (7.0 * s.k) AS seas, "
    "  cnt - sum7 / 7.0 - sden / (7.0 * s.k) AS resid "
    "  FROM t JOIN s ON t.dow = s.dow"
    "), v AS ("
    "  SELECT CAST(count(*) AS BIGINT) AS n, "
    "  var_pop(resid) AS vr, var_pop(seas + resid) AS vsr FROM comp"
    ") SELECT n, "
    "round(greatest(0.0, 1.0 - vr / nullif(vsr, 0.0)), 4) AS f_seasonal "
    "FROM v WHERE n > 1"
)


def event_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyndman's seasonal-strength statistic on the
    ``event_seasonal_decompose`` components: F_s = max(0, 1 −
    Var(remainder)/Var(seasonal + remainder)) — 0 means the weekday
    cycle explains nothing beyond trend, 1 means the detrended series
    IS its weekday cycle. The one-number follow-up to the
    decomposition's per-day view (and the quantitative gate for
    "should the forecaster bother with a seasonal term?", i.e. whether
    event_holt suffices or a seasonal model is warranted).

    Determinism: the components are the decompose wave's identical IEEE
    trees over exact integer statistics; the two variances are each one
    var_pop reduce over the calendar-bounded day rows (the documented
    float-sum exception — absorbed by the 4 dp rounding, no verdict
    decided on it).

    Scale: day-grain throughout after one event aggregate."""
    g = (
        load_table(spark, sf_dir, "events")
        .groupBy(ts_day("ts").alias("day"))
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    ww = Window.orderBy("day").rowsBetween(-3, 3)
    w = g.select(
        "day",
        "cnt",
        F.sum("cnt").over(ww).cast("long").alias("sum7"),
        F.count("*").over(ww).alias("k7"),
    )
    t = w.where(F.col("k7") == 7).select(
        "day",
        "cnt",
        "sum7",
        (((F.col("day") % 7) + 7) % 7).alias("dow"),
        (7 * F.col("cnt") - F.col("sum7")).alias("det7"),
    )
    s = t.groupBy("dow").agg(
        F.count("*").cast("long").alias("k"),
        F.sum("det7").cast("long").alias("sden"),
    )
    comp = t.join(s, "dow").select(
        (F.col("sden") / (7.0 * F.col("k"))).alias("seas"),
        (
            F.col("cnt") - F.col("sum7") / 7.0 - F.col("sden") / (7.0 * F.col("k"))
        ).alias("resid"),
    )
    v = comp.agg(
        F.count("*").cast("long").alias("n"),
        F.var_pop("resid").alias("vr"),
        F.var_pop(F.col("seas") + F.col("resid")).alias("vsr"),
    )
    return v.where(F.col("n") > 1).select(
        "n",
        F.round(
            F.greatest(
                F.lit(0.0),
                1.0 - F.col("vr") / F.nullif(F.col("vsr"), F.lit(0.0)),
            ),
            4,
        ).alias("f_seasonal"),
    )


# --- per-group z-scores ---------------------------------------------------------------------------

WIN_GROUP_ZSCORE_ORACLE = (
    "WITH g AS ("
    f"  SELECT event_type, {floor_day_us_sql()} AS day, "
    "  CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY 1, 2"
    "), s AS ("
    "  SELECT event_type, CAST(count(*) AS BIGINT) AS n, "
    "  CAST(sum(cnt) AS HUGEINT) AS sx, "
    "  CAST(sum(CAST(cnt AS HUGEINT) * cnt) AS HUGEINT) AS sxx "
    "  FROM g GROUP BY 1"
    ") SELECT g.event_type, day, cnt, "
    "round((cnt - CAST(sx AS DOUBLE) / n) / nullif("
    "sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) / n, 0.0), 4) AS z, "
    "abs((cnt - CAST(sx AS DOUBLE) / n) / nullif("
    "sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) / n, 0.0)) > 3.0 AS is_outlier "
    "FROM g JOIN s ON g.event_type = s.event_type WHERE n > 1"
)


def win_group_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type z-scores of daily counts against that TYPE's OWN
    mean and population σ — the per-group standardization that puts
    heterogeneous streams (2000 clicks/day vs 300 errors/day) on one
    comparable chart and flags each stream's |z| > 3 days against its
    own envelope, where a global threshold would drown the quiet
    streams in the loud ones' variance. The grouped complement of
    ``stat_ewma_chart``'s single-series memory-ful chart.

    Determinism: per-group μ and σ derive from exact n-scaled integer
    sufficient statistics through identical trees, so every z — and the
    knife-edge |z| > 3 flag — compares bit-identical doubles;
    zero-variance groups yield NULL z (nullif) on both engines.

    Scale: one (type, day) aggregate absorbs the events; the group
    stats are a 5-row broadcast hash join back — no window at all."""
    g = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", ts_day("ts").alias("day"))
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    s = g.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("cnt").cast(_D38)).alias("sx"),
        F.sum(F.col("cnt").cast(_D38) * F.col("cnt")).alias("sxx"),
    )
    j = g.join(s, "event_type").where(F.col("n") > 1)
    mu = F.col("sx").cast("double") / F.col("n")
    sigma = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    ) / F.col("n")
    z = (F.col("cnt") - mu) / F.nullif(sigma, F.lit(0.0))
    return j.select(
        "event_type",
        "day",
        "cnt",
        F.round(z, 4).alias("z"),
        (F.abs(z) > 3.0).alias("is_outlier"),
    )


DEV_CASES = [
    ("split_time_holdout", split_time_holdout, SPLIT_TIME_HOLDOUT_ORACLE),
    (
        "event_seasonality_strength",
        event_seasonality_strength,
        EVENT_SEASONALITY_STRENGTH_ORACLE,
    ),
    ("win_group_zscore", win_group_zscore, WIN_GROUP_ZSCORE_ORACLE),
]
