"""Paired-test / template-dedup / nested-JSON / drawdown wave. Like every
``staged_r*`` module with ``DEV_CASES``, it registers itself on import: the
package root registers each ``(key, fn, oracle)`` entry.
tests/test_oracle_parity.py runs the fn-vs-DuckDB compare;
tests/test_staged_r34.py holds the independent property checks.

Contents:

- ``stat_paired_ttest`` — the paired t-test on per-user first-half vs
  second-half revenue: the PARAMETRIC companion of ``stat_wilcoxon``
  (same pairing, same question), with t entirely from exact integer
  cents sums — when the two disagree, the differences are heavy-tailed
  and the Wilcoxon verdict is the honest one.
- ``event_conversion_lag_hist`` — the signup→purchase lag DISTRIBUTION
  on log-ish buckets (<1 h … >3 d) — the plot behind
  ``event_window_sweep``'s point rates; picks attribution windows from
  data instead of convention. (A number-masked template-dedup op was
  drafted for this slot and DROPPED: the fixture's documents contain
  zero digits and zero exact duplicates, so it would be structurally
  vacuous — the nonvacuous-oracle rule decided.)
- ``sim_norm_check`` — embedding-norm conformance: per label, how many
  vectors deviate from unit L2 norm beyond 1e-3 — the contract check
  every cosine-based stage (sim_topk_*, dedup_embedding, sim_dbscan)
  silently assumes; run it FIRST or those operators' "cosines" are
  lies.
- ``scan_json_nested`` — nested-JSON ingestion: a staged JSONL feed
  with a struct field and an ARRAY of line items is read with an
  explicit nested schema, the array exploded, and line totals
  aggregated — the semi-structured path (schema, dot-access, explode)
  beside the flat-JSON txn log.
- ``event_drawdown`` — maximum drawdown of cumulative daily purchase
  revenue: the running-peak deficit every risk/runway dashboard tracks,
  with the trough day and peak-to-trough depth in exact cents.

Exactness doctrine: unchanged — t from exact integer sums; lag buckets,
norm-deviation counts, nested aggregates and drawdown arithmetic all
exact integers (norm deviation is decided on the 6 dp-rounded norm, the
sim_* family grain).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.loader import load_table, ts_day
from .exact import floor_day_us_sql, money_cents, money_cents_sql

_D38 = "decimal(38,0)"

# --- paired t-test ---------------------------------------------------------------------

_PAIRED_SPLIT_DAYS = 15

STAT_PAIRED_TTEST_ORACLE = (
    "WITH e AS ("
    f"  SELECT user_id, {floor_day_us_sql()} AS day, "
    f"  {money_cents_sql('value')} AS cents FROM events "
    "  WHERE event_type = 'purchase'"
    "), mn AS (SELECT min(day) AS d0 FROM e), "
    "du AS ("
    "  SELECT user_id, CAST(sum(CASE WHEN day < d0 + "
    f"  {_PAIRED_SPLIT_DAYS} THEN cents ELSE -cents END) AS BIGINT) AS d "
    "  FROM e, mn GROUP BY user_id"
    "), t AS ("
    "  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(d) AS HUGEINT) AS sd, "
    "  CAST(sum(CAST(d AS HUGEINT) * d) AS HUGEINT) AS sdd FROM du"
    ") SELECT n, round(CAST(sd AS DOUBLE) / n / 100.0, 6) AS mean_diff, "
    "round(CAST(sd AS DOUBLE) / n / ("
    "sqrt(CAST(n * sdd - sd * sd AS DOUBLE) / (n - 1.0)) / n), 4) AS t "
    "FROM t WHERE n > 1 AND n * sdd - sd * sd > 0"
)


def stat_paired_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired t-test of per-user purchase revenue, first 15 days vs the
    rest (the stat_wilcoxon pairing): t = d̄ / (s_d/√n) with d̄ and s_d
    from EXACT integer cents sums (Σd, Σd² in decimal(38)/HUGEINT; the
    n-scaled variance numerator n·Σd² − (Σd)² is an exact integer) —
    the parametric companion of ``stat_wilcoxon``'s signed-rank test:
    same question, same pairing; when their verdicts diverge the
    differences are heavy-tailed and the rank test is the honest one
    (which is exactly why an engine should ship BOTH).

    Includes zero-difference users (the t-test does; Wilcoxon drops
    them — a real, documented definitional divergence, not an
    implementation accident). Degenerate corpora (n ≤ 1, constant d)
    yield zero rows by guard.

    Scale: one per-user map-side-combined aggregate, a 1-row reduce."""
    e = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            ts_day("ts").alias("day"),
            money_cents(F.col("value")).alias("cents"),
        )
    )
    mn = e.agg(F.min("day").alias("d0"))
    du = (
        e.crossJoin(F.broadcast(mn))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    F.col("day") < F.col("d0") + _PAIRED_SPLIT_DAYS,
                    F.col("cents"),
                ).otherwise(-F.col("cents"))
            )
            .cast("long")
            .alias("d")
        )
    )
    t = du.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("d").cast(_D38)).alias("sd"),
        F.sum(F.col("d").cast(_D38) * F.col("d")).alias("sdd"),
    )
    varnum = F.col("n") * F.col("sdd") - F.col("sd") * F.col("sd")
    mean_d = F.col("sd").cast("double") / F.col("n")
    se = F.sqrt(varnum.cast("double") / (F.col("n") - 1.0)) / F.col("n")
    return t.where((F.col("n") > 1) & (varnum > 0)).select(
        "n",
        F.round(mean_d / 100.0, 6).alias("mean_diff"),
        F.round(mean_d / se, 4).alias("t"),
    )


# --- conversion-lag histogram -----------------------------------------------------------

_LAG_EDGES_US = [
    3_600_000_000,  # < 1 h
    21_600_000_000,  # 1–6 h
    86_400_000_000,  # 6–24 h
    259_200_000_000,  # 1–3 d
]  # + the > 3 d tail bucket

EVENT_CONVERSION_LAG_HIST_ORACLE = (
    "WITH s AS ("
    "  SELECT user_id, CAST(epoch_ns(ts) // 1000 AS BIGINT) AS sus, event_id"
    "  FROM events WHERE event_type = 'signup'"
    "), pch AS ("
    "  SELECT user_id, CAST(epoch_ns(ts) // 1000 AS BIGINT) AS pus "
    "  FROM events WHERE event_type = 'purchase'"
    "), dt AS ("
    "  SELECT s.event_id, min(pus - sus) AS dt_us FROM s "
    "  JOIN pch ON s.user_id = pch.user_id AND pus >= sus "
    "  GROUP BY s.event_id"
    "), b AS ("
    "  SELECT CASE "
    f"  WHEN dt_us <= {_LAG_EDGES_US[0]} THEN 0 "
    f"  WHEN dt_us <= {_LAG_EDGES_US[1]} THEN 1 "
    f"  WHEN dt_us <= {_LAG_EDGES_US[2]} THEN 2 "
    f"  WHEN dt_us <= {_LAG_EDGES_US[3]} THEN 3 "
    "  ELSE 4 END AS bucket, dt_us FROM dt"
    "), tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM b) "
    "SELECT CAST(bucket AS BIGINT) AS bucket, "
    "CAST(count(*) AS BIGINT) AS n_conversions, "
    "CAST(min(dt_us) AS BIGINT) AS min_lag_us, "
    "CAST(max(dt_us) AS BIGINT) AS max_lag_us, "
    "round(count(*) / (1.0 * n), 6) AS share "
    "FROM b, tot GROUP BY bucket, n"
)


def event_conversion_lag_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The signup→purchase conversion-lag HISTOGRAM on log-ish buckets
    (<1 h, 1–6 h, 6–24 h, 1–3 d, >3 d): each signup's
    time-to-first-subsequent-purchase computed once (the
    event_window_sweep machinery), then bucketed with per-bucket
    min/max lag and share — the full DISTRIBUTION behind
    ``event_window_sweep``'s point rates and
    ``event_time_to_convert``'s summary moments, and the plot a growth
    team reads to pick the attribution window instead of inheriting it.

    Determinism: pure integer µs bucketing (boundary comparisons on
    exact integers) and counts; one share division.

    Scale: the signup×purchase join is user-keyed (per-user-bounded
    fan-out); the histogram is a ≤5-group map-side-combined
    aggregate."""
    e = load_table(spark, sf_dir, "events")
    s = e.where(F.col("event_type") == "signup").select(
        "user_id", F.unix_micros("ts").alias("sus"), "event_id"
    )
    pch = e.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.unix_micros("ts").alias("pus")
    )
    dt = (
        s.join(
            pch,
            (F.col("user_id") == F.col("pu")) & (F.col("pus") >= F.col("sus")),
        )
        .groupBy("event_id")
        .agg(F.min(F.col("pus") - F.col("sus")).alias("dt_us"))
    )
    bucket = (
        F.when(F.col("dt_us") <= _LAG_EDGES_US[0], 0)
        .when(F.col("dt_us") <= _LAG_EDGES_US[1], 1)
        .when(F.col("dt_us") <= _LAG_EDGES_US[2], 2)
        .when(F.col("dt_us") <= _LAG_EDGES_US[3], 3)
        .otherwise(4)
    )
    b = dt.select(bucket.cast("long").alias("bucket"), "dt_us")
    tot = b.agg(F.count("*").cast("long").alias("n"))
    return (
        b.crossJoin(F.broadcast(tot))
        .groupBy("bucket", "n")
        .agg(
            F.count("*").cast("long").alias("n_conversions"),
            F.min("dt_us").cast("long").alias("min_lag_us"),
            F.max("dt_us").cast("long").alias("max_lag_us"),
        )
        .select(
            "bucket",
            "n_conversions",
            "min_lag_us",
            "max_lag_us",
            F.round(F.col("n_conversions") / (1.0 * F.col("n")), 6).alias(
                "share"
            ),
        )
    )


# --- embedding norm conformance ----------------------------------------------------------------

_NORM_TOL = 1e-3

SIM_NORM_CHECK_ORACLE = (
    "WITH n AS ("
    "  SELECT label, "
    "  round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), "
    "  CAST(embedding AS DOUBLE[]))), 6) AS nrm FROM embeddings"
    ") SELECT CAST(label AS BIGINT) AS label, "
    "CAST(count(*) AS BIGINT) AS n_vecs, "
    "round(min(nrm), 6) AS min_norm, round(max(nrm), 6) AS max_norm, "
    f"CAST(sum(CASE WHEN abs(nrm - 1.0) > {_NORM_TOL} THEN 1 ELSE 0 END) "
    "AS BIGINT) AS n_nonconforming "
    "FROM n GROUP BY label"
)


def sim_norm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-norm conformance: per label, the min/max L2 norm and
    the count of vectors whose 6 dp-rounded norm deviates from 1 by
    more than 1e-3 — the contract check every cosine-based consumer
    (sim_topk_*, dedup_embedding, sim_dbscan, dedup_cross_lingual)
    silently assumes when it treats a dot product as a cosine. Run this
    FIRST on any new embedding batch: one un-normalized shard makes
    every downstream 'cosine' a lie, and this census localizes it to
    the label/shard before a single pair is scored.

    Determinism: the norm is decided on the 6 dp-rounded value (the
    driver-verified sim_* grain); the deviation gate compares that
    rounded value against literals; counts are exact.

    Scale: per-row dot product (JVM array lambda, no UDF) + one
    label-keyed map-side-combined aggregate."""
    e = load_table(spark, sf_dir, "embeddings")
    sq = F.aggregate(
        F.transform(
            F.col("embedding"), lambda x: x.cast("double") * x.cast("double")
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    n = e.select(
        F.col("label").cast("long").alias("label"),
        F.round(F.sqrt(sq), 6).alias("nrm"),
    )
    return n.groupBy("label").agg(
        F.count("*").cast("long").alias("n_vecs"),
        F.round(F.min("nrm"), 6).alias("min_norm"),
        F.round(F.max("nrm"), 6).alias("max_norm"),
        F.sum(F.when(F.abs(F.col("nrm") - 1.0) > _NORM_TOL, 1).otherwise(0))
        .cast("long")
        .alias("n_nonconforming"),
    )


# --- nested-JSON ingestion -----------------------------------------------------------------------

_NJ_MAX_DOCS = 60

SCAN_JSON_NESTED_ORACLE = (
    "WITH n AS (SELECT least(CAST("
    f"{_NJ_MAX_DOCS} AS BIGINT), count(*)) AS k FROM orders), "
    "g AS (SELECT unnest(range(0, k)) AS i FROM n), "
    "lines AS ("
    "  SELECT i AS ord, unnest(range(0, 1 + i % 4)) AS j FROM g"
    ") SELECT CAST(ord % 5 AS BIGINT) AS region_id, "
    "CAST(count(*) AS BIGINT) AS n_lines, "
    "CAST(count(DISTINCT ord) AS BIGINT) AS n_orders, "
    "CAST(sum((ord * 31 + j * 7) % 1000) AS BIGINT) AS total_qty "
    "FROM lines GROUP BY 1"
)


def scan_json_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-JSON ingestion: a staged JSONL feed where each record
    carries a STRUCT header ({"region_id"}) and an ARRAY of line-item
    objects is read with an EXPLICIT nested schema (no inference pass —
    the 100 TB rule), the array EXPLODED to line grain, and quantities
    aggregated per region — the semi-structured path every event bus
    delivers (one message, many items) that flat readers (scan_txn_log's
    single-object lines) can't represent. min(60, |orders|) records
    with 1–4 lines each, all fields arithmetic in the record index, so
    the ORACLE recomputes the aggregate from arithmetic alone and any
    schema/explode drift fails the hash.

    Scale: JSON scans split per file; explode is projection-time row
    expansion; one map-side-combined aggregate."""
    import hashlib
    import json
    import os
    import tempfile

    k = min(_NJ_MAX_DOCS, load_table(spark, sf_dir, "orders").count())
    stage = os.path.join(
        tempfile.gettempdir(),
        f"pmrwc_nj_{os.getuid()}_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}",
    )
    os.makedirs(stage, exist_ok=True)
    for stale in os.listdir(stage):
        os.unlink(os.path.join(stage, stale))
    with open(f"{stage}/feed.jsonl", "w") as f:
        for i in range(k):  # ≤ 60 bounded fixture rows — staging only
            rec = {
                "ord": i,
                "hdr": {"region_id": i % 5},
                "lines": [
                    {"line_no": j, "qty": (i * 31 + j * 7) % 1000}
                    for j in range(1 + i % 4)
                ],
            }
            f.write(json.dumps(rec) + "\n")
    if k == 0:
        return spark.createDataFrame(
            [],
            "region_id long, n_lines long, n_orders long, total_qty long",
        )
    schema = (
        "ord long, hdr struct<region_id: long>, "
        "lines array<struct<line_no: long, qty: long>>"
    )
    j = spark.read.schema(schema).json(f"{stage}/*.jsonl")
    x = j.select(
        "ord",
        F.col("hdr.region_id").alias("region_id"),
        F.explode("lines").alias("li"),
    )
    return x.groupBy("region_id").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.countDistinct("ord").cast("long").alias("n_orders"),
        F.sum("li.qty").cast("long").alias("total_qty"),
    )


# --- maximum drawdown ------------------------------------------------------------------------------

EVENT_DRAWDOWN_ORACLE = (
    "WITH g AS ("
    f"  SELECT {floor_day_us_sql()} AS day, "
    f"  CAST(sum({money_cents_sql('value')}) AS BIGINT) AS rev "
    "  FROM events WHERE event_type = 'purchase' GROUP BY 1"
    "), c AS ("
    "  SELECT day, CAST(sum(rev) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED"
    "  PRECEDING AND CURRENT ROW) AS BIGINT) AS cum FROM g"
    "), d AS ("
    "  SELECT day, cum, CAST(max(cum) OVER (ORDER BY day ROWS BETWEEN "
    "  UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS peak FROM c"
    "), dd AS (SELECT day, cum, peak, peak - cum AS depth FROM d) "
    "SELECT CAST(count(*) AS BIGINT) AS n_days, "
    "CAST(max(depth) AS BIGINT) AS max_drawdown_cents, "
    "CAST(min(CASE WHEN depth = (SELECT max(depth) FROM dd) THEN day END) "
    "AS BIGINT) AS trough_day, "
    "CAST(max(peak) AS BIGINT) AS final_peak_cents "
    "FROM dd HAVING count(*) > 0"
)


def event_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of cumulative daily purchase revenue: the largest
    running-peak deficit (peak-so-far − cumulative), its earliest trough
    day, and the final peak — the risk/runway number every treasury
    dashboard tracks, and for a revenue series that only grows, a
    DIRECT data-quality alarm (a positive drawdown here means negative
    daily revenue, i.e. refunds or sign bugs upstream — surfacing a
    zero is the proof of health).

    Determinism: exact integer cents throughout (prefix sums, running
    max, depth, argmin-by-earliest-day).

    Scale: day-grain after one event aggregate; the two running windows
    ride the calendar-bounded day series (stat_spearman precedent)."""
    g = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .groupBy(ts_day("ts").alias("day"))
        .agg(F.sum(money_cents(F.col("value"))).cast("long").alias("rev"))
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    d = g.select(
        "day",
        F.sum("rev").over(w).cast("long").alias("cum"),
    ).select(
        "day",
        "cum",
        F.max("cum").over(w).cast("long").alias("peak"),
    )
    dd = d.select("day", "cum", "peak", (F.col("peak") - F.col("cum")).alias("depth"))
    mx = dd.agg(F.max("depth").alias("mxd"))
    return (
        dd.crossJoin(F.broadcast(mx))
        .agg(
            F.count("*").cast("long").alias("n_days"),
            F.max("depth").cast("long").alias("max_drawdown_cents"),
            F.min(F.when(F.col("depth") == F.col("mxd"), F.col("day")))
            .cast("long")
            .alias("trough_day"),
            F.max("peak").cast("long").alias("final_peak_cents"),
        )
        .where(F.col("n_days") > 0)
    )


DEV_CASES = [
    ("stat_paired_ttest", stat_paired_ttest, STAT_PAIRED_TTEST_ORACLE),
    (
        "event_conversion_lag_hist",
        event_conversion_lag_hist,
        EVENT_CONVERSION_LAG_HIST_ORACLE,
    ),
    ("sim_norm_check", sim_norm_check, SIM_NORM_CHECK_ORACLE),
    ("scan_json_nested", scan_json_nested, SCAN_JSON_NESTED_ORACLE),
    ("event_drawdown", event_drawdown, EVENT_DRAWDOWN_ORACLE),
]
