"""Layout / regression-diagnostics / sequential-testing wave. Like every
``staged_r*`` module with ``DEV_CASES``, it registers itself on import: the
package root registers each ``(key, fn, oracle)`` entry.
tests/test_oracle_parity.py runs the fn-vs-DuckDB compare;
tests/test_staged_r24.py holds the independent property checks.

Contents:

- ``layout_hilbert`` — Hilbert-curve clustering key over (customer,
  order-day), the locality-preserving upgrade of the registered
  ``layout_zorder``: the Hilbert walk (Hilbert 1891; Wikipedia xy2d)
  never jumps across the keyspace the way Morton's Z-shape does, so
  range-partitioned files hold strictly tighter min/max boxes in both
  dimensions — the layout Databricks moved to ("liquid clustering")
  after Z-order. The data-dependent per-level rotation makes the key
  non-expressible as one unrolled codegen expression (the rotated x/y
  trees double per level); the Spark side is a vectorized Arrow-batched
  16-iteration numpy loop, the oracle a 16-step recursive CTE — both
  the identical integer recurrence.
- ``stat_pca`` — exact 2-D PCA of (quantity, extended-price-cents):
  closed-form eigenvalues/eigenvector of the population covariance from
  decimal(38) sufficient statistics — the variance-structure summary
  beside ``stat_corr_matrix`` (is one latent factor driving both
  columns?). Transcendental-free except sqrt (IEEE correctly rounded).
- ``stat_cooks_distance`` — top-20 influence diagnostics (Cook 1977) of
  the simple OLS price~quantity fit: leverage + Cook's D from the same
  exact sufficient statistics; the "which rows move the model?" screen
  that complements ``dq_mahalanobis``'s distributional outliers with
  REGRESSION outliers. Entirely rational arithmetic — bit-deterministic
  ranking.
- ``event_ab_sprt`` — Wald's sequential probability ratio test (Wald
  1945) on the event-stream purchase-rate: H0 p=0.1 vs H1 p=0.2 at
  α=β=0.05, walking events in (ts, event_id) order and stopping at the
  first log-likelihood boundary crossing — the always-valid sequential
  decision beside the fixed-horizon ``event_ab_test``/
  ``stat_hoeffding_bound``. The prefix spine is the distributed
  two-pass form (per-day offsets + within-day windows), NOT a global
  event-stream window.
- ``text_hash_embed`` — signed feature-hashing vectorizer (Weinberger
  2009): token counts → 64 signed hash buckets → L2-normalized doc
  vectors in long form, the collision-bounded fixed-width embedding
  LLM pipelines use before any learned encoder exists. Bucket and sign
  derive from the md5-60-bit token hash both engines compute exactly
  (dedup_simhash convention).
- ``event_seasonal_decompose`` — classical additive decomposition of
  the daily event-count series: centered 7-day moving-average trend,
  day-of-week seasonal means of the detrended series, residual — the
  components behind ``event_seasonality``'s single index, on exact
  integer sufficient statistics (det7 = 7·cnt − sum7 keeps the
  detrended series integral).

Exactness doctrine: unchanged — Hilbert keys are pure int64 recurrences;
PCA/Cook's/SPRT/seasonal derive from exact integer or decimal(38) sums
through identical IEEE expression trees (sqrt only, correctly rounded);
boundary/crossing decisions compare bit-identical doubles; display
values round to ≤6 dp.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.loader import load_table, ts_day
from .dedup import _ORACLE_TOKEN_H60
from .exact import floor_day_us_sql, money_cents, money_cents_sql

_D38 = "decimal(38,0)"

# --- Hilbert-curve layout key ----------------------------------------------------

HBITS = 16
_HN = 1 << HBITS  # 65536 grid side
_HMASK = _HN - 1

LAYOUT_HILBERT_ORACLE = (
    "WITH RECURSIVE h AS ("
    "  SELECT o_orderkey, CAST(o_custkey & 65535 AS BIGINT) AS x, "
    "  CAST(date_diff('day', DATE '1970-01-01', o_orderdate) & 65535 "
    "  AS BIGINT) AS y, CAST(0 AS BIGINT) AS d, CAST(32768 AS BIGINT) AS s "
    "  FROM orders "
    "  UNION ALL "
    "  SELECT o_orderkey, "
    "  CASE WHEN (y & s) = 0 THEN "
    "    (CASE WHEN (x & s) > 0 THEN 65535 - y ELSE y END) ELSE x END, "
    "  CASE WHEN (y & s) = 0 THEN "
    "    (CASE WHEN (x & s) > 0 THEN 65535 - x ELSE x END) ELSE y END, "
    "  d + s * s * (CASE WHEN (x & s) > 0 AND (y & s) > 0 THEN 2 "
    "               WHEN (x & s) > 0 THEN 3 "
    "               WHEN (y & s) > 0 THEN 1 ELSE 0 END), "
    "  s // 2 FROM h WHERE s > 0"
    ") SELECT o_orderkey, d AS hval FROM h WHERE s = 0"
)


def hilbert_d(x, y):
    """Plain-Python xy2d (the spec both engines implement): Wikipedia's
    Hilbert-curve algorithm with the rotation reflecting against the FULL
    grid (n−1−coord), which keeps intermediates in [0, n) — verified
    bijective with unit Manhattan steps in tests."""
    d, s = 0, _HN >> 1
    x, y = x & _HMASK, y & _HMASK
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x, y = _HMASK - x, _HMASK - y
            x, y = y, x
        s >>= 1
    return d


def layout_hilbert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve clustering key over (customer, order-day) +
    range-repartition by it — ``layout_zorder``'s successor layout: the
    Hilbert walk visits every cell of the 65536² grid in unit Manhattan
    steps (no Z-shaped jumps), so consecutive key ranges are compact
    squares and every range-partitioned file carries a tighter min/max
    box in BOTH dimensions than Morton order gives — strictly better
    parquet row-group pruning for the same one shuffle.

    The per-level rotation is data-dependent (the rotated x/y expression
    trees DOUBLE per level — unrolling 16 levels is a 2^16-node
    expression), so the key is computed in one vectorized Arrow-batched
    pandas UDF: a 16-iteration numpy loop over int64 arrays, identical
    to the oracle's 16-step recursive CTE and to :func:`hilbert_d`
    (tests pin all three plus the bijection/unit-step curve properties).

    Scale: the key costs 16 vectorized passes over an Arrow batch per
    row — embarrassingly parallel, zero shuffle; the range repartition
    is the one shuffle (plus driver-side range sampling), exactly what a
    periodic layout-compaction job pays. 16 bits/dim keeps the demo
    exact on the fixture's key ranges; production would first
    rank/bucket each dimension to its quantiles to spread skew."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def hkey(xs: pd.Series, ys: pd.Series) -> pd.Series:
        import numpy as np

        x = xs.to_numpy(dtype=np.int64, copy=True)
        y = ys.to_numpy(dtype=np.int64, copy=True)
        d = np.zeros(len(x), dtype=np.int64)
        s = np.int64(_HN >> 1)
        while s > 0:
            rx = (x & s) > 0
            ry = (y & s) > 0
            d += s * s * ((3 * rx.astype(np.int64)) ^ ry.astype(np.int64))
            refl = ~ry & rx
            x2 = np.where(refl, _HMASK - x, x)
            y2 = np.where(refl, _HMASK - y, y)
            x, y = np.where(~ry, y2, x2), np.where(~ry, x2, y2)
            s >>= 1
        return pd.Series(d)

    o = load_table(spark, sf_dir, "orders")
    x = F.col("o_custkey").cast("long").bitwiseAND(F.lit(_HMASK))
    y = (
        F.datediff("o_orderdate", F.lit("1970-01-01"))
        .cast("long")
        .bitwiseAND(F.lit(_HMASK))
    )
    h = o.select("o_orderkey", hkey(x, y).alias("hval"))
    return h.repartitionByRange(8, "hval").sortWithinPartitions("hval")


# --- exact 2-D PCA ----------------------------------------------------------------


def _pca_oracle() -> str:
    m1 = "(CAST(s1 AS DOUBLE) / n)"
    m2 = "(CAST(s2 AS DOUBLE) / n)"
    c11 = f"(CAST(s11 AS DOUBLE) / n - {m1} * {m1})"
    c22 = f"(CAST(s22 AS DOUBLE) / n - {m2} * {m2})"
    c12 = f"(CAST(s12 AS DOUBLE) / n - {m1} * {m2})"
    disc = f"sqrt(({c11} - {c22}) * ({c11} - {c22}) / 4.0 + {c12} * {c12})"
    lam1 = f"(({c11} + {c22}) / 2.0 + {disc})"
    lam2 = f"(({c11} + {c22}) / 2.0 - {disc})"
    vn = f"sqrt({c12} * {c12} + ({lam1} - {c11}) * ({lam1} - {c11}))"
    sgn = f"(CASE WHEN {c12} < 0.0 THEN -1.0 ELSE 1.0 END)"
    ev1 = (
        f"(CASE WHEN {c12} = 0.0 THEN (CASE WHEN {c11} >= {c22} "
        f"THEN 1.0 ELSE 0.0 END) ELSE {sgn} * {c12} / {vn} END)"
    )
    ev2 = (
        f"(CASE WHEN {c12} = 0.0 THEN (CASE WHEN {c11} >= {c22} "
        f"THEN 0.0 ELSE 1.0 END) ELSE {sgn} * ({lam1} - {c11}) / {vn} END)"
    )
    return (
        "WITH d AS ("
        "  SELECT CAST(l_quantity AS BIGINT) AS q, "
        f"  {money_cents_sql('l_extendedprice')} AS pc FROM lineitem"
        "), s AS ("
        "  SELECT CAST(count(*) AS BIGINT) AS n, "
        "  CAST(sum(q) AS HUGEINT) AS s1, CAST(sum(pc) AS HUGEINT) AS s2, "
        "  CAST(sum(CAST(q AS HUGEINT) * q) AS HUGEINT) AS s11, "
        "  CAST(sum(CAST(pc AS HUGEINT) * pc) AS HUGEINT) AS s22, "
        "  CAST(sum(CAST(q AS HUGEINT) * pc) AS HUGEINT) AS s12 FROM d"
        f") SELECT n, round({lam1}, 6) AS lam1, round({lam2}, 6) AS lam2, "
        f"round({lam1} / nullif({lam1} + {lam2}, 0.0), 6) AS var_explained, "
        f"round({ev1}, 6) AS ev1, round({ev2}, 6) AS ev2 "
        "FROM s WHERE n > 1"
    )


STAT_PCA_ORACLE = _pca_oracle()


def stat_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 2-D principal component analysis of (quantity, extended
    price in cents): eigenvalues λ₁ ≥ λ₂ of the population covariance in
    closed form (λ = tr/2 ± √(Δ²/4 + c₁₂²)), the share of variance on
    the first component, and the first eigenvector (sign-canonical:
    ev1 ≥ 0) — the "is one latent factor driving both columns?" summary
    beside ``stat_corr_matrix``'s correlations and ``dq_mahalanobis``'s
    per-row distances, all three reading the SAME exact sufficient
    statistics. On raw (unstandardized) units the price variance
    dominates by construction — the docstring's point is the exact
    machinery; production PCA would standardize first (divide by the
    stat_corr_matrix sigmas).

    Determinism: n, Σx, Σy, Σx², Σy², Σxy accumulate exactly in
    decimal(38)/HUGEINT; covariance, discriminant, eigenpair and
    variance share are identical IEEE trees (sqrt is correctly
    rounded), so the doubles agree bit-for-bit and the 6 dp rounding is
    display-only. Degenerate corpora: n ≤ 1 yields zero rows; a
    constant-columns corpus yields λ₁ = λ₂ = 0 with NULL var_explained
    (nullif) and the (1,0) convention eigenvector.

    Scale: ONE map-side-combined aggregate (6 integers of state), then
    a 1-row projection. Nothing else."""
    li = load_table(spark, sf_dir, "lineitem")
    d = li.select(
        F.col("l_quantity").cast("long").alias("q"),
        money_cents(F.col("l_extendedprice")).alias("pc"),
    )
    s = d.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("q").cast(_D38)).alias("s1"),
        F.sum(F.col("pc").cast(_D38)).alias("s2"),
        F.sum(F.col("q").cast(_D38) * F.col("q")).alias("s11"),
        F.sum(F.col("pc").cast(_D38) * F.col("pc")).alias("s22"),
        F.sum(F.col("q").cast(_D38) * F.col("pc")).alias("s12"),
    )
    m1 = F.col("s1").cast("double") / F.col("n")
    m2 = F.col("s2").cast("double") / F.col("n")
    c11 = F.col("s11").cast("double") / F.col("n") - m1 * m1
    c22 = F.col("s22").cast("double") / F.col("n") - m2 * m2
    c12 = F.col("s12").cast("double") / F.col("n") - m1 * m2
    disc = F.sqrt((c11 - c22) * (c11 - c22) / 2.0**2 + c12 * c12)
    lam1 = (c11 + c22) / 2.0 + disc
    lam2 = (c11 + c22) / 2.0 - disc
    vn = F.sqrt(c12 * c12 + (lam1 - c11) * (lam1 - c11))
    sgn = F.when(c12 < 0.0, F.lit(-1.0)).otherwise(F.lit(1.0))
    ev1 = F.when(
        c12 == 0.0, F.when(c11 >= c22, F.lit(1.0)).otherwise(F.lit(0.0))
    ).otherwise(sgn * c12 / vn)
    ev2 = F.when(
        c12 == 0.0, F.when(c11 >= c22, F.lit(0.0)).otherwise(F.lit(1.0))
    ).otherwise(sgn * (lam1 - c11) / vn)
    return s.where(F.col("n") > 1).select(
        "n",
        F.round(lam1, 6).alias("lam1"),
        F.round(lam2, 6).alias("lam2"),
        F.round(lam1 / F.nullif(lam1 + lam2, F.lit(0.0)), 6).alias(
            "var_explained"
        ),
        F.round(ev1, 6).alias("ev1"),
        F.round(ev2, 6).alias("ev2"),
    )


# --- Cook's distance regression influence ----------------------------------------

_COOKS_TOPK = 20


def _cooks_oracle() -> str:
    mx = "(CAST(s1 AS DOUBLE) / n)"
    my = "(CAST(s2 AS DOUBLE) / n)"
    sxx = f"(CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) * {mx})"
    syy = f"(CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE) * {my})"
    sxy = f"(CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE) * {my})"
    b = f"({sxy} / {sxx})"
    a = f"({my} - {b} * {mx})"
    e = f"(y - {a} - {b} * x)"
    h = f"(1.0 / n + (x - {mx}) * (x - {mx}) / {sxx})"
    s2 = f"(({syy} - {b} * {sxy}) / (n - 2))"
    cd = f"({e} * {e} * {h} / (2.0 * {s2} * (1.0 - {h}) * (1.0 - {h})))"
    return (
        "WITH d AS ("
        "  SELECT l_orderkey, l_linenumber, "
        "  CAST(CAST(l_quantity AS BIGINT) AS DOUBLE) AS x, "
        f"  CAST({money_cents_sql('l_extendedprice')} AS DOUBLE) AS y FROM lineitem"
        "), s AS ("
        "  SELECT CAST(count(*) AS BIGINT) AS n, "
        "  CAST(sum(CAST(x AS BIGINT)) AS HUGEINT) AS s1, "
        "  CAST(sum(CAST(y AS BIGINT)) AS HUGEINT) AS s2, "
        "  CAST(sum(CAST(x AS HUGEINT) * CAST(x AS BIGINT)) AS HUGEINT) AS s11, "
        "  CAST(sum(CAST(y AS HUGEINT) * CAST(y AS BIGINT)) AS HUGEINT) AS s22, "
        "  CAST(sum(CAST(x AS HUGEINT) * CAST(y AS BIGINT)) AS HUGEINT) AS s12 "
        "  FROM d"
        "), x AS ("
        "  SELECT l_orderkey, l_linenumber, x, y, n, s1, s2, s11, s22, s12"
        "  FROM d CROSS JOIN s"
        f"  WHERE n > 2 AND {sxx} > 0.0 AND {s2} > 0.0 AND {h} < 1.0"
        ") SELECT l_orderkey, l_linenumber, CAST(x AS BIGINT) AS quantity, "
        "CAST(y AS BIGINT) AS price_cents, "
        f"round({h}, 6) AS leverage, round({cd}, 6) AS cooks_d "
        f"FROM x ORDER BY {cd} DESC, l_orderkey, l_linenumber "
        f"LIMIT {_COOKS_TOPK}"
    )


STAT_COOKS_ORACLE = _cooks_oracle()


def stat_cooks_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 influence points of the simple OLS fit price_cents ~
    quantity, by Cook's distance D = e²·h / (p·s²·(1−h)²) with leverage
    h = 1/n + (x−x̄)²/Sxx (Cook 1977) — the regression-diagnostics
    screen: a row can be unremarkable marginally AND near the fit yet
    still steer the slope because it sits at extreme x with leverage.
    Complements ``dq_mahalanobis`` (distributional outliers, no model)
    and ``stat_linreg`` (the fit itself, no per-row diagnostics).

    Determinism: x̄, Sxx, Syy, Sxy, slope, intercept, every eᵢ, hᵢ and
    Dᵢ derive from exact integer sums through identical IEEE trees —
    transcendental-free, so the top-20 ranking (ties → integer keys) is
    exact, not merely rounded-stable. Guards: n ≤ 2, constant-x
    (Sxx = 0), perfect fits (s² = 0) and h = 1 rows yield zero rows /
    are excluded identically on both engines.

    Scale: one map-side-combined 6-integer aggregate broadcast back
    over one scoring scan, then TakeOrderedAndProject top-k — no data
    shuffle at all (the dq_mahalanobis shape with a model in it)."""
    li = load_table(spark, sf_dir, "lineitem")
    d = li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("long").alias("q"),
        money_cents(F.col("l_extendedprice")).alias("pc"),
    )
    s = d.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("q").cast(_D38)).alias("s1"),
        F.sum(F.col("pc").cast(_D38)).alias("s2"),
        F.sum(F.col("q").cast(_D38) * F.col("q")).alias("s11"),
        F.sum(F.col("pc").cast(_D38) * F.col("pc")).alias("s22"),
        F.sum(F.col("q").cast(_D38) * F.col("pc")).alias("s12"),
    )
    xr = d.crossJoin(F.broadcast(s))
    x = F.col("q").cast("double")
    y = F.col("pc").cast("double")
    mx = F.col("s1").cast("double") / F.col("n")
    my = F.col("s2").cast("double") / F.col("n")
    sxx = F.col("s11").cast("double") - F.col("s1").cast("double") * mx
    syy = F.col("s22").cast("double") - F.col("s2").cast("double") * my
    sxy = F.col("s12").cast("double") - F.col("s1").cast("double") * my
    b = sxy / sxx
    a = my - b * mx
    e = y - a - b * x
    h = 1.0 / F.col("n") + (x - mx) * (x - mx) / sxx
    s2 = (syy - b * sxy) / (F.col("n") - 2)
    cd = e * e * h / (2.0 * s2 * (1.0 - h) * (1.0 - h))
    return (
        xr.where(
            (F.col("n") > 2) & (sxx > 0.0) & (s2 > 0.0) & (h < 1.0)
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            F.col("q").alias("quantity"),
            F.col("pc").alias("price_cents"),
            F.round(h, 6).alias("leverage"),
            cd.alias("_cd_raw"),
            F.round(cd, 6).alias("cooks_d"),
        )
        .orderBy(F.desc("_cd_raw"), F.asc("l_orderkey"), F.asc("l_linenumber"))
        .limit(_COOKS_TOPK)
        .drop("_cd_raw")
    )


# --- Wald SPRT over the purchase stream -------------------------------------------

_SPRT_P0, _SPRT_P1 = 0.1, 0.2
_SPRT_L1 = math.log(_SPRT_P1 / _SPRT_P0)  # per-success LLR increment
_SPRT_L0 = math.log((1.0 - _SPRT_P1) / (1.0 - _SPRT_P0))  # per-failure
_SPRT_A = math.log(0.95 / 0.05)  # accept H1 at llr >= A (alpha=beta=0.05)
_SPRT_B = -_SPRT_A  # accept H0 at llr <= B

EVENT_AB_SPRT_ORACLE = (
    "WITH obs AS ("
    "  SELECT ts, event_id, "
    "  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS x FROM events"
    "), seq AS ("
    "  SELECT CAST(row_number() OVER w AS BIGINT) AS n, "
    "  CAST(sum(x) OVER w AS BIGINT) AS c FROM obs "
    "  WINDOW w AS (ORDER BY ts, event_id "
    "               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    "), lab AS ("
    # bare float literals are DECIMAL in DuckDB and * keeps DECIMAL —
    # cast to DOUBLE so llr is the bit-identical IEEE tree Spark builds
    f"  SELECT n, c, c * CAST({_SPRT_L1!r} AS DOUBLE) "
    f"  + (n - c) * CAST({_SPRT_L0!r} AS DOUBLE) AS llr FROM seq"
    "), hit AS ("
    f"  SELECT CASE WHEN llr >= {_SPRT_A!r} THEN 'accept_h1' "
    "  ELSE 'accept_h0' END AS decision, n AS n_obs, c AS conversions, "
    "  round(llr, 6) AS llr FROM lab "
    f"  WHERE llr >= {_SPRT_A!r} OR llr <= {_SPRT_B!r} ORDER BY n LIMIT 1"
    "), tail AS ("
    "  SELECT 'continue' AS decision, n AS n_obs, c AS conversions, "
    "  round(llr, 6) AS llr FROM lab ORDER BY n DESC LIMIT 1"
    ") SELECT * FROM hit "
    "UNION ALL SELECT * FROM tail WHERE NOT EXISTS (SELECT 1 FROM hit)"
)


def event_ab_sprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's sequential probability ratio test (Wald 1945) of the
    purchase rate — H0: p = 0.1 vs H1: p = 0.2 at α = β = 0.05 — walked
    over events in (ts, event_id) order: llr_n = c·ln(p1/p0) +
    (n−c)·ln(q1/q0), stop at the FIRST crossing of ±ln(19), emit that
    decision row (or the final 'continue' state if the stream ends
    undecided). The always-valid sequential companion of the
    fixed-horizon ``event_ab_test`` z-test and ``stat_hoeffding_bound``
    certificates: SPRT needs ~half the samples of the fixed-n test at
    the same error rates, which is why ramp gates use it.

    Determinism: n and c are exact integers; the two per-step LLR
    increments are LITERAL doubles baked identically into both engines
    (repr-embedded ln values — no runtime transcendental), so every
    llr_n is bit-identical and the first-crossing index is exact.

    Scale: the running (n, c) spine is the distributed two-pass prefix
    sum — per-day partial counts, a cumulative-offset window over the
    CALENDAR-BOUNDED day series, then within-day windows partitioned by
    day — never a global window over the event stream (pack_sequences
    convention). The decision rows are two TakeOrdered(1) heads."""
    e = load_table(spark, sf_dir, "events")
    obs = e.select(
        "ts",
        "event_id",
        ts_day("ts").alias("day"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("x"),
    )
    per_day = obs.groupBy("day").agg(
        F.count("*").alias("cnt"), F.sum("x").alias("conv")
    )
    w_day = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    offs = per_day.select(
        "day",
        F.coalesce(F.sum("cnt").over(w_day), F.lit(0)).alias("n_off"),
        F.coalesce(F.sum("conv").over(w_day), F.lit(0)).alias("c_off"),
    )
    w_in = (
        Window.partitionBy("day")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    seq = (
        obs.join(offs, "day")
        .select(
            (F.col("n_off") + F.count("*").over(w_in)).cast("long").alias("n"),
            (F.col("c_off") + F.sum("x").over(w_in)).cast("long").alias("c"),
        )
    )
    llr = F.col("c") * F.lit(_SPRT_L1) + (F.col("n") - F.col("c")) * F.lit(
        _SPRT_L0
    )
    lab = seq.select("n", "c", llr.alias("llr"))
    crossed = lab.where(
        (F.col("llr") >= _SPRT_A) | (F.col("llr") <= _SPRT_B)
    )
    hit = crossed.orderBy("n").limit(1).select(
        F.when(F.col("llr") >= _SPRT_A, F.lit("accept_h1"))
        .otherwise(F.lit("accept_h0"))
        .alias("decision"),
        F.col("n").alias("n_obs"),
        F.col("c").alias("conversions"),
        F.round("llr", 6).alias("llr"),
    )
    n_hits = crossed.agg(F.count("*").alias("k"))
    tail = (
        lab.orderBy(F.desc("n"))
        .limit(1)
        .crossJoin(F.broadcast(n_hits))
        .where(F.col("k") == 0)
        .select(
            F.lit("continue").alias("decision"),
            F.col("n").alias("n_obs"),
            F.col("c").alias("conversions"),
            F.round("llr", 6).alias("llr"),
        )
    )
    return hit.unionByName(tail)


# --- signed feature-hashing vectorizer --------------------------------------------

_HASH_BUCKETS = 64

TEXT_HASH_EMBED_ORACLE = (
    "WITH t AS ("
    "  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS cnt FROM ("
    "    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w "
    "    FROM documents) GROUP BY doc_id, w"
    "), hb AS ("
    f"  SELECT doc_id, CAST(h % {_HASH_BUCKETS} AS BIGINT) AS bucket, "
    "  CASE WHEN ((h >> 6) & 1) = 1 THEN cnt ELSE -cnt END AS sv "
    f"  FROM (SELECT doc_id, cnt, {_ORACLE_TOKEN_H60} AS h FROM t)"
    "), v AS ("
    "  SELECT doc_id, bucket, CAST(sum(sv) AS BIGINT) AS val "
    "  FROM hb GROUP BY doc_id, bucket HAVING sum(sv) <> 0"
    "), nrm AS ("
    "  SELECT doc_id, sqrt(CAST(sum(CAST(val AS HUGEINT) * val) AS DOUBLE)) "
    "  AS nn FROM v GROUP BY doc_id"
    ") SELECT v.doc_id, bucket, round(val / nn, 6) AS weight "
    "FROM v JOIN nrm ON v.doc_id = nrm.doc_id"
)


def text_hash_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed feature-hashing vectorizer (the hashing trick, Weinberger
    et al. 2009): token counts hash into 64 buckets with a ±1 sign bit,
    bucket values L2-normalize per document — the fixed-width,
    vocabulary-free document embedding an LLM-data pipeline can compute
    BEFORE any learned encoder exists (dedup pre-screens, diversity
    quotas, cheap clustering). The sign bit makes collisions cancel in
    expectation (unbiased inner products), which plain count-bucketing
    lacks. Long-form output (doc_id, bucket, weight ≠ 0) — join-ready
    for the sim_sparse_cosine kernel.

    Determinism: bucket = h mod 64 and sign = bit 6 of h both derive
    from the md5-based 60-bit token hash BOTH engines compute exactly
    (dedup_simhash convention; bits 0–5 and 6 are disjoint); bucket
    values are exact integer sums, the norm is one sqrt of an exact
    integer, each weight one division — identical IEEE trees, 6 dp
    display rounding.

    Scale: explode → two map-side-combined groupBys (doc×token,
    doc×bucket) → a per-doc norm join. All hash-partitioned on doc_id;
    no driver state, no vocabulary broadcast — O(corpus tokens)."""
    d = load_table(spark, sf_dir, "documents")
    t = (
        d.select(
            "doc_id",
            F.explode(F.split(F.lower("text"), " ")).alias("w"),
        )
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("cnt"))
    )
    h = F.conv(F.substring(F.md5(F.col("w").cast("binary")), 1, 15), 16, 10).cast(
        "long"
    )
    hb = t.select(
        "doc_id",
        (h % _HASH_BUCKETS).alias("bucket"),
        F.when(h.bitwiseAND(F.lit(1 << 6)) != 0, F.col("cnt"))
        .otherwise(-F.col("cnt"))
        .alias("sv"),
    )
    v = (
        hb.groupBy("doc_id", "bucket")
        .agg(F.sum("sv").cast("long").alias("val"))
        .where(F.col("val") != 0)
    )
    nrm = v.groupBy("doc_id").agg(
        F.sqrt(
            F.sum(F.col("val").cast(_D38) * F.col("val")).cast("double")
        ).alias("nn")
    )
    return v.join(nrm, "doc_id").select(
        "doc_id",
        "bucket",
        F.round(F.col("val") / F.col("nn"), 6).alias("weight"),
    )


# --- classical additive seasonal decomposition -------------------------------------

EVENT_SEASONAL_DECOMPOSE_ORACLE = (
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
    ") SELECT day, t.dow, cnt, round(sum7 / 7.0, 6) AS trend, "
    "round(sden / (7.0 * k), 6) AS seasonal, "
    "round(cnt - sum7 / 7.0 - sden / (7.0 * k), 6) AS resid "
    "FROM t JOIN s ON t.dow = s.dow"
)


def event_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition of the daily event-count series
    (the moving-average method behind STL's initialization): trend =
    centered 7-day moving average (full windows only), seasonal =
    per-day-of-week mean of the detrended series, residual = the rest —
    the three components ``event_seasonality``'s single index and
    ``event_holt``'s forecasts summarize, made inspectable per day.
    dow is the epoch-day mod 7 (0 = Thursday); the seasonal component
    is the raw per-dow mean (not re-centered), so trend + seasonal +
    resid reconstructs cnt exactly by construction.

    Determinism: the detrended series is kept INTEGRAL — det7 = 7·cnt −
    sum7 (both exact ints) — so the per-dow seasonal numerator is an
    exact integer sum; trend, seasonal and resid are then single
    divisions / subtractions of exact integers through identical IEEE
    trees, rounded 6 dp for display only.

    Scale: the day-grain aggregate absorbs the event volume; every
    window thereafter runs over the CALENDAR-BOUNDED day series (~3650
    rows a decade — the stat_spearman/stat_autocorr precedent), and the
    dow join is a 7-key hash join."""
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
    trend = F.col("sum7") / 7.0
    seasonal = F.col("sden") / (7.0 * F.col("k"))
    return t.join(s, "dow").select(
        "day",
        "dow",
        "cnt",
        F.round(trend, 6).alias("trend"),
        F.round(seasonal, 6).alias("seasonal"),
        F.round(F.col("cnt") - trend - seasonal, 6).alias("resid"),
    )


DEV_CASES = [
    ("layout_hilbert", layout_hilbert, LAYOUT_HILBERT_ORACLE),
    ("stat_pca", stat_pca, STAT_PCA_ORACLE),
    ("stat_cooks_distance", stat_cooks_distance, STAT_COOKS_ORACLE),
    ("event_ab_sprt", event_ab_sprt, EVENT_AB_SPRT_ORACLE),
    ("text_hash_embed", text_hash_embed, TEXT_HASH_EMBED_ORACLE),
    ("event_seasonal_decompose", event_seasonal_decompose, EVENT_SEASONAL_DECOMPOSE_ORACLE),
]
