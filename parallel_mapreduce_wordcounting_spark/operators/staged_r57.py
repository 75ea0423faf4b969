"""Survival-uncertainty / hash-certification / streaming-bootstrap /
model-validation wave. Like every ``staged_r*`` module with ``DEV_CASES``,
it registers itself on import: the package root registers each ``(key, fn,
oracle)`` entry. tests/test_oracle_parity.py runs the fn-vs-DuckDB compare;
tests/test_staged_r57.py holds the independent property checks.

Contents:

- ``stat_km_greenwood_ci`` — Greenwood's variance for the Kaplan–Meier
  curve: alongside each S(d) of the registered ``event_survival``
  (same lifetime/censoring spec, same exp-of-sum-of-logs product),
  se(d) = S(d)·√Σ_{j≤d} d_j/(n_j(n_j−d_j)) — the error bars without
  which a retention curve cannot be compared across cohorts. The
  running Greenwood sum rides the SAME duration-ordered window as the
  survival product; terms where n_j = d_j contribute NULL (skipped by
  both engines' window sums identically).
- ``dq_hash_uniformity`` — chi² uniformity certification of the repo's
  OWN md5-60-bit hash over 64 buckets of doc_id keys: the engine's
  bucketing, banding, salting and A/B assignment all assume this hash
  spreads evenly, and this census turns that assumption into a checked
  number (χ² ≈ df under uniformity; a broken hash or adversarial key
  set shows up as a blown χ² and a hub bucket). All-integer
  numerators: χ² = Σ(64k_b − n)²/(64n).
- ``sample_poisson_bootstrap`` — the one-pass STREAMING bootstrap
  (Poisson(1) weights per (replicate, row), Chamandy et al.'s
  large-scale idiom): weights come from a 16-bit md5 uniform through an
  embedded exact inverse-CDF table (the dp_histogram mechanism), so
  200 replicate means need ONE scan and zero resampling indices —
  the form that works when the data cannot be indexed, beside
  stat_bootstrap_ci (iid index resampling) and stat_block_bootstrap
  (dependent data).
- ``stat_press`` — the PRESS statistic and predicted R² for the daily
  trend fit: leave-one-out residuals in closed form e_i/(1−h_i) with
  leverage h_i = 1/n + (n·t_i−Σt)²/(n·D) — no refitting, every
  ingredient an exact integer from the shared staged_r44 trend
  derivation (E_i = D·e_i). R²_pred ≤ R² always; NEGATIVE R²_pred
  (this fixture) says the trend fit predicts worse than the mean — the
  one-number overfitting verdict.

Exactness doctrine: risk tables, bucket counts, Poisson weights and
leverage numerators are exact integers end-to-end; survival/se, χ²,
SEs and PRESS spend ln/exp/sqrt/divisions on identically-derived
doubles and round to 6 dp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.loader import load_table, ts_day, ts_us
from .exact import floor_day_us_sql, money_cents, money_cents_sql
from .staged_r44 import TREND_RESID_CTES, _trend_residuals

_D38 = "decimal(38,0)"

# --- Kaplan–Meier with Greenwood standard errors -------------------------------------------

_US_PER_HOUR = 3_600_000_000
_CENSOR_US = 24 * _US_PER_HOUR
_TS_US = "(epoch_ns(ts) // 1000)"

STAT_KM_GREENWOOD_CI_ORACLE = (
    "WITH span AS ("
    f"  SELECT user_id, (max({_TS_US}) - min({_TS_US})) // {_US_PER_HOUR}"
    "    AS lifetime, "
    f"  max({_TS_US}) >= (SELECT max({_TS_US}) FROM events) - {_CENSOR_US}"
    "    AS censored"
    "  FROM events GROUP BY user_id"
    "), lt AS ("
    "  SELECT lifetime AS dur, count(*) FILTER (NOT censored) AS deaths, "
    "  count(*) AS leaving FROM span GROUP BY lifetime"
    "), km AS ("
    "  SELECT dur, deaths, sum(leaving) OVER (ORDER BY dur DESC) AS n_risk"
    "  FROM lt"
    "), f AS ("
    "  SELECT dur, deaths, n_risk, "
    "  1.0 - deaths / (1.0 * n_risk) AS factor, "
    "  CASE WHEN n_risk > deaths THEN"
    "    deaths / (1.0 * n_risk * (n_risk - deaths)) ELSE NULL END AS gw"
    "  FROM km"
    ") SELECT dur AS duration_hours, CAST(n_risk AS BIGINT) AS n_risk, "
    "CAST(deaths AS BIGINT) AS n_deaths, "
    "round(CASE WHEN min(factor) OVER (ORDER BY dur) = 0 THEN 0.0 "
    "ELSE exp(sum(ln(nullif(factor, 0))) OVER (ORDER BY dur)) END, 6)"
    "  AS survival, "
    "round(CASE WHEN min(factor) OVER (ORDER BY dur) = 0 THEN 0.0 "
    "ELSE exp(sum(ln(nullif(factor, 0))) OVER (ORDER BY dur))"
    " * sqrt(coalesce(sum(gw) OVER (ORDER BY dur), 0)) END, 6)"
    "  AS greenwood_se "
    "FROM f"
)


def stat_km_greenwood_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See module docstring. Identical plan family to the registered
    event_survival (one user shuffle, then duration-bounded windows);
    the Greenwood sum adds one more window aggregate over the same
    ordered frame, so the uncertainty is free at scale."""
    ev = load_table(spark, sf_dir, "events")
    us = ts_us("ts")
    corpus_end = F.broadcast(ev.agg(F.max(us).alias("end_us")))
    span = (
        ev.groupBy("user_id")
        .agg(F.min(us).alias("first_us"), F.max(us).alias("last_us"))
        .crossJoin(corpus_end)
        .select(
            F.expr(f"(last_us - first_us) div {_US_PER_HOUR}").alias(
                "lifetime"
            ),
            (F.col("last_us") >= F.col("end_us") - _CENSOR_US).alias(
                "censored"
            ),
        )
    )
    lt = span.groupBy(F.col("lifetime").alias("dur")).agg(
        F.sum(F.when(~F.col("censored"), 1).otherwise(0)).alias("deaths"),
        F.count("*").alias("leaving"),
    )
    w_desc = Window.orderBy(F.col("dur").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    km = lt.select(
        "dur", "deaths", F.sum("leaving").over(w_desc).alias("n_risk")
    ).select(
        "dur",
        "deaths",
        "n_risk",
        (1.0 - F.col("deaths") / (1.0 * F.col("n_risk"))).alias("factor"),
        F.when(
            F.col("n_risk") > F.col("deaths"),
            F.col("deaths")
            / (1.0 * F.col("n_risk") * (F.col("n_risk") - F.col("deaths"))),
        ).alias("gw"),
    )
    w_asc = Window.orderBy("dur").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    surv = F.when(F.min("factor").over(w_asc) == 0, F.lit(0.0)).otherwise(
        F.exp(F.sum(F.log("factor")).over(w_asc))
    )
    return km.select(
        F.col("dur").alias("duration_hours"),
        F.col("n_risk").cast("long").alias("n_risk"),
        F.col("deaths").cast("long").alias("n_deaths"),
        F.round(surv, 6).alias("survival"),
        F.round(
            F.when(F.min("factor").over(w_asc) == 0, F.lit(0.0)).otherwise(
                F.exp(F.sum(F.log("factor")).over(w_asc))
                * F.sqrt(
                    F.coalesce(F.sum("gw").over(w_asc), F.lit(0.0))
                )
            ),
            6,
        ).alias("greenwood_se"),
    )


# --- md5-hash uniformity certification ------------------------------------------------------

_HU_BUCKETS = 64

_ORACLE_KEY_H60 = (
    "list_sum(list_transform(range(0, 15), i -> "
    "CAST(strpos('0123456789abcdef', substr(md5(w), 15 - CAST(i AS INT), 1)) - 1 "
    "AS BIGINT) << CAST(4 * i AS INT)))"
)

DQ_HASH_UNIFORMITY_ORACLE = (
    "WITH h AS ("
    f"  SELECT CAST({_ORACLE_KEY_H60} AS BIGINT) % {_HU_BUCKETS} AS b"
    "  FROM (SELECT CAST(doc_id AS VARCHAR) AS w FROM documents)"
    "), c AS (SELECT b, CAST(count(*) AS HUGEINT) AS k FROM h GROUP BY b), "
    # zero-fill the 0..63 spine: an EMPTY bucket contributes its full
    # n/64 expected-count term ((64·0 − n)²/(64n)), so chi2 is the
    # textbook statistic precisely in the degenerate-hash regime the
    # certification exists to catch (r10 ADVICE — the occupied-buckets
    # sum understated it whenever buckets_used < 64)
    "cz AS (SELECT s.b, coalesce(c.k, CAST(0 AS HUGEINT)) AS k "
    f"  FROM range(0, {_HU_BUCKETS}) s(b) LEFT JOIN c ON c.b = s.b), "
    "tot AS (SELECT CAST(sum(k) AS HUGEINT) AS n, "
    "  CAST(count(*) FILTER (WHERE k > 0) AS BIGINT) AS used FROM cz) "
    "SELECT CAST((SELECT n FROM tot) AS BIGINT) AS n_keys, "
    f"{_HU_BUCKETS} AS n_buckets, (SELECT used FROM tot) AS buckets_used, "
    "CAST(max(k) AS BIGINT) AS max_bucket, "
    f"round(sum(CAST(({_HU_BUCKETS} * k - (SELECT n FROM tot))"
    f" * ({_HU_BUCKETS} * k - (SELECT n FROM tot)) AS DOUBLE))"
    f" / CAST({_HU_BUCKETS} * (SELECT n FROM tot) AS DOUBLE), 6) AS chi2 "
    "FROM cz"
)


def dq_hash_uniformity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See module docstring. One hash-bucket aggregate + a 1-row census
    — the cheapest possible certification of the hash the whole engine
    leans on. χ² numerators are the exact integers (Bk − n)², so both
    engines divide the same values once. Empty buckets are zero-filled
    from a broadcast 0..63 spine before the χ² reduce (each contributes
    its n/64 expected-count term), so the statistic is the textbook
    value even when buckets_used < 64 — the degenerate-hash regime the
    certification exists to catch (r10 ADVICE)."""
    d = load_table(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 15),
        16,
        10,
    ).cast("long")
    c = d.select((h % _HU_BUCKETS).alias("b")).groupBy("b").agg(
        F.count(F.lit(1)).cast(_D38).alias("k")
    )
    spine = spark.range(_HU_BUCKETS).select(F.col("id").cast("long").alias("b"))
    cz = spine.join(c, "b", "left").select(
        "b", F.coalesce("k", F.lit(0).cast(_D38)).alias("k")
    )
    tot = cz.agg(
        F.sum("k").alias("n"),
        F.sum(F.when(F.col("k") > 0, 1).otherwise(0)).cast("long").alias("used"),
    )
    j = cz.crossJoin(F.broadcast(tot))
    dev = F.lit(_HU_BUCKETS).cast(_D38) * F.col("k") - F.col("n")
    return j.agg(
        F.first("n").cast("long").alias("n_keys"),
        F.lit(_HU_BUCKETS).cast("int").alias("n_buckets"),
        F.first("used").alias("buckets_used"),
        F.max("k").cast("long").alias("max_bucket"),
        F.round(
            F.sum((dev * dev).cast("double"))
            / (F.lit(_HU_BUCKETS).cast(_D38) * F.first("n")).cast("double"),
            6,
        ).alias("chi2"),
    )


# --- one-pass Poisson bootstrap --------------------------------------------------------------

_PB_B = 200
# floor(2^16 · CDF(k)) of Poisson(1), k = 0..7, tail clamped — embedded as
# constants so both engines run the identical integer inverse-CDF lookup
_PB_THRESHOLDS = (
    (0, 24109), (1, 48218), (2, 60273), (3, 64291), (4, 65296),
    (5, 65497), (6, 65530), (7, 65536),
)

_PB_CASE_SQL = (
    "CASE "
    + " ".join(f"WHEN u < {t} THEN {k}" for k, t in _PB_THRESHOLDS)
    + " END"
)

SAMPLE_POISSON_BOOTSTRAP_ORACLE = (
    "WITH g AS ("
    f"  SELECT {floor_day_us_sql()} AS day, "
    f"  CAST(sum({money_cents_sql('value')}) AS BIGINT) AS y"
    "  FROM events WHERE event_type = 'purchase' GROUP BY 1"
    "), r AS (SELECT row_number() OVER (ORDER BY day) AS t, "
    "  CAST(y AS HUGEINT) AS y FROM g), "
    "grid AS ("
    f"  SELECT b, t, y, CAST({_ORACLE_KEY_H60} AS BIGINT) & 65535 AS u"
    "  FROM (SELECT b, t, y, 'pb:' || CAST(b AS VARCHAR) || ':'"
    "    || CAST(t AS VARCHAR) AS w"
    f"  FROM range({_PB_B}) bb(b), r)"
    f"), wts AS (SELECT b, y, CAST({_PB_CASE_SQL} AS HUGEINT) AS w FROM grid), "
    "rs AS (SELECT b, sum(w * y) AS s, sum(w) AS m FROM wts GROUP BY b"
    "  HAVING sum(w) > 0), "
    "means AS (SELECT CAST(s AS DOUBLE) / CAST(m AS DOUBLE) AS mu FROM rs), "
    "agg AS (SELECT count(*) AS B, sum(mu) AS sm, sum(mu * mu) AS sm2"
    "  FROM means) "
    "SELECT CAST((SELECT B FROM agg) AS BIGINT) AS n_resamples, "
    "round(sqrt(((SELECT B FROM agg) * (SELECT sm2 FROM agg)"
    " - (SELECT sm FROM agg) * (SELECT sm FROM agg))"
    " / ((SELECT B FROM agg) * ((SELECT B FROM agg) - 1.0))) / 100, 6)"
    "  AS poisson_se_usd"
)


def sample_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See module docstring. The (B × rows) weight grid is ONE pass over
    the day-grain series against a constant replicate spine; weights are
    integer table lookups; each replicate's weighted mean shuffles as a
    (b)-keyed aggregate. No resampling index, no per-replicate scan —
    the property that makes this THE bootstrap at streaming scale.
    Replicate means are replicate-content-identical doubles on both
    engines; their B-term variance sum carries 1e-16 order noise under
    the 6-dp grain (the stat_icc precedent)."""
    g = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .groupBy(ts_day("ts").alias("day"))
        .agg(F.sum(money_cents(F.col("value"))).alias("y"))
    )
    r = g.select(
        F.row_number().over(Window.orderBy("day")).alias("t"),
        F.col("y").cast(_D38).alias("y"),
    )
    spine = spark.range(_PB_B).select(F.col("id").alias("b"))
    grid = r.crossJoin(F.broadcast(spine))
    u = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit("pb:"),
                    F.col("b").cast("string"),
                    F.lit(":"),
                    F.col("t").cast("string"),
                ).cast("binary")
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long").bitwiseAND(F.lit(65535))
    w = F.lit(None).cast("long")
    for k, thr in reversed(_PB_THRESHOLDS):
        w = F.when(u < thr, F.lit(k).cast("long")).otherwise(w)
    wts = grid.select("b", "y", w.cast(_D38).alias("w"))
    rs = (
        wts.groupBy("b")
        .agg(
            F.sum(F.col("w") * F.col("y")).alias("s"),
            F.sum("w").alias("m"),
        )
        .where(F.col("m") > 0)
    )
    means = rs.select(
        (F.col("s").cast("double") / F.col("m").cast("double")).alias("mu")
    )
    agg = means.agg(
        F.count(F.lit(1)).alias("B"),
        F.sum("mu").alias("sm"),
        F.sum(F.col("mu") * F.col("mu")).alias("sm2"),
    )
    return agg.select(
        F.col("B").cast("long").alias("n_resamples"),
        F.round(
            F.sqrt(
                (F.col("B") * F.col("sm2") - F.col("sm") * F.col("sm"))
                / (F.col("B") * (F.col("B") - 1.0))
            )
            / 100,
            6,
        ).alias("poisson_se_usd"),
    )


# --- PRESS / predicted R² for the daily trend fit --------------------------------------------

STAT_PRESS_ORACLE = (
    f"WITH {TREND_RESID_CTES}, "
    "lev AS ("
    "  SELECT e.t, e.ee, s.n, s.st, s.st2, s.sy, "
    "  (s.n * s.st2 - s.st * s.st) AS D, "
    "  (s.n * e.t - s.st) AS dt FROM e CROSS JOIN s"
    "), terms AS ("
    "  SELECT n, "
    "  (CAST(ee AS DOUBLE) / CAST(D AS DOUBLE))"
    "   / (1.0 - (1.0 / CAST(n AS DOUBLE)"
    "      + CAST(dt * dt AS DOUBLE) / CAST(n * D AS DOUBLE))) AS loo"
    "  FROM lev"
    "), sstot AS ("
    "  SELECT CAST(s.n * sum(CAST(r.y AS HUGEINT) * r.y)"
    "   - s.sy * s.sy AS HUGEINT) AS a, s.n FROM r CROSS JOIN s"
    "  GROUP BY s.n, s.sy"
    ") SELECT CAST((SELECT n FROM sstot) AS INT) AS n_days, "
    "round(sum(loo * loo) / 100000000, 6) AS press_usd2, "
    "round(1.0 - sum(loo * loo)"
    " / (CAST((SELECT a FROM sstot) AS DOUBLE)"
    "    / CAST((SELECT n FROM sstot) * (SELECT n FROM sstot) AS DOUBLE)"
    "    * (SELECT n FROM sstot)), 6) AS r2_pred "
    "FROM terms"
)


def stat_press(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See module docstring. Reuses the shared exactly-scaled trend
    residual (E = D·e, staged_r44) plus the broadcast sufficient
    statistics; each leave-one-out term is pure double arithmetic on
    exact integers, summed over the ≤|days| frame; SStot comes from the
    same exact power sums. No refit, no loop — the closed form IS the
    distributed algorithm."""
    ee = _trend_residuals(spark, sf_dir)  # (t, ee) with ee = D·e_t
    g = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .groupBy(ts_day("ts").alias("day"))
        .agg(F.sum(money_cents(F.col("value"))).alias("y"))
    )
    r = g.select(
        F.row_number().over(Window.orderBy("day")).cast(_D38).alias("t"),
        F.col("y").cast(_D38).alias("y"),
    )
    s = r.agg(
        F.count(F.lit(1)).cast(_D38).alias("n"),
        F.sum("t").alias("st"),
        F.sum(F.col("t") * F.col("t")).alias("st2"),
        F.sum("y").alias("sy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    lev = ee.crossJoin(F.broadcast(s))
    D = F.col("n") * F.col("st2") - F.col("st") * F.col("st")
    dt = F.col("n") * F.col("t") - F.col("st")
    loo = (F.col("ee").cast("double") / D.cast("double")) / (
        1.0
        - (
            1.0 / F.col("n").cast("double")
            + (dt * dt).cast("double") / (F.col("n") * D).cast("double")
        )
    )
    terms = lev.select(loo.alias("loo"), "n", "syy", "sy")
    agg = terms.agg(
        F.first("n").alias("n"),
        F.first("syy").alias("syy"),
        F.first("sy").alias("sy"),
        F.sum(F.col("loo") * F.col("loo")).alias("press"),
    )
    sstot = (
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
        / (F.col("n") * F.col("n")).cast("double")
        * F.col("n").cast("double")
    )
    return agg.select(
        F.col("n").cast("int").alias("n_days"),
        F.round(F.col("press") / 100000000, 6).alias("press_usd2"),
        F.round(1.0 - F.col("press") / sstot, 6).alias("r2_pred"),
    )


DEV_CASES = [
    ("stat_km_greenwood_ci", stat_km_greenwood_ci, STAT_KM_GREENWOOD_CI_ORACLE),
    ("dq_hash_uniformity", dq_hash_uniformity, DQ_HASH_UNIFORMITY_ORACLE),
    (
        "sample_poisson_bootstrap",
        sample_poisson_bootstrap,
        SAMPLE_POISSON_BOOTSTRAP_ORACLE,
    ),
    ("stat_press", stat_press, STAT_PRESS_ORACLE),
]
