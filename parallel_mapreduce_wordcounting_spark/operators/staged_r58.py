"""Long-memory / reliability / robust-location / ARMA-identification wave. Like
every ``staged_r*`` module with ``DEV_CASES``, it registers itself on
import: the package root registers each ``(key, fn, oracle)`` entry.
tests/test_oracle_parity.py runs the fn-vs-DuckDB compare;
tests/test_staged_r58.py holds the independent property checks.

Contents:

- ``stat_hurst_rs`` — rescaled-range (R/S) analysis of daily purchase
  revenue at chunk sizes {5, 10, 15}: per chunk, R = the range of
  n-scaled cumulative deviations (0-anchored, so the n's cancel
  against the population-sd denominator and
  R/S = range / √(n·Σy²−(Σy)²) is one division of exact integers per
  chunk). Mean R/S growing ~wᴴ with H > ½ flags long memory — the
  screen that says whether block_bootstrap/ conformal horizons are
  even trustworthy. Chunk windows partition by (size, chunk) —
  calendar-bounded.
- ``stat_cronbach_alpha`` — Cronbach's α over the (day × event-type)
  count matrix: items = the k event types, observations = days,
  α = k/(k−1)·(1 − Σ item variances / total-score variance), every
  variance from exact HUGEINT power sums. THE internal-consistency
  number beside stat_icc: "do these k activity metrics measure one
  underlying engagement factor?"
- ``agg_trimmed_mean`` — 10% two-sided trimmed mean of purchase/click
  values per event type (rank-window keep-band, unique event_id
  tiebreak): the robust-location sibling of the registered
  ``agg_winsorized_mean`` — trimming DROPS the tails where
  winsorizing clamps them, and the two disagree exactly when the
  tails are wild (reading them together is the point).
- ``stat_pacf`` — partial autocorrelations at lags 1–3 via the
  Durbin–Levinson closed forms (φ₁₁ = ρ₁;
  φ₂₂ = (ρ₂−ρ₁²)/(1−ρ₁²); φ₃₃ from the level-3 recursion), computed
  from the SAME exactly-derived ACF values as the registered
  stat_autocorr (6-dp-rounded ρ's — bit-identical cross-engine by
  that op's hash-green precedent — feed identical rational
  expressions). ACF says "how long is memory"; PACF says "how many AR
  terms" — the other half of Box–Jenkins identification.

Exactness doctrine: chunk statistics, count-matrix power sums, rank
keep-bands and ACF numerators are exact integers end-to-end; R/S, α,
trimmed means and φ's spend divisions (one sqrt for R/S) on
identically-derived values and round to 6 dp; the φ recursions consume
ROUNDED ρ's so both engines start from bit-equal inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..pins import persisting, pin
from ..sources.loader import load_table, ts_day
from .exact import floor_day_us_sql, money_cents, money_cents_sql

_D38 = "decimal(38,0)"

# --- rescaled-range (Hurst) analysis --------------------------------------------------------

_HURST_SIZES = (5, 10, 15)

STAT_HURST_RS_ORACLE = (
    "WITH g AS ("
    f"  SELECT {floor_day_us_sql()} AS day, "
    f"  CAST(sum({money_cents_sql('value')}) AS BIGINT) AS y"
    "  FROM events WHERE event_type = 'purchase' GROUP BY 1"
    "), r AS (SELECT row_number() OVER (ORDER BY day) - 1 AS i, "
    "  CAST(y AS HUGEINT) AS y FROM g), "
    "sizes(w) AS (VALUES "
    + ", ".join(f"({w})" for w in _HURST_SIZES)
    + "), ch AS ("
    "  SELECT s.w, r.i // s.w AS c, r.i % s.w AS j, r.y"
    "  FROM r JOIN sizes s ON TRUE"
    "  WHERE r.i // s.w < (SELECT count(*) FROM r) // s.w"
    "), st AS ("
    "  SELECT w, c, CAST(count(*) AS HUGEINT) AS n, sum(y) AS sy, "
    "  sum(y * y) AS syy FROM ch GROUP BY 1, 2"
    "), dev AS ("
    "  SELECT ch.w, ch.c, "
    "  sum(st.n * ch.y - st.sy) OVER (PARTITION BY ch.w, ch.c"
    "    ORDER BY ch.j) AS cum"
    "  FROM ch JOIN st ON st.w = ch.w AND st.c = ch.c"
    "), rng AS ("
    "  SELECT w, c, greatest(max(cum), 0) - least(min(cum), 0) AS rg"
    "  FROM dev GROUP BY 1, 2"
    "), rs AS ("
    "  SELECT rng.w, "
    "  CAST(rng.rg AS DOUBLE)"
    "   / nullif(sqrt(CAST(st.n * st.syy - st.sy * st.sy AS DOUBLE)), 0)"
    "    AS ratio"
    "  FROM rng JOIN st ON st.w = rng.w AND st.c = rng.c"
    ") SELECT w AS chunk_size, CAST(count(ratio) AS BIGINT) AS n_chunks, "
    "round(avg(ratio), 6) AS mean_rs "
    "FROM rs GROUP BY w"
)


def stat_hurst_rs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See module docstring. One day-grain aggregate; chunk assignment
    is integer arithmetic; per-chunk windows partition by (size, chunk)
    over ≤|days| rows; the n-cancelled ratio means exactly one
    division + sqrt of exact integers per chunk."""
    g = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .groupBy(ts_day("ts").alias("day"))
        .agg(F.sum(money_cents(F.col("value"))).alias("y"))
    )
    r = g.select(
        (F.row_number().over(Window.orderBy("day")) - 1).alias("i"),
        F.col("y").cast(_D38).alias("y"),
    )
    nn = r.agg(F.count(F.lit(1)).alias("ndays"))
    sizes = spark.createDataFrame(
        [(w,) for w in _HURST_SIZES], "w int"
    )
    ch = (
        r.crossJoin(F.broadcast(sizes))
        .crossJoin(F.broadcast(nn))
        .where(
            F.expr("i div w") < F.expr("ndays div w")
        )
        .select(
            "w",
            F.expr("i div w").alias("c"),
            (F.col("i") % F.col("w")).alias("j"),
            "y",
        )
    )
    with persisting() as keep:
        keep(ch)
        st = ch.groupBy("w", "c").agg(
            F.count(F.lit(1)).cast(_D38).alias("n"),
            F.sum("y").alias("sy"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
        )
        dev = (
            ch.join(st, ["w", "c"])
            .withColumn(
                "cum",
                F.sum(F.col("n") * F.col("y") - F.col("sy")).over(
                    Window.partitionBy("w", "c").orderBy("j")
                ),
            )
        )
        rng = dev.groupBy("w", "c").agg(
            (
                F.greatest(F.max("cum"), F.lit(0).cast(_D38))
                - F.least(F.min("cum"), F.lit(0).cast(_D38))
            ).alias("rg")
        )
        ratio = F.col("rg").cast("double") / F.nullif(
            F.sqrt(
                (
                    F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
                ).cast("double")
            ),
            F.lit(0.0),
        )
        out = (
            rng.join(st, ["w", "c"])
            .select(F.col("w").alias("chunk_size"), ratio.alias("ratio"))
            .groupBy("chunk_size")
            .agg(
                F.count("ratio").cast("long").alias("n_chunks"),
                F.round(F.avg("ratio"), 6).alias("mean_rs"),
            )
        )
        return pin(out)


# --- Cronbach's alpha over the day x event-type matrix ---------------------------------------

STAT_CRONBACH_ALPHA_ORACLE = (
    "WITH g AS ("
    f"  SELECT {floor_day_us_sql()} AS day, event_type, "
    "  CAST(count(*) AS HUGEINT) AS v FROM events GROUP BY 1, 2"
    "), days AS (SELECT DISTINCT day FROM g), "
    "types AS (SELECT DISTINCT event_type FROM g), grid AS ("
    "  SELECT d.day, t.event_type, coalesce(g.v, 0) AS v"
    "  FROM days d CROSS JOIN types t"
    "  LEFT JOIN g ON g.day = d.day AND g.event_type = t.event_type"
    "), item_var AS ("
    "  SELECT event_type, CAST(count(*) AS HUGEINT) AS n, sum(v) AS s, "
    "  sum(v * v) AS s2 FROM grid GROUP BY 1"
    "), totals AS ("
    "  SELECT day, CAST(sum(v) AS HUGEINT) AS tv FROM grid GROUP BY day"
    "), tot_var AS ("
    "  SELECT CAST(count(*) AS HUGEINT) AS n, sum(tv) AS s, "
    "  sum(tv * tv) AS s2 FROM totals"
    "), k AS (SELECT CAST(count(*) AS HUGEINT) AS k FROM types) "
    "SELECT CAST((SELECT k FROM k) AS INT) AS k_items, "
    "CAST((SELECT n FROM tot_var) AS INT) AS n_days, "
    "round(CAST((SELECT k FROM k) AS DOUBLE) / ((SELECT k FROM k) - 1)"
    " * (1 - sum(CAST(n * s2 - s * s AS DOUBLE))"
    "  / CAST((SELECT n * s2 - s * s FROM tot_var) AS DOUBLE)), 6)"
    "  AS cronbach_alpha "
    "FROM item_var"
)


def stat_cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See module docstring. One (day, type) count aggregate; the
    zero-filled grid is a broadcast cross join of two tiny distinct
    sets; variances are per-item/per-day power sums. n² scale factors
    cancel between Σ item variances and the total variance, so the
    ratio divides exact integers once."""
    ev = load_table(spark, sf_dir, "events").select(
        ts_day("ts").alias("day"), "event_type"
    )
    g = ev.groupBy("day", "event_type").agg(
        F.count(F.lit(1)).cast(_D38).alias("v")
    )
    days = ev.select("day").distinct()
    types = ev.select("event_type").distinct()
    grid = (
        days.crossJoin(F.broadcast(types))
        .join(g, ["day", "event_type"], "left")
        .select(
            "day",
            "event_type",
            F.coalesce("v", F.lit(0).cast(_D38)).alias("v"),
        )
    )
    with persisting() as keep:
        keep(grid)
        item = grid.groupBy("event_type").agg(
            F.count(F.lit(1)).cast(_D38).alias("n"),
            F.sum("v").alias("s"),
            F.sum(F.col("v") * F.col("v")).alias("s2"),
        )
        tot = (
            grid.groupBy("day")
            .agg(F.sum("v").alias("tv"))
            .agg(
                F.count(F.lit(1)).cast(_D38).alias("tn"),
                F.sum("tv").alias("ts"),
                F.sum(F.col("tv") * F.col("tv")).alias("ts2"),
            )
        )
        k = types.agg(F.count(F.lit(1)).cast(_D38).alias("k"))
        row = (
            item.agg(
                F.sum(
                    (
                        F.col("n") * F.col("s2") - F.col("s") * F.col("s")
                    ).cast("double")
                ).alias("sum_item_var")
            )
            .crossJoin(F.broadcast(tot))
            .crossJoin(F.broadcast(k))
        )
        out = row.select(
            F.col("k").cast("int").alias("k_items"),
            F.col("tn").cast("int").alias("n_days"),
            # try_divide on BOTH ratios: a single event type makes k-1 = 0
            # and a constant/single-day series zeroes the total variance;
            # DuckDB's x/0 yields NULL where a bare ANSI `/` aborts
            # (round-12 degenerate-corpus sweep find)
            F.round(
                F.try_divide(
                    F.col("k").cast("double"), F.col("k").cast("double") - 1
                )
                * (
                    1
                    - F.try_divide(
                        F.col("sum_item_var"),
                        (
                            F.col("tn") * F.col("ts2")
                            - F.col("ts") * F.col("ts")
                        ).cast("double"),
                    )
                ),
                6,
            ).alias("cronbach_alpha"),
        )
        return pin(out)


# --- two-sided trimmed mean ------------------------------------------------------------------

_TRIM_TYPES = ("purchase", "click")

AGG_TRIMMED_MEAN_ORACLE = (
    "WITH d AS ("
    f"  SELECT event_type, {money_cents_sql('value')} AS c, event_id"
    "  FROM events WHERE event_type IN ("
    + ", ".join(f"'{t}'" for t in _TRIM_TYPES)
    + ")), rk AS ("
    "  SELECT event_type, c, "
    "  row_number() OVER (PARTITION BY event_type ORDER BY c, event_id)"
    "    AS r, "
    "  count(*) OVER (PARTITION BY event_type) AS n FROM d"
    "), kept AS ("
    "  SELECT event_type, c FROM rk"
    "  WHERE r > n // 10 AND r <= n - n // 10"
    ") SELECT event_type, CAST(count(*) AS BIGINT) AS n_kept, "
    "round(CAST(sum(c) AS DOUBLE) / count(*) / 100, 6) AS trimmed_mean_usd "
    "FROM kept GROUP BY event_type"
)


def agg_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See module docstring. One per-type rank window (hash-partitioned
    by type; the unique event_id tiebreak makes the keep-band
    engine-independent even among equal cents) + one aggregate over the
    kept band. Trimming count ⌊n/10⌋ per side is exact integer
    arithmetic."""
    d = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin(*_TRIM_TYPES)
    ).select("event_type", money_cents(F.col("value")).alias("c"), "event_id")
    wn = Window.partitionBy("event_type")
    rk = d.select(
        "event_type",
        "c",
        F.row_number().over(wn.orderBy("c", "event_id")).alias("r"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    kept = rk.where(
        (F.col("r") > F.expr("n div 10"))
        & (F.col("r") <= F.col("n") - F.expr("n div 10"))
    )
    return kept.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.round(F.sum("c").cast("double") / F.count(F.lit(1)) / 100, 6).alias(
            "trimmed_mean_usd"
        ),
    )


# --- partial autocorrelations (Durbin-Levinson, lags 1-3) ------------------------------------

# the EXACT n-scaled centered-product ACF derivation shared with
# stat_autocorr (staged_r18), restricted to lags 1..3 and emitting the
# 6-dp ROUNDED rho values the recursions consume
_PACF_ACF_CTES = (
    "g AS ("
    f"  SELECT {floor_day_us_sql()} AS day, "
    f"  CAST(sum({money_cents_sql('value')}) AS HUGEINT) AS x"
    "  FROM events WHERE event_type = 'purchase' GROUP BY 1"
    "), r2 AS (SELECT row_number() OVER (ORDER BY day) AS rk, x FROM g), "
    "tot AS (SELECT CAST(count(*) AS HUGEINT) AS n, "
    "  CAST(sum(x) AS HUGEINT) AS s FROM r2), "
    "den AS (SELECT CAST(sum((t.n * r2.x - t.s) * (t.n * r2.x - t.s))"
    "  AS HUGEINT) AS d FROM r2, tot t), "
    "num AS ("
    "  SELECT k.k, CAST(sum((t.n * a.x - t.s) * (t.n * b.x - t.s))"
    "    AS HUGEINT) AS m"
    "  FROM (SELECT unnest(range(1, 4)) AS k) k"
    "  CROSS JOIN r2 a JOIN r2 b ON b.rk = a.rk + k.k CROSS JOIN tot t"
    "  GROUP BY k.k"
    "), acf AS ("
    "  SELECT k AS lag, round(CAST(m AS DOUBLE)"
    "    / nullif(CAST((SELECT d FROM den) AS DOUBLE), 0), 6) AS rho"
    "  FROM num"
    ")"
)

STAT_PACF_ORACLE = (
    f"WITH {_PACF_ACF_CTES}, p AS ("
    "  SELECT max(CASE WHEN lag = 1 THEN rho END) AS r1, "
    "  max(CASE WHEN lag = 2 THEN rho END) AS r2, "
    "  max(CASE WHEN lag = 3 THEN rho END) AS r3 FROM acf"
    "), phi AS ("
    "  SELECT r1 AS phi1, "
    "  (r2 - r1 * r1) / (1 - r1 * r1) AS phi2, "
    # Durbin-Levinson level 3: phi33 =
    #   (r3 - phi21*r2 - phi22*r1) / (1 - phi21*r1 - phi22*r2)
    #   with phi21 = r1 - phi22*r1 = r1*(1 - phi22)
    "  (r3 - (r1 * (1 - (r2 - r1 * r1) / (1 - r1 * r1))) * r2"
    "     - ((r2 - r1 * r1) / (1 - r1 * r1)) * r1)"
    "  / (1 - (r1 * (1 - (r2 - r1 * r1) / (1 - r1 * r1))) * r1"
    "     - ((r2 - r1 * r1) / (1 - r1 * r1)) * r2) AS phi3, "
    "  r1, r2, r3 FROM p"
    ") SELECT 1 AS lag, round(r1, 6) AS acf, round(phi1, 6) AS pacf FROM phi "
    "UNION ALL SELECT 2, round(r2, 6), round(phi2, 6) FROM phi "
    "UNION ALL SELECT 3, round(r3, 6), round(phi3, 6) FROM phi"
)


def stat_pacf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See module docstring. The ACF sub-plan is the registered
    stat_autocorr shape (day-grain aggregate, 3-row lag spine,
    broadcast totals); the Durbin–Levinson assembly is pure arithmetic
    on a 1-row frame of ROUNDED ρ's, unioned into 3 output rows."""
    g = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .groupBy(ts_day("ts").alias("day"))
        .agg(F.sum(money_cents(F.col("value"))).cast(_D38).alias("x"))
    )
    r = g.select(F.row_number().over(Window.orderBy("day")).alias("rk"), "x")
    tot = r.agg(
        F.count("*").cast(_D38).alias("n"), F.sum("x").cast(_D38).alias("s")
    )
    cen = lambda x: F.col("n") * x - F.col("s")  # noqa: E731
    den = (
        r.crossJoin(F.broadcast(tot))
        .agg(F.sum(cen(F.col("x")) * cen(F.col("x"))).cast(_D38).alias("d"))
    )
    ks = spark.range(1, 4).select(F.col("id").alias("k"))
    a = r.select(F.col("rk").alias("rk_a"), F.col("x").alias("xa"))
    b = r.select(F.col("rk").alias("rk_b"), F.col("x").alias("xb"))
    num = (
        a.crossJoin(F.broadcast(ks))
        .join(b, F.col("rk_b") == F.col("rk_a") + F.col("k"))
        .crossJoin(F.broadcast(tot))
        .groupBy("k")
        .agg(F.sum(cen(F.col("xa")) * cen(F.col("xb"))).cast(_D38).alias("m"))
    )
    acf = num.crossJoin(F.broadcast(den)).select(
        F.col("k").alias("lag"),
        F.round(
            F.col("m").cast("double")
            / F.nullif(F.col("d").cast("double"), F.lit(0.0)),
            6,
        ).alias("rho"),
    )
    p = acf.agg(
        F.max(F.when(F.col("lag") == 1, F.col("rho"))).alias("r1"),
        F.max(F.when(F.col("lag") == 2, F.col("rho"))).alias("r2"),
        F.max(F.when(F.col("lag") == 3, F.col("rho"))).alias("r3"),
    )
    phi2 = (F.col("r2") - F.col("r1") * F.col("r1")) / (
        1 - F.col("r1") * F.col("r1")
    )
    phi21 = F.col("r1") * (1 - phi2)
    phi3 = (
        F.col("r3") - phi21 * F.col("r2") - phi2 * F.col("r1")
    ) / (1 - phi21 * F.col("r1") - phi2 * F.col("r2"))
    rows = [
        p.select(
            F.lit(1).alias("lag"),
            F.round("r1", 6).alias("acf"),
            F.round("r1", 6).alias("pacf"),
        ),
        p.select(
            F.lit(2).alias("lag"),
            F.round("r2", 6).alias("acf"),
            F.round(phi2, 6).alias("pacf"),
        ),
        p.select(
            F.lit(3).alias("lag"),
            F.round("r3", 6).alias("acf"),
            F.round(phi3, 6).alias("pacf"),
        ),
    ]
    out = rows[0]
    for x in rows[1:]:
        out = out.unionAll(x)
    return out


DEV_CASES = [
    ("stat_hurst_rs", stat_hurst_rs, STAT_HURST_RS_ORACLE),
    ("stat_cronbach_alpha", stat_cronbach_alpha, STAT_CRONBACH_ALPHA_ORACLE),
    ("agg_trimmed_mean", agg_trimmed_mean, AGG_TRIMMED_MEAN_ORACLE),
    ("stat_pacf", stat_pacf, STAT_PACF_ORACLE),
]
