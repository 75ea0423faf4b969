"""Causal-inference / time-series / retrieval-infrastructure wave
(registered since round 8). Like every ``staged_r*`` module with
``DEV_CASES``, it registers itself on import: the package root registers
each ``(key, fn, oracle)`` entry. tests/test_oracle_parity.py runs the
fn-vs-DuckDB compare; tests/test_staged_r11.py holds the independent
property checks.

Contents (batch A — experimentation & time-series statistics):

- ``event_did`` — difference-in-differences read-out over a deterministic
  treatment split and a fixed intervention date (the causal panel companion
  to event_ab_test's cross-sectional z-test).
- ``stat_welch_ttest`` — Welch's unequal-variance t statistic with the
  Welch–Satterthwaite degrees of freedom, from exact integer-cents
  sufficient statistics.
- ``event_audience_overlap`` — pairwise audience intersection / Jaccard
  between event types (the segment-overlap matrix behind campaign planning).
- ``win_rolling_slope`` — 7-point rolling OLS trend slope of daily revenue
  per event type (windowed sufficient statistics, no iteration).
- ``event_changepoint`` — CUSUM mean-shift changepoint per event type with
  an ALL-INTEGER argmax (no float comparison decides the winner).

Batch B (curation / sampling / graph / regression):

- ``sample_reservoir`` — deterministic distributed bottom-k ("reservoir")
  sample via md5 priorities (engine-replayable, rank-exact).
- ``stat_ols_multi`` — TWO-feature OLS (price ~ quantity + discount) via
  Cramer's rule on the 3×3 normal equations, from decimal(38) sufficient
  statistics — the multi-feature step past stat_linreg.
- ``graph_adamic_adar`` — supplier–supplier similarity by shared parts with
  the Adamic–Adar inverse-log-degree weight, degree-capped (the
  link-prediction score over the co-supply bipartite graph).
- ``pipeline_token_budget`` — per-source token-budget curation: keep docs
  in quality order until 40% of the source's token mass is spent (the
  budgeted-mixture step between sample_domain_mix and pack_sequences).
- ``event_interpolate`` — linear gap interpolation of a daily series
  through deterministically-dropped observation days, with per-day
  reconstruction error (the sensor-dropout / backfill primitive).

Batch C (retrieval / joins / Bayesian):

- ``sim_hamming_topk`` — Hamming-distance top-k over sign-bit-packed
  embeddings (two 32-bit words per vector, xor + bit_count — the binary
  fingerprint ANN path beside simhash's text route).
- ``join_bloom`` — a DECLARATIVE distributed bloom filter (bit_or bitmap,
  broadcast) prefiltering a big-side semi join, then an exact verify —
  Spark's runtime-filter pattern rebuilt from public DataFrame ops.
- ``event_ab_bayes`` — Beta-Bernoulli posterior A/B read-out with the
  EXACT closed-form P(treatment beats control) via log-factorial prefix
  tables (Cook's finite-sum identity) — no sampling, no approximation.
- ``geo_radius_join`` — all pairs of points within a radius via a grid-cell
  equi-join + exact haversine verify (the spatial self-join that never
  goes quadratic), over deterministic hash-derived coordinates.
- ``stat_binom_fdr`` — per-group EXACT binomial tail p-values (log-factorial
  prefix sums, no CDF approximation) with Benjamini–Hochberg FDR control
  across the family.

Exactness doctrine (same as the registered set): every driver-compared
number is either an int64/decimal(38) accumulation (order-independent,
engine-identical) or ONE double expression evaluated over identical integer
operands on both engines, rounded to ≤6 dp; comparisons that pick winners
(changepoint argmax) happen on exact integers only. Where a float SUM of
per-element double terms is itself the statistic (the Bayesian tail sums),
both engines sum the same ≤1e-15-noise terms and the round absorbs the
order difference (the text_js_divergence precedent, hash-verified since r8).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..pins import persisting, pin
from ..sources.loader import load_table, ts_day
from .exact import floor_day_us_sql, money_cents, money_cents_sql

_D38 = "decimal(38,0)"

# --- difference-in-differences ------------------------------------------------

# Fixed intervention date: 2024-01-16 (epoch day 19738) splits the fixture's
# 30-day January window into a 15-day pre and 15-day post period at EVERY
# scale factor (the generator keeps the date span constant and scales event
# density), so the four cells are always populated.
_DID_CUTOFF_DAY = 19738

EVENT_DID_ORACLE = (
    "WITH c AS ("
    "  SELECT user_id % 2 AS treated, "
    f"  CASE WHEN {floor_day_us_sql()} >= {_DID_CUTOFF_DAY} THEN 1 ELSE 0 END AS post, "
    f"  {money_cents_sql('value')} AS cents"
    "  FROM events"
    "), s AS ("
    "  SELECT treated, post, count(*) AS n, CAST(sum(cents) AS BIGINT) AS sc"
    "  FROM c GROUP BY treated, post"
    "), w AS ("
    "  SELECT "
    "  max(CASE WHEN treated = 0 AND post = 0 THEN n END) AS n00, "
    "  max(CASE WHEN treated = 0 AND post = 1 THEN n END) AS n01, "
    "  max(CASE WHEN treated = 1 AND post = 0 THEN n END) AS n10, "
    "  max(CASE WHEN treated = 1 AND post = 1 THEN n END) AS n11, "
    "  max(CASE WHEN treated = 0 AND post = 0 THEN sc END) AS s00, "
    "  max(CASE WHEN treated = 0 AND post = 1 THEN sc END) AS s01, "
    "  max(CASE WHEN treated = 1 AND post = 0 THEN sc END) AS s10, "
    "  max(CASE WHEN treated = 1 AND post = 1 THEN sc END) AS s11"
    "  FROM s"
    ") SELECT "
    "CAST(n00 AS BIGINT) AS n00, CAST(n01 AS BIGINT) AS n01, "
    "CAST(n10 AS BIGINT) AS n10, CAST(n11 AS BIGINT) AS n11, "
    "round(s00 / (100.0 * n00), 6) AS mean_ctrl_pre, "
    "round(s01 / (100.0 * n01), 6) AS mean_ctrl_post, "
    "round(s10 / (100.0 * n10), 6) AS mean_treat_pre, "
    "round(s11 / (100.0 * n11), 6) AS mean_treat_post, "
    "round((s11 / (100.0 * n11) - s10 / (100.0 * n10)) "
    "    - (s01 / (100.0 * n01) - s00 / (100.0 * n00)), 6) AS did "
    "FROM w"
)


def event_did(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences estimate of the treatment effect on event
    value: treatment arm = ``user_id % 2`` (event_ab_test's deterministic
    split), intervention = a fixed calendar date, outcome = mean event value
    per (arm, period) cell. DiD = (T,post − T,pre) − (C,post − C,pre) — the
    workhorse causal estimate when randomization happened at a point in time.

    Exactness: cell sums are exact integer cents and counts; each mean and
    the DiD contrast is one double expression over those integers, rounded
    to 6 dp. A missing cell (degenerate corpora) yields NULL on both engines
    (max over no rows / try_divide), never an ANSI abort.

    Scale: one map-side-combining aggregate to 4 rows, then a 1-row pivot.
    The cutoff is a literal, so the period predicate pushes into the scan."""
    e = load_table(spark, sf_dir, "events").select(
        (F.col("user_id") % 2).alias("treated"),
        F.when(ts_day("ts") >= _DID_CUTOFF_DAY, 1).otherwise(0).alias("post"),
        money_cents(F.col("value")).alias("cents"),
    )
    s = e.groupBy("treated", "post").agg(
        F.count("*").alias("n"), F.sum("cents").alias("sc")
    )

    def cell(col: str, t: int, p: int):
        return F.max(
            F.when((F.col("treated") == t) & (F.col("post") == p), F.col(col))
        )

    w = s.agg(
        cell("n", 0, 0).alias("n00"),
        cell("n", 0, 1).alias("n01"),
        cell("n", 1, 0).alias("n10"),
        cell("n", 1, 1).alias("n11"),
        cell("sc", 0, 0).alias("s00"),
        cell("sc", 0, 1).alias("s01"),
        cell("sc", 1, 0).alias("s10"),
        cell("sc", 1, 1).alias("s11"),
    )
    m = {
        f"m{t}{p}": F.try_divide(
            F.col(f"s{t}{p}"), 100.0 * F.col(f"n{t}{p}")
        )
        for t in (0, 1)
        for p in (0, 1)
    }
    return w.select(
        F.col("n00").cast("long").alias("n00"),
        F.col("n01").cast("long").alias("n01"),
        F.col("n10").cast("long").alias("n10"),
        F.col("n11").cast("long").alias("n11"),
        F.round(m["m00"], 6).alias("mean_ctrl_pre"),
        F.round(m["m01"], 6).alias("mean_ctrl_post"),
        F.round(m["m10"], 6).alias("mean_treat_pre"),
        F.round(m["m11"], 6).alias("mean_treat_post"),
        F.round((m["m11"] - m["m10"]) - (m["m01"] - m["m00"]), 6).alias("did"),
    )


# --- Welch's unequal-variance t-test -----------------------------------------

_WELCH_A, _WELCH_B = "purchase", "view"

STAT_WELCH_TTEST_ORACLE = (
    "WITH s AS ("
    "  SELECT event_type AS grp, count(*) AS n, "
    f"  CAST(sum({money_cents_sql('value')}) AS BIGINT) AS sc, "
    f"  CAST(sum(CAST({money_cents_sql('value')} AS HUGEINT) "
    f"           * {money_cents_sql('value')}) AS HUGEINT) AS sq"
    f"  FROM events WHERE event_type IN ('{_WELCH_A}', '{_WELCH_B}')"
    "  GROUP BY event_type"
    "), w AS ("
    f"  SELECT max(CASE WHEN grp = '{_WELCH_A}' THEN n END) AS na, "
    f"  max(CASE WHEN grp = '{_WELCH_B}' THEN n END) AS nb, "
    f"  max(CASE WHEN grp = '{_WELCH_A}' THEN sc END) AS sa, "
    f"  max(CASE WHEN grp = '{_WELCH_B}' THEN sc END) AS sb, "
    f"  max(CASE WHEN grp = '{_WELCH_A}' THEN sq END) AS qa, "
    f"  max(CASE WHEN grp = '{_WELCH_B}' THEN sq END) AS qb"
    "  FROM s"
    "), v AS ("
    "  SELECT na, nb, sa, sb, "
    # variance of the group MEAN in cents²: ((Σc² − (Σc)²/n) / (n−1)) / n.
    # The exact integer products are materialized first, cast to double,
    # then divided — the identical tree Spark evaluates (decimal(38) and
    # HUGEINT both convert round-to-nearest). The cents scale cancels in t.
    "  (CAST(qa AS DOUBLE) - CAST(CAST(sa AS HUGEINT) * sa AS DOUBLE) / na) "
    "      / (na - 1.0) / na AS va, "
    "  (CAST(qb AS DOUBLE) - CAST(CAST(sb AS HUGEINT) * sb AS DOUBLE) / nb) "
    "      / (nb - 1.0) / nb AS vb"
    "  FROM w"
    ") SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b, "
    "round(sa / (100.0 * na), 6) AS mean_a, round(sb / (100.0 * nb), 6) AS mean_b, "
    "round((sa / (1.0 * na) - sb / (1.0 * nb)) "
    "    / nullif(sqrt(va + vb), 0), 4) AS t_welch, "
    "round((va + vb) * (va + vb) "
    "    / nullif(va * va / (na - 1.0) + vb * vb / (nb - 1.0), 0), 4) AS df_welch "
    "FROM v"
)


def stat_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t statistic between two event populations
    (``purchase`` vs ``view`` values), with the Welch–Satterthwaite
    effective degrees of freedom — the default two-sample test when equal
    variances cannot be assumed (beside stat_mann_whitney's rank test and
    stat_anova's k-group F).

    t = (m_a − m_b) / √(s²_a/n_a + s²_b/n_b); df = (s²_a/n_a + s²_b/n_b)² /
    [(s²_a/n_a)²/(n_a−1) + (s²_b/n_b)²/(n_b−1)].

    Exactness: per-group (n, Σcents, Σcents²) are exact int64/decimal(38);
    t and df are single double expressions over those integers on both
    engines (the cents² scale cancels inside t's ratio — both engines carry
    it identically), rounded at 4 dp for a wide cross-engine margin.
    Degenerate corpora (one group absent, n=1, zero variance) yield NULL
    via try_divide/nullif on both engines.

    Scale: one partial-agg scan to 2 rows; the group filter pushes to the
    parquet scan. The 100 TB shape is unchanged — sufficient statistics
    never leave the executors unaggregated."""
    cents = money_cents(F.col("value"))
    s = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin(_WELCH_A, _WELCH_B))
        .groupBy(F.col("event_type").alias("grp"))
        .agg(
            F.count("*").alias("n"),
            F.sum(cents).alias("sc"),
            F.sum(cents.cast(_D38) * cents).alias("sq"),
        )
    )

    def cell(col: str, g: str):
        return F.max(F.when(F.col("grp") == g, F.col(col)))

    w = s.agg(
        cell("n", _WELCH_A).alias("na"),
        cell("n", _WELCH_B).alias("nb"),
        cell("sc", _WELCH_A).alias("sa"),
        cell("sc", _WELCH_B).alias("sb"),
        cell("sq", _WELCH_A).alias("qa"),
        cell("sq", _WELCH_B).alias("qb"),
    )
    # variance of the group mean in cents² — the exact decimal(38) product
    # cast to double THEN divided, mirroring the oracle's HUGEINT tree
    def var_mean(q: str, s: str, n: str):
        return F.try_divide(
            F.try_divide(
                F.col(q).cast("double")
                - F.try_divide(
                    (F.col(s).cast(_D38) * F.col(s)).cast("double"),
                    F.col(n).cast("double"),
                ),
                F.col(n) - F.lit(1.0),
            ),
            F.col(n).cast("double"),
        )

    va = var_mean("qa", "sa", "na")
    vb = var_mean("qb", "sb", "nb")
    t = F.try_divide(
        F.try_divide(F.col("sa"), 1.0 * F.col("na"))
        - F.try_divide(F.col("sb"), 1.0 * F.col("nb")),
        F.nullif(F.sqrt(va + vb), F.lit(0.0)),
    )
    df = F.try_divide(
        (va + vb) * (va + vb),
        F.nullif(
            F.try_divide(va * va, F.col("na") - F.lit(1.0))
            + F.try_divide(vb * vb, F.col("nb") - F.lit(1.0)),
            F.lit(0.0),
        ),
    )
    return w.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.round(F.try_divide(F.col("sa"), 100.0 * F.col("na")), 6).alias("mean_a"),
        F.round(F.try_divide(F.col("sb"), 100.0 * F.col("nb")), 6).alias("mean_b"),
        F.round(t, 4).alias("t_welch"),
        F.round(df, 4).alias("df_welch"),
    )


# --- audience overlap matrix --------------------------------------------------

EVENT_AUDIENCE_OVERLAP_ORACLE = (
    "WITH ut AS (SELECT DISTINCT user_id, event_type FROM events), "
    "sz AS (SELECT event_type, count(*) AS n FROM ut GROUP BY event_type) "
    "SELECT a.event_type AS type_a, b.event_type AS type_b, "
    "count(*) AS users_both, "
    "CAST(max(sa.n) AS BIGINT) AS users_a, CAST(max(sb.n) AS BIGINT) AS users_b, "
    "round(count(*) / (1.0 * (max(sa.n) + max(sb.n) - count(*))), 6) AS jaccard "
    "FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.event_type < b.event_type "
    "JOIN sz sa ON sa.event_type = a.event_type "
    "JOIN sz sb ON sb.event_type = b.event_type "
    "GROUP BY 1, 2"
)


def event_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise audience overlap between event types: for every unordered
    type pair, the number of users who did BOTH, each side's audience size,
    and the Jaccard overlap — the segment-intersection matrix behind
    campaign targeting and cannibalization analysis.

    Built from the DEDUPLICATED (user, type) incidence table, so the
    self-join fans out per user by their distinct-type count (≤ |types|,
    a small constant) — never by raw event count. The per-type audience
    sizes are a tiny dimension joined back broadcast-style.

    Exactness: all counts are exact ints from set semantics; Jaccard is one
    double ratio rounded 6 dp.

    Scale: distinct (user, type) is one map-side-combining shuffle keyed by
    user; the pair fan-out is |types|² per user worst-case (bounded by the
    type vocabulary, not corpus size); broadcast size table. No quadratic
    term in users or events."""
    ut = load_table(spark, sf_dir, "events").select("user_id", "event_type").distinct()
    sz = ut.groupBy("event_type").agg(F.count("*").alias("n"))
    a = ut.alias("a")
    b = ut.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count("*").alias("users_both"))
    )
    return (
        pairs.join(
            F.broadcast(sz.withColumnRenamed("n", "users_a")),
            F.col("type_a") == F.col("event_type"),
        )
        .drop("event_type")
        .join(
            F.broadcast(sz.withColumnRenamed("n", "users_b")),
            F.col("type_b") == F.col("event_type"),
        )
        .drop("event_type")
        .select(
            "type_a",
            "type_b",
            "users_both",
            F.col("users_a").cast("long").alias("users_a"),
            F.col("users_b").cast("long").alias("users_b"),
            F.round(
                F.try_divide(
                    F.col("users_both"),
                    1.0 * (F.col("users_a") + F.col("users_b") - F.col("users_both")),
                ),
                6,
            ).alias("jaccard"),
        )
    )


# --- rolling regression slope -------------------------------------------------

_SLOPE_WIN = 7  # trailing observations (ROWS frame, both engines identical)

WIN_ROLLING_SLOPE_ORACLE = (
    "WITH g AS ("
    f"  SELECT event_type, {floor_day_us_sql()} AS day, "
    f"  CAST(sum({money_cents_sql('value')}) AS BIGINT) AS yc"
    "  FROM events GROUP BY 1, 2"
    "), w AS ("
    "  SELECT event_type, day, "
    f"  count(*) OVER f AS n, "
    "  sum(day) OVER f AS sx, sum(yc) OVER f AS sy, "
    "  sum(CAST(day AS HUGEINT) * yc) OVER f AS sxy, "
    "  sum(CAST(day AS HUGEINT) * day) OVER f AS sxx"
    "  FROM g WINDOW f AS (PARTITION BY event_type ORDER BY day "
    f"  ROWS BETWEEN {_SLOPE_WIN - 1} PRECEDING AND CURRENT ROW)"
    ") SELECT event_type, day, CAST(n AS BIGINT) AS n_obs, "
    "round(CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE) "
    "    / nullif(CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE), 0) "
    "    / 100.0, 6) AS slope7 "
    "FROM w"
)


def win_rolling_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-observation OLS trend slope of daily revenue per event
    type — the windowed trend detector (is this metric accelerating?)
    that generalizes win_moving's rolling mean to a first derivative.

    The slope is computed from WINDOWED sufficient statistics (n, Σx, Σy,
    Σxy, Σx² over the ROWS frame) — five windowed integer sums and one
    closed-form ratio, not a per-window refit. Frames at the series head
    (fewer than 7 rows) report their shorter-window slope with ``n_obs``
    exposing the width, identically on both engines.

    Exactness: day indexes and revenue cents are exact ints; windowed sums
    accumulate in int64/decimal(38) (day·cents ≈ 2·10¹⁰ per term — int64
    safe to ~4·10⁸ rows per frame, decimal(38) beyond); the slope is one
    double ratio rounded 6 dp, NULL (try_divide) for one-row frames where
    the x-variance is zero.

    Scale: one partial-agg shuffle to |types|·|days| rows, then a
    partition-scoped window over day-grain rows (thousands per type per
    decade) — window state is bounded by the day grain, not event volume."""
    g = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", ts_day("ts").alias("day"))
        .agg(F.sum(money_cents(F.col("value"))).alias("yc"))
    )
    f = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-(_SLOPE_WIN - 1), 0)
    )
    day38 = F.col("day").cast(_D38)
    w = g.select(
        "event_type",
        "day",
        F.count("*").over(f).alias("n"),
        F.sum("day").over(f).alias("sx"),
        F.sum("yc").over(f).alias("sy"),
        F.sum(day38 * F.col("yc")).over(f).alias("sxy"),
        F.sum(day38 * F.col("day")).over(f).alias("sxx"),
    )
    num = (
        F.col("n").cast(_D38) * F.col("sxy") - F.col("sx").cast(_D38) * F.col("sy")
    ).cast("double")
    den = (
        F.col("n").cast(_D38) * F.col("sxx") - F.col("sx").cast(_D38) * F.col("sx")
    ).cast("double")
    return w.select(
        "event_type",
        "day",
        F.col("n").cast("long").alias("n_obs"),
        F.round(F.try_divide(num, den) / 100.0, 6).alias("slope7"),
    )


# --- CUSUM changepoint --------------------------------------------------------

EVENT_CHANGEPOINT_ORACLE = (
    "WITH g AS ("
    f"  SELECT event_type, {floor_day_us_sql()} AS day, "
    f"  CAST(sum({money_cents_sql('value')}) AS BIGINT) AS sc"
    "  FROM events GROUP BY 1, 2"
    "), t AS ("
    "  SELECT event_type, count(*) AS nd, sum(sc) AS st FROM g GROUP BY 1"
    "), c AS ("
    "  SELECT g.event_type, g.day, "
    "  CAST(t.nd AS HUGEINT) * sum(g.sc) OVER (PARTITION BY g.event_type "
    "      ORDER BY g.day ROWS UNBOUNDED PRECEDING) "
    "    - CAST(row_number() OVER (PARTITION BY g.event_type ORDER BY g.day) "
    "           AS HUGEINT) * t.st AS cus, "
    "  t.nd AS nd"
    "  FROM g JOIN t ON t.event_type = g.event_type"
    "), r AS ("
    "  SELECT event_type, day, cus, nd, "
    "  row_number() OVER (PARTITION BY event_type ORDER BY abs(cus) DESC, day) AS rk"
    "  FROM c"
    ") SELECT event_type, day AS cp_day, "
    "round(cus / (nd * 100.0), 6) AS cusum_peak "
    "FROM r WHERE rk = 1"
)


def event_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM mean-shift changepoint per event type: the day where the
    cumulative deviation of daily revenue from its per-type mean peaks —
    the classic single-changepoint locator (Page's CUSUM at the argmax).

    The decision is ALL-INTEGER: with nd days and total revenue st cents,
    the scaled statistic nd·(Σ_{k≤d} sc_k) − d_idx·st equals
    nd·Σ(sc_k − st/nd) — the true CUSUM times the constant nd — so the
    argmax is identical and no float comparison ever picks the winner
    (float CUSUMs differing at 1e-12 between engines could disagree on the
    peak day; exact integers cannot). Ties break to the earliest day.
    The reported peak value rescales to currency units, rounded 6 dp.

    Scale: day-grain aggregate (one shuffle), a 1-row-per-type totals join,
    and two partition-scoped windows over day-grain rows. At 100 TB the
    window still ranges over days-per-type, not events."""
    g = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", ts_day("ts").alias("day"))
        .agg(F.sum(money_cents(F.col("value"))).alias("sc"))
    )
    t = g.groupBy("event_type").agg(
        F.count("*").alias("nd"), F.sum("sc").alias("st")
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wrow = Window.partitionBy("event_type").orderBy("day")
    c = (
        g.join(F.broadcast(t), "event_type")
        .select(
            "event_type",
            "day",
            "nd",
            (
                F.col("nd").cast(_D38) * F.sum("sc").over(wcum)
                - F.row_number().over(wrow).cast(_D38) * F.col("st")
            ).alias("cus"),
        )
    )
    rk = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("cus")).desc(), F.col("day")
    )
    return (
        c.withColumn("rk", F.row_number().over(rk))
        .filter(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("day").alias("cp_day"),
            F.round(F.col("cus") / (F.col("nd") * F.lit(100.0)), 6).alias(
                "cusum_peak"
            ),
        )
    )


# --- deterministic bottom-k reservoir sample ---------------------------------

_RESERVOIR_K = 100

SAMPLE_RESERVOIR_ORACLE = (
    "SELECT o_orderkey, md5(CAST(o_orderkey AS VARCHAR)) AS priority "
    f"FROM orders ORDER BY priority LIMIT {_RESERVOIR_K}"
)


def sample_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic distributed "reservoir" sample: the k rows with the
    SMALLEST md5(key) priority — bottom-k / min-wise sampling, the
    distributed-systems answer to reservoir sampling (Vitter's algorithm R
    needs a sequential stream; bottom-k needs only a per-partition top-k
    merge, is replayable from the key alone, and composes: the union of two
    corpora's bottom-k IS the corpus-union's bottom-k).

    md5 (not xxhash64) because the priority must be REPLAYABLE on any
    engine: DuckDB, Spark, and Python all expose the same md5 hex digest
    (the sample_* family's hash-derived-randomness convention), so the
    selected set is bit-identical everywhere.

    Scale: ``orderBy(priority).limit(k)`` compiles to TakeOrderedAndProject
    — each task keeps a k-row heap and the driver merges |tasks|·k rows;
    no global sort, no full shuffle, state O(k) per task."""
    return (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            F.md5(F.col("o_orderkey").cast("string").cast("binary")).alias(
                "priority"
            ),
        )
        .orderBy("priority")
        .limit(_RESERVOIR_K)
    )


# --- two-feature OLS via Cramer's rule ---------------------------------------

STAT_OLS_MULTI_ORACLE = (
    "WITH s AS ("
    "  SELECT CAST(count(*) AS HUGEINT) AS n, "
    f"  CAST(sum({money_cents_sql('l_quantity')}) AS HUGEINT) AS s1, "
    f"  CAST(sum({money_cents_sql('l_discount')}) AS HUGEINT) AS s2, "
    f"  CAST(sum({money_cents_sql('l_extendedprice')}) AS HUGEINT) AS sy, "
    f"  CAST(sum(CAST({money_cents_sql('l_quantity')} AS HUGEINT) * {money_cents_sql('l_quantity')}) AS HUGEINT) AS s11, "
    f"  CAST(sum(CAST({money_cents_sql('l_quantity')} AS HUGEINT) * {money_cents_sql('l_discount')}) AS HUGEINT) AS s12, "
    f"  CAST(sum(CAST({money_cents_sql('l_discount')} AS HUGEINT) * {money_cents_sql('l_discount')}) AS HUGEINT) AS s22, "
    f"  CAST(sum(CAST({money_cents_sql('l_quantity')} AS HUGEINT) * {money_cents_sql('l_extendedprice')}) AS HUGEINT) AS s1y, "
    f"  CAST(sum(CAST({money_cents_sql('l_discount')} AS HUGEINT) * {money_cents_sql('l_extendedprice')}) AS HUGEINT) AS s2y, "
    f"  CAST(sum(CAST({money_cents_sql('l_extendedprice')} AS HUGEINT) * {money_cents_sql('l_extendedprice')}) AS HUGEINT) AS syy"
    "  FROM lineitem"
    "), d AS ("
    "  SELECT n, s1, s2, sy, s1y, s2y, syy, "
    "  n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) "
    "      + s2 * (s1 * s12 - s11 * s2) AS det, "
    "  sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y) "
    "      + s2 * (s1y * s12 - s11 * s2y) AS det0, "
    "  n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2) "
    "      + s2 * (s1 * s2y - s1y * s2) AS det1, "
    "  n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2) "
    "      + sy * (s1 * s12 - s11 * s2) AS det2"
    "  FROM s"
    "), b AS ("
    "  SELECT n, sy, s1y, s2y, syy, "
    "  CAST(det0 AS DOUBLE) / nullif(CAST(det AS DOUBLE), 0) AS b0, "
    "  CAST(det1 AS DOUBLE) / nullif(CAST(det AS DOUBLE), 0) AS b1, "
    "  CAST(det2 AS DOUBLE) / nullif(CAST(det AS DOUBLE), 0) AS b2"
    "  FROM d"
    ") SELECT CAST(n AS BIGINT) AS n, "
    "round(b0 / 100.0, 6) AS intercept, "
    "round(b1, 6) AS beta_quantity, round(b2, 6) AS beta_discount, "
    # r² = 1 − SSE/SST with SSE = Σy² − b'X'y (the normal-equation identity)
    "round(1.0 - (CAST(syy AS DOUBLE) - b0 * CAST(sy AS DOUBLE) "
    "             - b1 * CAST(s1y AS DOUBLE) - b2 * CAST(s2y AS DOUBLE)) "
    "    / nullif(CAST(syy AS DOUBLE) "
    "             - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE), 0), "
    "    6) AS r2 "
    "FROM b"
)


def stat_ols_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-feature OLS — extendedprice ~ quantity + discount — solved in
    closed form by Cramer's rule on the 3×3 normal equations, entirely from
    ONE scan's sufficient statistics (n, Σx₁, Σx₂, Σy, Σx₁², Σx₁x₂, Σx₂²,
    Σx₁y, Σx₂y, Σy²): the multi-feature step past :func:`.staged_r9.
    stat_linreg`, and the shape that scales — a 10-number partial aggregate
    and driver-free arithmetic, never an iterative solver over the data.

    Exactness: all ten sums are exact integer cents in decimal(38)/HUGEINT;
    the three 3×3 determinants stay in exact integer arithmetic (triple
    products peak ~10²³ on this fixture — decimal(38) holds to ~10³⁸, i.e.
    another 10¹⁵× of data) and ONLY the final coefficient ratios and r²
    identity are evaluated in doubles, identically on both engines, rounded
    6 dp. A singular design (constant feature) yields NULL via nullif.

    β's are scale-free in cents space (y and x share the ×100); the
    intercept rescales to currency units."""
    li = load_table(spark, sf_dir, "lineitem")
    x1 = money_cents(F.col("l_quantity")).cast(_D38)
    x2 = money_cents(F.col("l_discount")).cast(_D38)
    y = money_cents(F.col("l_extendedprice")).cast(_D38)
    s = li.agg(
        F.count("*").cast(_D38).alias("n"),
        F.sum(x1).alias("s1"),
        F.sum(x2).alias("s2"),
        F.sum(y).alias("sy"),
        F.sum(x1 * x1).alias("s11"),
        F.sum(x1 * x2).alias("s12"),
        F.sum(x2 * x2).alias("s22"),
        F.sum(x1 * y).alias("s1y"),
        F.sum(x2 * y).alias("s2y"),
        F.sum(y * y).alias("syy"),
    )
    n, s1, s2, sy = F.col("n"), F.col("s1"), F.col("s2"), F.col("sy")
    s11, s12, s22 = F.col("s11"), F.col("s12"), F.col("s22")
    s1y, s2y, syy = F.col("s1y"), F.col("s2y"), F.col("syy")
    det = (
        n * (s11 * s22 - s12 * s12)
        - s1 * (s1 * s22 - s12 * s2)
        + s2 * (s1 * s12 - s11 * s2)
    )
    det0 = (
        sy * (s11 * s22 - s12 * s12)
        - s1 * (s1y * s22 - s12 * s2y)
        + s2 * (s1y * s12 - s11 * s2y)
    )
    det1 = (
        n * (s1y * s22 - s12 * s2y)
        - sy * (s1 * s22 - s12 * s2)
        + s2 * (s1 * s2y - s1y * s2)
    )
    det2 = (
        n * (s11 * s2y - s1y * s12)
        - s1 * (s1 * s2y - s1y * s2)
        + sy * (s1 * s12 - s11 * s2)
    )
    dd = F.nullif(det.cast("double"), F.lit(0.0))
    b0 = det0.cast("double") / dd
    b1 = det1.cast("double") / dd
    b2 = det2.cast("double") / dd
    sse = (
        syy.cast("double")
        - b0 * sy.cast("double")
        - b1 * s1y.cast("double")
        - b2 * s2y.cast("double")
    )
    sst = F.nullif(
        syy.cast("double") - sy.cast("double") * sy.cast("double") / n.cast("double"),
        F.lit(0.0),
    )
    return s.select(
        n.cast("long").alias("n"),
        F.round(b0 / 100.0, 6).alias("intercept"),
        F.round(b1, 6).alias("beta_quantity"),
        F.round(b2, 6).alias("beta_discount"),
        F.round(F.lit(1.0) - sse / sst, 6).alias("r2"),
    )


# --- Adamic–Adar link prediction ---------------------------------------------

_AA_DEG_CAP = 64  # drop super-connector parts: quadratic fan-out guard
_AA_TOPK = 20

GRAPH_ADAMIC_ADAR_ORACLE = (
    "WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem), "
    "deg AS ("
    "  SELECT l_partkey, count(*) AS d FROM ps GROUP BY 1"
    f"  HAVING count(*) BETWEEN 2 AND {_AA_DEG_CAP}"
    "), pairs AS ("
    "  SELECT a.l_suppkey AS supp_a, b.l_suppkey AS supp_b, "
    "  count(*) AS common_parts, round(sum(1.0 / ln(deg.d)), 6) AS aa_score"
    "  FROM ps a JOIN ps b ON a.l_partkey = b.l_partkey "
    "      AND a.l_suppkey < b.l_suppkey"
    "  JOIN deg ON deg.l_partkey = a.l_partkey"
    "  GROUP BY 1, 2"
    ") SELECT supp_a, supp_b, common_parts, aa_score "
    f"FROM pairs ORDER BY aa_score DESC, supp_a, supp_b LIMIT {_AA_TOPK}"
)


def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic–Adar link-prediction score between suppliers over the
    part–supplier bipartite graph: AA(a,b) = Σ_{shared part p} 1/ln(deg p)
    — common-neighbor similarity where rare shared neighbors count more
    (Adamic & Adar 2003, public formula). Top-k strongest pairs.

    The pair generation is DEGREE-BOUNDED BY CONSTRUCTION (the
    staged_r9._span_edges pattern): a window count over
    partitionBy(l_partkey) tags each (part, supplier) row with the part's
    supplier degree IN the pairing's own shuffle (spill-safe — a
    super-connector streams through the window sorter's disk spill, never
    an aggregation buffer), rows outside 2 ≤ d ≤ 64 drop at the filter
    BEFORE any pair exists, and the groupBy that collects the now-bounded
    supplier lists reuses the window's hash(l_partkey) partitioning — one
    exchange, then the ≤ d(d−1)/2 ordered pairs explode JVM-side. The
    previous form wrote self-join-then-cap-join, and Catalyst executed it
    in exactly that order (plan-read r9): a part with 10⁶ suppliers would
    have fanned out 10¹² rows before the cap's inner join dropped them.
    Capping d caps the quadratic term (the standard super-connector guard
    in link prediction; dropped hubs carry the least AA weight by
    construction, 1/ln d → 0); work is Σ_p min(d_p, cap)² — linear-ish on
    power-law graphs at any corpus size.

    Exactness: degrees and common-part counts are exact ints; each pair's
    score sums the same 1/ln(d) doubles on both engines (≤ cap terms,
    noise ≪ 1e-12) and rounds at 6 dp BEFORE the top-k rank, with
    (supp_a, supp_b) tiebreakers — the winner set is decided on rounded
    values and exact ints only. ``orderBy().limit()`` compiles to
    TakeOrderedAndProject (per-task heaps, no global sort)."""
    ps = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    # ps is distinct, so the window row count IS the part's supplier
    # degree; the post-collect size("ss") equals it for surviving parts,
    # so the 1/ln(d) weight needs no carried column (adding d to the
    # groupBy key would force a second exchange)
    pairs = (
        ps.withColumn(
            "d", F.count(F.lit(1)).over(Window.partitionBy("l_partkey"))
        )
        .where((F.col("d") >= 2) & (F.col("d") <= _AA_DEG_CAP))
        .groupBy("l_partkey")
        .agg(F.collect_list("l_suppkey").alias("ss"))
        .select(
            F.size("ss").alias("d"),
            F.explode(
                F.expr(
                    "filter(flatten(transform(ss, x -> transform(ss, y -> "
                    "struct(x AS sa, y AS sb)))), p -> p.sa < p.sb)"
                )
            ).alias("p"),
        )
        .groupBy(
            F.col("p.sa").alias("supp_a"),
            F.col("p.sb").alias("supp_b"),
        )
        .agg(
            F.count("*").alias("common_parts"),
            F.round(F.sum(1.0 / F.log(F.col("d"))), 6).alias("aa_score"),
        )
    )
    return pairs.orderBy(
        F.col("aa_score").desc(), "supp_a", "supp_b"
    ).limit(_AA_TOPK)


# --- per-source token-budget curation ----------------------------------------

_BUDGET_FRAC_PCT = 40  # keep the best docs until 40% of token mass is spent

PIPELINE_TOKEN_BUDGET_ORACLE = (
    "WITH d AS ("
    "  SELECT source, doc_id, n_chars, "
    "  len(string_split(text, ' ')) AS toks FROM documents"
    "), t AS ("
    f"  SELECT source, (sum(toks) * {_BUDGET_FRAC_PCT}) // 100 AS budget, "
    "  count(*) AS total_docs, sum(toks) AS total_tokens"
    "  FROM d GROUP BY source"
    "), c AS ("
    "  SELECT d.source, d.toks, t.budget, t.total_docs, t.total_tokens, "
    "  sum(d.toks) OVER (PARTITION BY d.source "
    "      ORDER BY d.n_chars DESC, d.doc_id ROWS UNBOUNDED PRECEDING) AS cum"
    "  FROM d JOIN t ON t.source = d.source"
    ") SELECT source, "
    "CAST(count(*) FILTER (WHERE cum <= budget) AS BIGINT) AS kept_docs, "
    "CAST(coalesce(sum(toks) FILTER (WHERE cum <= budget), 0) AS BIGINT) AS kept_tokens, "
    "CAST(max(total_docs) AS BIGINT) AS total_docs, "
    "CAST(max(total_tokens) AS BIGINT) AS total_tokens, "
    "CAST(max(budget) AS BIGINT) AS budget "
    "FROM c GROUP BY source"
)


def pipeline_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-budget curation: rank each source's documents by a
    quality key (length-descending here — longer docs carry more signal per
    dedup dollar; any scoring column slots in) and keep them greedily until
    40% of that source's whitespace-token mass is spent — the budgeted-
    mixture step every pretraining data pipeline runs between domain
    weighting (sample_domain_mix) and sequence packing (pack_sequences).

    RELATIVE budgets (a fraction of each source's own token mass, floor'd
    in integer arithmetic) keep the operator meaningful at every corpus
    scale — an absolute budget is vacuous at 100× and starves at 0.01×.
    A document is kept iff its INCLUSIVE running total fits the budget
    (greedy prefix rule; ties broken by doc_id so the kept set is exact on
    both engines).

    Scale: token counts are per-row projections; the budget table is one
    row per source joined back (broadcast-sized); the running total is a
    partition-scoped window keyed by source. One shuffle by source."""
    d = load_table(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        "n_chars",
        F.size(F.split(F.col("text"), " ")).alias("toks"),
    )
    t = d.groupBy("source").agg(
        ((F.sum("toks") * _BUDGET_FRAC_PCT) / 100)
        .cast("long")
        .alias("budget"),
        F.count("*").alias("total_docs"),
        F.sum("toks").alias("total_tokens"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.col("n_chars").desc(), "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = d.join(F.broadcast(t), "source").withColumn(
        "cum", F.sum("toks").over(w)
    )
    kept = F.col("cum") <= F.col("budget")
    return c.groupBy("source").agg(
        F.count_if(kept).alias("kept_docs"),
        F.coalesce(F.sum(F.when(kept, F.col("toks"))), F.lit(0))
        .cast("long")
        .alias("kept_tokens"),
        F.max("total_docs").cast("long").alias("total_docs"),
        F.max("total_tokens").cast("long").alias("total_tokens"),
        F.max("budget").cast("long").alias("budget"),
    )


# --- linear gap interpolation -------------------------------------------------

EVENT_INTERPOLATE_ORACLE = (
    "WITH g AS ("
    f"  SELECT event_type, {floor_day_us_sql()} AS day, "
    f"  CAST(sum({money_cents_sql('value')}) AS BIGINT) AS sc"
    "  FROM events GROUP BY 1, 2"
    "), m AS ("
    "  SELECT event_type, day, sc, day % 3 = 0 AS dropped, "
    "  CASE WHEN day % 3 <> 0 THEN sc END AS kept_sc, "
    "  CASE WHEN day % 3 <> 0 THEN day END AS kept_day"
    "  FROM g"
    "), w AS ("
    "  SELECT event_type, day, sc, dropped, "
    "  last_value(kept_sc IGNORE NULLS) OVER prev AS pv, "
    "  last_value(kept_day IGNORE NULLS) OVER prev AS pd, "
    "  first_value(kept_sc IGNORE NULLS) OVER nxt AS nv, "
    "  first_value(kept_day IGNORE NULLS) OVER nxt AS nd"
    "  FROM m WINDOW "
    "  prev AS (PARTITION BY event_type ORDER BY day "
    "           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), "
    "  nxt AS (PARTITION BY event_type ORDER BY day "
    "          ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)"
    ") SELECT event_type, day, round(sc / 100.0, 6) AS actual, "
    "round(CASE "
    "  WHEN pv IS NOT NULL AND nv IS NOT NULL THEN "
    "    (pv + (nv - pv) * (CAST(day - pd AS DOUBLE) / (nd - pd))) / 100.0 "
    "  WHEN pv IS NOT NULL THEN pv / 100.0 "
    "  WHEN nv IS NOT NULL THEN nv / 100.0 END, 6) AS interp, "
    "round(abs(CASE "
    "  WHEN pv IS NOT NULL AND nv IS NOT NULL THEN "
    "    (pv + (nv - pv) * (CAST(day - pd AS DOUBLE) / (nd - pd))) / 100.0 "
    "  WHEN pv IS NOT NULL THEN pv / 100.0 "
    "  WHEN nv IS NOT NULL THEN nv / 100.0 END - sc / 100.0), 6) AS abs_err "
    "FROM w WHERE dropped"
)


def event_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear gap interpolation of a daily revenue series — the backfill /
    sensor-dropout primitive: days with ``day % 3 = 0`` are treated as
    UNOBSERVED (a deterministic dropout mask, so the truth is known and the
    reconstruction error is measurable at every scale), and each masked day
    is reconstructed from its nearest observed neighbors: linear between a
    (prev, next) pair, nearest-value at the series boundaries.

    Emits (type, day, actual, interp, abs_err) for masked days only — the
    same frame a backfill job would write, plus the error audit.

    Exactness: daily sums are integer cents; the interpolation weight
    (day−pd)/(nd−pd) is a ratio of small exact ints and the blend is one
    double expression, rounded 6 dp on both engines.

    Scale: day-grain aggregate (one shuffle) then two partition-scoped
    windows (unbounded-preceding / unbounded-following over day-grain rows)
    — state bounded by days-per-type, not event volume; no self-join, no
    spine explosion."""
    g = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", ts_day("ts").alias("day"))
        .agg(F.sum(money_cents(F.col("value"))).alias("sc"))
    )
    m = g.select(
        "event_type",
        "day",
        "sc",
        (F.col("day") % 3 == 0).alias("dropped"),
        F.when(F.col("day") % 3 != 0, F.col("sc")).alias("kept_sc"),
        F.when(F.col("day") % 3 != 0, F.col("day")).alias("kept_day"),
    )
    prev = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    nxt = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    w = m.select(
        "event_type",
        "day",
        "sc",
        "dropped",
        F.last("kept_sc", ignorenulls=True).over(prev).alias("pv"),
        F.last("kept_day", ignorenulls=True).over(prev).alias("pd"),
        F.first("kept_sc", ignorenulls=True).over(nxt).alias("nv"),
        F.first("kept_day", ignorenulls=True).over(nxt).alias("nd"),
    )
    interp = (
        F.when(
            F.col("pv").isNotNull() & F.col("nv").isNotNull(),
            (
                F.col("pv")
                + (F.col("nv") - F.col("pv"))
                * (
                    (F.col("day") - F.col("pd")).cast("double")
                    / (F.col("nd") - F.col("pd"))
                )
            )
            / 100.0,
        )
        .when(F.col("pv").isNotNull(), F.col("pv") / 100.0)
        .when(F.col("nv").isNotNull(), F.col("nv") / 100.0)
    )
    return w.filter("dropped").select(
        "event_type",
        "day",
        F.round(F.col("sc") / 100.0, 6).alias("actual"),
        F.round(interp, 6).alias("interp"),
        F.round(F.abs(interp - F.col("sc") / 100.0), 6).alias("abs_err"),
    )


# --- Hamming top-k over sign-bit fingerprints --------------------------------

_HAM_PROBES = 5  # vec_id < 5: a fixed probe set at every scale
_HAM_K = 3

# pack the 64-dim embedding's sign bits into two 32-bit words (bits 0-31 and
# 32-63) — two non-negative int64s, so no engine disagrees about the sign bit
# a single 64-bit word would need (1<<63 overflows signed ranges differently)
_PACK_SPARK = {
    "w0": (
        "aggregate(filter(sequence(0, 31), i -> i < size(embedding)), 0L, "
        "(acc, i) -> acc + IF(element_at(embedding, i + 1) > float(0), "
        "shiftleft(1L, i), 0L))"
    ),
    "w1": (
        "aggregate(filter(sequence(32, 63), i -> i < size(embedding)), 0L, "
        "(acc, i) -> acc + IF(element_at(embedding, i + 1) > float(0), "
        "shiftleft(1L, i - 32), 0L))"
    ),
}
_PACK_DUCK = {
    "w0": (
        "CAST(list_sum(list_transform(embedding, (x, i) -> CASE WHEN i <= 32 "
        "AND x > 0 THEN 1::BIGINT << (i - 1) ELSE 0::BIGINT END)) AS BIGINT)"
    ),
    "w1": (
        "CAST(list_sum(list_transform(embedding, (x, i) -> CASE WHEN i > 32 "
        "AND i <= 64 AND x > 0 THEN 1::BIGINT << (i - 33) ELSE 0::BIGINT END)) "
        "AS BIGINT)"
    ),
}

SIM_HAMMING_TOPK_ORACLE = (
    "WITH fp AS ("
    f"  SELECT vec_id, {_PACK_DUCK['w0']} AS w0, {_PACK_DUCK['w1']} AS w1"
    "  FROM embeddings"
    "), d AS ("
    "  SELECT a.vec_id AS query_id, b.vec_id AS vec_id, "
    "  bit_count(xor(a.w0, b.w0)) + bit_count(xor(a.w1, b.w1)) AS hamming"
    f"  FROM fp a JOIN fp b ON a.vec_id < {_HAM_PROBES} "
    "      AND b.vec_id <> a.vec_id"
    "), r AS ("
    "  SELECT query_id, vec_id, hamming, row_number() OVER ("
    "    PARTITION BY query_id ORDER BY hamming, vec_id) AS rank"
    "  FROM d"
    f") SELECT query_id, vec_id, CAST(hamming AS BIGINT) AS hamming, "
    f"CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= {_HAM_K}"
)


def sim_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-distance top-k over binary sign fingerprints: each embedding
    collapses to its 64 sign bits packed into two 32-bit words, and nearest
    neighbors rank by popcount(xor) — the 8-byte/vector binary-code ANN
    family (sign-random-projection / ITQ territory; with unit-norm vectors
    the expected angle is π·hamming/64, Goemans–Williamson), 32× smaller
    and memory-bandwidth-bound where float cosine is FLOP-bound.

    Packing is a zero-shuffle JVM array fold (no UDF); distances are EXACT
    integers, so the top-k ranking needs no float tolerance anywhere —
    ties break by vec_id. The bounded probe set (``vec_id < 5``) broadcasts
    and the candidate scan is one pass over the fingerprint table
    (BroadcastNestedLoopJoin with a constant-size side — the sim_knn_query
    convention); per-probe top-k is a partition-scoped window.

    At 100 TB the same shape holds: fingerprints are 16 bytes/vector, the
    probe side stays bounded, and the scan parallelizes per partition — or
    feeds the simhash-style banded prefilter for sub-linear candidate sets."""
    fp = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr(_PACK_SPARK["w0"]).alias("w0"),
        F.expr(_PACK_SPARK["w1"]).alias("w1"),
    )
    probes = fp.filter(F.col("vec_id") < _HAM_PROBES).select(
        F.col("vec_id").alias("query_id"),
        F.col("w0").alias("q0"),
        F.col("w1").alias("q1"),
    )
    d = (
        fp.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            (
                F.bit_count(F.col("q0").bitwiseXOR(F.col("w0")))
                + F.bit_count(F.col("q1").bitwiseXOR(F.col("w1")))
            ).alias("hamming"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("hamming", "vec_id")
    return (
        d.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _HAM_K)
        .select(
            "query_id",
            "vec_id",
            F.col("hamming").cast("long").alias("hamming"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


# --- declarative bloom-filter semi join --------------------------------------

_BLOOM_PRICE_MIN = 475_000.0  # keeps ~5% of orders (p95 of o_totalprice)
_BLOOM_BITS = 1 << 17  # m bits; ~5% build keys -> low single-digit % FPR
_BLOOM_SEEDS = (1, 2, 3)  # k hash functions via xxhash64(key, seed)

# the semi-join the bloom path must reproduce exactly
JOIN_BLOOM_ORACLE = (
    "SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_items, "
    f"CAST(sum({money_cents_sql('l_quantity')}) AS BIGINT) / 100.0 AS sum_qty "
    "FROM lineitem WHERE l_orderkey IN ("
    f"  SELECT o_orderkey FROM orders WHERE o_totalprice > {_BLOOM_PRICE_MIN}"
    ") GROUP BY l_returnflag"
)


def join_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join accelerated by a DECLARATIVE distributed bloom filter —
    Spark's runtime-filter / BloomFilterAggregate pattern rebuilt from
    public DataFrame ops (`bloom_filter_agg` isn't SQL-exposed in this
    build): the filtered build side (high-value orders) hashes each key to
    k=3 positions (xxhash64(key, seed) mod m), positions fold into a
    bitmap of 32-bit words via ``bit_or`` partial aggregation, the ≤ m/32
    row bitmap collapses to ONE map row (constant-size: 2¹⁷ bits) and
    broadcasts; the big probe side tests all three bits with pure JVM
    bit arithmetic BEFORE any shuffle, and only surviving candidates enter
    the exact semi join that removes false positives.

    Semantics are EXACTLY the semi join (the oracle): the bloom pass is
    pure pruning — no false negatives by construction, false positives
    killed by the verify join. At 100 TB this is the difference between
    shuffling every probe row and shuffling ~selectivity·(1+FPR) of them;
    the bitmap stays 16 KB regardless of data volume (size m to the build
    cardinality: m ≈ 1.44·n·k bits for p≈(1-e^(-kn/m))^k).

    tests/test_staged_r11.py pins the measured FPR of the bloom pass."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    hv = orders.filter(F.col("o_totalprice") > _BLOOM_PRICE_MIN).select("o_orderkey")

    def positions(key: str):
        return [
            F.pmod(F.xxhash64(F.col(key), F.lit(s)), F.lit(_BLOOM_BITS))
            for s in _BLOOM_SEEDS
        ]

    bits = hv.select(
        F.explode(F.array(*positions("o_orderkey"))).alias("pos")
    ).select(
        F.expr("pos div 32").alias("word"),
        F.expr("shiftleft(1L, cast(pos % 32 as int))").alias("b"),
    )
    bitmap = (
        bits.groupBy("word")
        .agg(F.expr("bit_or(b)").alias("bits"))
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("word"), F.col("bits")))
            ).alias("bm")
        )
    )
    probe = li.select("l_orderkey", "l_returnflag", "l_quantity").crossJoin(
        F.broadcast(bitmap)
    )
    conds = []
    for s in _BLOOM_SEEDS:
        p = f"pmod(xxhash64(l_orderkey, {s}), {_BLOOM_BITS}L)"
        conds.append(
            f"(shiftright(coalesce(element_at(bm, ({p}) div 32), 0L), "
            f"cast(({p}) % 32 as int)) & 1) = 1"
        )
    cand = probe.filter(F.expr(" AND ".join(conds))).drop("bm")
    matched = cand.join(
        hv, cand["l_orderkey"] == hv["o_orderkey"], "left_semi"
    )
    return matched.groupBy("l_returnflag").agg(
        F.count("*").cast("long").alias("n_items"),
        (F.sum(money_cents(F.col("l_quantity"))) / 100.0).alias("sum_qty"),
    )


# --- grid-bucketed geo radius self-join --------------------------------------

_GEO_RADIUS_KM = 500.0
_EARTH_KM = 6371.0088
# deterministic hash-derived coordinates: lat in [-60, 60), lon in [-180, 180)
_GEO_H_SQL = "((c_custkey * 2654435761) % 4294967296)"
# INDEPENDENT second Knuth hash for longitude: lat×lon needs 120000·360000
# ≈ 4.3e10 cells, more than one 32-bit hash carries — deriving lon from
# the high bits of the lat hash (the pre-r8 form) covered only
# [-180°, -144°], a 36° sliver where the antimeridian is unreachable
# (r8 review finding 2's root cause). 2246822519 is xxhash's PRIME32_2.
_GEO_H2_SQL = "((c_custkey * 2246822519) % 4294967296)"
_GEO_LAT_SQL = f"(({_GEO_H_SQL} % 120000) / 1000.0 - 60.0)"
_GEO_LON_SQL = f"(({_GEO_H2_SQL} % 360000) / 1000.0 - 180.0)"


def _hav_sql(lat_a: str, lon_a: str, lat_b: str, lon_b: str) -> str:
    """Haversine great-circle distance (km) — identical text both engines."""
    return (
        f"2.0 * {_EARTH_KM} * asin(least(1.0, sqrt("
        f"sin(radians(({lat_b}) - ({lat_a})) / 2) * sin(radians(({lat_b}) - ({lat_a})) / 2) "
        f"+ cos(radians({lat_a})) * cos(radians({lat_b})) "
        f"* sin(radians(({lon_b}) - ({lon_a})) / 2) * sin(radians(({lon_b}) - ({lon_a})) / 2))))"
    )


GEO_RADIUS_JOIN_ORACLE = (
    "WITH p AS ("
    f"  SELECT c_custkey, {_GEO_LAT_SQL} AS lat, {_GEO_LON_SQL} AS lon FROM customer"
    ") SELECT a.c_custkey AS cust_a, b.c_custkey AS cust_b, "
    f"round({_hav_sql('a.lat', 'a.lon', 'b.lat', 'b.lon')}, 6) AS dist_km "
    "FROM p a JOIN p b ON a.c_custkey < b.c_custkey "
    f"WHERE round({_hav_sql('a.lat', 'a.lon', 'b.lat', 'b.lon')}, 6) <= {_GEO_RADIUS_KM}"
)


def geo_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All point pairs within 500 km — the spatial self-join that must NOT
    go quadratic: points land in a 5°×10° grid (cell spans ≥ the radius in
    both axes at |lat| ≤ 60: 5° lat = 556 km, 10° lon at lat 60 = 557 km —
    so every qualifying pair is within one cell step; 500 km keeps truth
    non-vacuous at the full-globe sf0.001 density of 150 points, whose
    closest pair sits at 455 km), the left side fans out to its 3×3 cell
    neighborhood, pairs form
    by an EQUI-join on the cell key, and the exact haversine filter keeps
    true neighbors. Each unordered pair is found exactly once (the
    neighborhood covers b's unique home cell; ``a < b`` dedupes).

    Coordinates are hash-derived from the key by integer arithmetic (a
    Knuth multiplicative hash), replayable bit-identically on any engine —
    the fixture has no geo columns, so the operator carries its own
    deterministic geometry at every scale.

    The radius threshold compares the 6-dp ROUNDED distance (boundary-
    exact cross-engine, the dedup_embedding convention); trig inputs are
    exact 3-decimal doubles, and fn_trig's hash-verified parity covers the
    sin/cos/asin agreement.

    Scale: work is Σ_cell |cell|·|neighborhood| — linear for any bounded
    density; the oracle's brute-force O(n²) cross join is exactly what this
    plan avoids (plan-asserted: no CartesianProduct)."""
    p = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.expr(_GEO_LAT_SQL.replace("//", "div")).alias("lat"),
        F.expr(_GEO_LON_SQL.replace("//", "div")).alias("lon"),
    )
    cell = p.select(
        "c_custkey",
        "lat",
        "lon",
        F.floor(F.col("lat") / 5).alias("cy"),
        F.floor(F.col("lon") / 10).alias("cx"),
    )
    # Longitude cells wrap at the ±180 antimeridian: lon ∈ [-180, 180) →
    # cx ∈ [-18, 17] (36 cells), so the neighborhood steps are taken modulo
    # 36 — without the wrap, a pair straddling the antimeridian (cx −18 vs
    # 17, true distance a few km) never forms a candidate while the
    # oracle's brute-force haversine (periodic in Δlon by construction)
    # includes it (r8 review finding 2). Latitude needs no wrap: |lat| < 60
    # by construction, and an out-of-range ny simply matches nothing.
    a = cell.select(
        F.col("c_custkey").alias("cust_a"),
        F.col("lat").alias("lat_a"),
        F.col("lon").alias("lon_a"),
        F.explode(
            F.array(*[
                F.struct(
                    (F.col("cy") + dy).alias("ny"),
                    (F.pmod(F.col("cx") + dx + 18, F.lit(36)) - 18).alias("nx"),
                )
                for dy in (-1, 0, 1)
                for dx in (-1, 0, 1)
            ])
        ).alias("nb"),
    ).select("cust_a", "lat_a", "lon_a", F.col("nb.ny").alias("cy"), F.col("nb.nx").alias("cx"))
    b = cell.select(
        F.col("c_custkey").alias("cust_b"),
        F.col("lat").alias("lat_b"),
        F.col("lon").alias("lon_b"),
        "cy",
        "cx",
    )
    hav = F.expr(_hav_sql("lat_a", "lon_a", "lat_b", "lon_b"))
    return (
        a.join(b, ["cy", "cx"])
        .filter(F.col("cust_a") < F.col("cust_b"))
        .select(
            "cust_a",
            "cust_b",
            F.round(hav, 6).alias("dist_km"),
        )
        .filter(F.col("dist_km") <= _GEO_RADIUS_KM)
    )


# --- exact Bayesian A/B read-out ---------------------------------------------

# Both engines build the SAME log-factorial prefix table lf(j) = Σ_{t≤j} ln t
# by an ORDERED window cumsum — sequential adds in the identical order, so
# the doubles agree bit-for-bit, and every Beta function below is three
# exact-index lookups: ln B(x, y) = lf(x-1) + lf(y-1) - lf(x+y-1) for
# integer x, y (Γ(n) = (n-1)!).

_LF_SQL = (
    "SELECT 0 AS j, 0.0 AS lf UNION ALL "
    "SELECT j, sum(ln(j)) OVER (ORDER BY j ROWS UNBOUNDED PRECEDING) AS lf "
    "FROM (SELECT unnest(generate_series(1, {m})) AS j)"
)


def _lf_table(spark: SparkSession, mdf: DataFrame, mcol: str) -> DataFrame:
    """(j, lf) for j = 0..M, from a 1-row frame holding M in ``mcol``.

    The global ordered window runs over the spine only — M is bounded by
    the experiment POPULATION (users) or per-group trial count, never by
    raw event volume, and the spine never joins anything bigger than
    itself before aggregation (plan_audit allowlists the GlobalWindow)."""
    spine = mdf.select(
        F.explode(F.sequence(F.lit(1), F.col(mcol))).alias("j")
    )
    w = Window.orderBy("j").rowsBetween(Window.unboundedPreceding, 0)
    lf = spine.select("j", F.sum(F.log("j")).over(w).alias("lf"))
    zero = spark.range(1).select(
        F.lit(0).cast("long").alias("j"), F.lit(0.0).alias("lf")
    )
    return zero.unionByName(lf.select(F.col("j").cast("long"), "lf"))


EVENT_AB_BAYES_ORACLE = (
    "WITH u AS ("
    "  SELECT user_id, user_id % 2 AS variant, "
    "  max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv"
    "  FROM events GROUP BY user_id"
    "), c AS ("
    "  SELECT "
    "  1 + coalesce(sum(CASE WHEN variant = 1 THEN conv END), 0) AS a_t, "
    "  1 + coalesce(sum(CASE WHEN variant = 1 THEN 1 - conv END), 0) AS b_t, "
    "  1 + coalesce(sum(CASE WHEN variant = 0 THEN conv END), 0) AS a_c, "
    "  1 + coalesce(sum(CASE WHEN variant = 0 THEN 1 - conv END), 0) AS b_c, "
    "  coalesce(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END), 0) AS n_t, "
    "  coalesce(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END), 0) AS n_c"
    "  FROM u"
    "), lf AS ("
    + _LF_SQL.format(m="CAST((SELECT a_t + b_t + a_c + b_c FROM c) AS BIGINT)")
    + "), terms AS ("
    "  SELECT c.*, i.i, "
    # ln of term i of Cook's sum: B(a_c+i, b_c+b_t) / ((b_t+i) B(1+i, b_t) B(a_c, b_c))
    "  (l1.lf + l2.lf - l3.lf) - ln(b_t + i.i) - (l4.lf + l5.lf - l6.lf) "
    "      - (l7.lf + l8.lf - l9.lf) AS lnterm"
    "  FROM c, (SELECT unnest(generate_series(0, CAST((SELECT a_t - 1 FROM c) AS BIGINT))) AS i) i "
    "  JOIN lf l1 ON l1.j = (SELECT a_c FROM c) + i.i - 1 "
    "  JOIN lf l2 ON l2.j = (SELECT b_c + b_t FROM c) - 1 "
    "  JOIN lf l3 ON l3.j = (SELECT a_c + b_c + b_t FROM c) + i.i - 1 "
    "  JOIN lf l4 ON l4.j = i.i "
    "  JOIN lf l5 ON l5.j = (SELECT b_t FROM c) - 1 "
    "  JOIN lf l6 ON l6.j = i.i + (SELECT b_t FROM c) "
    "  JOIN lf l7 ON l7.j = (SELECT a_c FROM c) - 1 "
    "  JOIN lf l8 ON l8.j = (SELECT b_c FROM c) - 1 "
    "  JOIN lf l9 ON l9.j = (SELECT a_c + b_c FROM c) - 1"
    ") SELECT CAST(c.n_c AS BIGINT) AS n_ctrl, CAST(c.a_c - 1 AS BIGINT) AS conv_ctrl, "
    "CAST(c.n_t AS BIGINT) AS n_treat, CAST(c.a_t - 1 AS BIGINT) AS conv_treat, "
    "round(c.a_c / (1.0 * (c.a_c + c.b_c)), 6) AS post_mean_ctrl, "
    "round(c.a_t / (1.0 * (c.a_t + c.b_t)), 6) AS post_mean_treat, "
    "round((SELECT sum(exp(lnterm)) FROM terms), 6) AS p_treat_beats_ctrl "
    "FROM c"
)


def event_ab_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Bayesian A/B read-out under Beta(1,1)-Bernoulli conjugacy:
    posterior Beta(1+k, 1+n−k) per arm and the CLOSED-FORM probability the
    treatment's true rate beats control's,

        P(p_T > p_C) = Σ_{i=0}^{a_T−1} B(a_C+i, b_C+b_T)
                       / [(b_T+i) · B(1+i, b_T) · B(a_C, b_C)]

    (Cook 2005's finite-sum identity for integer Beta parameters) — no
    Monte-Carlo, no quadrature, no erf approximation. Every Beta function
    reduces to three lookups in a log-factorial prefix table built by an
    ordered window cumsum; both engines sum ln t in the SAME order, so the
    table is bit-identical, and the final Σ exp(·) of ≤ a_T positive terms
    carries only summation-order noise absorbed by the 6-dp round (the
    text_js_divergence precedent).

    Scale: the sum length and table size are bounded by the experiment
    POPULATION (distinct users), not event volume — the event scan reduces
    per-user map-side; everything after is arithmetic on a spine of ≤
    n_C+n_T+4 rows joined against constant-size lookups (broadcast)."""
    u = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            (F.col("user_id") % 2).alias("variant"),
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("conv"),
        )
    )
    c = u.agg(
        (
            1 + F.coalesce(F.sum(F.when(F.col("variant") == 1, F.col("conv"))), F.lit(0))
        ).alias("a_t"),
        (
            1
            + F.coalesce(F.sum(F.when(F.col("variant") == 1, 1 - F.col("conv"))), F.lit(0))
        ).alias("b_t"),
        (
            1 + F.coalesce(F.sum(F.when(F.col("variant") == 0, F.col("conv"))), F.lit(0))
        ).alias("a_c"),
        (
            1
            + F.coalesce(F.sum(F.when(F.col("variant") == 0, 1 - F.col("conv"))), F.lit(0))
        ).alias("b_c"),
        F.coalesce(F.sum(F.when(F.col("variant") == 1, 1)), F.lit(0)).alias("n_t"),
        F.coalesce(F.sum(F.when(F.col("variant") == 0, 1)), F.lit(0)).alias("n_c"),
    )
    # the 9 lookups below each BROADCAST lf, and an unpersisted lf would be
    # re-derived (events scan + spine + window) once per broadcast — ~10x
    # wasted scan cost at the 100 TB shape (r8 review finding 7); it is
    # kept while the 1-row result is pinned (the graph_triangle_stats
    # convention)
    lf = _lf_table(
        spark, c.select((F.col("a_t") + F.col("b_t") + F.col("a_c") + F.col("b_c")).alias("m")), "m"
    )
    terms = c.select(
        "*", F.explode(F.sequence(F.lit(0), F.col("a_t") - 1)).alias("i")
    )

    def look(alias: str, key):
        nonlocal terms
        lft = F.broadcast(
            lf.select(F.col("j").alias(f"j_{alias}"), F.col("lf").alias(alias))
        )
        terms = terms.join(lft, key == F.col(f"j_{alias}")).drop(f"j_{alias}")
        return F.col(alias)

    l1 = look("l1", F.col("a_c") + F.col("i") - 1)
    l2 = look("l2", F.col("b_c") + F.col("b_t") - 1)
    l3 = look("l3", F.col("a_c") + F.col("b_c") + F.col("b_t") + F.col("i") - 1)
    l4 = look("l4", F.col("i"))
    l5 = look("l5", F.col("b_t") - 1)
    l6 = look("l6", F.col("i") + F.col("b_t"))
    l7 = look("l7", F.col("a_c") - 1)
    l8 = look("l8", F.col("b_c") - 1)
    l9 = look("l9", F.col("a_c") + F.col("b_c") - 1)
    lnterm = (
        (l1 + l2 - l3)
        - F.log(F.col("b_t") + F.col("i"))
        - (l4 + l5 - l6)
        - (l7 + l8 - l9)
    )
    p = terms.agg(F.sum(F.exp(lnterm)).alias("p"))
    out = c.crossJoin(F.broadcast(p)).select(
        F.col("n_c").cast("long").alias("n_ctrl"),
        (F.col("a_c") - 1).cast("long").alias("conv_ctrl"),
        F.col("n_t").cast("long").alias("n_treat"),
        (F.col("a_t") - 1).cast("long").alias("conv_treat"),
        F.round(
            F.try_divide(F.col("a_c"), 1.0 * (F.col("a_c") + F.col("b_c"))), 6
        ).alias("post_mean_ctrl"),
        F.round(
            F.try_divide(F.col("a_t"), 1.0 * (F.col("a_t") + F.col("b_t"))), 6
        ).alias("post_mean_treat"),
        F.round(F.col("p"), 6).alias("p_treat_beats_ctrl"),
    )
    with persisting() as keep:
        keep(lf)
        return pin(out)


# --- exact binomial tails + Benjamini–Hochberg -------------------------------

_FDR_Q = 0.25  # BH false-discovery-rate level
_FDR_CENTS_GT = 5000  # "success" = event value above 50.00

STAT_BINOM_FDR_ORACLE = (
    "WITH g AS ("
    "  SELECT event_type, count(*) AS n, "
    f"  sum(CASE WHEN {money_cents_sql('value')} > {_FDR_CENTS_GT} THEN 1 ELSE 0 END) AS k"
    "  FROM events GROUP BY event_type"
    "), pool AS ("
    "  SELECT sum(n) AS nn, sum(k) AS kk FROM g"
    "), lf AS ("
    + _LF_SQL.format(m="CAST((SELECT max(n) FROM g) AS BIGINT)")
    + "), terms AS ("
    "  SELECT g.event_type, g.n, g.k, "
    # j=0 / j=n boundary terms would evaluate 0·ln(0) (NaN) when the pooled
    # rate is degenerate — guard each factor so boundaries contribute 0.
    # The ln ARGUMENTS are additionally nullif-guarded: with kk=0 (or
    # kk=nn) every j>0 (j<n) row must evaluate ln(0), which DuckDB raises
    # as OutOfRange where Spark's F.log yields NULL (r8 review finding 6);
    # ln(nullif(0)) is NULL on both engines, the NULL lnterm drops out of
    # the NULL-skipping sum, and the surviving boundary term gives the
    # mathematically exact p=1.
    "  ln0.lf - lj.lf - lnj.lf "
    "    + CASE WHEN j.j > 0 THEN j.j * ln(nullif((SELECT kk FROM pool) "
    "          / (1.0 * (SELECT nn FROM pool)), 0)) ELSE 0.0 END "
    "    + CASE WHEN g.n > j.j THEN (g.n - j.j) "
    "          * ln(nullif(((SELECT nn FROM pool) - (SELECT kk FROM pool)) "
    "               / (1.0 * (SELECT nn FROM pool)), 0)) ELSE 0.0 END AS lnterm"
    "  FROM g, LATERAL (SELECT unnest(generate_series(CAST(g.k AS BIGINT), CAST(g.n AS BIGINT))) AS j) j "
    "  JOIN lf ln0 ON ln0.j = g.n "
    "  JOIN lf lj ON lj.j = j.j "
    "  JOIN lf lnj ON lnj.j = g.n - j.j"
    "), pv AS ("
    "  SELECT event_type, CAST(max(n) AS BIGINT) AS n, CAST(max(k) AS BIGINT) AS k, "
    "  round(sum(exp(lnterm)), 6) AS p_value"
    "  FROM terms GROUP BY event_type"
    "), r AS ("
    "  SELECT *, row_number() OVER (ORDER BY p_value, event_type) AS rank, "
    "  count(*) OVER () AS m FROM pv"
    "), kx AS ("
    f"  SELECT max(CASE WHEN p_value <= {_FDR_Q} * rank / m THEN rank END) "
    "  OVER () AS kmax, * FROM r"
    ") SELECT event_type, n, k, p_value, CAST(rank AS BIGINT) AS rank, "
    "coalesce(rank <= kmax, FALSE) AS rejected FROM kx"
)


def stat_binom_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group EXACT binomial upper-tail p-values with Benjamini–Hochberg
    FDR control: does any event type's rate of high-value events exceed the
    POOLED rate? p_g = P(X ≥ k_g | n_g, p̂₀) = Σ_{j=k}^{n} C(n,j) p̂₀ʲ(1−p̂₀)ⁿ⁻ʲ
    — computed exactly in log space from the shared log-factorial prefix
    table (no normal approximation, no incomplete-beta library), then the
    BH step-up across the m-hypothesis family: reject ranks ≤ max{i : p_(i)
    ≤ q·i/m} at q = 0.25.

    Every BH comparison happens on the 6-dp ROUNDED p-values and exact
    integer ranks, so the discovery set is identical cross-engine. Ties in
    p break by event_type.

    Scale: the tail sums are Σ_g (n_g − k_g + 1) terms — bounded by
    per-group TRIAL counts; for n beyond ~10⁶ a production caller switches
    to the normal tail bound, but the exact path is the point here. The
    family table (one row per group) is window-ranked at |groups| rows —
    the type vocabulary, a constant."""
    cents = money_cents(F.col("value"))
    g = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(cents > _FDR_CENTS_GT, 1).otherwise(0)).alias("k"),
        )
    )
    pool = g.agg(F.sum("n").alias("nn"), F.sum("k").alias("kk"))
    # 3 broadcast lookups below — keep lf so the spine is derived once,
    # released after the bounded family table is pinned (the
    # event_ab_bayes convention, r8 review finding 7)
    lf = _lf_table(spark, g.agg(F.max("n").alias("m")), "m")
    lnp = F.log(F.col("kk") / (1.0 * F.col("nn")))
    lnq = F.log((F.col("nn") - F.col("kk")) / (1.0 * F.col("nn")))
    terms = (
        g.crossJoin(F.broadcast(pool))
        .select(
            "event_type",
            "n",
            "k",
            lnp.alias("lnp"),
            lnq.alias("lnq"),
            F.explode(F.sequence(F.col("k"), F.col("n"))).alias("j"),
        )
    )
    lfb = lambda alias: F.broadcast(  # noqa: E731
        lf.select(F.col("j").alias(f"jj_{alias}"), F.col("lf").alias(alias))
    )
    terms = (
        terms.join(lfb("ln0"), F.col("n") == F.col("jj_ln0")).drop("jj_ln0")
        .join(lfb("lj"), F.col("j") == F.col("jj_lj")).drop("jj_lj")
        .join(lfb("lnj"), (F.col("n") - F.col("j")) == F.col("jj_lnj")).drop("jj_lnj")
    )
    lnterm = (
        F.col("ln0")
        - F.col("lj")
        - F.col("lnj")
        + F.when(F.col("j") > 0, F.col("j") * F.col("lnp")).otherwise(0.0)
        + F.when(
            F.col("n") > F.col("j"), (F.col("n") - F.col("j")) * F.col("lnq")
        ).otherwise(0.0)
    )
    pv = terms.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n"),
        F.max("k").cast("long").alias("k"),
        F.round(F.sum(F.exp(lnterm)), 6).alias("p_value"),
    )
    wall = Window.orderBy("p_value", "event_type")
    r = pv.select(
        "*",
        F.row_number().over(wall).alias("rank"),
        F.count("*").over(
            Window.partitionBy()  # whole (tiny) family
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).alias("m"),
    )
    wk = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    kx = r.select(
        "*",
        F.max(
            F.when(
                F.col("p_value") <= _FDR_Q * F.col("rank") / F.col("m"),
                F.col("rank"),
            )
        )
        .over(wk)
        .alias("kmax"),
    )
    out = kx.select(
        "event_type",
        "n",
        "k",
        "p_value",
        F.col("rank").cast("long").alias("rank"),
        F.coalesce(F.col("rank") <= F.col("kmax"), F.lit(False)).alias("rejected"),
    )
    with persisting() as keep:
        keep(lf)
        return pin(out)


# --- dev-compare case table (consumed by tests/test_staged_r11.py) ------------

DEV_CASES = [
    ("event_did", event_did, EVENT_DID_ORACLE),
    ("sim_hamming_topk", sim_hamming_topk, SIM_HAMMING_TOPK_ORACLE),
    ("join_bloom", join_bloom, JOIN_BLOOM_ORACLE),
    ("geo_radius_join", geo_radius_join, GEO_RADIUS_JOIN_ORACLE),
    ("event_ab_bayes", event_ab_bayes, EVENT_AB_BAYES_ORACLE),
    ("stat_binom_fdr", stat_binom_fdr, STAT_BINOM_FDR_ORACLE),
    ("sample_reservoir", sample_reservoir, SAMPLE_RESERVOIR_ORACLE),
    ("stat_ols_multi", stat_ols_multi, STAT_OLS_MULTI_ORACLE),
    ("graph_adamic_adar", graph_adamic_adar, GRAPH_ADAMIC_ADAR_ORACLE),
    ("pipeline_token_budget", pipeline_token_budget, PIPELINE_TOKEN_BUDGET_ORACLE),
    ("event_interpolate", event_interpolate, EVENT_INTERPOLATE_ORACLE),
    ("stat_welch_ttest", stat_welch_ttest, STAT_WELCH_TTEST_ORACLE),
    (
        "event_audience_overlap",
        event_audience_overlap,
        EVENT_AUDIENCE_OVERLAP_ORACLE,
    ),
    ("win_rolling_slope", win_rolling_slope, WIN_ROLLING_SLOPE_ORACLE),
    ("event_changepoint", event_changepoint, EVENT_CHANGEPOINT_ORACLE),
]
