"""Correlation / randomness / feature-engineering wave (registered since
round 8). Like every ``staged_r*`` module with ``DEV_CASES``, it registers
itself on import: the package root registers each ``(key, fn, oracle)``
entry. tests/test_oracle_parity.py runs the fn-vs-DuckDB compare;
tests/test_staged_r13.py holds the independent property checks.

Contents:

- ``stat_spearman`` — Spearman rank correlation between two DAY-GRAIN
  metrics (daily click volume vs daily purchase revenue) with exact
  integer midranks — "does engagement predict revenue?" robust to any
  monotone transformation.
- ``stat_runs_test`` — Wald–Wolfowitz runs test for randomness of the
  daily-revenue above/below-median sequence per event type (trend and
  oscillation both shrink the run count).
- ``stat_effect_size`` — Cohen's d, Hedges' g, and Glass's Δ between two
  event populations — the practical-significance companion to
  stat_welch_ttest's p-machinery.
- ``dq_benford`` — first-significant-digit census vs Benford's law with a
  χ² deviation score — the classic fabricated-data / unit-mixing screen.
- ``event_lag_features`` — the lag/rolling feature frame (lag-1, lag-7,
  pct-change, trailing-7 mean) every forecasting pipeline materializes
  from a day-grain series.
- ``scan_text_gzip`` — gzip-compressed text ingest round trip (write
  tab-framed lines with gzip codec, re-read and reconcile against the
  source table), documenting the unsplittable-codec caveat.
- ``join_asof_nearest`` — nearest-in-time join (argmin |Δt|), the
  bidirectional sibling of join_asof's backward-looking match, as the
  same map-side-combining struct-extremum aggregate.

Exactness doctrine: unchanged — integer/decimal(38) accumulations, single
double expressions rounded ≤6 dp, winners picked on exact integers
(doubled midranks, µs deltas) only.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.loader import load_table, ts_day, ts_us
from .exact import floor_day_us_sql, money_cents, money_cents_sql

_D38 = "decimal(38,0)"

# --- Spearman rank correlation (day grain) -----------------------------------

STAT_SPEARMAN_ORACLE = (
    "WITH g AS ("
    f"  SELECT {floor_day_us_sql()} AS day, "
    "  sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x, "
    f"  sum(CASE WHEN event_type = 'purchase' THEN {money_cents_sql('value')} "
    "      ELSE 0 END) AS y"
    "  FROM events GROUP BY 1"
    "), r AS ("
    # doubled midrank keeps ranks INTEGER under ties: 2r = 2·rank + ties − 1
    "  SELECT day, "
    "  2 * rank() OVER (ORDER BY x) + count(*) OVER (PARTITION BY x) - 1 AS rx, "
    "  2 * rank() OVER (ORDER BY y) + count(*) OVER (PARTITION BY y) - 1 AS ry"
    "  FROM g"
    "), s AS ("
    "  SELECT CAST(count(*) AS HUGEINT) AS n, "
    "  CAST(sum(rx) AS HUGEINT) AS sx, CAST(sum(ry) AS HUGEINT) AS sy, "
    "  CAST(sum(CAST(rx AS HUGEINT) * ry) AS HUGEINT) AS sxy, "
    "  CAST(sum(CAST(rx AS HUGEINT) * rx) AS HUGEINT) AS sxx, "
    "  CAST(sum(CAST(ry AS HUGEINT) * ry) AS HUGEINT) AS syy"
    "  FROM r"
    ") SELECT CAST(n AS BIGINT) AS n_days, "
    "round(CAST(n * sxy - sx * sy AS DOUBLE) "
    "    / nullif(sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) "
    "           * sqrt(CAST(n * syy - sy * sy AS DOUBLE)), 0), 6) AS rho "
    "FROM s"
)


def stat_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between daily click volume and daily
    purchase revenue — "does engagement predict spend?" measured on RANKS,
    so any monotone distortion of either metric (log traffic, price
    changes) leaves ρ untouched; the robust sibling of stat_corr_matrix's
    Pearson entries.

    Exactness: midranks are kept INTEGER by working with 2·midrank =
    2·rank + |ties| − 1 (the ½s never materialize), so all five Pearson
    sufficient statistics over ranks accumulate exactly in
    decimal(38)/HUGEINT and ρ is one double expression, rounded 6 dp —
    tie handling included, bit-identical cross-engine.

    Scale: the ranking windows run over the DAY-GRAIN series (bounded by
    the calendar span — ~3650 rows a decade — at any corpus size), after a
    single map-side-combining aggregate absorbs the event volume. For
    ranking row-grain metrics instead, the value-histogram prefix
    machinery (stat_auc) substitutes; day grain is the honest shape here."""
    g = (
        load_table(spark, sf_dir, "events")
        .groupBy(ts_day("ts").alias("day"))
        .agg(
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias(
                "x"
            ),
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    money_cents(F.col("value")),
                ).otherwise(0)
            ).alias("y"),
        )
    )
    rx = (
        2 * F.rank().over(Window.orderBy("x"))
        + F.count("*").over(Window.partitionBy("x"))
        - 1
    )
    ry = (
        2 * F.rank().over(Window.orderBy("y"))
        + F.count("*").over(Window.partitionBy("y"))
        - 1
    )
    r = g.select(rx.alias("rx"), ry.alias("ry"))
    s = r.agg(
        F.count("*").cast(_D38).alias("n"),
        F.sum("rx").cast(_D38).alias("sx"),
        F.sum("ry").cast(_D38).alias("sy"),
        F.sum(F.col("rx").cast(_D38) * F.col("ry")).alias("sxy"),
        F.sum(F.col("rx").cast(_D38) * F.col("rx")).alias("sxx"),
        F.sum(F.col("ry").cast(_D38) * F.col("ry")).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    num = (n * F.col("sxy") - sx * sy).cast("double")
    dx = F.sqrt((n * F.col("sxx") - sx * sx).cast("double"))
    dy = F.sqrt((n * F.col("syy") - sy * sy).cast("double"))
    return s.select(
        n.cast("long").alias("n_days"),
        F.round(F.try_divide(num, F.nullif(dx * dy, F.lit(0.0))), 6).alias("rho"),
    )


# --- Wald–Wolfowitz runs test -------------------------------------------------

STAT_RUNS_TEST_ORACLE = (
    "WITH g AS ("
    f"  SELECT event_type, {floor_day_us_sql()} AS day, "
    f"  CAST(sum({money_cents_sql('value')}) AS BIGINT) AS yc"
    "  FROM events GROUP BY 1, 2"
    "), m AS ("
    "  SELECT event_type, quantile_cont(yc, 0.5) AS med FROM g GROUP BY 1"
    "), s AS ("
    # days equal to the median are excluded (the standard convention)
    "  SELECT g.event_type, g.day, CASE WHEN g.yc > m.med THEN 1 ELSE 0 END AS up"
    "  FROM g JOIN m ON m.event_type = g.event_type WHERE g.yc <> m.med"
    "), f AS ("
    "  SELECT event_type, up, CASE WHEN up <> lag(up) OVER "
    "      (PARTITION BY event_type ORDER BY day) THEN 1 ELSE 0 END AS flip"
    "  FROM s"
    "), runs AS ("
    "  SELECT event_type, "
    "  CAST(sum(up) AS BIGINT) AS n1, CAST(sum(1 - up) AS BIGINT) AS n2, "
    "  CAST(1 + sum(flip) AS BIGINT) AS r"
    "  FROM f GROUP BY event_type"
    ") SELECT event_type, n1, n2, r, "
    "round((r - (2.0 * n1 * n2 / (n1 + n2) + 1)) "
    "    / nullif(sqrt((2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)) "
    "        / ((n1 + n2) * (n1 + n2) * 1.0 * (n1 + n2 - 1))), 0), 4) AS z "
    "FROM runs"
)


def stat_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test per event type: is the daily-revenue
    above/below-median sequence random? Too FEW runs ⇒ trend/regime
    persistence, too MANY ⇒ oscillation — the nonparametric randomness
    screen that needs no distributional assumption, complementing
    event_changepoint's single-shift locator.

    Median-equal days are excluded (the standard convention); the run
    count is an exact integer from a partition-scoped lag over the
    day-grain series; z = (R − μ_R)/σ_R with the closed-form two-type
    moments, one double expression rounded 4 dp. The median interpolates
    identically cross-engine (quantile_cont ≡ F.median, the
    agg_percentile-verified parity).

    Scale: day-grain aggregate absorbs event volume; everything after
    runs over series-length rows per type."""
    g = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", ts_day("ts").alias("day"))
        .agg(F.sum(money_cents(F.col("value"))).alias("yc"))
    )
    m = g.groupBy("event_type").agg(F.median("yc").alias("med"))
    s = (
        g.join(F.broadcast(m), "event_type")
        .filter(F.col("yc") != F.col("med"))
        .select(
            "event_type",
            "day",
            F.when(F.col("yc") > F.col("med"), 1).otherwise(0).alias("up"),
        )
    )
    wl = Window.partitionBy("event_type").orderBy("day")
    flips = s.select(
        "event_type",
        "up",
        F.when(F.col("up") != F.lag("up").over(wl), 1).otherwise(0).alias("flip"),
    )
    runs = flips.groupBy("event_type").agg(
        F.sum("up").cast("long").alias("n1"),
        F.sum(1 - F.col("up")).cast("long").alias("n2"),
        (1 + F.sum("flip")).cast("long").alias("r"),
    )
    n1, n2, r = F.col("n1"), F.col("n2"), F.col("r")
    mu = 2.0 * n1 * n2 / (n1 + n2) + 1
    var = (2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)) / (
        (n1 + n2) * (n1 + n2) * 1.0 * (n1 + n2 - 1)
    )
    return runs.select(
        "event_type",
        "n1",
        "n2",
        "r",
        F.round(F.try_divide(r - mu, F.nullif(F.sqrt(var), F.lit(0.0))), 4).alias(
            "z"
        ),
    )


# --- effect sizes -------------------------------------------------------------

_EFF_A, _EFF_B = "purchase", "view"

STAT_EFFECT_SIZE_ORACLE = (
    "WITH s AS ("
    "  SELECT event_type AS grp, count(*) AS n, "
    f"  CAST(sum({money_cents_sql('value')}) AS BIGINT) AS sc, "
    f"  CAST(sum(CAST({money_cents_sql('value')} AS HUGEINT) "
    f"           * {money_cents_sql('value')}) AS HUGEINT) AS sq"
    f"  FROM events WHERE event_type IN ('{_EFF_A}', '{_EFF_B}')"
    "  GROUP BY event_type"
    "), w AS ("
    f"  SELECT max(CASE WHEN grp = '{_EFF_A}' THEN n END) AS na, "
    f"  max(CASE WHEN grp = '{_EFF_B}' THEN n END) AS nb, "
    f"  max(CASE WHEN grp = '{_EFF_A}' THEN sc END) AS sa, "
    f"  max(CASE WHEN grp = '{_EFF_B}' THEN sc END) AS sb, "
    f"  max(CASE WHEN grp = '{_EFF_A}' THEN sq END) AS qa, "
    f"  max(CASE WHEN grp = '{_EFF_B}' THEN sq END) AS qb"
    "  FROM s"
    "), v AS ("
    "  SELECT na, nb, sa, sb, "
    "  (CAST(qa AS DOUBLE) - CAST(CAST(sa AS HUGEINT) * sa AS DOUBLE) / na) "
    "      / (na - 1.0) AS va, "
    "  (CAST(qb AS DOUBLE) - CAST(CAST(sb AS HUGEINT) * sb AS DOUBLE) / nb) "
    "      / (nb - 1.0) AS vb"
    "  FROM w"
    ") SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b, "
    "round((sa / (1.0 * na) - sb / (1.0 * nb)) "
    "    / nullif(sqrt(((na - 1.0) * va + (nb - 1.0) * vb) / (na + nb - 2.0)), 0), "
    "    4) AS cohens_d, "
    "round((sa / (1.0 * na) - sb / (1.0 * nb)) "
    "    / nullif(sqrt(((na - 1.0) * va + (nb - 1.0) * vb) / (na + nb - 2.0)), 0) "
    "    * (1.0 - 3.0 / (4.0 * (na + nb) - 9.0)), 4) AS hedges_g, "
    "round((sa / (1.0 * na) - sb / (1.0 * nb)) / nullif(sqrt(vb), 0), 4) AS glass_delta "
    "FROM v"
)


def stat_effect_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standardized effect sizes between two event populations: Cohen's d
    (pooled SD), Hedges' g (small-sample bias correction 1 − 3/(4N−9)),
    and Glass's Δ (control-group SD) — the practical-significance numbers
    a read-out needs BESIDE stat_welch_ttest's p-values (a tiny p with
    d ≈ 0.02 ships nothing).

    Exactness: the same (n, Σc, Σc²) integer sufficient statistics as the
    t-test; each effect size is one double expression over them (cents
    scale cancels in every ratio), rounded 4 dp. Degenerate inputs yield
    NULL via try_divide/nullif.

    Scale: one filtered partial-agg scan to 2 rows; arithmetic after."""
    cents = money_cents(F.col("value"))
    s = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin(_EFF_A, _EFF_B))
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
        cell("n", _EFF_A).alias("na"),
        cell("n", _EFF_B).alias("nb"),
        cell("sc", _EFF_A).alias("sa"),
        cell("sc", _EFF_B).alias("sb"),
        cell("sq", _EFF_A).alias("qa"),
        cell("sq", _EFF_B).alias("qb"),
    )

    def var(q: str, s_: str, n: str):
        return F.try_divide(
            F.col(q).cast("double")
            - F.try_divide(
                (F.col(s_).cast(_D38) * F.col(s_)).cast("double"),
                F.col(n).cast("double"),
            ),
            F.col(n) - F.lit(1.0),
        )

    va, vb = var("qa", "sa", "na"), var("qb", "sb", "nb")
    diff = F.try_divide(F.col("sa"), 1.0 * F.col("na")) - F.try_divide(
        F.col("sb"), 1.0 * F.col("nb")
    )
    sp = F.sqrt(
        F.try_divide(
            (F.col("na") - F.lit(1.0)) * va + (F.col("nb") - F.lit(1.0)) * vb,
            F.col("na") + F.col("nb") - F.lit(2.0),
        )
    )
    d = F.try_divide(diff, F.nullif(sp, F.lit(0.0)))
    j = F.lit(1.0) - F.lit(3.0) / (4.0 * (F.col("na") + F.col("nb")) - F.lit(9.0))
    return w.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.round(d, 4).alias("cohens_d"),
        F.round(d * j, 4).alias("hedges_g"),
        F.round(
            F.try_divide(diff, F.nullif(F.sqrt(vb), F.lit(0.0))), 4
        ).alias("glass_delta"),
    )


# --- Benford first-digit screen ----------------------------------------------

DQ_BENFORD_ORACLE = (
    "WITH d AS ("
    f"  SELECT CAST(substr(CAST({money_cents_sql('value')} AS VARCHAR), 1, 1) "
    "      AS BIGINT) AS digit"
    f"  FROM events WHERE {money_cents_sql('value')} > 0"
    "), h AS ("
    "  SELECT digit, count(*) AS n_obs FROM d GROUP BY digit"
    "), t AS (SELECT sum(n_obs) AS n FROM h), "
    "b AS ("
    "  SELECT h.digit, h.n_obs, t.n, log10(1.0 + 1.0 / h.digit) AS p_benford"
    "  FROM h CROSS JOIN t"
    ") SELECT digit, CAST(n_obs AS BIGINT) AS n_obs, "
    "round(n_obs / (1.0 * n), 6) AS obs_share, "
    "round(p_benford, 6) AS benford_share, "
    "round((SELECT sum((b2.n_obs - b2.n * log10(1.0 + 1.0 / b2.digit)) "
    "    * (b2.n_obs - b2.n * log10(1.0 + 1.0 / b2.digit)) "
    "    / (b2.n * log10(1.0 + 1.0 / b2.digit))) FROM b b2), 4) AS chi2_total "
    "FROM b"
)


def dq_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit census against Benford's law with the χ²
    deviation — the classic screen for fabricated, unit-mixed, or
    truncated numeric columns (natural multi-scale data follows
    P(d) = log₁₀(1+1/d)). The fixture's value column spans several decades
    and approximately CONFORMS (χ² ≈ 8.4 at sf0.001); truncating it at a
    floor destroys scale-invariance and the χ² jumps ~18× — the test pins
    both directions of the discrimination.

    The leading digit comes from the integer-cents STRING — no float
    log₁₀ touches the digit extraction, so the classification is exact on
    both engines; shares and χ² are double expressions over exact counts,
    rounded. The χ² total repeats on each digit row (one frame, two
    grains — the pipeline_corpus_report convention).

    Scale: digit histogram = one map-side-combining aggregate to ≤ 9
    rows. Nothing else."""
    cents = money_cents(F.col("value"))
    d = (
        load_table(spark, sf_dir, "events")
        .filter(cents > 0)
        .select(F.substring(cents.cast("string"), 1, 1).cast("long").alias("digit"))
    )
    h = d.groupBy("digit").agg(F.count("*").alias("n_obs"))
    t = h.agg(F.sum("n_obs").alias("n"))
    b = h.crossJoin(F.broadcast(t))
    pb = F.log10(1.0 + F.try_divide(F.lit(1.0), F.col("digit")))
    expd = F.col("n") * pb
    chi = b.agg(
        F.round(
            F.sum((F.col("n_obs") - expd) * (F.col("n_obs") - expd) / expd), 4
        ).alias("chi2_total")
    )
    return b.crossJoin(F.broadcast(chi)).select(
        "digit",
        F.col("n_obs").cast("long").alias("n_obs"),
        F.round(F.try_divide(F.col("n_obs"), 1.0 * F.col("n")), 6).alias(
            "obs_share"
        ),
        F.round(pb, 6).alias("benford_share"),
        "chi2_total",
    )


# --- lag/rolling feature frame ------------------------------------------------

EVENT_LAG_FEATURES_ORACLE = (
    "WITH g AS ("
    f"  SELECT event_type, {floor_day_us_sql()} AS day, "
    f"  CAST(sum({money_cents_sql('value')}) AS BIGINT) AS yc"
    "  FROM events GROUP BY 1, 2"
    ") SELECT event_type, day, round(yc / 100.0, 6) AS y, "
    "round(lag(yc, 1) OVER w / 100.0, 6) AS lag_1, "
    "round(lag(yc, 7) OVER w / 100.0, 6) AS lag_7, "
    "round((yc - lag(yc, 1) OVER w) / (1.0 * nullif(lag(yc, 1) OVER w, 0)), 6) "
    "  AS pct_change_1, "
    "round(avg(yc) OVER (PARTITION BY event_type ORDER BY day "
    "  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) / 100.0, 6) AS roll7_mean "
    "FROM g WINDOW w AS (PARTITION BY event_type ORDER BY day)"
)


def event_lag_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lag/rolling feature frame a forecasting or anomaly model trains
    on: per (type, day) — the value, lag-1, lag-7 (same weekday), percent
    change, and the trailing-7 mean. Materializing exactly this frame is
    the feature-engineering step between the raw event stream and any
    autoregressive model.

    Exactness: all lags move exact integer cents; pct-change and the
    rolling mean are single double expressions rounded 6 dp (avg over an
    integer ROWS frame divides the exact windowed sum by the exact count
    on both engines). Leading rows yield NULL lags verbatim.

    Scale: one day-grain aggregate, then partition-scoped windows over
    series-length rows per type. The feature frame is day-grain — tiny —
    regardless of event volume."""
    g = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", ts_day("ts").alias("day"))
        .agg(F.sum(money_cents(F.col("value"))).alias("yc"))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    w7 = w.rowsBetween(-6, 0)
    l1 = F.lag("yc", 1).over(w)
    return g.select(
        "event_type",
        "day",
        F.round(F.col("yc") / 100.0, 6).alias("y"),
        F.round(l1 / 100.0, 6).alias("lag_1"),
        F.round(F.lag("yc", 7).over(w) / 100.0, 6).alias("lag_7"),
        F.round(
            F.try_divide(F.col("yc") - l1, 1.0 * F.nullif(l1, F.lit(0))), 6
        ).alias("pct_change_1"),
        F.round(F.avg("yc").over(w7) / 100.0, 6).alias("roll7_mean"),
    )


# --- gzip text ingest round trip ---------------------------------------------

SCAN_TEXT_GZIP_ORACLE = (
    "SELECT CAST(count(*) AS BIGINT) AS n_lines, "
    "CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs, "
    "CAST(sum(length(text)) AS BIGINT) AS sum_text_chars "
    "FROM documents"
)


def scan_text_gzip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gzip-compressed text ingest round trip: frame each document as a
    ``doc_id\\ttext`` line, write with the gzip codec, re-read through the
    text source (which decompresses by extension transparently), re-split,
    and reconcile counts/lengths against the source table — the
    compressed-log ingest path (server logs, WET dumps) exercised end to
    end.

    The tab framing is safe here (the corpus is tab-free — asserted in
    tests) and split with ``limit=2`` so any future tab in text would
    corrupt visibly, not silently.

    Scale caveat the docstring exists to carry: gzip is NOT splittable —
    one .gz file = one task regardless of size. Production layouts shard
    into many ≤128 MB .gz files (as this writer's per-partition files do
    naturally) or use a splittable codec (bzip2, or zstd with seekable
    framing); the READ path here is identical either way."""
    d = load_table(spark, sf_dir, "documents")
    from .staged_r12 import _stage_dir

    out = _stage_dir("pmrwc_gz", sf_dir) + "/docs"
    d.select(
        F.concat_ws("\t", F.col("doc_id").cast("string"), F.col("text")).alias(
            "value"
        )
    ).write.mode("overwrite").option("compression", "gzip").text(out)
    back = spark.read.text(out).select(
        F.split(F.col("value"), "\t", 2).alias("parts")
    )
    return back.select(
        F.element_at(F.col("parts"), 1).cast("long").alias("doc_id"),
        F.element_at(F.col("parts"), 2).alias("text"),
    ).agg(
        F.count("*").alias("n_lines"),
        F.count_distinct(F.col("doc_id")).alias("n_docs"),
        F.sum(F.length("text")).alias("sum_text_chars"),
    )


# --- nearest-in-time join -----------------------------------------------------

JOIN_ASOF_NEAREST_ORACLE = (
    "WITH j AS ("
    "  SELECT e.event_id, e.user_id, o.o_orderkey, "
    "  abs(epoch_ns(e.ts) // 1000 - epoch_ns(o.o_orderdate) // 1000) AS du"
    "  FROM events e JOIN orders o ON o.o_custkey = e.user_id"
    "), m AS ("
    "  SELECT event_id, user_id, o_orderkey, du, row_number() OVER ("
    "    PARTITION BY event_id ORDER BY du, o_orderkey) AS rn"
    "  FROM j"
    ") SELECT event_id, user_id, o_orderkey AS nearest_orderkey, "
    "CAST(du AS BIGINT) AS abs_us "
    "FROM m WHERE rn = 1"
)


def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-in-time join: for each event, the user's order CLOSEST in
    absolute time — the bidirectional sibling of join_asof's
    backward-looking match (sensor alignment, trade-vs-quote pairing use
    exactly this form when staleness can run either direction).

    Same scale shape as join_asof: equi-join on the user key, then an
    argmin per event as ``min(struct(|Δt|, orderkey))`` — the
    lexicographic struct minimum IS (smallest gap, lowest orderkey
    tiebreak) and partially aggregates map-side, so only one row per
    event leaves each task. |Δt| is exact integer MICROSECONDS (ts_us on
    both engines), so the winner is never picked by a float.

    Scale: one shuffle keyed by user; fan-out = orders per user."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", ts_us("ts").alias("eus")
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", ts_us("o_orderdate").alias("ous")
    )
    j = e.join(o, o["o_custkey"] == e["user_id"]).select(
        "event_id",
        "user_id",
        "o_orderkey",
        F.abs(F.col("eus") - F.col("ous")).alias("du"),
    )
    return (
        j.groupBy("event_id", "user_id")
        .agg(F.min(F.struct("du", "o_orderkey")).alias("b"))
        .select(
            "event_id",
            "user_id",
            F.col("b.o_orderkey").alias("nearest_orderkey"),
            F.col("b.du").cast("long").alias("abs_us"),
        )
    )


DEV_CASES = [
    ("stat_spearman", stat_spearman, STAT_SPEARMAN_ORACLE),
    ("stat_runs_test", stat_runs_test, STAT_RUNS_TEST_ORACLE),
    ("stat_effect_size", stat_effect_size, STAT_EFFECT_SIZE_ORACLE),
    ("dq_benford", dq_benford, DQ_BENFORD_ORACLE),
    ("event_lag_features", event_lag_features, EVENT_LAG_FEATURES_ORACLE),
    ("scan_text_gzip", scan_text_gzip, SCAN_TEXT_GZIP_ORACLE),
    ("join_asof_nearest", join_asof_nearest, JOIN_ASOF_NEAREST_ORACLE),
]
