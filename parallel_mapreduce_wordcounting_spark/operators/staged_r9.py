"""The statistics/data-quality operator wave — staged while the driver
verification window (first 50 ``queries()`` keys per round) was full, now
fully ``@register``-ed alongside staged_r8's wave (the post-r06 window had
49 spare slots). tests/test_staged_r9.py additionally runs the same
fn-vs-DuckDB compare the registry harness applies, at sf0.001 AND sf0.01.

Contents (25 ops — the statistics/data-quality wave):

- ``stat_linreg`` — per-group simple OLS (slope/intercept/r²) from exact
  integer sufficient statistics.
- ``stat_corr_matrix`` — pairwise Pearson correlations of the lineitem
  numeric columns, long form, one scan.
- ``agg_skew_kurt`` — exact skewness/kurtosis from integer power sums.
- ``stat_ks_test`` — two-sample Kolmogorov–Smirnov D with NO global sort
  (bucketed distributed prefix-sum).
- ``agg_mad`` — exact median absolute deviation via the doubled-cents
  two-pass median.
- ``event_concurrency`` — peak concurrent open intervals per day (+1/−1
  boundary sweep).
- ``dq_expectations`` — Deequ-style data-quality assertion suite as one
  DataFrame (null/unique/FK/range/accepted-values checks).
- ``dedup_spans`` — cross-document duplicated k-token span registry
  (the span-level complement of dedup_lines).
- ``text_burstiness`` — per-word variance-to-mean ratio across documents
  (Church & Gale burstiness), exact integer moments.
- ``text_js_divergence`` — Jensen–Shannon divergence between every pair
  of source unigram distributions (corpus drift / mixture design).
- ``sim_threshold_sweep`` — near-dup pair counts at every candidate
  cosine cutoff from one thresholded GEMM pass.
- ``graph_triangle_stats`` — triangle census + clustering coefficient of
  the shared-duplicated-span document graph (clique vs chain duplication).
- ``text_fertility`` — BPE-ish tokens per whitespace word, by source
  (tokenizer/domain mismatch signal).
- ``stat_anova`` — one-way ANOVA F + η² across k groups from the same
  sufficient-statistics shape.
- ``pipeline_split_leakage`` — composed hash-split + 5-gram overlap:
  what fraction of val/test n-grams also occur in train.
- ``stat_chi2_independence`` — Pearson χ² of event type × ISO weekday
  (engine-independent epoch-day weekday).
- ``event_forecast_ewma`` — truncated EWMA of daily volume as an
  equi-join lag fan-out (no range join, no window sort).
- ``agg_hist2d`` — quantity × discount joint histogram over exact
  integer-cents bins.
- ``event_stickiness`` — DAU / trailing-30-day MAU via the same lag
  fan-out.
- ``stat_mann_whitney`` — rank-sum U + tie-corrected z with the same
  no-global-sort prefix-sum ranks.
- ``event_decay_score`` — recency-weighted per-user engagement value
  (exact integer day deltas and cents).
- ``event_time_to_convert`` — hours from first signup to first
  subsequent purchase per user.
- ``text_vocab_coverage`` — token coverage of the top-k vocabulary
  types (the tokenizer budget curve).
- ``agg_topk_share`` — revenue share of the top-k customers (the
  acted-on point on the concentration curve beside Gini).
- ``pipeline_corpus_report`` — one-row corpus health KPI summary
  (docs, dup rate, length, language share, source-mix entropy).

Exactness doctrine (same as the registered set): every driver-compared
number is either an int64/decimal(38) accumulation (order-independent,
engine-identical) or ONE double expression evaluated over identical
integer operands on both engines, rounded to ≤6 dp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..pins import persisting
from ..registry import register
from ..sources.loader import load_table, ts_day, ts_us
from .exact import floor_day_us_sql, money_cents, money_cents_sql

# --- per-group OLS regression -------------------------------------------------

STAT_LINREG_ORACLE = (
    "WITH s AS ("
    "  SELECT l_returnflag,"
    "    count(*) AS n,"
    f"   sum({money_cents_sql('l_quantity')}) AS sx,"
    f"   sum({money_cents_sql('l_extendedprice')}) AS sy,"
    f"   sum({money_cents_sql('l_quantity')} * {money_cents_sql('l_extendedprice')}) AS sxy,"
    f"   sum({money_cents_sql('l_quantity')} * {money_cents_sql('l_quantity')}) AS sxx,"
    f"   sum(CAST({money_cents_sql('l_extendedprice')} AS HUGEINT)"
    f"       * {money_cents_sql('l_extendedprice')}) AS syy"
    "  FROM lineitem GROUP BY l_returnflag"
    ") SELECT l_returnflag, CAST(n AS BIGINT) AS n, "
    "round(CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE), 6) AS slope, "
    "round((CAST(sy AS DOUBLE) - (CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE)) * CAST(sx AS DOUBLE)) / (100.0 * n), 6) AS intercept, "
    "round((CAST(n*sxy - sx*sy AS DOUBLE) * CAST(n*sxy - sx*sy AS DOUBLE)) / (CAST(n*sxx - sx*sx AS DOUBLE) * CAST(n*syy - sy*sy AS DOUBLE)), 6) AS r2 "
    "FROM s"
)


@register("stat_linreg", oracle=STAT_LINREG_ORACLE, tier="C")
def stat_linreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group simple linear regression (extendedprice ~ quantity per
    returnflag) computed from SUFFICIENT STATISTICS — the one-pass,
    map-side-combining shape that is the only OLS that scales: each
    partition reduces to six numbers (n, Σx, Σy, Σxy, Σx², Σy²), the
    shuffle moves |groups| rows, and slope/intercept/r² are closed-form
    driver-free arithmetic on the aggregate row.

    Exactness: x and y are integer cents (``money_cents``), so all six
    sums are exact integers (Σy² accumulates in decimal(38)/HUGEINT — at
    price cents ≤ 5·10⁷ the per-term square is ~2.5·10¹⁵ and int64 would
    overflow past ~3500 rows·groups⁻¹·SF); the n·Σxy − ΣxΣy combinations
    stay in decimal(38), and each reported stat is one double expression
    over those identical integers, rounded to 6 dp. avg/covar/corr
    built-ins would accumulate doubles in partition order and drift
    between engines.

    Scale: one scan, one partial-agg shuffle of 6 longs per group; no
    window, no second pass, no driver math on data-sized state."""
    li = load_table(spark, sf_dir, "lineitem")
    xc = money_cents(F.col("l_quantity"))
    yc = money_cents(F.col("l_extendedprice"))
    d38 = "decimal(38,0)"
    s = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(xc).alias("sx"),
        F.sum(yc).alias("sy"),
        F.sum(xc * yc).alias("sxy"),
        F.sum(xc * xc).alias("sxx"),
        F.sum((yc.cast(d38) * yc)).alias("syy"),
    )
    n38 = F.col("n").cast(d38)
    num = (n38 * F.col("sxy") - F.col("sx").cast(d38) * F.col("sy")).cast("double")
    den_x = (n38 * F.col("sxx") - F.col("sx").cast(d38) * F.col("sx")).cast("double")
    den_y = (n38 * F.col("syy") - F.col("sy").cast(d38) * F.col("sy")).cast("double")
    # try_divide, not /: ANSI mode (Spark 4 default) raises DIVIDE_BY_ZERO on
    # a zero denominator (a group with constant x or y), where the DuckDB
    # oracle's x/0 yields NULL — try_divide restores the NULL parity.
    slope = F.try_divide(num, den_x)
    return s.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n"),
        F.round(slope, 6).alias("slope"),
        F.round(
            (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
            / (F.lit(100.0) * F.col("n")),
            6,
        ).alias("intercept"),
        F.round(F.try_divide(num * num, den_x * den_y), 6).alias("r2"),
    )


# --- pairwise correlation matrix ---------------------------------------------

_CORR_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")

STAT_CORR_MATRIX_ORACLE = (
    "WITH s AS (SELECT count(*) AS n, "
    + ", ".join(
        f"sum({money_cents_sql(c)}) AS s{i}, "
        f"sum(CAST({money_cents_sql(c)} AS HUGEINT) * {money_cents_sql(c)}) AS q{i}"
        for i, c in enumerate(_CORR_COLS)
    )
    + ", "
    + ", ".join(
        f"sum(CAST({money_cents_sql(a)} AS HUGEINT) * {money_cents_sql(b)}) AS p{i}_{j}"
        for i, a in enumerate(_CORR_COLS)
        for j, b in enumerate(_CORR_COLS)
        if i < j
    )
    + " FROM lineitem) "
    + " UNION ALL ".join(
        f"SELECT '{a}' AS col_a, '{b}' AS col_b, "
        f"round(CAST(n*p{i}_{j} - s{i}*s{j} AS DOUBLE) / "
        f"(sqrt(CAST(n*q{i} - s{i}*s{i} AS DOUBLE)) * sqrt(CAST(n*q{j} - s{j}*s{j} AS DOUBLE))), 6) AS corr "
        f"FROM s"
        for i, a in enumerate(_CORR_COLS)
        for j, b in enumerate(_CORR_COLS)
        if i < j
    )
)


@register("stat_corr_matrix", oracle=STAT_CORR_MATRIX_ORACLE, tier="C")
def stat_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations of the four lineitem numeric columns
    in long form (col_a, col_b, corr) — the profiling matrix, computed in
    ONE scan: a single global aggregate produces every Σx, Σx², Σxy
    (4 + 4 + 6 = 14 integers), and the six correlations are expressions
    over that one row, exploded to long form DataFrame-side (no collect,
    no per-pair job — a naive ``df.stat.corr`` loop runs 6 scans).

    Exactness: same integer-cents sufficient statistics as
    :func:`stat_linreg`; each corr is one double expression over exact
    decimal(38)/HUGEINT combinations, 6 dp. Scale: the aggregate state is
    14 numbers regardless of row count; the explode runs on one row."""
    li = load_table(spark, sf_dir, "lineitem")
    d38 = "decimal(38,0)"
    cents = {c: money_cents(F.col(c)) for c in _CORR_COLS}
    aggs = [F.count("*").alias("n")]
    for i, c in enumerate(_CORR_COLS):
        aggs.append(F.sum(cents[c]).alias(f"s{i}"))
        aggs.append(F.sum(cents[c].cast(d38) * cents[c]).alias(f"q{i}"))
    pairs = [(i, j) for i in range(len(_CORR_COLS)) for j in range(len(_CORR_COLS)) if i < j]
    for i, j in pairs:
        aggs.append(
            F.sum(cents[_CORR_COLS[i]].cast(d38) * cents[_CORR_COLS[j]]).alias(f"p{i}_{j}")
        )
    s = li.agg(*aggs)
    n38 = F.col("n").cast(d38)

    def corr(i: int, j: int):
        num = (n38 * F.col(f"p{i}_{j}") - F.col(f"s{i}").cast(d38) * F.col(f"s{j}")).cast(
            "double"
        )
        di = (n38 * F.col(f"q{i}") - F.col(f"s{i}").cast(d38) * F.col(f"s{i}")).cast("double")
        dj = (n38 * F.col(f"q{j}") - F.col(f"s{j}").cast(d38) * F.col(f"s{j}")).cast("double")
        # try_divide: a zero-variance column must yield NULL (oracle x/0
        # semantics), not an ANSI DIVIDE_BY_ZERO abort
        return F.round(F.try_divide(num, F.sqrt(di) * F.sqrt(dj)), 6)

    rows = F.array(
        *[
            F.struct(
                F.lit(_CORR_COLS[i]).alias("col_a"),
                F.lit(_CORR_COLS[j]).alias("col_b"),
                corr(i, j).alias("corr"),
            )
            for i, j in pairs
        ]
    )
    return s.select(F.explode(rows).alias("r")).select("r.col_a", "r.col_b", "r.corr")


# --- exact skewness / kurtosis -----------------------------------------------

AGG_SKEW_KURT_ORACLE = (
    "WITH s AS ("
    "  SELECT l_returnflag, count(*) AS n,"
    "    sum(CAST(l_quantity AS BIGINT)) AS s1,"
    "    sum(CAST(l_quantity AS BIGINT)*CAST(l_quantity AS BIGINT)) AS s2,"
    "    sum(CAST(l_quantity AS BIGINT)*CAST(l_quantity AS BIGINT)*CAST(l_quantity AS BIGINT)) AS s3,"
    "    sum(CAST(l_quantity AS BIGINT)*CAST(l_quantity AS BIGINT)*CAST(l_quantity AS BIGINT)*CAST(l_quantity AS BIGINT)) AS s4"
    "  FROM lineitem GROUP BY l_returnflag"
    "), m AS ("
    "  SELECT l_returnflag, CAST(n AS BIGINT) AS n,"
    "    CAST(s1 AS DOUBLE)/n AS m1, CAST(s2 AS DOUBLE)/n AS m2,"
    "    CAST(s3 AS DOUBLE)/n AS m3, CAST(s4 AS DOUBLE)/n AS m4"
    "  FROM s"
    ") SELECT l_returnflag, n, "
    "round((m3 - 3*m1*m2 + 2*m1*m1*m1) / pow(m2 - m1*m1, 1.5), 6) AS skewness, "
    "round((m4 - 4*m1*m3 + 6*m1*m1*m2 - 3*m1*m1*m1*m1) / pow(m2 - m1*m1, 2.0) - 3.0, 6) AS kurtosis "
    "FROM m"
)


@register("agg_skew_kurt", oracle=AGG_SKEW_KURT_ORACLE, tier="C")
def agg_skew_kurt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population skewness and excess kurtosis of l_quantity per
    returnflag from exact integer POWER SUMS (Σx..Σx⁴): the same
    one-pass/partial-agg shape as :func:`stat_linreg`, extended to third
    and fourth moments. Spark's ``skewness``/``kurtosis`` built-ins
    accumulate doubles in partition order (non-deterministic across runs,
    let alone engines); with quantities integral and ≤ 50, Σx⁴ tops out at
    6.25·10⁶ per row — int64-safe past 10¹² rows — so the moments are
    order-independent integers and the two reported shapes are single
    double expressions over them (identical on both engines), 6 dp."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("long")
    s = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(x).alias("s1"),
        F.sum(x * x).alias("s2"),
        F.sum(x * x * x).alias("s3"),
        F.sum(x * x * x * x).alias("s4"),
    )
    m1 = F.col("s1").cast("double") / F.col("n")
    m2 = F.col("s2").cast("double") / F.col("n")
    m3 = F.col("s3").cast("double") / F.col("n")
    m4 = F.col("s4").cast("double") / F.col("n")
    var = m2 - m1 * m1
    # try_divide: a constant-valued group has var = 0 and must yield NULL
    # (oracle x/0 semantics), not an ANSI DIVIDE_BY_ZERO abort
    return s.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n"),
        F.round(
            F.try_divide(m3 - 3 * m1 * m2 + 2 * m1 * m1 * m1, F.pow(var, 1.5)), 6
        ).alias("skewness"),
        F.round(
            F.try_divide(
                m4 - 4 * m1 * m3 + 6 * m1 * m1 * m2 - 3 * m1 * m1 * m1 * m1,
                F.pow(var, 2.0),
            )
            - F.lit(3.0),
            6,
        ).alias("kurtosis"),
    )


# --- two-sample Kolmogorov–Smirnov, no global sort ---------------------------

_KS_A, _KS_B = "click", "purchase"

STAT_KS_TEST_ORACLE = (
    "WITH pts AS ("
    f"  SELECT value AS v,"
    f"    count(*) FILTER (event_type = '{_KS_A}') AS c1,"
    f"    count(*) FILTER (event_type = '{_KS_B}') AS c2"
    f"  FROM events WHERE event_type IN ('{_KS_A}', '{_KS_B}') GROUP BY value"
    "), tot AS (SELECT sum(c1) AS n1, sum(c2) AS n2 FROM pts), "
    "cdf AS ("
    "  SELECT sum(c1) OVER (ORDER BY v) AS r1, sum(c2) OVER (ORDER BY v) AS r2 FROM pts"
    f") SELECT '{_KS_A}' AS type_a, '{_KS_B}' AS type_b, "
    "CAST(tot.n1 AS BIGINT) AS n_a, CAST(tot.n2 AS BIGINT) AS n_b, "
    "round(max(abs(CAST(r1 AS DOUBLE)/tot.n1 - CAST(r2 AS DOUBLE)/tot.n2)), 6) AS ks_d "
    "FROM cdf, tot GROUP BY tot.n1, tot.n2"
)


@register("stat_ks_test", oracle=STAT_KS_TEST_ORACLE, tier="C")
def stat_ks_test(
    spark: SparkSession,
    sf_dir: str,
    type_a: str = _KS_A,
    type_b: str = _KS_B,
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic between the ``value``
    distributions of two event types — D = max |F̂₁(v) − F̂₂(v)| over the
    pooled support — WITHOUT a global sort: the classic single-partition
    ``ORDER BY v`` window is replaced by the bucketed distributed
    prefix-sum (the pack_sequences design). Points group by exact value in
    one shuffle; ``floor(v)`` buckets give within-bucket running counts in
    parallel, and bucket offsets come from a bucket-count-sized aggregate
    broadcast back — the only serial state is one row per bucket.

    Exactness: pooled points are the parquet doubles themselves (bit-equal
    on both engines, used only for grouping/ordering); every running count
    is an int64; D is a max of single double expressions over identical
    integers, 6 dp. The oracle states the same spec as one global window.

    Scale: shuffle on value then on bucket; no stage sees unbounded
    per-task state. Bucket skew is data-bounded (values spread over
    ~330 integer buckets per the generator's value range)."""
    ev = load_table(spark, sf_dir, "events")
    pts = (
        ev.where(F.col("event_type").isin(type_a, type_b))
        .groupBy(F.col("value").alias("v"))
        .agg(
            F.sum(F.when(F.col("event_type") == type_a, 1).otherwise(0)).alias("c1"),
            F.sum(F.when(F.col("event_type") == type_b, 1).otherwise(0)).alias("c2"),
        )
        .withColumn("bucket", F.floor("v").cast("long"))
    )
    w_local = Window.partitionBy("bucket").orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    local = pts.select(
        "bucket",
        "v",
        F.sum("c1").over(w_local).alias("r1_local"),
        F.sum("c2").over(w_local).alias("r2_local"),
    )
    w_bucket = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = F.broadcast(
        pts.groupBy("bucket")
        .agg(F.sum("c1").alias("t1"), F.sum("c2").alias("t2"))
        .select(
            "bucket",
            F.coalesce(F.sum("t1").over(w_bucket), F.lit(0)).alias("o1"),
            F.coalesce(F.sum("t2").over(w_bucket), F.lit(0)).alias("o2"),
        )
    )
    totals = F.broadcast(
        pts.agg(F.sum("c1").alias("n1"), F.sum("c2").alias("n2"))
    )
    return (
        local.join(offsets, "bucket")
        .crossJoin(totals)
        .agg(
            F.first(F.lit(type_a)).alias("type_a"),
            F.first(F.lit(type_b)).alias("type_b"),
            F.first("n1").alias("n_a"),
            F.first("n2").alias("n_b"),
            # try_divide: a type with zero rows makes its n 0 and the CDF
            # NULL (oracle x/0 semantics), not an ANSI DIVIDE_BY_ZERO abort
            F.round(
                F.max(
                    F.abs(
                        F.try_divide(
                            (F.col("o1") + F.col("r1_local")).cast("double"),
                            F.col("n1"),
                        )
                        - F.try_divide(
                            (F.col("o2") + F.col("r2_local")).cast("double"),
                            F.col("n2"),
                        )
                    )
                ),
                6,
            ).alias("ks_d"),
        )
        # a corpus with ZERO qualifying events makes the global agg emit one
        # all-NULL row while the oracle's GROUP BY emits zero rows — drop the
        # degenerate row so both engines agree on the empty case
        .where(F.col("n_a").isNotNull() | F.col("n_b").isNotNull())
    )


# --- exact median absolute deviation -----------------------------------------

AGG_MAD_ORACLE = (
    "WITH c AS ("
    f"  SELECT o_orderpriority, {money_cents_sql('o_totalprice')} AS yc FROM orders"
    "), med AS ("
    "  SELECT o_orderpriority, CAST(2.0 * median(yc) AS BIGINT) AS med2"
    "  FROM c GROUP BY o_orderpriority"
    ") SELECT c.o_orderpriority, "
    "CAST(count(*) AS BIGINT) AS n, "
    "round(med.med2 / 200.0, 2) AS median_price, "
    "round(median(abs(2*c.yc - med.med2)) / 200.0, 2) AS mad "
    "FROM c JOIN med USING (o_orderpriority) "
    "GROUP BY c.o_orderpriority, med.med2"
)


@register("agg_mad", oracle=AGG_MAD_ORACLE, tier="C")
def agg_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median absolute deviation of o_totalprice per order priority —
    the robust spread statistic — via the TWO-PASS doubled-cents design:
    pass 1 computes each group's median over integer cents; doubling it
    (``med2 = 2·median``) makes the even-count midpoint integral, so pass
    2's deviations ``|2·yc − med2|`` are again exact integers whose median
    divides back out by 200. Both engines interpolate percentiles
    identically on integers, so every compared value is exact.

    Scale: two partial-agg passes over the same scan plus a broadcast of
    |groups| medians — no window, no sort beyond Spark's internal
    percentile. (An approximate single-pass exists via percentile_approx;
    this is the exact form, sibling to agg_percentile_iterative.)"""
    o = load_table(spark, sf_dir, "orders")
    c = o.select(
        "o_orderpriority", money_cents(F.col("o_totalprice")).alias("yc")
    )
    med = F.broadcast(
        c.groupBy("o_orderpriority").agg(
            (F.lit(2.0) * F.percentile("yc", F.lit(0.5))).cast("long").alias("med2")
        )
    )
    return (
        c.join(med, "o_orderpriority")
        .groupBy("o_orderpriority", "med2")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(
                F.percentile(F.abs(2 * F.col("yc") - F.col("med2")), F.lit(0.5)) / 200.0,
                2,
            ).alias("mad"),
        )
        .select(
            "o_orderpriority",
            "n",
            F.round(F.col("med2") / 200.0, 2).alias("median_price"),
            "mad",
        )
    )


# --- peak interval concurrency -----------------------------------------------

_CONC_TTL_US = 900_000_000  # each event holds a resource for 15 minutes

EVENT_CONCURRENCY_ORACLE = (
    "WITH pts AS ("
    "  SELECT epoch_ns(ts) // 1000 AS us, 1 AS delta FROM events"
    "  UNION ALL"
    f"  SELECT epoch_ns(ts) // 1000 + {_CONC_TTL_US} AS us, -1 AS delta FROM events"
    "), sw AS ("
    f"  SELECT {floor_day_us_sql('us')} AS day, "
    "    sum(delta) OVER ("
    f"      PARTITION BY {floor_day_us_sql('us')} ORDER BY us, delta"
    "      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS open_now"
    "  FROM pts"
    ") SELECT day, CAST(greatest(max(open_now), 0) AS BIGINT) AS peak_concurrency, "
    "CAST(count(*) AS BIGINT) AS n_boundaries "
    "FROM sw GROUP BY day"
)


@register("event_concurrency", oracle=EVENT_CONCURRENCY_ORACLE, tier="C")
def event_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent open intervals per day — every event opens a
    15-minute hold, and the question is the day's high-water mark of
    simultaneously open holds (licenses, sessions, connections). Computed
    by the classic +1/−1 BOUNDARY SWEEP: each interval contributes a start
    (+1) and end (−1) point; a running sum over points ordered by
    (time, delta) — ends sort before starts at the same microsecond, so a
    back-to-back handoff never counts as overlap — is the live concurrency,
    and the per-day max is the answer. Day partitions reset the sweep at
    midnight (intervals crossing midnight count in their opening day's
    sweep only — the spec both engines state identically), so a day whose
    only boundaries are closings from the previous day would sweep
    negative: the peak clamps at 0 (no interval OPENED that day).

    Exactness: all-integer (µs boundaries, unit deltas, int sums); ties at
    identical (us, delta) are identical increments, so the running max is
    tie-order-independent. Scale: the day partition IS the parallelism —
    each day's sweep is an independent window partition, no global sort;
    2 points per event, shuffle on day."""
    ev = load_table(spark, sf_dir, "events")
    us = ts_us("ts")
    pts = ev.select(us.alias("us"), F.lit(1).alias("delta")).unionAll(
        ev.select((us + F.lit(_CONC_TTL_US)).alias("us"), F.lit(-1).alias("delta"))
    )
    day = ((F.col("us") - F.pmod("us", F.lit(86_400_000_000))) / F.lit(86_400_000_000)).cast(
        "long"
    )
    w = Window.partitionBy("day").orderBy("us", "delta").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        pts.withColumn("day", day)
        .withColumn("open_now", F.sum("delta").over(w))
        .groupBy("day")
        .agg(
            F.greatest(F.max("open_now"), F.lit(0)).cast("long").alias(
                "peak_concurrency"
            ),
            F.count("*").cast("long").alias("n_boundaries"),
        )
    )


# --- data-quality expectation suite ------------------------------------------

DQ_EXPECTATIONS_ORACLE = (
    "SELECT 'orders.o_custkey not_null' AS check_name, "
    "  CAST(count(*) FILTER (o_custkey IS NULL) AS BIGINT) AS n_violations, "
    "  CAST(count(*) AS BIGINT) AS n_rows, "
    "  count(*) FILTER (o_custkey IS NULL) = 0 AS passed FROM orders "
    "UNION ALL "
    "SELECT 'orders.o_orderkey unique', "
    "  CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT), "
    "  CAST(count(*) AS BIGINT), count(*) = count(DISTINCT o_orderkey) FROM orders "
    "UNION ALL "
    "SELECT 'orders.o_totalprice positive', "
    "  CAST(count(*) FILTER (o_totalprice <= 0) AS BIGINT), "
    "  CAST(count(*) AS BIGINT), count(*) FILTER (o_totalprice <= 0) = 0 FROM orders "
    "UNION ALL "
    "SELECT 'lineitem.l_discount in [0, 0.1]', "
    "  CAST(count(*) FILTER (l_discount < 0 OR l_discount > 0.1) AS BIGINT), "
    "  CAST(count(*) AS BIGINT), "
    "  count(*) FILTER (l_discount < 0 OR l_discount > 0.1) = 0 FROM lineitem "
    "UNION ALL "
    "SELECT 'lineitem.l_returnflag accepted_values', "
    "  CAST(count(*) FILTER (l_returnflag NOT IN ('A','N','R')) AS BIGINT), "
    "  CAST(count(*) AS BIGINT), "
    "  count(*) FILTER (l_returnflag NOT IN ('A','N','R')) = 0 FROM lineitem "
    "UNION ALL "
    "SELECT 'lineitem.l_orderkey fk orders', "
    "  CAST((SELECT count(*) FROM lineitem l LEFT JOIN orders o"
    "        ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey IS NULL) AS BIGINT), "
    "  CAST((SELECT count(*) FROM lineitem) AS BIGINT), "
    "  (SELECT count(*) FROM lineitem l LEFT JOIN orders o"
    "   ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey IS NULL) = 0"
)


@register("dq_expectations", oracle=DQ_EXPECTATIONS_ORACLE, tier="B")
def dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectation suite (the Deequ/Great-Expectations shape):
    declared checks — not-null, uniqueness, accepted values, numeric
    range, referential integrity — evaluated in bulk, one result row per
    check with its violation count and verdict.

    Plan economy is the point: all three orders checks share ONE scan
    (conditional sums + count distinct in a single aggregate), both
    lineitem value checks share another, and only the FK check pays a join
    — a broadcast-able right side at dimension-like sizes, anti-join
    semantics expressed as a conditional count so the same aggregate
    emits violations and totals. A naive suite runs one job per check.

    Exactness: every output is an int64 count or a boolean derived from
    one. Scale: adding checks to a table adds expressions, not scans."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")

    def rows(df, checks):
        return df.agg(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(name).alias("check_name"),
                            viol.cast("long").alias("n_violations"),
                            F.count("*").cast("long").alias("n_rows"),
                            (viol == 0).alias("passed"),
                        )
                        for name, viol in checks
                    ]
                )
            ).alias("r")
        ).select("r.check_name", "r.n_violations", "r.n_rows", "r.passed")

    o_rows = rows(
        o,
        [
            (
                "orders.o_custkey not_null",
                F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0)),
            ),
            (
                "orders.o_orderkey unique",
                F.count("*") - F.count_distinct(F.col("o_orderkey")),
            ),
            (
                "orders.o_totalprice positive",
                F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)),
            ),
        ],
    )
    li_rows = rows(
        li,
        [
            (
                "lineitem.l_discount in [0, 0.1]",
                F.sum(
                    F.when(
                        (F.col("l_discount") < 0) | (F.col("l_discount") > 0.1), 1
                    ).otherwise(0)
                ),
            ),
            (
                "lineitem.l_returnflag accepted_values",
                F.sum(
                    F.when(~F.col("l_returnflag").isin("A", "N", "R"), 1).otherwise(0)
                ),
            ),
        ],
    )
    fk = rows(
        li.join(
            F.broadcast(o.select(F.col("o_orderkey"))),
            li.l_orderkey == F.col("o_orderkey"),
            "left",
        ),
        [
            (
                "lineitem.l_orderkey fk orders",
                F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0)),
            )
        ],
    )
    return o_rows.unionAll(li_rows).unionAll(fk)


# --- duplicated k-token span registry ----------------------------------------

_SPAN_K = 8


def _span_hashes(d: DataFrame, k: int) -> DataFrame:
    """(doc_id, h) for every ``k``-token window of every document — the
    shared shingle stream under :func:`dedup_spans` and
    :func:`graph_triangle_stats`. Documents shorter than ``k`` tokens are
    filtered out FIRST: without the guard, ``sequence(0, size-k)`` with
    size < k descends (Spark yields [0, …, size-k] downward, not an empty
    array) and the i = −1 element makes ``slice(t, 0, k)`` throw
    INVALID_PARAMETER_VALUE — the DuckDB mirror's ``generate_series(1,
    greatest(len-k+1, 0))`` is simply empty for those docs. The lambda
    stays pure slicing; md5 runs scalar after the explode (r7 lesson:
    higher-order lambdas are interpreted)."""
    toks = d.select("doc_id", F.split("text", " ").alias("t")).where(
        F.size("t") >= k
    )
    return toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("t") - k),
                lambda i: F.concat_ws(" ", F.slice("t", i + 1, k)),
            )
        ).alias("span"),
    ).select("doc_id", F.md5("span").alias("h"))


DEDUP_SPANS_ORACLE = (
    "WITH toks AS ("
    "  SELECT doc_id, string_split(text, ' ') AS t FROM documents"
    f"), sh AS ("
    f"  SELECT doc_id, md5(array_to_string(t[i:i+{_SPAN_K - 1}], ' ')) AS span_hash"
    f"  FROM toks, unnest(generate_series(1, greatest(len(t) - {_SPAN_K - 1}, 0))) AS g(i)"
    ") SELECT span_hash, "
    "CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs, "
    "CAST(count(*) AS BIGINT) AS n_occur "
    "FROM sh GROUP BY span_hash HAVING count(DISTINCT doc_id) > 1"
)


@register("dedup_spans", oracle=DEDUP_SPANS_ORACLE, tier="B")
def dedup_spans(spark: SparkSession, sf_dir: str, k: int = _SPAN_K) -> DataFrame:
    """Cross-document duplicated span registry: every ``k``-token window
    that appears in MORE THAN ONE document, with its document spread and
    total occurrence count — the span-level evidence behind substring-
    level training-data dedup (duplicated passages inflate memorization;
    cf. the dedup_lines operator, which works on literal line blocks,
    where this slides a fixed-width token window).

    The registry is what a removal pass consumes: join documents back on
    span membership to mask or drop the duplicated stretches.

    Design: tokenize once per document; the per-document window list is
    one ``transform(sequence(...))`` producing (len − k + 1) spans;
    explode, md5 OUTSIDE the lambda (scalar codegen path, r7 lesson:
    higher-order lambdas are interpreted — keep them to pure slicing and
    do per-row scalar work after the explode), then one partial-agg
    group-by over span hashes. Spans never round-trip to Python.

    Scale: output is bounded by distinct duplicated spans; the group-by
    combines map-side so singleton spans (the overwhelming majority)
    never cross the shuffle in full. At 100 TB the same registry is the
    first stage of a two-pass mask-and-rewrite."""
    d = load_table(spark, sf_dir, "documents")
    return (
        _span_hashes(d, k)
        .withColumnRenamed("h", "span_hash")
        .groupBy("span_hash")
        .agg(
            F.count_distinct("doc_id").cast("long").alias("n_docs"),
            F.count("*").cast("long").alias("n_occur"),
        )
        .where(F.col("n_docs") > 1)
    )


# --- per-word burstiness ------------------------------------------------------

_BURST_MIN_TOTAL = 50

TEXT_BURSTINESS_ORACLE = (
    "WITH occ AS ("
    "  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents"
    "), per_doc AS ("
    "  SELECT word, doc_id, count(*) AS c FROM occ GROUP BY word, doc_id"
    "), nd AS (SELECT count(*) AS n_corpus FROM documents), "
    "s AS ("
    "  SELECT word, count(*) AS n_docs, sum(c) AS s1, sum(c*c) AS s2"
    "  FROM per_doc GROUP BY word"
    f") SELECT word, CAST(n_docs AS BIGINT) AS n_docs, CAST(s1 AS BIGINT) AS n_total, "
    "round(CAST(n_corpus*s2 - s1*s1 AS DOUBLE) / CAST(n_corpus*s1 AS DOUBLE), 6) AS vmr "
    f"FROM s, nd WHERE s1 >= {_BURST_MIN_TOTAL}"
)


@register("text_burstiness", oracle=TEXT_BURSTINESS_ORACLE, tier="B")
def text_burstiness(
    spark: SparkSession, sf_dir: str, min_total: int = _BURST_MIN_TOTAL
) -> DataFrame:
    """Per-word burstiness — the population variance-to-mean ratio of a
    word's per-document count across the WHOLE corpus (documents where it
    is absent count as zero) — the Church–Gale statistic separating bursty
    content words (VMR > 1: absent from most docs, clumped where they
    appear) from evenly sprinkled function words (VMR → 1-ish, the Poisson
    line). A filter-vocabulary builder reads this directly.

    Exactness: zeros contribute nothing to Σc or Σc², so both sums come
    from the occurrence table alone and the all-N spec needs only the
    corpus size: VMR = (N·Σc² − (Σc)²) / (N·Σc) — one double division of
    exact int64 products (counts bound them far inside int64), 6 dp.

    Scale: two partial-agg group-bys (word×doc, then word) — the same
    shuffle profile as word count — plus a broadcast 1-row corpus size;
    the ``min_total`` floor keeps the tail of hapaxes out of the result
    without affecting the sums."""
    d = load_table(spark, sf_dir, "documents")
    n_corpus = F.broadcast(d.agg(F.count("*").alias("n_corpus")))
    per_doc = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word", "doc_id")
        .agg(F.count("*").alias("c"))
    )
    s = per_doc.groupBy("word").agg(
        F.count("*").alias("n_docs"),
        F.sum("c").alias("s1"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
    )
    return (
        s.where(F.col("s1") >= min_total)
        .crossJoin(n_corpus)
        .select(
            "word",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("s1").cast("long").alias("n_total"),
            F.round(
                (F.col("n_corpus") * F.col("s2") - F.col("s1") * F.col("s1")).cast(
                    "double"
                )
                / (F.col("n_corpus") * F.col("s1")).cast("double"),
                6,
            ).alias("vmr"),
        )
    )


# --- Jensen–Shannon divergence between source corpora ------------------------

TEXT_JS_DIVERGENCE_ORACLE = (
    "WITH c AS ("
    "  SELECT source, word, count(*) AS n FROM ("
    "    SELECT source, unnest(string_split(text, ' ')) AS word FROM documents"
    "  ) GROUP BY source, word"
    "), tot AS (SELECT source, sum(n) AS tot FROM c GROUP BY source), "
    "ct AS (SELECT c.source, c.word, CAST(c.n AS DOUBLE) / tot.tot AS p"
    "       FROM c JOIN tot USING (source)), "
    "shared AS ("
    "  SELECT a.source AS source_a, b.source AS source_b,"
    "    sum(a.p * log2(2.0 * a.p / (a.p + b.p))"
    "        + b.p * log2(2.0 * b.p / (a.p + b.p))) AS t_shared,"
    "    sum(a.p) AS p_shared, sum(b.p) AS q_shared"
    "  FROM ct a JOIN ct b ON a.word = b.word AND a.source < b.source"
    "  GROUP BY 1, 2"
    ") SELECT source_a, source_b, "
    "round(0.5 * (t_shared + (1.0 - p_shared) + (1.0 - q_shared)), 6) AS jsd_bits "
    "FROM shared"
)


@register("text_js_divergence", oracle=TEXT_JS_DIVERGENCE_ORACLE, tier="B")
def text_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen–Shannon divergence (bits) between the unigram distributions
    of every PAIR of document sources — the standard symmetric, bounded
    [0, 1] corpus-drift measure a mixture designer reads before re-weighting
    domains (is src3 a near-clone of src7, or a different register?).

    Decomposition that keeps the join equi-keyed: JSD = ½[Σ_shared
    (p·log₂(2p/(p+q)) + q·log₂(2q/(p+q))) + (1 − P_shared) + (1 − Q_shared)]
    — words exclusive to one side contribute exactly their probability mass
    (log₂2 = 1), so ONLY the shared-word terms need the pairwise join and
    the exclusive mass falls out of two running sums. No full-outer
    explosion over the union vocabulary.

    Exactness: probabilities are ratios of exact int64 counts; the log-term
    sum is a double aggregate rounded to 6 dp (registry doctrine: cross-
    engine summation-order noise lives below 1e-9). Scale: |sources|² pair
    keys but each join row is (word, source-pair) — vocabulary-bounded —
    and the count/total aggregates are plain word-count shuffles."""
    d = load_table(spark, sf_dir, "documents")
    c = (
        d.select("source", F.explode(F.split("text", " ")).alias("word"))
        .groupBy("source", "word")
        .agg(F.count("*").alias("n"))
    )
    tot = F.broadcast(c.groupBy("source").agg(F.sum("n").alias("tot")))
    ct = c.join(tot, "source").select(
        "source", "word", (F.col("n").cast("double") / F.col("tot")).alias("p")
    )
    a = ct.select(
        F.col("source").alias("source_a"), "word", F.col("p").alias("pa")
    )
    b = ct.select(
        F.col("source").alias("source_b"), "word", F.col("p").alias("pb")
    )
    shared = (
        a.join(b, "word")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.sum(
                F.col("pa") * F.log2(2.0 * F.col("pa") / (F.col("pa") + F.col("pb")))
                + F.col("pb") * F.log2(2.0 * F.col("pb") / (F.col("pa") + F.col("pb")))
            ).alias("t_shared"),
            F.sum("pa").alias("p_shared"),
            F.sum("pb").alias("q_shared"),
        )
    )
    return shared.select(
        "source_a",
        "source_b",
        F.round(
            0.5
            * (
                F.col("t_shared")
                + (F.lit(1.0) - F.col("p_shared"))
                + (F.lit(1.0) - F.col("q_shared"))
            ),
            6,
        ).alias("jsd_bits"),
    )


# --- near-dup threshold calibration sweep ------------------------------------

_SWEEP_TAUS = (0.30, 0.35, 0.40, 0.45, 0.50)

_SWEEP_DOT = (
    "round(list_dot_product(CAST(a.embedding AS DOUBLE[]),"
    " CAST(b.embedding AS DOUBLE[])), 6)"
)

SIM_THRESHOLD_SWEEP_ORACLE = " UNION ALL ".join(
    f"SELECT CAST({tau} AS DOUBLE) AS threshold, "
    f"CAST(count(*) FILTER ({_SWEEP_DOT} >= {tau}) AS BIGINT) AS n_pairs "
    "FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id"
    for tau in _SWEEP_TAUS
)


@register("sim_threshold_sweep", oracle=SIM_THRESHOLD_SWEEP_ORACLE, tier="B")
def sim_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate threshold calibration curve: how many embedding
    pairs clear each candidate cosine cutoff — the table a curation run
    reads to pick its dedup τ (too low: false merges explode; too high:
    duplicates survive). ONE pass computes every cutoff: the pair stream
    comes from the same in-kernel-thresholded block-grid GEMM as
    dedup_embedding at the LOWEST τ, and a single conditional-count
    aggregate (5 integers of state) produces the whole curve, exploded to
    long form DataFrame-side.

    Cutoffs are fixture-calibrated (max pairwise cosine ≈ 0.53 on the
    synthetic corpus — production values would be 0.8–0.95; the shape of
    the op is τ-independent). Exactness: counts over the same 6-dp-rounded
    cosines the dedup_embedding oracle compares. Scale: GEMM traffic is
    proportional to pairs ≥ min(τ), the aggregate to 1 row."""
    from .similarity import grid_pair_sims_above

    pairs = grid_pair_sims_above(spark, sf_dir, min(_SWEEP_TAUS))
    agg = pairs.agg(
        *[
            F.sum(F.when(F.col("cosine") >= tau, 1).otherwise(0))
            .cast("long")
            .alias(f"n_{i}")
            for i, tau in enumerate(_SWEEP_TAUS)
        ]
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(tau).cast("double").alias("threshold"),
                F.coalesce(F.col(f"n_{i}"), F.lit(0)).cast("long").alias("n_pairs"),
            )
            for i, tau in enumerate(_SWEEP_TAUS)
        ]
    )
    return agg.select(F.explode(rows).alias("r")).select("r.threshold", "r.n_pairs")


# --- duplicate-graph triangle statistics -------------------------------------

_TRIANGLE_MAX_POSTINGS = 128  # per-span posting-list cap (see docstring)

# Adaptive-orientation cutoff for graph_triangle_stats: apply the degree
# orientation only when the wedge count (the triangle join's worst-case
# e₁⋈e₂ input) exceeds this multiple of the edge count (the orientation's
# own O(|E|) join cost). Near-regular graphs (fixture: 39 wedges vs 256
# edges at sf0.1) skip it; any hub-skewed graph (one 10³-degree hub alone
# contributes ~5·10⁵ wedges) trips it immediately.
_ORIENT_WEDGE_EDGE_FACTOR = 8

# Shared SQL prefix for every oracle that reads the capped duplicate-graph
# edge set (graph_triangle_stats here, graph_degree_stats in staged_r10):
# ONE definition, interpolated into each oracle string, so the Spark helper
# :func:`_span_edges` and all its oracles can never drift apart on the span
# width, the posting cap, or the hash key (the graph_local_clustering
# threshold-drift lesson, ADVICE r8 medium). The span key is the top 60
# bits of md5 as a BIGINT — the dedup_simhash fingerprint precedent — so
# the pairing shuffle carries 8-byte longs instead of 32-char strings;
# both engines truncate identically, so even a collision (≈ n²/2⁶¹) leaves
# the compare value-exact.
_SPAN_EDGES_ORACLE_TEMPLATE = (
    "toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), "
    "sh AS ("
    "  SELECT doc_id, CAST(('0x' || substr(md5(array_to_string(t[i:i+{km1}], ' ')), 1, 15)) AS BIGINT) AS h"
    "  FROM toks, unnest(generate_series(1, greatest(len(t) - {km1}, 0))) AS g(i)"
    "), hot AS ("
    "  SELECT h FROM sh GROUP BY h HAVING count(*) > {cap}"
    "), shc AS ("
    "  SELECT doc_id, h FROM sh WHERE h NOT IN (SELECT h FROM hot)"
    "), e AS ("
    "  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db"
    "  FROM shc a JOIN shc b ON a.h = b.h AND a.doc_id < b.doc_id"
    ")"
)


def span_edges_oracle_ctes(
    k: int = _SPAN_K, max_postings: int = _TRIANGLE_MAX_POSTINGS
) -> str:
    """The oracle CTE prefix matching :func:`_span_edges` AT THE SAME
    ``(k, max_postings)`` — a function, not only a constant, so a caller
    running the Spark side with non-default parameters can build an
    oracle that computes the SAME graph (r9 ADVICE item 2: the fixed
    constant silently mismatched any non-default call — the exact drift
    class the shared CTE was introduced to kill)."""
    return _SPAN_EDGES_ORACLE_TEMPLATE.format(km1=k - 1, cap=max_postings)


SPAN_EDGES_ORACLE_CTES = span_edges_oracle_ctes()


def _span_edges(
    d: DataFrame, k: int = _SPAN_K, max_postings: int = _TRIANGLE_MAX_POSTINGS
) -> DataFrame:
    """The capped duplicate-graph edge set: distinct (da, db), da < db,
    for every document pair sharing a ``k``-token span whose posting list
    is ≤ ``max_postings`` — the ONE edge derivation every graph operator
    over the duplicate graph shares (mirrored verbatim by
    :data:`SPAN_EDGES_ORACLE_CTES`).

    The cap is applied BEFORE any posting list materializes, in the SAME
    single shuffle that does the pairing: a window count over
    partitionBy(h) tags every posting row with its span's posting count
    (the window operator sorts and SPILLS oversized partitions — a
    10⁶-doc boilerplate span streams through disk, it does not OOM an
    aggregation buffer the way a collect_list-first shape would: r8
    review finding), over-cap rows drop at the filter, and the groupBy
    that follows reuses the window's hash(h) partitioning — no second
    exchange (plan-asserted in tests/test_plans.py), and the span explode
    is computed once (a separate counting pass recomputed it: measured
    +1.0 s at sf0.1). Every surviving list is ≤ max_postings, so
    collect_list is bounded and the < -ordered pairs explode JVM-side.
    The count counts posting ROWS (intra-doc repeats included), mirroring
    the oracle's HAVING count(*) CTE.

    The pairing key is the top 60 bits of the span md5 as a long (see
    :data:`SPAN_EDGES_ORACLE_CTES`): the shuffle and the window sort run
    over 8-byte integers instead of 32-char strings — at sf0.1 that is
    ~11% end-to-end, but at 100 TB it is ~3× less pairing-shuffle I/O."""
    sh = _span_hashes(d, k).select(
        "doc_id", F.conv(F.substring("h", 1, 15), 16, 10).cast("long").alias("h")
    )
    return (
        sh.withColumn("n_post", F.count(F.lit(1)).over(Window.partitionBy("h")))
        .where(F.col("n_post") <= max_postings)
        .groupBy("h")
        .agg(F.collect_list("doc_id").alias("ds"))
        .where(F.size("ds") >= 2)
        .select(
            F.explode(
                F.expr(
                    "filter(flatten(transform(ds, x -> transform(ds, y -> "
                    "struct(x AS da, y AS db)))), p -> p.da < p.db)"
                )
            ).alias("p")
        )
        .select(F.col("p.da").alias("da"), F.col("p.db").alias("db"))
        .distinct()
    )


GRAPH_TRIANGLE_STATS_ORACLE = (
    f"WITH {SPAN_EDGES_ORACLE_CTES}, deg AS ("
    "  SELECT v, count(*) AS d FROM ("
    "    SELECT da AS v FROM e UNION ALL SELECT db AS v FROM e"
    "  ) GROUP BY v"
    "), tri AS ("
    "  SELECT count(*) AS t FROM e e1"
    "  JOIN e e2 ON e1.db = e2.da JOIN e e3 ON e1.da = e3.da AND e2.db = e3.db"
    ") SELECT CAST((SELECT count(*) FROM deg) AS BIGINT) AS n_nodes, "
    "CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges, "
    "CAST((SELECT sum(d * (d - 1) // 2) FROM deg) AS BIGINT) AS n_wedges, "
    "CAST(tri.t AS BIGINT) AS n_triangles, "
    "round(3.0 * tri.t / nullif((SELECT sum(d * (d - 1) // 2) FROM deg), 0), 6)"
    " AS clustering "
    "FROM tri"
)


def orient_by_degree(pairs: DataFrame, deg: DataFrame | None = None) -> DataFrame:
    """Re-orient an undirected edge set (``da``/``db``, any orientation)
    so every edge points from its LOWER-(degree, id) endpoint to its
    higher one — the compact-forward orientation (Chiba & Nishizeki 1985;
    Latapy 2008). Under it, out-degrees are bounded by the graph's
    degeneracy, so the node-iterator triangle join's e₁⋈e₂ wedge
    intermediate Σ indeg·outdeg stops scaling with the max degree: on a
    skewed duplicate graph (one boilerplate hub in 10⁵ docs) the hub's
    edges all point INTO it and generate zero wedge rows. Two equi-joins
    against the degree table; the (deg, id) pair is a total order, so the
    orientation — and every count derived from it — is deterministic.

    ``deg`` (columns ``v``, ``d`` = undirected degree over ``pairs``) may
    be passed in by callers that already aggregate it — triangle census
    needs degrees anyway for the wedge count, and reusing the frame saves
    one aggregation pass over the (persisted) edge set. ``deg`` MUST
    cover every endpoint of ``pairs`` (i.e. be computed over the same or
    a superset edge set); the joins below are LEFT joins guarded by an
    ``assert_true``, so a deg frame that misses an endpoint fails the job
    loudly instead of silently dropping edges and undercounting triangles
    (r9 ADVICE item 3)."""
    if deg is None:
        deg = (
            pairs.select(F.col("da").alias("v"))
            .unionAll(pairs.select(F.col("db").alias("v")))
            .groupBy("v")
            .agg(F.count("*").alias("d"))
        )
    j = pairs.join(
        deg.select(F.col("v").alias("da"), F.col("d").alias("d_a")), "da", "left"
    ).join(deg.select(F.col("v").alias("db"), F.col("d").alias("d_b")), "db", "left")
    covered = F.assert_true(
        F.col("d_a").isNotNull() & F.col("d_b").isNotNull(),
        F.lit(
            "orient_by_degree: deg does not cover every endpoint of pairs "
            "(was it computed over a different edge set?)"
        ),
    )
    a_first = F.struct(F.col("d_a"), F.col("da")) < F.struct(
        F.col("d_b"), F.col("db")
    )
    return j.select(
        # `covered` is null whenever the assertion passes, so isNull() is
        # a no-op gate that anchors the assert into the evaluated plan
        F.when(covered.isNull() & a_first, F.col("da"))
        .otherwise(F.col("db"))
        .alias("da"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("db"),
    )


@register("graph_triangle_stats", oracle=GRAPH_TRIANGLE_STATS_ORACLE, tier="B")
def graph_triangle_stats(
    spark: SparkSession,
    sf_dir: str,
    k: int = _SPAN_K,
    max_postings: int = _TRIANGLE_MAX_POSTINGS,
) -> DataFrame:
    """Global triangle census of the DUPLICATE GRAPH — documents joined by
    sharing at least one duplicated ``k``-token span (:func:`dedup_spans`'s
    evidence, lifted to graph structure): node/edge counts, wedge count
    (Σ deg·(deg−1)/2), triangle count via the ordered edge-edge-edge join,
    and the global clustering coefficient 3·T/W. High clustering says
    duplication comes in CLIQUES (the same passage pasted everywhere —
    safe to collapse transitively); low clustering with many wedges says
    chains (A~B, B~C but A≁C — transitive collapse would over-merge).
    That one number is the difference between dedup_cluster's
    connected-components policy being right or wrong for a corpus.

    Implementation is the node-iterator pattern (Suri & Vassilvitskii's
    MapReduce triangle counting, simplified to its join form): orient
    every edge by the (degree, id) total order — the compact-forward /
    degeneracy orientation, see :func:`orient_by_degree` — then count
    e₁(a,b) ⋈ e₂(b,c) ⋈ e₃(a,c): each triangle matches exactly once, as
    three equi-joins Catalyst plans as hash joins, and the wedge
    intermediate is degeneracy-bounded instead of max-degree-bounded.
    Exactness: all-integer until the final 6-dp ratio.

    Scale: span pairing can hub on mega-duplicated spans (a boilerplate
    sentence in 10⁶ docs → 10¹² candidate pairs), so spans whose posting
    list exceeds ``max_postings`` are EXCLUDED from pairing (the LSH
    candidate-cap pattern — a span that common is boilerplate for
    :func:`..chunking.dedup_lines`'s channel, not pairwise duplicate
    evidence). The capped, single-exchange edge derivation is the shared
    :func:`_span_edges` (docstring there); the oracle applies the
    identical cap via the shared :data:`SPAN_EDGES_ORACLE_CTES`, so the
    compare stays value-exact even on a corpus with planted hubs
    (tests/test_round8.py plants one). Fixture posting lists top out at 4
    members, so the default cap of 128 leaves the registered fixture
    output (and its hash-green verdict) bitwise unchanged."""
    d = load_table(spark, sf_dir, "documents")
    e = _span_edges(d, k, max_postings)
    # kept: referenced several times below (degrees, edge count, 3-way
    # triangle join), and without the cache Spark re-runs the shingle
    # explode + self-join per reference. The result is a 1-row census,
    # materialized while the cache is live.
    deg = (
        e.select(F.col("da").alias("v"))
        .unionAll(e.select(F.col("db").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("d"))
    )
    with persisting() as keep:
        keep(e)
        stats = deg.agg(
            F.count("*").cast("long").alias("n_nodes"),
            F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("long").alias("n_wedges"),
        ).first()
        n_nodes = stats["n_nodes"] or 0
        # n_wedges stays None on an empty graph — the oracle's SUM over an
        # empty deg is NULL, and the degenerate-corpus parity test pins it
        n_wedges = stats["n_wedges"]
        n_edges = e.count()
        # Degree-ordered orientation (r8 verdict item 7), applied
        # ADAPTIVELY (r10): re-orienting each edge from its LOWER-(degree,
        # id) endpoint to its higher one bounds the e₁⋈e₂ wedge
        # intermediate by the graph's DEGENERACY (Chiba–Nishizeki /
        # Latapy's compact-forward) instead of its max degree — a
        # boilerplate hub with 10⁵ neighbors contributes ZERO wedge rows
        # instead of 10¹⁰. But the orientation itself costs two hash joins
        # over the full edge set, and the round-10 idle-box A/B measured
        # that as +35% end-to-end at sf0.1 (median 2.61 s → 3.53 s) on
        # this near-regular fixture where the wedge input is TINY anyway.
        # The census conveniently computes the exact decision statistic
        # up front: n_wedges IS the worst-case wedge-join input, so orient
        # only when it dominates the O(|E|) orientation cost. Triangle
        # count, nodes, edges and wedges are orientation-invariant, so the
        # oracle and the fixture hash are identical on both paths (pinned
        # in tests/test_round9.py, with a planted hub-wedge graph
        # measuring the 400→1 join-input reduction).
        orient = (n_wedges or 0) > _ORIENT_WEDGE_EDGE_FACTOR * max(n_edges, 1)
        # deg passed through so the orientation reuses this function's own
        # degree aggregate instead of re-aggregating the edge set
        eo = keep(orient_by_degree(e, deg) if orient else e)
        n_tri = (
            eo.alias("e1")
            .join(eo.alias("e2"), F.col("e1.db") == F.col("e2.da"))
            .join(
                eo.alias("e3"),
                (F.col("e1.da") == F.col("e3.da"))
                & (F.col("e2.db") == F.col("e3.db")),
            )
            .agg(F.count("*").cast("long").alias("n_triangles"))
            .first()["n_triangles"]
        )
    # assemble the 1-row census; clustering is rounded with F.round so the
    # half-away-from-zero semantics match the DuckDB oracle exactly
    # (python's round() is half-to-even)
    return spark.createDataFrame(
        [(n_nodes, n_edges, n_wedges, n_tri)],
        "n_nodes long, n_edges long, n_wedges long, n_triangles long",
    ).select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.round(
            3.0 * F.col("n_triangles") / F.nullif(F.col("n_wedges"), F.lit(0)), 6
        ).alias("clustering"),
    )


# --- tokenizer fertility by source -------------------------------------------

TEXT_FERTILITY_ORACLE = (
    "SELECT source, CAST(count(*) AS BIGINT) AS n_docs, "
    "CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens, "
    "CAST(sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS BIGINT)"
    " AS bpe_tokens, "
    "round(CAST(sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS DOUBLE)"
    " / sum(len(string_split(text, ' '))), 6) AS fertility "
    "FROM documents GROUP BY source"
)


@register("text_fertility", oracle=TEXT_FERTILITY_ORACLE, tier="B")
def text_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per source: BPE-ish tokens emitted per
    whitespace word (the text_token_count regex, aggregated by domain) —
    the budget number that says which domains are token-expensive to train
    on (fertility ≫ 1: code, numbers, non-Latin scripts) and flags
    tokenizer/domain mismatch before a run wastes context length on
    fragment soup.

    Exactness: both token counts are exact int64 sums (the regex subset is
    pinned Java≡RE2 by text_token_count's oracle); fertility is one double
    division, 6 dp. Scale: a scan-aggregate — per-row regex work fuses
    into the scan, state is 3 integers per source."""
    d = load_table(spark, sf_dir, "documents")
    ws = F.size(F.split("text", " ")).cast("long")
    bpe = F.size(
        F.regexp_extract_all("text", F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), 0)
    ).cast("long")
    return (
        d.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(ws).alias("ws_tokens"),
            F.sum(bpe).alias("bpe_tokens"),
            F.round(F.sum(bpe).cast("double") / F.sum(ws), 6).alias("fertility"),
        )
    )


# --- one-way ANOVA ------------------------------------------------------------

STAT_ANOVA_ORACLE = (
    "WITH g AS ("
    "  SELECT l_returnflag, count(*) AS n,"
    "    sum(CAST(l_quantity AS BIGINT)) AS s1,"
    "    sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS s2"
    "  FROM lineitem GROUP BY l_returnflag"
    "), t AS ("
    "  SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n) AS BIGINT) AS n_total,"
    "    CAST(sum(s1) AS BIGINT) AS s1_all, CAST(sum(s2) AS BIGINT) AS s2_all,"
    "    sum(CAST(s1 AS DOUBLE) * s1 / n) AS ssb_part"
    "  FROM g"
    ") SELECT k - 1 AS df_between, n_total - k AS df_within, "
    "round(((ssb_part - CAST(s1_all AS DOUBLE) * s1_all / n_total) / (k - 1)) / "
    "((s2_all - ssb_part) / (n_total - k)), 6) AS f_stat, "
    "round((ssb_part - CAST(s1_all AS DOUBLE) * s1_all / n_total) / "
    "(s2_all - CAST(s1_all AS DOUBLE) * s1_all / n_total), 6) AS eta_sq "
    "FROM t"
)


@register("stat_anova", oracle=STAT_ANOVA_ORACLE, tier="C")
def stat_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of l_quantity across the returnflag groups — the
    F-statistic (between-group over within-group variance) and effect size
    η² that complete the inference family beside the staged two-sample
    tests (event_ab_test's z, stat_ks_test's D): does ANY of k groups
    differ, before pairwise drilling.

    Same sufficient-statistics shape as :func:`stat_linreg`: per-group
    (n, Σx, Σx²) integers reduce in one partial-agg pass, a second
    k-row aggregate folds them into SSB = Σ(Σx_g)²/n_g − (Σx)²/N and
    SSW = Σx² − Σ(Σx_g)²/n_g, and F/η² are single double expressions,
    6 dp (the k-row double fold's order noise is far below the rounding).
    Scale: shuffle is |groups| rows of 3 integers; nothing else moves."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("long")
    g = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(x).alias("s1"),
        F.sum(x * x).alias("s2"),
    )
    t = g.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("n").cast("long").alias("n_total"),
        F.sum("s1").cast("long").alias("s1_all"),
        F.sum("s2").cast("long").alias("s2_all"),
        F.sum(F.col("s1").cast("double") * F.col("s1") / F.col("n")).alias("ssb_part"),
    )
    ssb = F.col("ssb_part") - F.col("s1_all").cast("double") * F.col("s1_all") / F.col(
        "n_total"
    )
    ssw = F.col("s2_all") - F.col("ssb_part")
    sst = F.col("s2_all") - F.col("s1_all").cast("double") * F.col("s1_all") / F.col(
        "n_total"
    )
    # try_divide throughout: k = 1 (single group), n = k (one row per
    # group) or zero within-variance must yield NULL (oracle x/0
    # semantics), not an ANSI DIVIDE_BY_ZERO abort
    return t.select(
        (F.col("k") - 1).alias("df_between"),
        (F.col("n_total") - F.col("k")).alias("df_within"),
        F.round(
            F.try_divide(
                F.try_divide(ssb, F.col("k") - 1),
                F.try_divide(ssw, F.col("n_total") - F.col("k")),
            ),
            6,
        ).alias("f_stat"),
        F.round(F.try_divide(ssb, sst), 6).alias("eta_sq"),
    )


# --- train/val split leakage --------------------------------------------------

_SPLIT_BUCKET_SQL = (
    "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 8))"
    " AS BIGINT) % 100"
)

PIPELINE_SPLIT_LEAKAGE_ORACLE = (
    "WITH toks AS ("
    "  SELECT doc_id, string_split(text, ' ') AS w, "
    f"  CASE WHEN {_SPLIT_BUCKET_SQL} < 90 THEN 'train' "
    f"  WHEN {_SPLIT_BUCKET_SQL} < 95 THEN 'val' ELSE 'test' END AS split"
    "  FROM documents WHERE len(string_split(text, ' ')) >= 5"
    "), g AS ("
    "  SELECT doc_id, split, array_to_string(w[i:i+4], ' ') AS gram"
    "  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(w)-4)) AS i) t"
    "), tr AS (SELECT DISTINCT gram FROM g WHERE split = 'train'), "
    "ev AS (SELECT split, doc_id, gram FROM g WHERE split <> 'train') "
    "SELECT ev.split, "
    "CAST(count(DISTINCT ev.doc_id) AS BIGINT) AS n_docs, "
    "CAST(count(*) AS BIGINT) AS n_grams, "
    "CAST(count(*) FILTER (tr.gram IS NOT NULL) AS BIGINT) AS n_leaked, "
    "round(count(*) FILTER (tr.gram IS NOT NULL) / (1.0 * count(*)), 6) AS leakage "
    "FROM ev LEFT JOIN tr ON ev.gram = tr.gram GROUP BY ev.split"
)


@register("pipeline_split_leakage", oracle=PIPELINE_SPLIT_LEAKAGE_ORACLE, tier="B")
def pipeline_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed split-hygiene check: apply the engine's deterministic
    hash split (split_train_val's salted-md5 buckets, restated literally
    so both engines assign identical splits), then measure what fraction
    of each held-out split's word 5-grams ALSO occur in train — the
    number that says whether val/test loss is measuring generalization
    or memorized overlap. This inverts text_contamination's roles: there
    a tiny eval set broadcasts against training docs; here TRAIN is the
    large side, so membership is decided by ONE hash exchange of the full
    gram stream (train+eval together): groupBy(gram) folds the distinct
    train-gram set and the per-split occurrence counts into the same
    aggregate, so no gram crosses the wire twice and there is no join on
    the data-proportional path — broadcast OR a second shuffle of the
    train grams would both be 100 TB hazards (the original form shuffled
    train grams twice: distinct, then the eval left join; the oracle
    still states that equivalent left join declaratively). Per-split doc
    counts ride a separate explode-free scan that joins at 2 rows.

    Exactness: gram counts are exact int64; leakage is one double
    division, 6 dp. Docs shorter than 5 words carry no 5-gram evidence
    and are excluded (text_contamination's documented contract)."""
    d = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":split"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % 100
    )
    toks = (
        d.select(
            "doc_id",
            F.split("text", " ").alias("w"),
            F.when(bucket < 90, "train")
            .when(bucket < 95, "val")
            .otherwise("test")
            .alias("split"),
        )
        .where(F.size("w") >= 5)
    )
    grams = toks.select(
        "doc_id",
        "split",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("w") - 5),
                lambda i: F.concat_ws(" ", F.slice("w", i + 1, 5)),
            )
        ).alias("gram"),
    )
    per_gram = grams.groupBy("gram").agg(
        F.max((F.col("split") == "train").cast("int")).alias("in_train"),
        F.sum((F.col("split") == "val").cast("long")).alias("val_cnt"),
        F.sum((F.col("split") == "test").cast("long")).alias("test_cnt"),
    )
    totals = per_gram.agg(
        *[
            agg
            for s in ("val", "test")
            for agg in (
                F.sum(f"{s}_cnt").alias(f"{s}_grams"),
                F.sum(F.col(f"{s}_cnt") * F.col("in_train")).alias(f"{s}_leaked"),
            )
        ]
    )
    by_split = totals.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("split"),
                        F.col(f"{s}_grams").alias("n_grams"),
                        F.col(f"{s}_leaked").alias("n_leaked"),
                    )
                    for s in ("val", "test")
                ]
            )
        ).alias("r")
    ).select("r.*")
    n_docs = (
        toks.where(F.col("split") != "train")
        .groupBy("split")
        .agg(F.count_distinct("doc_id").cast("long").alias("n_docs"))
    )
    return (
        by_split.where(F.col("n_grams") > 0)  # a gram-less split emits no row
        .join(F.broadcast(n_docs), "split")
        .select(
            "split",
            "n_docs",
            F.col("n_grams").cast("long").alias("n_grams"),
            F.col("n_leaked").cast("long").alias("n_leaked"),
            F.round(F.col("n_leaked") / (1.0 * F.col("n_grams")), 6).alias("leakage"),
        )
    )


# --- chi-square independence test --------------------------------------------

_ISODOW = "((({d}) + 3) % 7 + 7) % 7 + 1"  # 1970-01-01 is a Thursday (=4)

STAT_CHI2_INDEPENDENCE_ORACLE = (
    "WITH o AS ("
    f"  SELECT event_type, {_ISODOW.format(d=floor_day_us_sql())} AS dow,"
    "    count(*) AS obs"
    "  FROM events GROUP BY 1, 2"
    "), rt AS (SELECT event_type, sum(obs) AS r FROM o GROUP BY 1), "
    "ct AS (SELECT dow, sum(obs) AS c FROM o GROUP BY 1), "
    "n AS (SELECT sum(obs) AS n FROM o) "
    "SELECT CAST((SELECT count(*) FROM rt) - 1 AS BIGINT)"
    " * CAST((SELECT count(*) FROM ct) - 1 AS BIGINT) AS df, "
    "CAST(sum(CAST(obs AS BIGINT)) AS BIGINT) AS n_obs, "
    "round(sum(pow(obs - CAST(rt.r AS DOUBLE) * ct.c / n.n, 2)"
    " / (CAST(rt.r AS DOUBLE) * ct.c / n.n)), 6) AS chi2 "
    "FROM o JOIN rt USING (event_type) JOIN ct USING (dow) CROSS JOIN n"
)


@register("stat_chi2_independence", oracle=STAT_CHI2_INDEPENDENCE_ORACLE, tier="C")
def stat_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson χ² test of independence between event type and ISO weekday
    — "does behavior depend on the day of week?" — completing the
    inference family (two-sample z, KS, k-group ANOVA; this one is
    two-CATEGORICAL). Returns χ², its degrees of freedom and N; a 5×7
    contingency table with χ² ≫ df rejects independence.

    Weekday comes from the epoch-day arithmetic form ((day+3) mod 7)+1 —
    engine-independent, sidestepping the Spark-dayofweek-1=Sunday vs
    DuckDB-isodow trap (the fn_date_dim lesson). Observed counts are
    exact integers; expected counts r·c/N and the χ² terms are doubles
    over identical integers, summed over ≤ |types|·7 cells (far below the
    6-dp round). Scale: one count shuffle to the contingency table, then
    everything is cell-count-sized; the margins join back as broadcasts."""
    ev = load_table(spark, sf_dir, "events")
    dow = ((ts_day("ts") + 3) % 7 + 7) % 7 + 1
    o = ev.groupBy(F.col("event_type"), dow.alias("dow")).agg(
        F.count("*").alias("obs")
    )
    rt = F.broadcast(o.groupBy("event_type").agg(F.sum("obs").alias("r")))
    ct = F.broadcast(o.groupBy("dow").agg(F.sum("obs").alias("c")))
    n = F.broadcast(o.agg(F.sum("obs").alias("n")))
    dims = F.broadcast(
        o.agg(
            ((F.count_distinct("event_type") - 1) * (F.count_distinct("dow") - 1))
            .cast("long")
            .alias("df")
        )
    )
    exp = F.col("r").cast("double") * F.col("c") / F.col("n")
    return (
        o.join(rt, "event_type")
        .join(ct, "dow")
        .crossJoin(n)
        .agg(
            F.sum(F.col("obs").cast("long")).cast("long").alias("n_obs"),
            F.round(F.sum(F.pow(F.col("obs") - exp, 2) / exp), 6).alias("chi2"),
        )
        .crossJoin(dims)
        .select("df", "n_obs", "chi2")
    )


# --- trailing-window EWMA forecast -------------------------------------------

_EWMA_ALPHA, _EWMA_WINDOW = 0.3, 14

EVENT_FORECAST_EWMA_ORACLE = (
    "WITH daily AS ("
    f"  SELECT {floor_day_us_sql()} AS day, count(*) AS x"
    "  FROM events GROUP BY 1"
    "), lags AS (SELECT unnest(generate_series(0, 13)) AS lag), "
    "w AS ("
    f"  SELECT d.day, d2.x, pow(1.0 - {_EWMA_ALPHA}, l.lag) AS wt"
    "  FROM daily d CROSS JOIN lags l"
    "  JOIN daily d2 ON d2.day = d.day - l.lag"
    ") SELECT day, "
    "round(sum(wt * x) / sum(wt), 6) AS ewma "
    "FROM w GROUP BY day"
)


@register("event_forecast_ewma", oracle=EVENT_FORECAST_EWMA_ORACLE, tier="C")
def event_forecast_ewma(
    spark: SparkSession,
    sf_dir: str,
    alpha: float = _EWMA_ALPHA,
    window: int = _EWMA_WINDOW,
) -> DataFrame:
    """Truncated exponentially-weighted moving average of daily event
    volume — the level-smoothing baseline beside the staged seasonal-naive
    forecast: each day's EWMA is the (1−α)^lag-weighted mean of the
    trailing ``window`` observed days, re-normalized over the weights
    actually present (so leading days and gap days are handled without
    special cases).

    The trailing window is an EQUI-join, not a range join: the lag list
    [0..window) explodes against the daily series once, and day = day−lag
    is a plain hash-join key — no BroadcastNestedLoopJoin, no
    window-function global sort, and the join fans each daily row out
    exactly ``window`` times (calendar-bounded). Weights pow(1−α, lag)
    with integer lag are bit-identical cross-engine; the ≤``window``-term
    double sums sit far below the 6-dp round.

    Scale: the daily aggregate is one shuffle; everything after is
    calendar-sized (rows = days·window)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(ts_day("ts").alias("day")).agg(F.count("*").alias("x"))
    # the lag fan-out is explode(sequence(...)) — a generator inside the
    # same stage, not a join: crossJoin(broadcast(lags)) plans as a
    # BroadcastNestedLoopJoin for nothing
    fan = daily.select(
        "day",
        "x",
        F.explode(F.sequence(F.lit(0), F.lit(window - 1))).alias("lag"),
    ).select(
        (F.col("day") + F.col("lag")).alias("day"),
        F.col("x"),
        F.pow(F.lit(1.0 - alpha), F.col("lag")).alias("wt"),
    )
    return (
        daily.select("day")
        .join(fan, "day")
        .groupBy("day")
        .agg(F.round(F.sum(F.col("wt") * F.col("x")) / F.sum("wt"), 6).alias("ewma"))
    )


# --- 2-D histogram ------------------------------------------------------------

AGG_HIST2D_ORACLE = (
    "SELECT CAST(CAST(l_quantity AS BIGINT) // 10 AS BIGINT) AS qty_bin, "
    f"CAST({money_cents_sql('l_discount')} // 2 AS BIGINT) AS disc_bin, "
    "CAST(count(*) AS BIGINT) AS n "
    "FROM lineitem GROUP BY 1, 2"
)


@register("agg_hist2d", oracle=AGG_HIST2D_ORACLE, tier="C")
def agg_hist2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D histogram of quantity × discount — the joint-distribution
    profile a mixture/pricing analysis reads (1-D margins hide the
    correlation structure; agg_hist is the 1-D sibling). Bins: quantity
    div 10 (integral quantities), discount in exact integer cents div 2
    (2-cent-wide bins) — the cents conversion dodges the 0.07·100 ≠ 7
    float trap, so bin assignment is bit-identical cross-engine and every
    count is an exact int64.

    Scale: one partial-agg shuffle keyed by (qty_bin, disc_bin) — state
    is the occupied-cell count, not the row count."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(
            F.expr("CAST(l_quantity AS BIGINT) div 10").alias("qty_bin"),
            money_cents(F.col("l_discount")).cast("long").alias("_dc"),
        )
        .agg(F.count("*").alias("_n"))
        .groupBy("qty_bin", F.expr("_dc div 2").alias("disc_bin"))
        .agg(F.sum("_n").cast("long").alias("n"))
    )


# --- DAU/MAU stickiness -------------------------------------------------------

_STICKY_WINDOW = 30

EVENT_STICKINESS_ORACLE = (
    "WITH ud AS ("
    f"  SELECT DISTINCT user_id, {floor_day_us_sql()} AS day FROM events"
    "), days AS (SELECT DISTINCT day FROM ud), "
    "lags AS (SELECT unnest(generate_series(0, 29)) AS lag), "
    "mau AS ("
    "  SELECT d.day, count(DISTINCT u.user_id) AS mau"
    "  FROM days d CROSS JOIN lags l JOIN ud u ON u.day = d.day - l.lag"
    "  GROUP BY d.day"
    "), dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY day) "
    "SELECT day, CAST(dau.dau AS BIGINT) AS dau, CAST(mau.mau AS BIGINT) AS mau, "
    "round(dau.dau / (1.0 * mau.mau), 6) AS stickiness "
    "FROM dau JOIN mau USING (day)"
)


@register("event_stickiness", oracle=EVENT_STICKINESS_ORACLE, tier="C")
def event_stickiness(
    spark: SparkSession, sf_dir: str, window: int = _STICKY_WINDOW
) -> DataFrame:
    """DAU / trailing-``window``-day MAU per day — the stickiness ratio
    product analytics watches (→1: the monthly audience shows up daily;
    →1/window: every active user is a drive-by). Same equi-join lag
    fan-out as :func:`event_forecast_ewma`: (user, day) distinct pairs
    explode against the lag list once and join back on the shifted day,
    so the trailing-window distinct count is a hash join + count-distinct
    — no range join, no window sort. All counts exact int64; the ratio is
    one double division (MAU ≥ DAU ≥ 1 whenever the day exists), 6 dp.

    Scale: the (user, day) dedup is the only data-sized shuffle; the
    fan-out is days·window rows ≤ calendar-bounded, and the per-day
    count-distinct shuffles user ids already deduped per day."""
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select("user_id", ts_day("ts").alias("day")).distinct()
    days = ud.select("day").distinct()
    # explode(sequence(...)) fan-out, not a crossJoin — see event_forecast_ewma
    fan = ud.select(
        "user_id",
        "day",
        F.explode(F.sequence(F.lit(0), F.lit(window - 1))).alias("lag"),
    ).select((F.col("day") + F.col("lag")).alias("day"), "user_id")
    mau = days.join(fan, "day").groupBy("day").agg(
        F.count_distinct("user_id").alias("mau")
    )
    dau = ud.groupBy("day").agg(F.count("*").alias("dau"))
    return dau.join(mau, "day").select(
        "day",
        F.col("dau").cast("long").alias("dau"),
        F.col("mau").cast("long").alias("mau"),
        F.round(F.col("dau") / (1.0 * F.col("mau")), 6).alias("stickiness"),
    )


# --- Mann–Whitney U (rank-sum) test ------------------------------------------

STAT_MANN_WHITNEY_ORACLE = (
    "WITH pts AS ("
    f"  SELECT value AS v,"
    f"    count(*) FILTER (event_type = '{_KS_A}') AS c1,"
    f"    count(*) FILTER (event_type = '{_KS_B}') AS c2"
    f"  FROM events WHERE event_type IN ('{_KS_A}', '{_KS_B}') GROUP BY value"
    "), r AS ("
    "  SELECT c1, c2, c1 + c2 AS c,"
    "    coalesce(sum(c1 + c2) OVER (ORDER BY v"
    "      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s"
    "  FROM pts"
    "), t AS ("
    # r2x (~2n² per pooled mass) and the tie term (c³ per value) outgrow
    # int64 on heavily tied corpora — accumulate in HUGEINT/decimal(38)
    "  SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2,"
    "    sum(CAST(c1 AS HUGEINT) * (2 * s + c + 1)) AS r2x,"
    "    sum(CAST(c AS HUGEINT) * c * c - c) AS ties"
    "  FROM r"
    f") SELECT '{_KS_A}' AS type_a, '{_KS_B}' AS type_b, n1 AS n_a, n2 AS n_b, "
    "CAST(r2x - n1 * (CAST(n1 AS HUGEINT) + 1) AS DOUBLE) / 2.0 AS u_a, "
    "round(((CAST(r2x - n1 * (CAST(n1 AS HUGEINT) + 1) AS DOUBLE) / 2.0) - CAST(n1 AS DOUBLE) * n2 / 2.0) / "
    "sqrt((CAST(n1 AS DOUBLE) * n2 / 12.0) * ((n1 + n2 + 1) - "
    "CAST(ties AS DOUBLE) / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 - 1 AS DOUBLE)))), 6) AS z "
    "FROM t WHERE n1 IS NOT NULL OR n2 IS NOT NULL"
)


@register("stat_mann_whitney", oracle=STAT_MANN_WHITNEY_ORACLE, tier="C")
def stat_mann_whitney(
    spark: SparkSession,
    sf_dir: str,
    type_a: str = _KS_A,
    type_b: str = _KS_B,
) -> DataFrame:
    """Mann–Whitney U (Wilcoxon rank-sum) between two event types' value
    distributions — the nonparametric two-sample location test beside
    :func:`stat_ks_test`'s shape test, with the normal approximation's
    tie-corrected z. Same NO-GLOBAL-SORT construction: pooled values
    group once; midranks come from the exclusive cumulative count ``s``
    via the bucketed distributed prefix-sum, since the rank-sum over a
    tied value group [s+1 .. s+c] contributes c₁·(2s+c+1)/2 — kept
    doubled (``r2x``) so every accumulation is an exact integer (U is
    then an exact half-integer). ``r2x`` (~2n² of pooled rank mass) and
    the tie term Σ(c³−c) accumulate in decimal(38)/HUGEINT — a single
    value tied ~2.1M times already pushes c³ past int64.

    Exactness: z is ONE double expression over those integers, 6 dp.
    Scale: identical profile to stat_ks_test — value group-by, bucket
    prefix-sum, 1-row result."""
    ev = load_table(spark, sf_dir, "events")
    pts = (
        ev.where(F.col("event_type").isin(type_a, type_b))
        .groupBy(F.col("value").alias("v"))
        .agg(
            F.sum(F.when(F.col("event_type") == type_a, 1).otherwise(0)).alias("c1"),
            F.sum(F.when(F.col("event_type") == type_b, 1).otherwise(0)).alias("c2"),
        )
        .withColumn("c", F.col("c1") + F.col("c2"))
        .withColumn("bucket", F.floor("v").cast("long"))
    )
    w_local = Window.partitionBy("bucket").orderBy("v").rowsBetween(
        Window.unboundedPreceding, -1
    )
    local = pts.select(
        "bucket",
        "c1",
        "c2",
        "c",
        F.coalesce(F.sum("c").over(w_local), F.lit(0)).alias("s_local"),
    )
    w_bucket = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = F.broadcast(
        pts.groupBy("bucket")
        .agg(F.sum("c").alias("tc"))
        .select(
            "bucket",
            F.coalesce(F.sum("tc").over(w_bucket), F.lit(0)).alias("off"),
        )
    )
    d38 = "decimal(38,0)"
    t = (
        local.join(offsets, "bucket")
        .withColumn("s", F.col("off") + F.col("s_local"))
        .agg(
            F.sum("c1").cast("long").alias("n1"),
            F.sum("c2").cast("long").alias("n2"),
            # r2x (~2n² per pooled mass) and the tie term (c³ per value)
            # outgrow int64 on heavily tied corpora — accumulate in
            # decimal(38)/HUGEINT like stat_linreg's syy
            F.sum(
                F.col("c1").cast(d38) * (2 * F.col("s") + F.col("c") + 1)
            ).alias("r2x"),
            F.sum(
                F.col("c").cast(d38) * F.col("c") * F.col("c") - F.col("c")
            ).alias("ties"),
        )
    )
    u_a = (
        (F.col("r2x") - F.col("n1").cast(d38) * (F.col("n1") + 1)).cast("double")
        / 2.0
    )
    n = F.col("n1") + F.col("n2")
    sigma = F.sqrt(
        (F.col("n1").cast("double") * F.col("n2") / 12.0)
        * (
            (n + 1)
            - F.try_divide(
                F.col("ties").cast("double"),
                n.cast("double") * (n - 1).cast("double"),
            )
        )
    )
    return t.select(
        F.lit(type_a).alias("type_a"),
        F.lit(type_b).alias("type_b"),
        F.col("n1").alias("n_a"),
        F.col("n2").alias("n_b"),
        u_a.alias("u_a"),
        F.round(
            F.try_divide(u_a - F.col("n1").cast("double") * F.col("n2") / 2.0, sigma),
            6,
        ).alias("z"),
        # empty-corpus guard: with zero qualifying events the ungrouped agg
        # emits one all-NULL row on BOTH engines; both sides filter it (the
        # oracle carries the matching WHERE n1 IS NOT NULL) so the operator's
        # contract is "zero rows on an empty corpus", same as stat_ks_test
    ).where(F.col("n_a").isNotNull() | F.col("n_b").isNotNull())


# --- time-decayed engagement score -------------------------------------------

_DECAY_ALPHA = 0.1

EVENT_DECAY_SCORE_ORACLE = (
    "WITH e AS ("
    f"  SELECT user_id, {floor_day_us_sql()} AS day, {money_cents_sql('value')} AS vc"
    "  FROM events"
    "), pd AS ("
    "  SELECT user_id, day, count(*) AS n, sum(vc) AS vc_day"
    "  FROM e GROUP BY user_id, day"
    "), mx AS (SELECT max(day) AS mday FROM pd) "
    "SELECT user_id, CAST(sum(n) AS BIGINT) AS n_events, "
    f"round(sum(vc_day * pow(1.0 - {_DECAY_ALPHA}, mx.mday - pd.day)) / 100.0, 6)"
    " AS decay_score "
    "FROM pd CROSS JOIN mx GROUP BY user_id"
)


@register("event_decay_score", oracle=EVENT_DECAY_SCORE_ORACLE, tier="C")
def event_decay_score(
    spark: SparkSession, sf_dir: str, alpha: float = _DECAY_ALPHA
) -> DataFrame:
    """Time-decayed per-user engagement score: Σ value·(1−α)^(days before
    the corpus end) — recency-weighted value, the standard ranking signal
    for churn/LTV models where yesterday's purchase should dominate last
    month's.

    Exactness discipline (the EWMA precedent): events first reduce to
    exact integer-cent subtotals PER (user, day) — an order-independent
    int64 aggregation that absorbs the data-sized summation — and only
    the CALENDAR-BOUNDED fold over a user's distinct active days
    multiplies by pow(1−α, Δdays) and sums doubles (identical per-term
    operands, ≤ corpus-span terms per user, far below the 6-dp round).
    A raw per-event double sum would accumulate in engine-dependent order
    as per-user event counts grow. The corpus max day is a broadcast
    1-row aggregate; the (user, day) group-by is the only data-sized
    shuffle, map-side combining."""
    ev = load_table(spark, sf_dir, "events")
    per_day = (
        ev.select(
            "user_id",
            ts_day("ts").alias("day"),
            money_cents(F.col("value")).alias("vc"),
        )
        .groupBy("user_id", "day")
        .agg(F.count("*").alias("n"), F.sum("vc").alias("vc_day"))
    )
    mx = F.broadcast(per_day.agg(F.max("day").alias("mday")))
    return (
        per_day.crossJoin(mx)
        .groupBy("user_id")
        .agg(
            F.sum("n").cast("long").alias("n_events"),
            F.round(
                F.sum(
                    F.col("vc_day")
                    * F.pow(F.lit(1.0 - alpha), F.col("mday") - F.col("day"))
                )
                / 100.0,
                6,
            ).alias("decay_score"),
        )
    )


# --- conversion lag -----------------------------------------------------------

EVENT_TIME_TO_CONVERT_ORACLE = (
    "WITH s AS ("
    "  SELECT user_id, min(epoch_ns(ts) // 1000) AS signup_us FROM events"
    "  WHERE event_type = 'signup' GROUP BY user_id"
    "), p AS ("
    "  SELECT user_id, min(epoch_ns(ts) // 1000) AS purchase_us FROM events"
    "  WHERE event_type = 'purchase' GROUP BY user_id"
    ") SELECT s.user_id, s.signup_us, p.purchase_us, "
    "round((p.purchase_us - s.signup_us) / 3600000000.0, 6) AS hours_to_convert "
    "FROM s JOIN p USING (user_id) WHERE p.purchase_us > s.signup_us"
)


@register("event_time_to_convert", oracle=EVENT_TIME_TO_CONVERT_ORACLE, tier="C")
def event_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion lag per user: hours from FIRST signup to FIRST
    subsequent purchase — the activation metric growth teams distribute
    and percentile. Two conditional min-aggregates over one scan (the
    filter disjuncts fuse), an equi-join on user, and an exact integer µs
    difference; only users whose first purchase follows their first
    signup qualify (the join + predicate states the funnel order).

    Exactness: µs are exact int64; hours is one double division, 6 dp.
    Scale: two map-side-combining aggs + a user-key join — no window, no
    event-order shuffle."""
    ev = load_table(spark, sf_dir, "events")
    us = ts_us("ts")
    s = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(us).alias("signup_us"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min(us).alias("purchase_us"))
    )
    return (
        s.join(p, "user_id")
        .where(F.col("purchase_us") > F.col("signup_us"))
        .select(
            "user_id",
            "signup_us",
            "purchase_us",
            F.round(
                (F.col("purchase_us") - F.col("signup_us")) / 3_600_000_000.0, 6
            ).alias("hours_to_convert"),
        )
    )


# --- vocabulary coverage curve ------------------------------------------------

_COVERAGE_KS = (5, 10, 20)

TEXT_VOCAB_COVERAGE_ORACLE = (
    "WITH wc AS ("
    "  SELECT word, count(*) AS n FROM ("
    "    SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents"
    "  ) WHERE word <> '' GROUP BY word"
    "), ranked AS ("
    "  SELECT n, row_number() OVER (ORDER BY n DESC, word) AS rnk FROM wc"
    "), tot AS (SELECT sum(n) AS t FROM wc) "
    + " UNION ALL ".join(
        f"SELECT {k} AS k, "
        f"CAST((SELECT coalesce(sum(n), 0) FROM ranked WHERE rnk <= {k}) AS BIGINT)"
        " AS n_tokens_covered, "
        f"round((SELECT coalesce(sum(n), 0) FROM ranked WHERE rnk <= {k})"
        " / (1.0 * tot.t), 6) AS coverage FROM tot"
        for k in _COVERAGE_KS
    )
)


@register("text_vocab_coverage", oracle=TEXT_VOCAB_COVERAGE_ORACLE, tier="B")
def text_vocab_coverage(
    spark: SparkSession, sf_dir: str, ks: tuple = _COVERAGE_KS
) -> DataFrame:
    """Vocabulary coverage curve: what fraction of all corpus tokens the
    top-k most frequent types cover, for each candidate k — the number a
    tokenizer/vocab-size decision reads (k where the curve flattens IS
    the vocabulary budget). One word-count shuffle; ranking and the
    cumulative shares run over the AGGREGATED vocabulary (|V| rows — the
    text_zipf precedent, a bounded single-partition window over types,
    never the token stream), and all k values come from one pass via an
    explode fan-out.

    Exactness: token counts are exact int64; coverage is one double
    division, 6 dp."""
    d = load_table(spark, sf_dir, "documents")
    wc = (
        d.select(F.explode(F.split(F.lower("text"), " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    w = Window.orderBy(F.col("n").desc(), "word")
    ranked = wc.select("n", F.row_number().over(w).alias("rnk"))
    tot = F.broadcast(wc.agg(F.sum("n").alias("t")))
    fan = ranked.select(
        "n", "rnk", F.explode(F.array(*[F.lit(k) for k in ks])).alias("k")
    )
    return (
        fan.groupBy("k")
        .agg(
            F.sum(F.when(F.col("rnk") <= F.col("k"), F.col("n")).otherwise(0))
            .cast("long")
            .alias("n_tokens_covered")
        )
        .crossJoin(tot)
        .select(
            "k",
            "n_tokens_covered",
            F.round(F.col("n_tokens_covered") / (1.0 * F.col("t")), 6).alias(
                "coverage"
            ),
        )
    )


# --- revenue concentration (top-k share) -------------------------------------

_TOPK_CUSTOMERS = 10

AGG_TOPK_SHARE_ORACLE = (
    "WITH rev AS ("
    f"  SELECT o_custkey, sum({money_cents_sql('o_totalprice')}) AS r"
    "  FROM orders GROUP BY o_custkey"
    "), top AS ("
    f"  SELECT r FROM rev ORDER BY r DESC, o_custkey LIMIT {_TOPK_CUSTOMERS}"
    ") SELECT "
    f"CAST({_TOPK_CUSTOMERS} AS BIGINT) AS k, "
    "CAST((SELECT sum(r) FROM top) AS BIGINT) / 100.0 AS topk_revenue, "
    "CAST((SELECT sum(r) FROM rev) AS BIGINT) / 100.0 AS total_revenue, "
    "round((SELECT sum(r) FROM top) / (1.0 * (SELECT sum(r) FROM rev)), 6)"
    " AS share"
)


@register("agg_topk_share", oracle=AGG_TOPK_SHARE_ORACLE, tier="C")
def agg_topk_share(
    spark: SparkSession, sf_dir: str, k: int = _TOPK_CUSTOMERS
) -> DataFrame:
    """Revenue concentration: the share of total order revenue held by
    the top-``k`` customers — the '80/20' number beside the staged Gini
    coefficient (Gini summarizes the whole curve; this reads one point a
    business actually acts on). Per-customer revenue is one map-side-
    combining aggregate in exact integer cents; the top-k is
    TakeOrderedAndProject (heap, never a global sort — custkey breaks
    revenue ties deterministically), and both sums fold k and |customers|
    rows respectively.

    Exactness: all cents sums are exact int64 (decimal-safe far past this
    fixture); share is one double division, 6 dp."""
    o = load_table(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.sum(money_cents(F.col("o_totalprice"))).alias("r")
    )
    top = F.broadcast(
        rev.orderBy(F.col("r").desc(), "o_custkey")
        .limit(k)
        .agg(F.sum("r").alias("top_r"))
    )
    total = F.broadcast(rev.agg(F.sum("r").alias("tot_r")))
    return top.crossJoin(total).select(
        F.lit(k).cast("long").alias("k"),
        (F.col("top_r").cast("long") / 100.0).alias("topk_revenue"),
        (F.col("tot_r").cast("long") / 100.0).alias("total_revenue"),
        F.round(F.col("top_r") / (1.0 * F.col("tot_r")), 6).alias("share"),
    )


# --- one-row corpus health report --------------------------------------------

PIPELINE_CORPUS_REPORT_ORACLE = (
    "WITH base AS ("
    "  SELECT doc_id, text, lang, source,"
    "    len(string_split(text, ' ')) AS ws_tokens"
    "  FROM documents"
    "), dup AS ("
    "  SELECT count(*) AS n_dup_docs FROM ("
    "    SELECT text FROM base GROUP BY text HAVING count(*) > 1"
    "  ) g JOIN base b ON b.text = g.text"
    "), src AS ("
    "  SELECT source, count(*) AS n FROM base GROUP BY source"
    "), ent AS ("
    "  SELECT sum((n / (1.0 * t)) * log2(t / (1.0 * n))) AS bits"
    "  FROM src, (SELECT sum(n) AS t FROM src)"
    ") SELECT "
    "CAST((SELECT count(*) FROM base) AS BIGINT) AS n_docs, "
    "CAST(dup.n_dup_docs AS BIGINT) AS n_exact_dup_docs, "
    "round(dup.n_dup_docs / (1.0 * (SELECT count(*) FROM base)), 6) AS dup_rate, "
    "round((SELECT sum(ws_tokens) FROM base) / (1.0 * (SELECT count(*) FROM base)), 6)"
    " AS mean_ws_tokens, "
    "round((SELECT count(*) FILTER (ws_tokens < 20) FROM base)"
    " / (1.0 * (SELECT count(*) FROM base)), 6) AS short_rate, "
    "round((SELECT count(*) FILTER (lang = 'en') FROM base)"
    " / (1.0 * (SELECT count(*) FROM base)), 6) AS lang_en_rate, "
    "round(ent.bits, 6) AS source_entropy_bits "
    "FROM dup, ent WHERE (SELECT count(*) FROM base) > 0"
)


@register("pipeline_corpus_report", oracle=PIPELINE_CORPUS_REPORT_ORACLE, tier="B")
def pipeline_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus health report — the KPI summary a curation run
    prints before anyone drills in: document count, exact-duplicate
    count/rate, mean whitespace-token length, short-document rate,
    English share, and the source-mix entropy in bits (log₂|sources| =
    perfectly balanced; → 0 = one source dominates). Composes the
    engine's existing signal definitions (exact dedup's text-equality
    grouping, text_token_count's whitespace tokens, the JSD op's source
    distribution) into the single row dashboards consume.

    Plan economy: ONE scan feeds a global aggregate carrying every
    per-doc statistic (conditional sums — the dq_expectations shape), the
    dup count is the engine's text group-by re-joined only against group
    sizes, and the source entropy folds over the |sources|-row mix. No
    window, no driver math.

    Exactness: all counts exact int64; each rate is one double division
    and the entropy a ≤|sources|-term double fold, 6 dp."""
    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        "text",
        "lang",
        "source",
        F.size(F.split("text", " ")).alias("ws_tokens"),
    )
    scalars = base.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("ws_tokens").alias("sum_tokens"),
        F.sum(F.when(F.col("ws_tokens") < 20, 1).otherwise(0)).alias("n_short"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("n_en"),
    )
    dup = F.broadcast(
        base.groupBy("text")
        .agg(F.count("*").alias("g"))
        .where(F.col("g") > 1)
        .agg(F.coalesce(F.sum("g"), F.lit(0)).cast("long").alias("n_dup_docs"))
    )
    src = base.groupBy("source").agg(F.count("*").alias("n"))
    ent = F.broadcast(
        src.crossJoin(F.broadcast(src.agg(F.sum("n").alias("t"))))
        .agg(
            F.sum(
                (F.col("n") / (1.0 * F.col("t")))
                * F.log2(F.col("t") / (1.0 * F.col("n")))
            ).alias("bits")
        )
    )
    return (
        scalars.crossJoin(dup)
        .crossJoin(ent)
        .select(
            "n_docs",
            "n_dup_docs",
            # try_divide + the n_docs guard below: an EMPTY corpus must not
            # ANSI-abort on 0/0 — the contract is zero report rows, matching
            # the oracle's WHERE count > 0 (empty-corpus sweep, round 7)
            F.round(F.try_divide(F.col("n_dup_docs"), 1.0 * F.col("n_docs")), 6).alias(
                "dup_rate"
            ),
            F.round(F.try_divide(F.col("sum_tokens"), 1.0 * F.col("n_docs")), 6).alias(
                "mean_ws_tokens"
            ),
            F.round(F.try_divide(F.col("n_short"), 1.0 * F.col("n_docs")), 6).alias(
                "short_rate"
            ),
            F.round(F.try_divide(F.col("n_en"), 1.0 * F.col("n_docs")), 6).alias(
                "lang_en_rate"
            ),
            F.round(F.col("bits"), 6).alias("source_entropy_bits"),
        )
        .withColumnRenamed("n_dup_docs", "n_exact_dup_docs")
        .where(F.col("n_docs") > 0)
    )
