"""Robust-statistics / data-quality / format-fidelity wave (registered
since round 8). Like every ``staged_r*`` module with ``DEV_CASES``, it
registers itself on import: the package root registers each
``(key, fn, oracle)`` entry. tests/test_oracle_parity.py runs the
fn-vs-DuckDB compare; tests/test_staged_r12.py holds the independent
property checks.

Contents:

- ``stat_jarque_bera`` — per-group normality test statistic from exact
  decimal(38) moment sums (the decision layer over agg_skew_kurt's raw
  moments).
- ``stat_theil_sen`` — robust trend slope per event type: the median of
  all pairwise day-grain slopes (Theil 1950 / Sen 1968), immune to the
  outlier days that bend win_rolling_slope's OLS.
- ``dq_anomaly_iqr`` — Tukey-fence outlier census per group (1.5·IQR
  beyond the exact interpolated quartiles) — the box-plot rule as a
  data-quality gate beside dq_expectations' schema assertions.
- ``sample_balanced`` — class-balanced downsampling to k rows per class by
  md5 bottom-k (the class-imbalance fix for training sets), summarized
  with an exact id-sum checksum so the oracle verifies the SELECTED SET,
  not just its size.
- ``event_uplift_qini`` — decile uplift / Qini read-out of a targeting
  score against treatment-vs-control conversion, with the global rank
  computed by the bounded score-histogram prefix (stat_auc's distributed
  rank machinery — no global row-stream sort).
- ``sink_csv_roundtrip`` / ``sink_jsonl_roundtrip`` — full-fidelity write →
  read round trips for the two interchange text formats (quoting/escape
  and JSON-encoding fidelity proven by value-hash equality with the source
  table), completing the sink matrix beside parquet/ORC/partitioned.

Exactness doctrine: unchanged from staged_r11 — integer/decimal(38)
accumulations, single double expressions rounded ≤6 dp, winners picked on
exact integers or pre-rounded values only.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.loader import load_table, ts_day
from .exact import floor_day_us_sql, money_cents, money_cents_sql

_D38 = "decimal(38,0)"

# --- Jarque–Bera normality statistic -----------------------------------------

STAT_JARQUE_BERA_ORACLE = (
    "WITH s AS ("
    "  SELECT event_type, count(*) AS n, "
    f"  CAST(sum({money_cents_sql('value')}) AS HUGEINT) AS s1, "
    f"  CAST(sum(CAST({money_cents_sql('value')} AS HUGEINT) * {money_cents_sql('value')}) AS HUGEINT) AS s2, "
    f"  CAST(sum(CAST({money_cents_sql('value')} AS HUGEINT) * {money_cents_sql('value')} * {money_cents_sql('value')}) AS HUGEINT) AS s3, "
    f"  CAST(sum(CAST({money_cents_sql('value')} AS HUGEINT) * {money_cents_sql('value')} * {money_cents_sql('value')} * {money_cents_sql('value')}) AS HUGEINT) AS s4"
    "  FROM events GROUP BY event_type"
    "), m AS ("
    "  SELECT event_type, n, "
    "  CAST(s1 AS DOUBLE) / n AS mu, "
    "  CAST(s2 AS DOUBLE) / n AS r2, "
    "  CAST(s3 AS DOUBLE) / n AS r3, "
    "  CAST(s4 AS DOUBLE) / n AS r4"
    "  FROM s"
    "), c AS ("
    "  SELECT event_type, n, "
    "  r2 - mu * mu AS m2, "
    "  r3 - 3.0 * mu * r2 + 2.0 * mu * mu * mu AS m3, "
    "  r4 - 4.0 * mu * r3 + 6.0 * mu * mu * r2 - 3.0 * mu * mu * mu * mu AS m4"
    "  FROM m"
    ") SELECT event_type, CAST(n AS BIGINT) AS n, "
    "round(m3 / nullif(sqrt(m2 * m2 * m2), 0), 4) AS skewness, "
    "round(m4 / nullif(m2 * m2, 0) - 3.0, 4) AS ex_kurtosis, "
    "round(n / 6.0 * ((m3 / nullif(sqrt(m2 * m2 * m2), 0)) "
    "    * (m3 / nullif(sqrt(m2 * m2 * m2), 0)) "
    "    + (m4 / nullif(m2 * m2, 0) - 3.0) * (m4 / nullif(m2 * m2, 0) - 3.0) "
    "      / 4.0), 4) AS jb "
    "FROM c"
)


def stat_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque–Bera normality statistic per event type: JB = n/6·(g₁² +
    g₂²/4) over sample skewness g₁ and excess kurtosis g₂ — the standard
    moment-based normality screen (JB ≫ 9.21 rejects normal at 1%); the
    decision layer on top of agg_skew_kurt's raw moments.

    Exactness: Σc, Σc², Σc³, Σc⁴ accumulate exactly in decimal(38)/HUGEINT
    (c ≤ 10⁴ cents ⇒ c⁴ ≤ 10¹⁶ per term — int64 would overflow within ~10³
    rows, the agg_skew_kurt escalation); the central-moment expansion and
    JB are one double tree over those integers, identical on both engines,
    rounded 4 dp (skew/kurt are cents-scale-free). Zero-variance groups
    yield NULL via nullif, not ±inf.

    Scale: one map-side-combining scan to |groups| rows of five numbers —
    the sufficient-statistics shape; nothing else moves."""
    c = money_cents(F.col("value")).cast(_D38)
    s = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(c).alias("s1"),
            F.sum(c * c).alias("s2"),
            F.sum(c * c * c).alias("s3"),
            F.sum(c * c * c * c).alias("s4"),
        )
    )
    n = F.col("n")
    mu = F.col("s1").cast("double") / n
    r2 = F.col("s2").cast("double") / n
    r3 = F.col("s3").cast("double") / n
    r4 = F.col("s4").cast("double") / n
    m2 = r2 - mu * mu
    m3 = r3 - 3.0 * mu * r2 + 2.0 * mu * mu * mu
    m4 = r4 - 4.0 * mu * r3 + 6.0 * mu * mu * r2 - 3.0 * mu * mu * mu * mu
    g1 = F.try_divide(m3, F.nullif(F.sqrt(m2 * m2 * m2), F.lit(0.0)))
    g2 = F.try_divide(m4, F.nullif(m2 * m2, F.lit(0.0))) - 3.0
    return s.select(
        "event_type",
        n.cast("long").alias("n"),
        F.round(g1, 4).alias("skewness"),
        F.round(g2, 4).alias("ex_kurtosis"),
        F.round(n / 6.0 * (g1 * g1 + g2 * g2 / 4.0), 4).alias("jb"),
    )


# --- Theil–Sen robust slope ---------------------------------------------------

STAT_THEIL_SEN_ORACLE = (
    "WITH g AS ("
    f"  SELECT event_type, {floor_day_us_sql()} AS day, "
    f"  CAST(sum({money_cents_sql('value')}) AS BIGINT) AS yc"
    "  FROM events GROUP BY 1, 2"
    "), p AS ("
    "  SELECT a.event_type, "
    "  (b.yc - a.yc) / (1.0 * (b.day - a.day)) AS slope"
    "  FROM g a JOIN g b ON a.event_type = b.event_type AND a.day < b.day"
    ") SELECT p.event_type, "
    "CAST((SELECT count(*) FROM g WHERE g.event_type = p.event_type) AS BIGINT) AS n_days, "
    "CAST(count(*) AS BIGINT) AS n_pairs, "
    "round(quantile_cont(slope, 0.5) / 100.0, 6) AS ts_slope "
    "FROM p GROUP BY p.event_type"
)


def stat_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend slope of daily revenue per event type: the
    MEDIAN of all pairwise slopes (yⱼ−yᵢ)/(dⱼ−dᵢ) over day pairs — the
    estimator with a 29% breakdown point that ignores the outlier days
    which bend :func:`.staged_r11.win_rolling_slope`'s least-squares fit.

    The pair fan-out runs on the DAY-GRAIN aggregate (one row per
    type×day), so the self-join is (days per type)² — the series length,
    bounded by the time span at ANY corpus size, never by event volume.
    Each slope is one double division of exact integers (bit-identical
    cross-engine); the median interpolates identically (quantile_cont /
    F.median share the linear-interpolation convention, the
    agg_percentile-verified parity).

    Scale: day-grain shuffle + a bounded quadratic over series length
    (3650 days → 6.7M slope pairs per type — still trivially partitionable
    by type). For multi-decade series a production caller samples pairs;
    the full form is the verifiable spec."""
    g = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", ts_day("ts").alias("day"))
        .agg(F.sum(money_cents(F.col("value"))).alias("yc"))
    )
    nd = g.groupBy("event_type").agg(F.count("*").alias("n_days"))
    a = g.alias("a")
    b = g.alias("b")
    p = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.day") < F.col("b.day")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        (
            (F.col("b.yc") - F.col("a.yc"))
            / (1.0 * (F.col("b.day") - F.col("a.day")))
        ).alias("slope"),
    )
    med = p.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.round(F.median("slope") / 100.0, 6).alias("ts_slope"),
    )
    return (
        med.join(F.broadcast(nd), "event_type")
        .select(
            "event_type",
            F.col("n_days").cast("long").alias("n_days"),
            "n_pairs",
            "ts_slope",
        )
    )


# --- Tukey-fence outlier census ----------------------------------------------

DQ_ANOMALY_IQR_ORACLE = (
    "WITH c AS ("
    f"  SELECT event_type, CAST({money_cents_sql('value')} AS DOUBLE) AS cents"
    "  FROM events"
    "), f AS ("
    "  SELECT event_type, count(*) AS n, "
    "  quantile_cont(cents, 0.25) AS q1, quantile_cont(cents, 0.75) AS q3"
    "  FROM c GROUP BY event_type"
    ") SELECT c.event_type, CAST(max(f.n) AS BIGINT) AS n, "
    "round(max(f.q1) / 100.0, 6) AS q1, round(max(f.q3) / 100.0, 6) AS q3, "
    "CAST(sum(CASE WHEN c.cents < f.q1 - 1.5 * (f.q3 - f.q1) THEN 1 ELSE 0 END) AS BIGINT) AS n_low, "
    "CAST(sum(CASE WHEN c.cents > f.q3 + 1.5 * (f.q3 - f.q1) THEN 1 ELSE 0 END) AS BIGINT) AS n_high, "
    "round(sum(CASE WHEN c.cents < f.q1 - 1.5 * (f.q3 - f.q1) "
    "            OR c.cents > f.q3 + 1.5 * (f.q3 - f.q1) THEN 1 ELSE 0 END) "
    "    / (1.0 * max(f.n)), 6) AS out_share "
    "FROM c JOIN f ON f.event_type = c.event_type GROUP BY c.event_type"
)


def dq_anomaly_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier census per event type: values beyond
    [q1 − 1.5·IQR, q3 + 1.5·IQR] of the exact interpolated quartiles —
    the box-plot rule as a distributional data-quality gate (the
    value-level sibling of dq_expectations' schema checks and
    agg_winsorized_mean's trimming).

    Two passes: a per-group quartile aggregate (|groups| rows, broadcast
    back) and one counting scan against the fences. Quartiles interpolate
    identically cross-engine (F.percentile ≡ quantile_cont, the
    agg_percentile-verified parity) over integer-cent inputs; fence
    comparisons are the same double tree on both engines.

    Scale: exact percentile is the one genuinely rank-based piece — Spark
    computes it with a per-group QuantileSummaries-style aggregate, not a
    global sort; for extreme group cardinalities the registered
    agg_percentile_iterative histogram-narrowing path substitutes. The
    counting join broadcasts |groups| fence rows."""
    c = load_table(spark, sf_dir, "events").select(
        "event_type", money_cents(F.col("value")).cast("double").alias("cents")
    )
    f = c.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.percentile("cents", F.lit(0.25)).alias("q1"),
        F.percentile("cents", F.lit(0.75)).alias("q3"),
    )
    j = c.join(F.broadcast(f), "event_type")
    lo = F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))
    hi = F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))
    return j.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n"),
        F.round(F.max("q1") / 100.0, 6).alias("q1"),
        F.round(F.max("q3") / 100.0, 6).alias("q3"),
        F.sum(F.when(F.col("cents") < lo, 1).otherwise(0))
        .cast("long")
        .alias("n_low"),
        F.sum(F.when(F.col("cents") > hi, 1).otherwise(0))
        .cast("long")
        .alias("n_high"),
        F.round(
            F.sum(
                F.when((F.col("cents") < lo) | (F.col("cents") > hi), 1).otherwise(0)
            )
            / (1.0 * F.max("n")),
            6,
        ).alias("out_share"),
    )


# --- class-balanced downsampling ---------------------------------------------

_BALANCED_K = 150  # per-class cap (trims every class at sf >= 0.001)

SAMPLE_BALANCED_ORACLE = (
    "WITH r AS ("
    "  SELECT event_type, event_id, row_number() OVER ("
    "    PARTITION BY event_type "
    "    ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rk"
    "  FROM events"
    ") SELECT event_type, "
    "CAST((SELECT count(*) FROM events e WHERE e.event_type = r.event_type) AS BIGINT) AS n_total, "
    f"CAST(count(*) FILTER (WHERE rk <= {_BALANCED_K}) AS BIGINT) AS n_sampled, "
    f"CAST(sum(event_id) FILTER (WHERE rk <= {_BALANCED_K}) AS BIGINT) AS id_checksum "
    "FROM r GROUP BY event_type"
)


def sample_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling: at most k rows PER CLASS, selected by
    md5 bottom-k within each class — the deterministic fix for class
    imbalance in training sets (every class contributes equally, the
    sample is replayable from keys alone, and it composes with
    sample_reservoir's global bottom-k: both are min-wise schemes).

    The summary row per class carries an exact integer id-checksum of the
    SELECTED rows, so the oracle verifies the selected SET is identical
    cross-engine — not merely that the counts agree.

    Scale: one hash projection + a partition-scoped window per class
    (or a groupBy top-k heap via min_by at extreme class sizes); no global
    sort, no skew beyond the class distribution itself."""
    e = load_table(spark, sf_dir, "events").select("event_type", "event_id")
    w = Window.partitionBy("event_type").orderBy(
        F.md5(F.col("event_id").cast("string").cast("binary")), "event_id"
    )
    r = e.withColumn("rk", F.row_number().over(w))
    keep = F.col("rk") <= _BALANCED_K
    return r.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_total"),
        F.count_if(keep).cast("long").alias("n_sampled"),
        F.sum(F.when(keep, F.col("event_id"))).cast("long").alias("id_checksum"),
    )


# --- decile uplift / Qini read-out -------------------------------------------

_UPLIFT_CUTOFF_DAY = 19738  # score window: strictly pre-intervention

EVENT_UPLIFT_QINI_ORACLE = (
    "WITH u AS ("
    "  SELECT user_id, user_id % 2 AS t, "
    "  max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv, "
    f"  sum(CASE WHEN {floor_day_us_sql()} < {_UPLIFT_CUTOFF_DAY} THEN 1 ELSE 0 END) AS score"
    "  FROM events GROUP BY user_id"
    "), h AS ("
    "  SELECT score, count(*) AS cnt FROM u GROUP BY score"
    "), o AS ("
    # global rank offset per score bucket: users rank by (score DESC, user_id)
    "  SELECT score, coalesce(sum(cnt) OVER (ORDER BY score DESC "
    "    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off"
    "  FROM h"
    "), rk AS ("
    "  SELECT u.user_id, u.t, u.conv, "
    "  o.off + row_number() OVER (PARTITION BY u.score ORDER BY u.user_id) AS grank, "
    "  (SELECT count(*) FROM u) AS nu"
    "  FROM u JOIN o ON o.score = u.score"
    "), d AS ("
    "  SELECT CAST((grank - 1) * 10 // nu + 1 AS BIGINT) AS decile, t, conv FROM rk"
    "), agg AS ("
    "  SELECT decile, "
    "  sum(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS n_t, "
    "  sum(CASE WHEN t = 0 THEN 1 ELSE 0 END) AS n_c, "
    "  sum(CASE WHEN t = 1 THEN conv ELSE 0 END) AS conv_t, "
    "  sum(CASE WHEN t = 0 THEN conv ELSE 0 END) AS conv_c"
    "  FROM d GROUP BY decile"
    ") SELECT decile, CAST(n_t AS BIGINT) AS n_t, CAST(n_c AS BIGINT) AS n_c, "
    "CAST(conv_t AS BIGINT) AS conv_t, CAST(conv_c AS BIGINT) AS conv_c, "
    "round(conv_t / (1.0 * nullif(n_t, 0)) - conv_c / (1.0 * nullif(n_c, 0)), 6) AS uplift, "
    "round(sum(conv_t - conv_c * (n_t / (1.0 * nullif(n_c, 0)))) OVER ("
    "  ORDER BY decile ROWS UNBOUNDED PRECEDING), 6) AS qini_cum "
    "FROM agg"
)


def event_uplift_qini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile uplift / Qini curve: rank users by a pre-intervention
    targeting score, split into deciles, and per decile report
    treatment-vs-control conversion uplift plus the cumulative Qini
    statistic Σ(conv_T − conv_C·n_T/n_C) — the standard read-out for "whom
    should we target?" on top of event_ab_test's single-number answer.

    The global user rank is computed WITHOUT a global row sort: score
    values are bounded small integers, so a score-histogram prefix gives
    each bucket's rank offset (the stat_auc distributed-rank machinery —
    the only global window runs over |distinct scores| rows), and a
    partition-scoped row_number finishes the total order (score DESC,
    user_id). Every rank/decile is an exact integer; uplift/Qini are
    single double expressions rounded 6 dp over exact counts.

    Scale: per-user aggregate (map-side combining), |scores|-row histogram,
    |deciles|-row final frame. Event volume only touches the first scan."""
    u = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            (F.col("user_id") % 2).alias("t"),
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("conv"),
            F.sum(
                F.when(ts_day("ts") < _UPLIFT_CUTOFF_DAY, 1).otherwise(0)
            ).alias("score"),
        )
    )
    h = u.groupBy("score").agg(F.count("*").alias("cnt"))
    woff = (
        Window.orderBy(F.col("score").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    o = h.select(
        "score", F.coalesce(F.sum("cnt").over(woff), F.lit(0)).alias("off")
    )
    nu = u.agg(F.count("*").alias("nu"))
    wrow = Window.partitionBy("score").orderBy("user_id")
    rk = (
        u.join(F.broadcast(o), "score")
        .crossJoin(F.broadcast(nu))
        .select(
            "t",
            "conv",
            (F.col("off") + F.row_number().over(wrow)).alias("grank"),
            "nu",
        )
    )
    d = rk.select(
        (((F.col("grank") - 1) * 10).cast("long") / F.col("nu"))
        .cast("long")
        .alias("_dfloor"),
        "t",
        "conv",
    ).select((F.col("_dfloor") + 1).alias("decile"), "t", "conv")
    agg = d.groupBy("decile").agg(
        F.sum(F.when(F.col("t") == 1, 1).otherwise(0)).alias("n_t"),
        F.sum(F.when(F.col("t") == 0, 1).otherwise(0)).alias("n_c"),
        F.sum(F.when(F.col("t") == 1, F.col("conv")).otherwise(0)).alias("conv_t"),
        F.sum(F.when(F.col("t") == 0, F.col("conv")).otherwise(0)).alias("conv_c"),
    )
    wq = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    qterm = F.col("conv_t") - F.col("conv_c") * F.try_divide(
        F.col("n_t"), 1.0 * F.nullif(F.col("n_c"), F.lit(0))
    )
    return agg.select(
        F.col("decile").cast("long").alias("decile"),
        F.col("n_t").cast("long").alias("n_t"),
        F.col("n_c").cast("long").alias("n_c"),
        F.col("conv_t").cast("long").alias("conv_t"),
        F.col("conv_c").cast("long").alias("conv_c"),
        F.round(
            F.try_divide(F.col("conv_t"), 1.0 * F.nullif(F.col("n_t"), F.lit(0)))
            - F.try_divide(F.col("conv_c"), 1.0 * F.nullif(F.col("n_c"), F.lit(0))),
            6,
        ).alias("uplift"),
        F.round(F.sum(qterm).over(wq), 6).alias("qini_cum"),
    )


# --- interchange-format round trips ------------------------------------------

_DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)

SINK_CSV_ROUNDTRIP_ORACLE = "SELECT doc_id, text, lang, source, n_chars FROM documents"
SINK_JSONL_ROUNDTRIP_ORACLE = SINK_CSV_ROUNDTRIP_ORACLE


def _stage_dir(prefix: str, sf_dir: str) -> str:
    """Deterministic uid-scoped staging dir per (operator, source corpus) —
    the scan_binary_files convention: repeat invocations overwrite in place
    instead of leaking a fresh mkdtemp per call (r8 review finding 8)."""
    import hashlib
    import os
    import tempfile

    return os.path.join(
        tempfile.gettempdir(),
        f"{prefix}_{os.getuid()}_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}",
    )


def sink_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink + scan round trip over the FULL documents table (free-text
    column included): write with header + RFC-style quoting, read back with
    an EXPLICIT schema (never inference — a 100 TB ingest cannot afford a
    schema-sniffing extra pass, and inference can silently flip types
    between file batches). The oracle compares against the source table, so
    any quoting/escape/type loss in either direction fails the value hash.

    Scale: both directions are embarrassingly parallel per partition; CSV
    carries no pushdown or column pruning (the docstring-level warning:
    this format is for interchange, not for analytics storage — the scan
    reads every byte)."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    out = _stage_dir("pmrwc_csv", sf_dir) + "/docs"
    d.write.mode("overwrite").option("header", "true").csv(out)
    return spark.read.schema(_DOCS_SCHEMA).option("header", "true").csv(out)


def sink_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink + scan round trip over the full documents table —
    the scan_jsonl ingest path exercised in REVERSE with an explicit
    schema on re-read (same no-inference policy as sink_csv_roundtrip; a
    JSONL reread with inference would also widen absent fields
    differently per batch). Value-hash equality with the source table
    proves encoding fidelity end to end."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    out = _stage_dir("pmrwc_jsonl", sf_dir) + "/docs"
    d.write.mode("overwrite").json(out)
    return spark.read.schema(_DOCS_SCHEMA).json(out)


DEV_CASES = [
    ("stat_jarque_bera", stat_jarque_bera, STAT_JARQUE_BERA_ORACLE),
    ("stat_theil_sen", stat_theil_sen, STAT_THEIL_SEN_ORACLE),
    ("dq_anomaly_iqr", dq_anomaly_iqr, DQ_ANOMALY_IQR_ORACLE),
    ("sample_balanced", sample_balanced, SAMPLE_BALANCED_ORACLE),
    ("event_uplift_qini", event_uplift_qini, EVENT_UPLIFT_QINI_ORACLE),
    ("sink_csv_roundtrip", sink_csv_roundtrip, SINK_CSV_ROUNDTRIP_ORACLE),
    ("sink_jsonl_roundtrip", sink_jsonl_roundtrip, SINK_JSONL_ROUNDTRIP_ORACLE),
]
