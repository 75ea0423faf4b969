"""Control-chart / template / null-semantics / shrinkage wave. Like every
``staged_r*`` module with ``DEV_CASES``, it registers itself on import: the
package root registers each ``(key, fn, oracle)`` entry.
tests/test_oracle_parity.py runs the fn-vs-DuckDB compare;
tests/test_staged_r32.py holds the independent property checks.

Contents:

- ``stat_ewma_chart`` — the EWMA control chart (Roberts 1959; λ=0.2,
  L=3) over daily event volume with TIME-VARYING control limits: the
  SPC companion of ``event_cusum_alarm`` (CUSUM catches accumulating
  small shifts; the EWMA chart localizes when the process left control)
  — the variance factor 1−(1−λ)^{2t} is carried THROUGH the recursion
  (a second multiplicative state) so both engines' limits are
  bit-identical and the in/out-of-control flag is exact.
- ``text_source_template`` — per-source boilerplate template discovery
  via the order-statistics LCP identity: the longest common prefix of a
  GROUP equals the LCP of its lexicographic min and max, so template
  extraction costs two string aggregates plus a bounded 64-term prefix
  comparison — no pairwise scan.
- ``join_null_safe`` — the null-safe equality join (``<=>`` /
  IS NOT DISTINCT FROM): NULL keys MATCH each other instead of
  dropping, the semantics an ordinary equi-join silently gets wrong
  when the join key is legitimately absent.
- ``stat_eb_shrinkage`` — empirical-Bayes (beta-binomial,
  method-of-moments) shrinkage of per-user purchase rates toward the
  pooled rate — the ranking stabilizer every sparse-per-entity metric
  needs (a 1-of-1 user must not outrank a 190-of-1000 user).
- ``dq_catalog_snapshot`` — the catalog health row per fixture table:
  row count, column count, and an md5 schema fingerprint over the
  ordered column names — the drift tripwire a nightly catalog job
  diffs.

Exactness doctrine: chart recursion and limits are identical IEEE trees
seeded from exact integers; LCP, null-safe counts and catalog rows are
exact integers/strings; EB shrinkage sums per-user rate DOUBLES (a
documented doctrine-exception like stat_fit_compare — ulp·√n noise
absorbed by 6 dp display rounding, with no ranking decided on the noisy
digits).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.loader import load_table, ts_day
from .exact import floor_day_us_sql

_D38 = "decimal(38,0)"

# --- EWMA control chart -------------------------------------------------------------------

_EWMA_LAMBDA = 0.2
_EWMA_L = 3.0

# bare float literals are DECIMAL in DuckDB (SPRT precedent) — force the
# DOUBLE IEEE tree Spark builds
_LAM = f"CAST({_EWMA_LAMBDA!r} AS DOUBLE)"
_OML = f"(1.0 - {_LAM})"  # DOUBLE − … stays DOUBLE
_HALF = (
    f"CAST({_EWMA_L!r} AS DOUBLE) * base.sigma "
    f"* sqrt({_LAM} / (2.0 - {_LAM}) * (1.0 - w))"
)

STAT_EWMA_CHART_ORACLE = (
    "WITH RECURSIVE g AS ("
    f"  SELECT {floor_day_us_sql()} AS day, CAST(count(*) AS BIGINT) AS c "
    "  FROM events GROUP BY 1"
    "), r AS ("
    "  SELECT day, c, row_number() OVER (ORDER BY day) AS rn FROM g"
    "), s AS ("
    "  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS HUGEINT) AS sx, "
    "  CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS sxx FROM g"
    "), base AS ("
    "  SELECT CAST(sx AS DOUBLE) / n AS mu, "
    "  sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) / n AS sigma FROM s WHERE n > 1"
    "), walk(rn, day, c, z, w) AS ("
    f"  SELECT r.rn, r.day, r.c, "
    f"  {_LAM} * r.c + {_OML} * base.mu, "
    f"  {_OML} * {_OML} "
    "  FROM r, base WHERE r.rn = 1"
    "  UNION ALL "
    f"  SELECT r.rn, r.day, r.c, "
    f"  {_LAM} * r.c + {_OML} * w.z, "
    f"  w.w * ({_OML} * {_OML}) "
    "  FROM walk w JOIN r ON r.rn = w.rn + 1"
    ") SELECT day, c AS cnt, round(z, 6) AS z, "
    f"round(base.mu + {_HALF}, 6) AS ucl, "
    f"round(base.mu - {_HALF}, 6) AS lcl, "
    f"abs(z - base.mu) > {_HALF} AS out_of_control "
    "FROM walk, base"
)

_EWMA_SCHEMA = (
    "day long, cnt long, z double, ucl double, lcl double, "
    "out_of_control boolean"
)


def stat_ewma_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA control chart (Roberts 1959) over daily event volume:
    z_t = λ·x_t + (1−λ)·z_{t−1} seeded at the process mean, with the
    TIME-VARYING limits μ ± L·σ·√(λ/(2−λ)·(1−(1−λ)^{2t})) (λ=0.2,
    L=3) — the statistical-process-control screen that localizes WHEN
    volume left control, complementing ``event_cusum_alarm`` (integer
    CUSUM, accumulation) and ``win_bollinger`` (rolling bands, no
    memory).

    Determinism: μ and σ derive from exact integer sufficient
    statistics; the recursion is ×/+ on doubles through identical trees
    per step; crucially the variance factor (1−λ)^{2t} is CARRIED AS A
    SECOND RECURSIVE STATE (w_t = w_{t−1}·(1−λ)²) instead of a pow()
    call, so the limits — and therefore the knife-edge
    out-of-control FLAG — compare bit-identical doubles on both
    engines.

    Scale: one day-grain aggregate absorbs the events; the walk rides
    the calendar-bounded day series in one applyInPandas group
    (event_holt precedent), the oracle a RECURSIVE CTE."""
    import math

    import pandas as pd

    ev = load_table(spark, sf_dir, "events")
    g = ev.groupBy(ts_day("ts").alias("day")).agg(
        F.count("*").cast("long").alias("c")
    )
    s = g.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("c").cast(_D38)).alias("sx"),
        F.sum(F.col("c").cast(_D38) * F.col("c")).alias("sxx"),
    ).collect()
    if not s or not s[0]["n"] or s[0]["n"] <= 1:
        return spark.createDataFrame([], _EWMA_SCHEMA)
    n, sx, sxx = s[0]["n"], int(s[0]["sx"]), int(s[0]["sxx"])
    mu = float(sx) / n
    sigma = math.sqrt(float(n * sxx - sx * sx)) / n
    lam, big_l = _EWMA_LAMBDA, _EWMA_L

    def walk(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("day")
        days, cs = list(pdf["day"]), [int(c) for c in pdf["c"]]
        out = []
        z, w = mu, 1.0
        for day, x in zip(days, cs):
            z = lam * x + (1.0 - lam) * z
            w = w * ((1.0 - lam) * (1.0 - lam))
            half = big_l * sigma * math.sqrt(lam / (2.0 - lam) * (1.0 - w))

            def r6(v: float) -> float:
                return math.copysign(math.floor(abs(v) * 1e6 + 0.5), v) / 1e6

            out.append(
                (
                    int(day),
                    x,
                    r6(z),
                    r6(mu + half),
                    r6(mu - half),
                    abs(z - mu) > half,
                )
            )
        return pd.DataFrame(
            out,
            columns=["day", "cnt", "z", "ucl", "lcl", "out_of_control"],
        )

    return g.withColumn("_g", F.lit(1)).groupBy("_g").applyInPandas(
        walk, _EWMA_SCHEMA
    )


# --- per-source boilerplate template ----------------------------------------------------------

_LCP_MAX = 64


def _lcp_sql(a: str, b: str) -> str:
    terms = " + ".join(
        f"CASE WHEN substr({a}, 1, {k}) = substr({b}, 1, {k}) "
        "THEN 1 ELSE 0 END"
        for k in range(1, _LCP_MAX + 1)
    )
    return f"({terms})"


TEXT_SOURCE_TEMPLATE_ORACLE = (
    "WITH s AS ("
    "  SELECT source, CAST(count(*) AS BIGINT) AS n_docs, "
    "  min(text) AS mn, max(text) AS mx FROM documents "
    "  WHERE text IS NOT NULL GROUP BY source"
    f") SELECT source, n_docs, CAST({_lcp_sql('mn', 'mx')} AS BIGINT) "
    "AS lcp_len, "
    f"substr(mn, 1, {_lcp_sql('mn', 'mx')}) AS template_prefix "
    "FROM s"
)


def text_source_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source boilerplate template discovery via the order-statistics
    LCP identity: the longest common prefix of ALL texts in a group
    equals the LCP of the group's lexicographic MIN and MAX (any
    divergence between two members shows up between the extremes), so
    template extraction costs two string aggregates plus ONE bounded
    prefix comparison — never a pairwise scan. The first-64-char
    template is the signature curation uses to strip per-source headers
    (the dedup_lines complement: that removes REPEATED blocks anywhere;
    this names the shared prefix per source).

    Determinism: min/max string aggregation and the 64-term prefix-
    equality sum (prefix equality is monotone, so the indicator sum IS
    the LCP length, capped at 64) are exact on both engines.

    Scale: one map-side-combined min/max aggregate per source; the LCP
    expression runs on |sources| rows."""
    d = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    s = d.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.min("text").alias("mn"),
        F.max("text").alias("mx"),
    )
    lcp = None
    for k in range(1, _LCP_MAX + 1):
        term = F.when(
            F.substring("mn", 1, k) == F.substring("mx", 1, k), 1
        ).otherwise(0)
        lcp = term if lcp is None else lcp + term
    return s.select(
        "source",
        "n_docs",
        lcp.cast("long").alias("lcp_len"),
        F.expr(
            f"substr(mn, 1, {_lcp_sql('mn', 'mx')})"
        ).alias("template_prefix"),
    )


# --- null-safe equality join --------------------------------------------------------------------

JOIN_NULL_SAFE_ORACLE = (
    "WITH lab AS ("
    "  SELECT CASE WHEN event_type = 'error' THEN NULL ELSE event_type END "
    "  AS et FROM events"
    "), dim(k, category) AS (VALUES "
    "  ('click', 'engagement'), ('view', 'engagement'), "
    "  ('purchase', 'revenue'), ('signup', 'growth'), "
    "  (NULL, 'unknown')"
    ") SELECT coalesce(dim.k, '<null>') AS key_display, category, "
    "CAST(count(*) AS BIGINT) AS n "
    "FROM lab JOIN dim ON lab.et IS NOT DISTINCT FROM dim.k "
    "GROUP BY 1, 2"
)


def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NULL-SAFE equality join (Spark ``<=>``, SQL IS NOT DISTINCT
    FROM): event types with a legitimately-ABSENT key (errors carry
    NULL here, the fn_nulls convention) still join — NULL matches NULL —
    where an ordinary equi-join would silently drop every such row (the
    classic silent-data-loss bug in dimension lookups with unknown
    members). The dimension carries an explicit NULL→'unknown' member;
    the output proves the NULL bucket survives with its full count.

    Determinism: pure integer counting.

    Scale: a 5-row broadcast dimension; the null-safe condition still
    plans as a broadcast HASH join (null-safe equality is hashable —
    Spark treats <=> as an equi-key), so the fact side never shuffles."""
    e = load_table(spark, sf_dir, "events").select(
        F.when(F.col("event_type") == "error", F.lit(None))
        .otherwise(F.col("event_type"))
        .alias("et")
    )
    dim = spark.createDataFrame(
        [
            ("click", "engagement"),
            ("view", "engagement"),
            ("purchase", "revenue"),
            ("signup", "growth"),
            (None, "unknown"),
        ],
        "k string, category string",
    )
    return (
        e.join(F.broadcast(dim), F.col("et").eqNullSafe(F.col("k")))
        .groupBy(
            F.coalesce(F.col("k"), F.lit("<null>")).alias("key_display"),
            "category",
        )
        .agg(F.count("*").cast("long").alias("n"))
    )


# --- empirical-Bayes rate shrinkage ----------------------------------------------------------------

STAT_EB_SHRINKAGE_ORACLE = (
    "WITH u AS ("
    "  SELECT user_id, CAST(count(*) AS BIGINT) AS n, "
    "  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) "
    "  AS BIGINT) AS c FROM events GROUP BY user_id"
    "), prior AS ("
    "  SELECT sum(c) / (1.0 * sum(n)) AS p0, "
    "  count(*) AS k, "
    "  sum(c / (1.0 * n)) / count(*) AS pbar, "
    "  sum((c / (1.0 * n)) * (c / (1.0 * n))) / count(*) AS pbar2, "
    "  sum(1.0 / n) / count(*) AS invn FROM u"
    "), kappa AS ("
    "  SELECT p0, greatest(1.0, "
    "  pbar * (1 - pbar) * invn / nullif((pbar2 - pbar * pbar) "
    "  - pbar * (1 - pbar) * invn, 0.0)) AS strength FROM prior"
    ") SELECT user_id, n, c, round(c / (1.0 * n), 6) AS raw_rate, "
    "round((c + strength * p0) / (n + strength), 6) AS shrunk_rate "
    "FROM u, kappa"
)


def stat_eb_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes shrinkage of per-user purchase rates toward the
    pooled rate, with a method-of-moments prior strength κ: shrunk =
    (c + κ·p₀)/(n + κ), κ estimated from the between-user variance of
    raw rates net of their binomial sampling noise (floored at 1 so a
    degenerate decomposition still shrinks minimally) — the ranking
    stabilizer sparse per-entity metrics need (a 1-for-1 user must not
    outrank a 190-of-1000 user; after shrinkage it doesn't), and the
    same machinery an LLM pipeline applies to per-SOURCE quality rates.

    Determinism note (doctrine-documented exception, stat_fit_compare
    precedent): the rate moments sum DOUBLES across users, so κ carries
    ≈ulp·√k cross-engine noise — absorbed by the 6 dp display rounding
    (relative effect ~1e-14), and no ranking or threshold is decided on
    the noisy digits (raw counts n, c stay exact in the output).

    Scale: one per-user map-side-combined aggregate, a 1-row prior
    broadcast, one projection."""
    e = load_table(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("c"),
    )
    rate = F.col("c") / (1.0 * F.col("n"))
    prior = u.agg(
        (F.sum("c") / (1.0 * F.sum("n"))).alias("p0"),
        F.count("*").alias("k"),
        (F.sum(rate) / F.count("*")).alias("pbar"),
        (F.sum(rate * rate) / F.count("*")).alias("pbar2"),
        (F.sum(1.0 / F.col("n")) / F.count("*")).alias("invn"),
    )
    strength = F.greatest(
        F.lit(1.0),
        F.col("pbar")
        * (1 - F.col("pbar"))
        * F.col("invn")
        / F.nullif(
            (F.col("pbar2") - F.col("pbar") * F.col("pbar"))
            - F.col("pbar") * (1 - F.col("pbar")) * F.col("invn"),
            F.lit(0.0),
        ),
    )
    kappa = prior.select("p0", strength.alias("strength"))
    return u.crossJoin(F.broadcast(kappa)).select(
        "user_id",
        "n",
        "c",
        F.round(F.col("c") / (1.0 * F.col("n")), 6).alias("raw_rate"),
        F.round(
            (F.col("c") + F.col("strength") * F.col("p0"))
            / (F.col("n") + F.col("strength")),
            6,
        ).alias("shrunk_rate"),
    )


# --- catalog snapshot -------------------------------------------------------------------------------

_CATALOG_TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

DQ_CATALOG_SNAPSHOT_ORACLE = " UNION ALL ".join(
    (
        f"SELECT '{t}' AS table_name, CAST(count(*) AS BIGINT) AS n_rows, "
        "CAST((SELECT count(*) FROM information_schema.columns "
        f"WHERE table_name = '{t}') AS BIGINT) AS n_cols, "
        "(SELECT md5(string_agg(column_name, ',' ORDER BY ordinal_position))"
        f" FROM information_schema.columns WHERE table_name = '{t}') "
        f"AS schema_md5 FROM {t}"
    )
    for t in _CATALOG_TABLES
)


def dq_catalog_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The catalog health snapshot: one row per fixture table with its
    row count, column count, and an md5 fingerprint of the ORDERED
    column names — the nightly-diff tripwire that catches silent schema
    drift (a renamed/reordered/dropped column changes the fingerprint
    before any downstream query fails confusingly). Both engines derive
    the fingerprint from their OWN view of the schema (Spark from
    DataFrame.columns, the oracle from information_schema), so the
    hash-match itself certifies the two engines agree on every table's
    column list.

    Determinism: counts and md5 over identical comma-joined names.

    Scale: count(*) per table rides parquet row-group metadata; the
    fingerprint is driver-side over column LISTS (bounded by schema
    width, never data)."""
    rows = []
    for t in _CATALOG_TABLES:
        df = load_table(spark, sf_dir, t)
        rows.append(
            df.agg(
                F.lit(t).alias("table_name"),
                F.count("*").cast("long").alias("n_rows"),
                F.lit(len(df.columns)).cast("long").alias("n_cols"),
                F.md5(F.lit(",".join(df.columns)).cast("binary")).alias(
                    "schema_md5"
                ),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


DEV_CASES = [
    ("stat_ewma_chart", stat_ewma_chart, STAT_EWMA_CHART_ORACLE),
    ("text_source_template", text_source_template, TEXT_SOURCE_TEMPLATE_ORACLE),
    ("join_null_safe", join_null_safe, JOIN_NULL_SAFE_ORACLE),
    ("stat_eb_shrinkage", stat_eb_shrinkage, STAT_EB_SHRINKAGE_ORACLE),
    ("dq_catalog_snapshot", dq_catalog_snapshot, DQ_CATALOG_SNAPSHOT_ORACLE),
]
