"""Embedding-truncation / stratified-OR / RTM wave. Like every ``staged_r*``
module with ``DEV_CASES``, it registers itself on import: the package root
registers each ``(key, fn, oracle)`` entry. tests/test_oracle_parity.py runs
the fn-vs-DuckDB compare; tests/test_staged_r38.py holds the independent
property checks.

Contents:

- ``sim_dim_truncation_eval`` — Matryoshka-style dimension-truncation
  evaluation: for 50 probe vectors, does the top-1 neighbor under the
  FIRST 8/16/32 dimensions agree with the full-64-dim answer? The
  measurement behind "can we serve at d/8 cost?" — run BEFORE anyone
  truncates embeddings in production.
- ``stat_mantel_haenszel`` — the Mantel–Haenszel pooled odds ratio of
  purchase vs variant ACROSS day-of-week strata, beside the crude OR —
  the stratified-confounding screen (Simpson's-paradox detector) that
  event_ab_test's unstratified z cannot see.
- ``fn_slugify`` — deterministic URL-slug normalization of document
  head-lines (lowercase, alnum runs kept, everything else collapsed to
  single hyphens, trimmed) — the key-normalization function under
  every content URL/id scheme, with the idempotence property pinned.
- ``stat_regression_to_mean`` — the regression-to-the-mean
  demonstration: users selected INTO the top quintile by first-half
  revenue score lower in the second half (and the bottom quintile
  rises) — selection by an exact VALUE CUTOFF from the quantile spine
  (no global user sort), making the statistics-classroom pitfall an
  executable, driver-verified fact about this corpus.
- ``agg_geometric_mean`` — the geometric mean of order value per
  priority (exp∘mean∘ln) beside the arithmetic mean — the average that
  respects multiplicative spreads, and always ≤ the arithmetic one
  (AM–GM pinned in tests).

Exactness doctrine: truncation argmaxes are decided on 6 dp-rounded
sliced dot products with integer-id tiebreaks; MH components are exact
integer 2×2 cells per stratum (the 7-term reduce rounds at 4 dp);
slugs and RTM selections are exact strings/integers; geometric means
carry the documented ln-sum exception (stat_fit_compare precedent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.loader import load_table, ts_day
from .exact import floor_day_us_sql, money_cents, money_cents_sql

_D38 = "decimal(38,0)"

# --- dimension-truncation evaluation ---------------------------------------------------

_TRUNC_DIMS = [8, 16, 32, 64]
_TRUNC_PROBES = 50


def _trunc_oracle() -> str:
    per_dim = []
    for d in _TRUNC_DIMS:
        per_dim.append(
            f"a{d} AS ("
            "  SELECT p.vec_id AS probe, c.vec_id AS cand, "
            "  row_number() OVER (PARTITION BY p.vec_id ORDER BY "
            f"  round(list_dot_product(CAST(p.embedding[1:{d}] AS DOUBLE[]), "
            f"  CAST(c.embedding[1:{d}] AS DOUBLE[])), 6) DESC, c.vec_id)"
            "  AS rn FROM probes p JOIN embeddings c "
            "  ON c.vec_id <> p.vec_id"
            ")"
        )
    picks = ", ".join(
        f"p{d} AS (SELECT probe, cand FROM a{d} WHERE rn = 1)"
        for d in _TRUNC_DIMS
    )
    unions = " UNION ALL ".join(
        f"SELECT CAST({d} AS BIGINT) AS dim, "
        "CAST(count(*) AS BIGINT) AS n_probes, "
        "CAST(sum(CASE WHEN p.cand = f.cand THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_agree, "
        "round(sum(CASE WHEN p.cand = f.cand THEN 1 ELSE 0 END) "
        "/ (1.0 * count(*)), 6) AS agreement "
        f"FROM p{d} p JOIN p{_TRUNC_DIMS[-1]} f ON p.probe = f.probe"
        for d in _TRUNC_DIMS
    )
    return (
        "WITH probes AS (SELECT vec_id, embedding FROM embeddings "
        f"WHERE vec_id < {_TRUNC_PROBES}), "
        + ", ".join(per_dim)
        + ", "
        + picks
        + " "
        + unions
    )


SIM_DIM_TRUNCATION_ORACLE = _trunc_oracle()


def sim_dim_truncation_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style dimension-truncation evaluation: for 50 probe
    vectors, compute the top-1 neighbor under the FIRST 8, 16, 32 and
    all 64 dimensions (argmax of the 6 dp-rounded sliced dot product,
    ties → smallest candidate id) and report per-dim agreement with the
    full-dimension answer — the measurement that decides whether an
    ANN/dedup stage can serve truncated embeddings at 1/8 the compute
    and memory (Kusupati et al. 2022's question, answered empirically
    for THIS corpus before anyone flips the switch). All four sliced
    dot products come from ONE probe×candidate pass.

    Determinism: argmaxes decided on 6 dp-rounded sums of exact slice
    products with integer-id tiebreaks (the sim_* family grain).

    Scale: 50 probe rows broadcast against the candidate stream (the
    sim_label_eval convention); per-probe argmaxes are map-side-
    combined struct maxes — no global sort, no n² pairs."""
    e = load_table(spark, sf_dir, "embeddings")
    probes = e.where(F.col("vec_id") < _TRUNC_PROBES).select(
        F.col("vec_id").alias("probe"), F.col("embedding").alias("pe")
    )
    cands = e.select(F.col("vec_id").alias("cand"), F.col("embedding").alias("ce"))
    j = cands.join(
        F.broadcast(probes), F.col("cand") != F.col("probe")
    )

    def sliced_dot(d: int):
        return F.round(
            F.aggregate(
                F.zip_with(
                    F.slice("pe", 1, d),
                    F.slice("ce", 1, d),
                    lambda a, b: a.cast("double") * b.cast("double"),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        )

    sims = j.select(
        "probe",
        "cand",
        *[sliced_dot(d).alias(f"s{d}") for d in _TRUNC_DIMS],
    )
    picks = None
    for d in _TRUNC_DIMS:
        pk = sims.groupBy("probe").agg(
            F.max(F.struct(F.col(f"s{d}"), (-F.col("cand")).alias("nc"))).alias(
                "mx"
            )
        ).select(
            "probe", (-F.col("mx.nc")).alias(f"cand{d}")
        )
        picks = pk if picks is None else picks.join(pk, "probe")
    full = f"cand{_TRUNC_DIMS[-1]}"
    out = None
    for d in _TRUNC_DIMS:
        row = picks.agg(
            F.lit(d).cast("long").alias("dim"),
            F.count("*").cast("long").alias("n_probes"),
            F.sum(F.when(F.col(f"cand{d}") == F.col(full), 1).otherwise(0))
            .cast("long")
            .alias("n_agree"),
        ).select(
            "dim",
            "n_probes",
            "n_agree",
            F.round(F.col("n_agree") / (1.0 * F.col("n_probes")), 6).alias(
                "agreement"
            ),
        )
        out = row if out is None else out.unionByName(row)
    return out


# --- Mantel–Haenszel stratified odds ratio -------------------------------------------------

STAT_MANTEL_HAENSZEL_ORACLE = (
    "WITH e AS ("
    f"  SELECT (({floor_day_us_sql()} % 7) + 7) % 7 AS dow, "
    "  event_id % 2 AS variant, "
    "  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y FROM events"
    "), cell AS ("
    "  SELECT dow, "
    "  CAST(sum(CASE WHEN variant = 1 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a, "
    "  CAST(sum(CASE WHEN variant = 1 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b, "
    "  CAST(sum(CASE WHEN variant = 0 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c, "
    "  CAST(sum(CASE WHEN variant = 0 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d, "
    "  CAST(count(*) AS BIGINT) AS n FROM e GROUP BY dow"
    "), mh AS ("
    "  SELECT CAST(count(*) AS BIGINT) AS k, "
    "  sum(CAST(a AS DOUBLE) * d / n) AS num, "
    "  sum(CAST(b AS DOUBLE) * c / n) AS den, "
    "  CAST(sum(a) AS BIGINT) AS ta, CAST(sum(b) AS BIGINT) AS tb, "
    "  CAST(sum(c) AS BIGINT) AS tc, CAST(sum(d) AS BIGINT) AS td FROM cell"
    ") SELECT k AS n_strata, "
    "round(num / nullif(den, 0.0), 4) AS or_mh, "
    "round((CAST(ta AS DOUBLE) * td) / nullif(CAST(tb AS DOUBLE) * tc, 0.0)"
    ", 4) AS or_crude "
    "FROM mh WHERE k > 0"
)


def stat_mantel_haenszel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Mantel–Haenszel pooled odds ratio of purchase (outcome) vs
    event-id parity (exposure) ACROSS day-of-week strata —
    OR_MH = Σᵢ(aᵢdᵢ/nᵢ) / Σᵢ(bᵢcᵢ/nᵢ) — reported beside the crude
    (collapsed) OR. When the two diverge, day-of-week confounds the
    exposure→outcome association (Simpson's paradox in the wild) and
    the unstratified ``event_ab_test`` z is answering the wrong
    question; when they agree, collapsing was safe. The
    epidemiologist's pooling rule, applied to experimentation.

    Determinism: every 2×2 cell is an exact integer; each stratum's
    aᵢdᵢ/nᵢ is one identical-tree double; the 7-term reduce carries
    the usual order spread, absorbed by the 4 dp rounding (no verdict
    is decided on it).

    Scale: one (dow × variant × outcome) map-side-combined aggregate
    absorbs the events; everything after runs on ≤7 stratum rows."""
    e = load_table(spark, sf_dir, "events").select(
        F.pmod(ts_day("ts"), F.lit(7)).alias("dow"),
        (F.col("event_id") % 2).alias("variant"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    cell = e.groupBy("dow").agg(
        F.sum(F.when((F.col("variant") == 1) & (F.col("y") == 1), 1).otherwise(0))
        .cast("long")
        .alias("a"),
        F.sum(F.when((F.col("variant") == 1) & (F.col("y") == 0), 1).otherwise(0))
        .cast("long")
        .alias("b"),
        F.sum(F.when((F.col("variant") == 0) & (F.col("y") == 1), 1).otherwise(0))
        .cast("long")
        .alias("c"),
        F.sum(F.when((F.col("variant") == 0) & (F.col("y") == 0), 1).otherwise(0))
        .cast("long")
        .alias("d"),
        F.count("*").cast("long").alias("n"),
    )
    mh = cell.agg(
        F.count("*").cast("long").alias("k"),
        F.sum(F.col("a").cast("double") * F.col("d") / F.col("n")).alias("num"),
        F.sum(F.col("b").cast("double") * F.col("c") / F.col("n")).alias("den"),
        F.sum("a").cast("long").alias("ta"),
        F.sum("b").cast("long").alias("tb"),
        F.sum("c").cast("long").alias("tc"),
        F.sum("d").cast("long").alias("td"),
    )
    return mh.where(F.col("k") > 0).select(
        F.col("k").alias("n_strata"),
        F.round(F.col("num") / F.nullif(F.col("den"), F.lit(0.0)), 4).alias(
            "or_mh"
        ),
        F.round(
            (F.col("ta").cast("double") * F.col("td"))
            / F.nullif(F.col("tb").cast("double") * F.col("tc"), F.lit(0.0)),
            4,
        ).alias("or_crude"),
    )


# --- slug normalization ---------------------------------------------------------------------

FN_SLUGIFY_ORACLE = (
    "SELECT doc_id, "
    "trim(regexp_replace(lower(substr(text, 1, 40)), '[^a-z0-9]+', '-', "
    "'g'), '-') AS slug, "
    "CAST(length(trim(regexp_replace(lower(substr(text, 1, 40)), "
    "'[^a-z0-9]+', '-', 'g'), '-')) AS BIGINT) AS slug_len "
    "FROM documents WHERE text IS NOT NULL"
)


def fn_slugify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic URL-slug normalization of each document's head (the
    first 40 chars): lowercase, every run of non-alphanumerics collapsed
    to a single hyphen, leading/trailing hyphens trimmed — the
    key-normalization function under content URLs, file names and
    human-readable ids, and a normalize-then-group dedup key in the
    dedup_canonical family. Idempotence (slugify∘slugify = slugify) is
    pinned in tests — the property that makes a slug safe to store AS
    the key.

    Determinism: identical regex class semantics and trim on both
    engines; ASCII-only class so no locale/unicode divergence.

    Scale: per-row JVM regex projection, zero shuffle."""
    d = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    slug = F.expr(
        "trim(BOTH '-' FROM regexp_replace(lower(substr(text, 1, 40)), "
        "'[^a-z0-9]+', '-'))"
    )
    return d.select(
        "doc_id",
        slug.alias("slug"),
        F.length(slug).cast("long").alias("slug_len"),
    )


# --- regression to the mean -------------------------------------------------------------------

_RTM_SPLIT_DAYS = 15


def _rtm_oracle() -> str:
    return (
        "WITH e AS ("
        f"  SELECT user_id, {floor_day_us_sql()} AS day, "
        f"  {money_cents_sql('value')} AS cents FROM events "
        "  WHERE event_type = 'purchase'"
        "), mn AS (SELECT min(day) AS d0 FROM e), "
        "u AS ("
        "  SELECT user_id, "
        f"  CAST(sum(CASE WHEN day < d0 + {_RTM_SPLIT_DAYS} THEN cents "
        "  ELSE 0 END) AS BIGINT) AS first_c, "
        f"  CAST(sum(CASE WHEN day >= d0 + {_RTM_SPLIT_DAYS} THEN cents "
        "  ELSE 0 END) AS BIGINT) AS second_c FROM e, mn GROUP BY user_id"
        "), pts AS ("
        "  SELECT first_c AS v, CAST(count(*) AS BIGINT) AS c FROM u GROUP BY 1"
        "), r AS ("
        "  SELECT v, c, CAST(coalesce(sum(c) OVER (ORDER BY v DESC ROWS "
        "  BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s "
        "  FROM pts"
        "), nn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM pts), "
        "cut AS ("
        "  SELECT v AS cutoff FROM r, nn "
        "  WHERE s < (n + 4) // 5 AND (n + 4) // 5 <= s + c"
        "), lab AS ("
        "  SELECT CASE WHEN first_c >= cutoff THEN 'top_quintile' "
        "  ELSE 'rest' END AS cohort, first_c, second_c FROM u, cut"
        ") SELECT cohort, CAST(count(*) AS BIGINT) AS n_users, "
        "round(avg(first_c) / 100.0, 2) AS mean_first, "
        "round(avg(second_c) / 100.0, 2) AS mean_second "
        "FROM lab GROUP BY cohort"
    )


STAT_RTM_ORACLE = _rtm_oracle()


def stat_regression_to_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regression to the mean, demonstrated and driver-verified: users
    selected INTO the top quintile by FIRST-half purchase revenue (the
    cutoff is the exact ⌈n/5⌉-th largest first-half value, found by the
    no-global-sort rank selection on the value spine — ties inclusive)
    are compared on their SECOND-half revenue. Selection on a noisy
    metric guarantees the selected group's follow-up regresses toward
    the mean — the statistics-classroom pitfall behind "our top
    customers are churning!" panics and most before/after program
    evaluations, made an executable fact about this corpus (the test
    pins mean_second < mean_first for the top cohort).

    Determinism: exact integer cents, exact rank-selection cutoff,
    integer cohort assignment; the two means are single divisions.

    Scale: one per-user aggregate absorbs the events; the cutoff
    selection rides the distinct-value spine (stat_median_ci
    machinery); no global user sort anywhere."""
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
    u = (
        e.crossJoin(F.broadcast(mn))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    F.col("day") < F.col("d0") + _RTM_SPLIT_DAYS, F.col("cents")
                ).otherwise(0)
            )
            .cast("long")
            .alias("first_c"),
            F.sum(
                F.when(
                    F.col("day") >= F.col("d0") + _RTM_SPLIT_DAYS, F.col("cents")
                ).otherwise(0)
            )
            .cast("long")
            .alias("second_c"),
        )
    )
    pts = u.groupBy(F.col("first_c").alias("v")).agg(
        F.count("*").cast("long").alias("c")
    )
    wp = Window.orderBy(F.desc("v")).rowsBetween(Window.unboundedPreceding, -1)
    r = pts.select(
        "v",
        "c",
        F.coalesce(F.sum("c").over(wp), F.lit(0)).cast("long").alias("s"),
    )
    nn = pts.agg(F.sum("c").cast("long").alias("n"))
    cut = (
        r.crossJoin(F.broadcast(nn))
        .where(
            (F.col("s") < ((F.col("n") + 4) / 5).cast("long"))
            & (((F.col("n") + 4) / 5).cast("long") <= F.col("s") + F.col("c"))
        )
        .select(F.col("v").alias("cutoff"))
    )
    lab = u.crossJoin(F.broadcast(cut)).select(
        F.when(F.col("first_c") >= F.col("cutoff"), "top_quintile")
        .otherwise("rest")
        .alias("cohort"),
        "first_c",
        "second_c",
    )
    return lab.groupBy("cohort").agg(
        F.count("*").cast("long").alias("n_users"),
        F.round(F.avg("first_c") / 100.0, 2).alias("mean_first"),
        F.round(F.avg("second_c") / 100.0, 2).alias("mean_second"),
    )


# --- geometric mean ----------------------------------------------------------------------------

AGG_GEOMETRIC_MEAN_ORACLE = (
    "SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n, "
    "round(exp(avg(ln(o_totalprice))), 4) AS geo_mean, "
    "round(avg(o_totalprice), 4) AS arith_mean "
    "FROM orders WHERE o_totalprice > 0 GROUP BY 1"
)


def agg_geometric_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The geometric mean of order value per priority — exp(mean(ln x)),
    the average that respects multiplicative spreads (a 2× and a ½×
    cancel) — beside the arithmetic mean, with AM ≥ GM guaranteed by
    inequality and pinned in tests; their RATIO is a one-number skew
    summary. The right "typical order" for the lognormal-ish body
    ``stat_fit_compare`` diagnoses.

    Determinism note (doctrine-documented exception, stat_fit_compare
    precedent): avg(ln x) sums doubles, so cross-engine order noise
    ≈ulp·√n exists — absorbed by the 4 dp rounding; no ranking or
    verdict is decided on it.

    Scale: one map-side-combined aggregate per group."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 0)
    return o.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.exp(F.avg(F.log("o_totalprice"))), 4).alias("geo_mean"),
        F.round(F.avg("o_totalprice"), 4).alias("arith_mean"),
    )


DEV_CASES = [
    ("sim_dim_truncation_eval", sim_dim_truncation_eval, SIM_DIM_TRUNCATION_ORACLE),
    ("stat_mantel_haenszel", stat_mantel_haenszel, STAT_MANTEL_HAENSZEL_ORACLE),
    ("fn_slugify", fn_slugify, FN_SLUGIFY_ORACLE),
    ("stat_regression_to_mean", stat_regression_to_mean, STAT_RTM_ORACLE),
    ("agg_geometric_mean", agg_geometric_mean, AGG_GEOMETRIC_MEAN_ORACLE),
]
