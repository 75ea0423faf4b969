"""Experiment-assignment / adversarial-text / snapshot-retention / median-test
wave. Like every ``staged_r*`` module with ``DEV_CASES``, it registers
itself on import: the package root registers each ``(key, fn, oracle)``
entry. tests/test_oracle_parity.py runs the fn-vs-DuckDB compare;
tests/test_staged_r50.py holds the independent property checks.

Contents:

- ``sample_ab_assignment`` — deterministic experiment bucketing + the
  sample-ratio-mismatch (SRM) check every experimentation platform runs
  before trusting a readout: users hash into 100 buckets via the shared
  md5-60-bit hash of ``'ab1:' || user_id`` (salted so a second
  experiment gets independent buckets), arms A/B split the bucket
  space 50/50, and each arm's chi² contribution against the expected
  half is an exact-integer expression with one division. A skewed
  split here means the assignment (not the treatment) is broken —
  the #1 silent killer of A/B results. Complements ``event_ab_test``
  (effect analysis AFTER assignment).
- ``text_homoglyph_scrub`` — confusable-character hygiene for LLM
  corpora: documents with doc_id % 7 == 0 are deterministically
  poisoned with Cyrillic а/е/о homoglyphs (the fixture is pure ASCII,
  so the operator carries its own adversarial geometry — the
  geo_radius_join convention), then the scrubber maps confusables back
  to ASCII and the census counts affected docs, scrubbed code points,
  and full-corpus roundtrip integrity. Homoglyph spam defeats exact
  dedup and keyword filters; this is the normalize-before-hash step.
- ``warehouse_retention_vacuum`` — snapshot-retention VACUUM planning
  over a (day × event_type) partition manifest: with a 10-day
  retention horizon from the newest day, which partition files expire,
  how many rows/bytes go with them, and the oldest retained day — the
  dry-run census a lakehouse table service prints before deleting
  anything. Complements ``layout_compaction_plan`` (small-file
  geometry) and ``scd2_snapshot_diff`` (content drift).
- ``stat_mood_median`` — Mood's median test across event types on the
  day-grain count matrix: classify each (day, type) count against the
  grand DISCRETE median (lower median — rank ⌈N/2⌉ under a total
  order), then chi² = Σ_g (a_g·N − n_g·A)² / (n_g·A·(N−A)) with every
  numerator an exact integer and one double division per group. The
  coarsest, most assumption-free k-sample location test — beside
  stat_kruskal_wallis (ranks) and stat_anova (means), this one
  survives arbitrary outliers.

Exactness doctrine: bucket ids, scrub censuses, manifest counts,
classification counts and chi² numerators are exact integers
end-to-end; chi² / shares / fractions spend one division per term on
exact integers and round to 6 dp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..pins import persisting, pin
from ..sources.loader import load_table, ts_day
from .exact import floor_day_us_sql, money_cents, money_cents_sql

_D38 = "decimal(38,0)"

# --- deterministic A/B assignment + SRM check -----------------------------------------

_AB_SALT = "ab1:"
_AB_BUCKETS = 100
_AB_SPLIT = 50  # bucket < 50 → A, else B

_ORACLE_AB_H60 = (
    "list_sum(list_transform(range(0, 15), i -> "
    "CAST(strpos('0123456789abcdef', substr(md5(w), 15 - CAST(i AS INT), 1)) - 1 "
    "AS BIGINT) << CAST(4 * i AS INT)))"
)

SAMPLE_AB_ASSIGNMENT_ORACLE = (
    "WITH u AS (SELECT DISTINCT user_id FROM events), b AS ("
    f"  SELECT user_id, CAST({_ORACLE_AB_H60} AS BIGINT) % {_AB_BUCKETS}"
    "    AS bucket"
    f"  FROM (SELECT user_id, '{_AB_SALT}' || CAST(user_id AS VARCHAR) AS w"
    "    FROM u)"
    "), arms AS ("
    f"  SELECT CASE WHEN bucket < {_AB_SPLIT} THEN 'A' ELSE 'B' END AS arm, "
    "  CAST(count(*) AS BIGINT) AS n FROM b GROUP BY 1"
    "), tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM arms) "
    "SELECT arm, n, "
    "round(CAST(n AS DOUBLE) / (SELECT nt FROM tot), 6) AS share, "
    "round(2.0 * (n - (SELECT nt FROM tot) / 2.0)"
    " * (n - (SELECT nt FROM tot) / 2.0) / (SELECT nt FROM tot), 6)"
    "  AS srm_chi2_contrib "
    "FROM arms"
)


def sample_ab_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See module docstring. One distinct + one map-side-combined
    groupBy(arm); the total rides a 1-row broadcast. Hash bucketing is
    stateless and storage-free — the same user lands in the same arm on
    every engine, every run, every scale, which is the whole contract
    of an assignment service."""
    u = load_table(spark, sf_dir, "events").select("user_id").distinct()
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit(_AB_SALT), F.col("user_id").cast("string")
                ).cast("binary")
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    arms = (
        u.select(
            F.when(h % _AB_BUCKETS < _AB_SPLIT, F.lit("A"))
            .otherwise(F.lit("B"))
            .alias("arm")
        )
        .groupBy("arm")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    tot = arms.agg(F.sum("n").cast("long").alias("nt"))
    dev = F.col("n") - F.col("nt") / 2.0
    return arms.crossJoin(F.broadcast(tot)).select(
        "arm",
        "n",
        F.round(F.col("n").cast("double") / F.col("nt"), 6).alias("share"),
        F.round(2.0 * dev * dev / F.col("nt"), 6).alias("srm_chi2_contrib"),
    )


# --- homoglyph detection & scrub -------------------------------------------------------

_HOMOGLYPHS = "аео"  # Cyrillic а/е/о — confusables for ASCII a/e/o
_ASCII_TWINS = "aeo"

TEXT_HOMOGLYPH_SCRUB_ORACLE = (
    "WITH inj AS ("
    "  SELECT doc_id, text, CASE WHEN doc_id % 7 = 0"
    f"  THEN translate(text, '{_ASCII_TWINS}', '{_HOMOGLYPHS}')"
    "  ELSE text END AS t FROM documents"
    "), det AS ("
    "  SELECT doc_id, text, "
    f"  length(t) - length(translate(t, '{_HOMOGLYPHS}', '')) AS n_confusables, "
    f"  translate(t, '{_HOMOGLYPHS}', '{_ASCII_TWINS}') AS scrubbed FROM inj"
    ") SELECT CAST(count(*) AS BIGINT) AS n_docs, "
    "CAST(sum(CASE WHEN n_confusables > 0 THEN 1 ELSE 0 END) AS BIGINT)"
    "  AS docs_affected, "
    "CAST(sum(n_confusables) AS BIGINT) AS chars_scrubbed, "
    "CAST(sum(CASE WHEN scrubbed = text THEN 1 ELSE 0 END) AS BIGINT)"
    "  AS roundtrip_ok "
    "FROM det"
)


def text_homoglyph_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See module docstring. Poison, detect, scrub and verify are four
    ``translate``/``length`` expressions in one projection — zero Python,
    zero regex backtracking, whole-stage codegen end to end; the census
    is one map-side-combined aggregate. The scrub map extends to the
    full Unicode confusables table without changing the plan."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    t = F.when(
        F.col("doc_id") % 7 == 0,
        F.translate("text", _ASCII_TWINS, _HOMOGLYPHS),
    ).otherwise(F.col("text"))
    det = d.select(
        "text",
        (
            F.length(t) - F.length(F.translate(t, _HOMOGLYPHS, ""))
        ).alias("n_confusables"),
        F.translate(t, _HOMOGLYPHS, _ASCII_TWINS).alias("scrubbed"),
    )
    return det.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("n_confusables") > 0, 1).otherwise(0))
        .cast("long")
        .alias("docs_affected"),
        F.sum("n_confusables").cast("long").alias("chars_scrubbed"),
        F.sum(F.when(F.col("scrubbed") == F.col("text"), 1).otherwise(0))
        .cast("long")
        .alias("roundtrip_ok"),
    )


# --- snapshot-retention vacuum planning -------------------------------------------------

_VACUUM_RETENTION_DAYS = 10

WAREHOUSE_RETENTION_VACUUM_ORACLE = (
    "WITH f AS ("
    f"  SELECT {floor_day_us_sql()} AS day, event_type, "
    "  CAST(count(*) AS BIGINT) AS n_rows, "
    f"  CAST(sum({money_cents_sql('value')}) AS BIGINT) AS bytes_proxy"
    "  FROM events GROUP BY 1, 2"
    "), mx AS (SELECT max(day) AS d1 FROM f) "
    "SELECT CAST(count(*) AS BIGINT) AS n_files, "
    "CAST(sum(CASE WHEN day < (SELECT d1 FROM mx)"
    f" - {_VACUUM_RETENTION_DAYS} THEN 1 ELSE 0 END) AS BIGINT)"
    "  AS files_expired, "
    "CAST(sum(CASE WHEN day < (SELECT d1 FROM mx)"
    f" - {_VACUUM_RETENTION_DAYS} THEN n_rows ELSE 0 END) AS BIGINT)"
    "  AS rows_expired, "
    "CAST(sum(CASE WHEN day < (SELECT d1 FROM mx)"
    f" - {_VACUUM_RETENTION_DAYS} THEN bytes_proxy ELSE 0 END) AS BIGINT)"
    "  AS bytes_expired, "
    "CAST(min(CASE WHEN day >= (SELECT d1 FROM mx)"
    f" - {_VACUUM_RETENTION_DAYS} THEN day END) AS BIGINT)"
    "  AS oldest_retained_day, "
    "round(CAST(sum(CASE WHEN day < (SELECT d1 FROM mx)"
    f" - {_VACUUM_RETENTION_DAYS} THEN n_rows ELSE 0 END) AS DOUBLE)"
    " / sum(n_rows), 6) AS expired_row_frac "
    "FROM f"
)


def warehouse_retention_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See module docstring. One (day, type) manifest aggregate absorbs
    the event volume — exactly what a real table format's metadata layer
    gives for free — then the expiry census is a 1-row reduce against a
    broadcast max-day. The plan never touches row data twice; at 100 TB
    the manifest IS the input."""
    f = (
        load_table(spark, sf_dir, "events")
        .groupBy(ts_day("ts").alias("day"), "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(money_cents(F.col("value"))).cast("long").alias(
                "bytes_proxy"
            ),
        )
    )
    mx = f.agg(F.max("day").alias("d1"))
    w = f.crossJoin(F.broadcast(mx))
    expired = F.col("day") < F.col("d1") - _VACUUM_RETENTION_DAYS
    return w.agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.sum(F.when(expired, 1).otherwise(0)).cast("long").alias(
            "files_expired"
        ),
        F.sum(F.when(expired, F.col("n_rows")).otherwise(0))
        .cast("long")
        .alias("rows_expired"),
        F.sum(F.when(expired, F.col("bytes_proxy")).otherwise(0))
        .cast("long")
        .alias("bytes_expired"),
        F.min(F.when(~expired, F.col("day"))).cast("long").alias(
            "oldest_retained_day"
        ),
        F.round(
            F.sum(F.when(expired, F.col("n_rows")).otherwise(0)).cast(
                "double"
            )
            / F.sum("n_rows"),
            6,
        ).alias("expired_row_frac"),
    )


# --- Mood's median test -----------------------------------------------------------------

STAT_MOOD_MEDIAN_ORACLE = (
    "WITH g AS ("
    f"  SELECT {floor_day_us_sql()} AS day, event_type, "
    "  CAST(count(*) AS BIGINT) AS v FROM events GROUP BY 1, 2"
    "), med AS ("
    "  SELECT v AS m FROM ("
    "    SELECT v, row_number() OVER (ORDER BY v, event_type, day) AS rk, "
    "    count(*) OVER () AS n FROM g) WHERE rk = (n + 1) // 2"
    "), cls AS ("
    "  SELECT event_type, "
    "  CAST(sum(CASE WHEN v > (SELECT m FROM med) THEN 1 ELSE 0 END)"
    "    AS HUGEINT) AS a, "
    "  CAST(count(*) AS HUGEINT) AS n FROM g GROUP BY event_type"
    "), tot AS ("
    "  SELECT CAST(sum(a) AS HUGEINT) AS ta, CAST(sum(n) AS HUGEINT) AS tn"
    "  FROM cls"
    ") SELECT CAST(count(*) AS INT) AS k_groups, "
    "CAST((SELECT tn FROM tot) AS BIGINT) AS n_obs, "
    "CAST((SELECT ta FROM tot) AS BIGINT) AS n_above, "
    "CAST((SELECT m FROM med) AS BIGINT) AS grand_median, "
    "round(sum(CAST((a * (SELECT tn FROM tot) - n * (SELECT ta FROM tot))"
    " * (a * (SELECT tn FROM tot) - n * (SELECT ta FROM tot)) AS DOUBLE)"
    " / CAST(n * (SELECT ta FROM tot)"
    " * ((SELECT tn FROM tot) - (SELECT ta FROM tot)) AS DOUBLE)), 6)"
    "  AS chi2 "
    "FROM cls"
)


def stat_mood_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See module docstring. The day-grain aggregate absorbs the event
    volume; the grand-median window sorts the (days × types) grid —
    calendar-bounded, never data-bounded; the chi² is a ≤|types|-row
    reduce of exact-integer numerators."""
    g = (
        load_table(spark, sf_dir, "events")
        .groupBy(ts_day("ts").alias("day"), "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("v"))
    )
    with persisting() as keep:
        keep(g)
        nrows = g.agg(F.count(F.lit(1)).alias("n"))
        rk = (
            g.crossJoin(F.broadcast(nrows))
            .select(
                "v",
                "n",
                F.row_number()
                .over(Window.orderBy("v", "event_type", "day"))
                .alias("rk"),
            )
            .where(F.col("rk") == F.expr("(n + 1) div 2"))
            .select(F.col("v").alias("m"))
        )
        cls = (
            g.crossJoin(F.broadcast(rk))
            .groupBy("event_type")
            .agg(
                F.sum(F.when(F.col("v") > F.col("m"), 1).otherwise(0))
                .cast(_D38)
                .alias("a"),
                F.count(F.lit(1)).cast(_D38).alias("n"),
                F.first("m").alias("m"),
            )
        )
        tot = cls.agg(
            F.sum("a").cast(_D38).alias("ta"),
            F.sum("n").cast(_D38).alias("tn"),
        )
        j = cls.crossJoin(F.broadcast(tot))
        num = F.col("a") * F.col("tn") - F.col("n") * F.col("ta")
        out = j.agg(
            F.count(F.lit(1)).cast("int").alias("k_groups"),
            F.first("tn").cast("long").alias("n_obs"),
            F.first("ta").cast("long").alias("n_above"),
            F.first("m").cast("long").alias("grand_median"),
            # try_divide: ta = 0 or ta = tn (every group at-or-below / above
            # the grand median — degenerate tiny corpora) zeroes the global
            # denominator; DuckDB's x/0 yields NULL where a bare ANSI `/`
            # aborts the whole job (round-12 degenerate-corpus sweep find)
            F.round(
                F.sum(
                    F.try_divide(
                        (num * num).cast("double"),
                        (
                            F.col("n")
                            * F.col("ta")
                            * (F.col("tn") - F.col("ta"))
                        ).cast("double"),
                    )
                ),
                6,
            ).alias("chi2"),
        )
        return pin(out)


DEV_CASES = [
    ("sample_ab_assignment", sample_ab_assignment, SAMPLE_AB_ASSIGNMENT_ORACLE),
    ("text_homoglyph_scrub", text_homoglyph_scrub, TEXT_HOMOGLYPH_SCRUB_ORACLE),
    (
        "warehouse_retention_vacuum",
        warehouse_retention_vacuum,
        WAREHOUSE_RETENTION_VACUUM_ORACLE,
    ),
    ("stat_mood_median", stat_mood_median, STAT_MOOD_MEDIAN_ORACLE),
]
