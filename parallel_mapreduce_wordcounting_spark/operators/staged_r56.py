"""Conformal-interval / corpus-fingerprint / redundancy-curve / LSH-health
wave. Like every ``staged_r*`` module with ``DEV_CASES``, it registers
itself on import: the package root registers each ``(key, fn, oracle)``
entry. tests/test_oracle_parity.py runs the fn-vs-DuckDB compare;
tests/test_staged_r56.py holds the independent property checks.

Contents:

- ``stat_conformal_interval`` — split-conformal prediction interval for
  the naïve persistence forecast (ŷ_t = y_{t−1}) of daily revenue: the
  calibration half's |residuals| (exact integer cents) yield the
  ⌈(m+1)·0.9⌉-th order statistic as the 90% interval half-width, and
  the held-out half reports EMPIRICAL coverage. Distribution-free
  finite-sample validity with zero model assumptions — the modern
  uncertainty wrapper every forecast ships with, beside
  event_forecast_baseline's point metrics.
- ``pipeline_dataset_hash`` — order-invariant corpus fingerprinting:
  per-document md5-60-bit hashes of ``doc_id || ':' || text`` sum
  (mod 2⁶⁰) into per-source fingerprints — Merkle-style dataset
  versioning where ANY changed/added/dropped document flips its
  source's fingerprint, yet the value is independent of row order and
  partitioning (addition is commutative). The "did the corpus change
  since the last training run?" primitive; per-source subtrees localize
  the diff.
- ``text_redundancy_curve`` — duplicate k-gram mass for k ∈ {2,3,5,8}:
  the parameter-sweep readout that picks a span-dedup shingle size
  (this fixture: 99.97% of bigrams are duplicated mass, 9.7% of
  8-grams — the knee tells you where dedup stops being noise removal
  and starts deleting unique content). One explode per k over the same
  token arrays, each a map-side-combined count.
- ``dedup_band_stats`` — LSH health diagnostics for the registered
  SimHash pigeonhole bands (dedup_simhash_pairs' 4×15-bit Manku
  bands): per band, occupied buckets, the largest bucket, and the
  candidate-pair mass Σ C(n,2) — the number that says whether a band
  is degenerating into a hub (one bucket swallowing the corpus ⇒
  candidate blow-up) BEFORE the pairing join runs. Shares the
  fingerprint spec with ``dedup.ORACLE_SIMHASH_FP`` verbatim, so the
  diagnosis can't drift from the detector it diagnoses.

Exactness doctrine: residual order statistics, fingerprints, k-gram
counts and bucket censuses are exact integers end-to-end; coverage /
dup fractions spend one division on exact integers and round to 6 dp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..pins import persisting, pin
from ..sources.loader import load_table, ts_day
from .dedup import ORACLE_SIMHASH_FP, SIMHASH_BITS
from .exact import floor_day_us_sql, money_cents, money_cents_sql

_D38 = "decimal(38,0)"

# --- split-conformal interval for the persistence forecast --------------------------------

_CONFORMAL_ALPHA_Q = 0.9  # 90% target coverage

STAT_CONFORMAL_INTERVAL_ORACLE = (
    "WITH g AS ("
    f"  SELECT {floor_day_us_sql()} AS day, "
    f"  CAST(sum({money_cents_sql('value')}) AS BIGINT) AS y"
    "  FROM events WHERE event_type = 'purchase' GROUP BY 1"
    "), r AS ("
    "  SELECT row_number() OVER (ORDER BY day) AS t, y, "
    "  lag(y) OVER (ORDER BY day) AS yp FROM g"
    "), res AS (SELECT t, abs(y - yp) AS e FROM r WHERE yp IS NOT NULL), "
    "nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM res), "
    "cal AS (SELECT e FROM res"
    "  WHERE t <= ((SELECT n FROM nn) + 1) // 2 + 1), "
    "ncal AS (SELECT CAST(count(*) AS BIGINT) AS m FROM cal), "
    "q AS ("
    "  SELECT e AS qhat FROM ("
    "    SELECT e, row_number() OVER (ORDER BY e) AS rk FROM cal)"
    "  WHERE rk = least((SELECT m FROM ncal), "
    f"    CAST(ceil(((SELECT m FROM ncal) + 1) * {_CONFORMAL_ALPHA_Q})"
    "      AS BIGINT))"
    "), test AS (SELECT e FROM res"
    "  WHERE t > ((SELECT n FROM nn) + 1) // 2 + 1) "
    "SELECT CAST((SELECT m FROM ncal) AS BIGINT) AS n_cal, "
    "CAST((SELECT count(*) FROM test) AS BIGINT) AS n_test, "
    "round(CAST((SELECT qhat FROM q) AS DOUBLE) / 100, 6) AS interval_usd, "
    "CAST((SELECT sum(CASE WHEN e <= (SELECT qhat FROM q) THEN 1 ELSE 0 END)"
    "  FROM test) AS BIGINT) AS n_covered, "
    "round(CAST((SELECT sum(CASE WHEN e <= (SELECT qhat FROM q)"
    "  THEN 1 ELSE 0 END) FROM test) AS DOUBLE)"
    " / (SELECT count(*) FROM test), 6) AS coverage"
)


def stat_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See module docstring. Day-grain series → one lag window →
    calendar-bounded order statistic (a row_number window over ≤|days|/2
    calibration residuals) → a 1-row coverage census against the
    broadcast q̂. The order statistic's VALUE is tie-invariant, so the
    rank window's tiebreak cannot leak into the result."""
    g = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .groupBy(ts_day("ts").alias("day"))
        .agg(F.sum(money_cents(F.col("value"))).alias("y"))
    )
    r = g.select(
        F.row_number().over(Window.orderBy("day")).alias("t"),
        "y",
        F.lag("y").over(Window.orderBy("day")).alias("yp"),
    )
    res = r.where(F.col("yp").isNotNull()).select(
        "t", F.abs(F.col("y") - F.col("yp")).alias("e")
    )
    with persisting() as keep:
        keep(res)
        nn = res.agg(F.count(F.lit(1)).cast("long").alias("n"))
        wn = res.crossJoin(F.broadcast(nn))
        cal = wn.where(
            F.col("t") <= F.expr("(n + 1) div 2") + 1
        ).select("e")
        ncal = cal.agg(F.count(F.lit(1)).cast("long").alias("m"))
        q = (
            cal.crossJoin(F.broadcast(ncal))
            .select(
                "e",
                "m",
                F.row_number().over(Window.orderBy("e")).alias("rk"),
            )
            .where(
                F.col("rk")
                == F.least(
                    F.col("m"),
                    F.ceil((F.col("m") + 1) * _CONFORMAL_ALPHA_Q).cast(
                        "long"
                    ),
                )
            )
            .select(F.col("e").alias("qhat"), "m")
        )
        test = wn.where(F.col("t") > F.expr("(n + 1) div 2") + 1).select("e")
        cov = test.crossJoin(F.broadcast(q)).agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.sum(F.when(F.col("e") <= F.col("qhat"), 1).otherwise(0))
            .cast("long")
            .alias("n_covered"),
            F.first("qhat").alias("qhat"),
            F.first("m").cast("long").alias("n_cal"),
        )
        out = cov.select(
            "n_cal",
            "n_test",
            F.round(F.col("qhat").cast("double") / 100, 6).alias(
                "interval_usd"
            ),
            "n_covered",
            F.round(
                F.col("n_covered").cast("double") / F.col("n_test"), 6
            ).alias("coverage"),
        )
        return pin(out)


# --- order-invariant corpus fingerprint ----------------------------------------------------

_FP_MOD = 1 << 60

_ORACLE_DOC_H60 = (
    "list_sum(list_transform(range(0, 15), i -> "
    "CAST(strpos('0123456789abcdef', substr(md5(w), 15 - CAST(i AS INT), 1)) - 1 "
    "AS BIGINT) << CAST(4 * i AS INT)))"
)

PIPELINE_DATASET_HASH_ORACLE = (
    "WITH h AS ("
    f"  SELECT source, CAST({_ORACLE_DOC_H60} AS BIGINT) AS hd"
    "  FROM (SELECT source, CAST(doc_id AS VARCHAR) || ':' || text AS w"
    "    FROM documents)"
    ") SELECT source, CAST(count(*) AS BIGINT) AS n_docs, "
    f"CAST(sum(CAST(hd AS HUGEINT)) % {_FP_MOD} AS BIGINT) AS fingerprint "
    "FROM h GROUP BY source"
)


def pipeline_dataset_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See module docstring. One map-side-combined groupBy(source) over a
    per-row hash expression — commutative summation makes the
    fingerprint independent of partitioning and row order BY
    CONSTRUCTION (the partition-invariance suite certifies it), which
    is the property that lets a 1000-executor job and a laptop agree on
    the version stamp."""
    d = load_table(spark, sf_dir, "documents")
    w = F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("text"))
    hd = F.conv(F.substring(F.md5(w.cast("binary")), 1, 15), 16, 10).cast(
        _D38
    )
    return d.select("source", hd.alias("hd")).groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        (F.sum("hd") % F.lit(_FP_MOD).cast(_D38)).cast("long").alias(
            "fingerprint"
        ),
    )


# --- duplicate-mass curve over shingle sizes ------------------------------------------------

_REDUNDANCY_KS = (2, 3, 5, 8)

TEXT_REDUNDANCY_CURVE_ORACLE = (
    "WITH ks(k) AS (VALUES "
    + ", ".join(f"({k})" for k in _REDUNDANCY_KS)
    + "), toks AS ("
    "  SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents"
    "), grams AS ("
    "  SELECT ks.k, array_to_string(list_slice(ws, i, i + ks.k - 1), ' ')"
    "    AS w"
    "  FROM toks, ks, unnest(range(1, len(ws) - ks.k + 2)) t(i)"
    "  WHERE len(ws) >= ks.k"
    "), hg AS ("
    # count by the md5-60-bit gram hash, not the gram string: 8-byte keys
    # instead of multi-word strings in the shuffle, identical counts on
    # both engines by construction (same hash of the same bytes)
    f"  SELECT k, CAST({_ORACLE_DOC_H60} AS BIGINT) AS g FROM grams"
    "), cnt AS (SELECT k, g, CAST(count(*) AS BIGINT) AS c FROM hg"
    "  GROUP BY 1, 2) "
    "SELECT k, CAST(sum(c) AS BIGINT) AS total_grams, "
    "CAST(count(*) AS BIGINT) AS distinct_grams, "
    "CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup_mass, "
    "round(CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE)"
    " / sum(c), 6) AS dup_frac "
    "FROM cnt GROUP BY k"
)


def text_redundancy_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See module docstring. One tokenization, |K| slice-explodes (each
    gram stream map-side-combines into its own count table), one
    per-k reduce — the whole sweep costs |K| passes over token arrays
    already in memory, never |K| scans of the raw corpus."""
    d = load_table(spark, sf_dir, "documents").select(
        F.split(F.lower("text"), " ").alias("ws")
    )
    with persisting() as keep:
        keep(d)
        outs = []
        for k in _REDUNDANCY_KS:
            grams = (
                d.where(F.size("ws") >= k)
                .select(
                    F.explode(
                        F.expr(
                            f"transform(sequence(1, size(ws) - {k} + 1), "
                            f"i -> array_join(slice(ws, i, {k}), ' '))"
                        )
                    ).alias("w")
                )
                # int64 hash keys shrink the count shuffle (see oracle note)
                .select(
                    F.conv(
                        F.substring(F.md5(F.col("w").cast("binary")), 1, 15),
                        16,
                        10,
                    )
                    .cast("long")
                    .alias("g")
                )
                .groupBy("g")
                .agg(F.count(F.lit(1)).cast("long").alias("c"))
            )
            outs.append(
                grams.agg(
                    F.lit(k).cast("int").alias("k"),
                    F.sum("c").cast("long").alias("total_grams"),
                    F.count(F.lit(1)).cast("long").alias("distinct_grams"),
                    F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0))
                    .cast("long")
                    .alias("dup_mass"),
                ).select(
                    "k",
                    "total_grams",
                    "distinct_grams",
                    "dup_mass",
                    F.round(
                        F.col("dup_mass").cast("double")
                        / F.col("total_grams"),
                        6,
                    ).alias("dup_frac"),
                )
            )
        out = outs[0]
        for o in outs[1:]:
            out = out.unionAll(o)
        return pin(out)


# --- SimHash pigeonhole band health ----------------------------------------------------------

_BAND_BITS = 15
_N_BANDS = 4  # the dedup_simhash_pairs Manku band layout (4 × 15 of 60 bits)

DEDUP_BAND_STATS_ORACLE = (
    f"{ORACLE_SIMHASH_FP}, bands AS ("
    "  SELECT fp.doc_id, b.b AS band, "
    f"  (simhash >> CAST({_BAND_BITS} * b.b AS INT)) & {(1 << _BAND_BITS) - 1}"
    "    AS bucket"
    f"  FROM fp, range({_N_BANDS}) b(b)"
    "), bc AS ("
    "  SELECT band, bucket, CAST(count(*) AS BIGINT) AS n FROM bands"
    "  GROUP BY 1, 2"
    ") SELECT CAST(band AS BIGINT) AS band, "
    "CAST(count(*) AS BIGINT) AS n_buckets, "
    "CAST(max(n) AS BIGINT) AS max_bucket, "
    "CAST(sum(n * (n - 1) / 2) AS BIGINT) AS candidate_pairs "
    "FROM bc GROUP BY band"
)


def dedup_band_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See module docstring. Reuses :func:`dedup.dedup_simhash`'s
    fingerprint computation (same md5-60-bit token hash, same majority
    vote) — one fingerprint pass, a 4-way band explode, and two
    map-side-combined aggregates. Σ C(n,2) here IS the exact row count
    the pairing join would produce per band: the pre-flight that turns
    a would-be quadratic surprise into a one-line read."""
    from .dedup import dedup_simhash

    fp = dedup_simhash(spark, sf_dir)
    bands = fp.select(
        F.explode(
            F.array(*[F.lit(b) for b in range(_N_BANDS)])
        ).alias("band"),
        "simhash",
    ).select(
        "band",
        F.expr(
            f"shiftright(simhash, cast(band * {_BAND_BITS} as int))"
            f" & {(1 << _BAND_BITS) - 1}"
        ).alias("bucket"),
    )
    bc = bands.groupBy("band", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    return bc.groupBy(F.col("band").cast("long").alias("band")).agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.max("n").cast("long").alias("max_bucket"),
        F.sum(F.col("n") * (F.col("n") - 1) / 2).cast("long").alias(
            "candidate_pairs"
        ),
    )


DEV_CASES = [
    (
        "stat_conformal_interval",
        stat_conformal_interval,
        STAT_CONFORMAL_INTERVAL_ORACLE,
    ),
    ("pipeline_dataset_hash", pipeline_dataset_hash, PIPELINE_DATASET_HASH_ORACLE),
    ("text_redundancy_curve", text_redundancy_curve, TEXT_REDUNDANCY_CURVE_ORACLE),
    ("dedup_band_stats", dedup_band_stats, DEDUP_BAND_STATS_ORACLE),
]
