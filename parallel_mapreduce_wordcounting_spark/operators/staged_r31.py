"""Model-selection / curation / container wave. Like every ``staged_r*`` module
with ``DEV_CASES``, it registers itself on import: the package root
registers each ``(key, fn, oracle)`` entry. tests/test_oracle_parity.py runs
the fn-vs-DuckDB compare; tests/test_staged_r31.py holds the independent
property checks.

Contents:

- ``stat_fit_compare`` — closed-form maximum-likelihood model selection
  over order values: exponential vs lognormal vs Pareto, each fit from
  the SAME one-pass sufficient statistics (n, Σx, Σln x, Σln²x, min),
  ranked by per-observation log-likelihood — "which textbook tail does
  revenue actually follow?", the model-picker behind stat_hill_tail's
  tail index and stat_gumbel's extremes.
- ``text_code_detect`` — code-vs-prose screening per document (symbol
  density, digit density, brace/semicolon hits), reported per lang —
  the curation gate LLM corpora run to ROUTE code out of (or into) the
  prose mix; pure counting, no model.
- ``mm_mp4_meta`` — MP4/ISO-BMFF box walker: top-level boxes
  (ftyp / variable-length free / moov→mvhd) walked with column-valued
  positions to extract timescale and duration ENTIRELY JVM-side — the
  video-container member of the codec-free multimodal family (PNG, GIF,
  JPEG, WAV, NPY, TAR already covered).
- ``event_wow_change`` — week-over-week change of daily event volume
  (absolute and percent, lag-7 on the day spine) — the
  seasonality-honest growth delta (day-over-day confounds weekday
  effects; WoW compares like with like).
- ``event_intraday_profile`` — the dow × hour activity heatmap with
  within-day shares — the load-shape matrix capacity planning reads,
  at a grain (hour-of-day) no other registered op surfaces.

Exactness doctrine: unchanged — fit statistics accumulate ln-moments
whose cross-engine summation-order noise (≈ulp·√n) is absorbed by the
6 dp rounding of per-observation quantities and by model-likelihood
gaps ≫ that noise (documented per op); everything else is exact
integers.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.loader import load_table, ts_day
from .exact import floor_day_us_sql

_D38 = "decimal(38,0)"

# --- closed-form MLE model selection ---------------------------------------------------

_LN2PI = math.log(2.0 * math.pi)

STAT_FIT_COMPARE_ORACLE = (
    "WITH d AS (SELECT CAST(o_totalprice AS DOUBLE) AS x FROM orders "
    "WHERE o_totalprice > 0), "
    "s AS ("
    "  SELECT CAST(count(*) AS BIGINT) AS n, sum(x) AS sx, "
    "  sum(ln(x)) AS slx, sum(ln(x) * ln(x)) AS slx2, min(x) AS xm FROM d"
    "), m AS ("
    "  SELECT n, "
    "  n / sx AS lam, slx / n AS mu, slx2 / n - (slx / n) * (slx / n) AS v, "
    "  xm, n / (slx - n * ln(xm)) AS alpha, slx / n AS mlx FROM s WHERE n > 1"
    ") "
    "SELECT 'exponential' AS model, round(lam, 6) AS param, "
    "round(ln(lam) - 1.0, 6) AS ll_per_n FROM m WHERE v > 0 "
    "UNION ALL SELECT 'lognormal', round(mu, 6), "
    f"round(-0.5 * ln(v) - 0.5 * {_LN2PI!r} - 0.5 - mu, 6) FROM m WHERE v > 0 "
    "UNION ALL SELECT 'pareto', round(alpha, 6), "
    "round(ln(alpha) + alpha * ln(xm) - (alpha + 1.0) * mlx, 6) FROM m "
    "WHERE v > 0"
)


def stat_fit_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form maximum-likelihood model selection for the order-value
    distribution: exponential (λ̂ = n/Σx), lognormal (μ̂, σ̂² from the
    ln-moments) and Pareto anchored at the minimum (α̂ = n/Σln(x/xₘ)),
    each scored by its per-observation log-likelihood — all three fits
    read the SAME one-pass sufficient statistics, so "which tail is
    this?" costs one scan. The model-picker that decides whether
    stat_hill_tail's power-law index or a lognormal body is the right
    downstream story.

    Determinism note (doctrine-documented exception): Σln x and Σln²x
    accumulate DOUBLES, so cross-engine partial-aggregation order
    differs by ≈ulp·√n — absorbed by the 6 dp rounding of the
    per-observation outputs (relative noise ~1e-14 against values ~1–10)
    and far below the inter-model likelihood gaps; no ranking column is
    emitted, so nothing is decided on the noisy digits.

    Scale: ONE map-side-combined aggregate (5 numbers), a 3-row
    projection."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 0)
    d = o.select(F.col("o_totalprice").cast("double").alias("x"))
    lx = F.log("x")
    s = d.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(lx).alias("slx"),
        F.sum(lx * lx).alias("slx2"),
        F.min("x").alias("xm"),
    ).where(F.col("n") > 1)
    lam = F.col("n") / F.col("sx")
    mu = F.col("slx") / F.col("n")
    v = F.col("slx2") / F.col("n") - mu * mu
    alpha = F.col("n") / (F.col("slx") - F.col("n") * F.log("xm"))
    base = s.where(v > 0)
    exp_row = base.select(
        F.lit("exponential").alias("model"),
        F.round(lam, 6).alias("param"),
        F.round(F.log(lam) - 1.0, 6).alias("ll_per_n"),
    )
    logn_row = base.select(
        F.lit("lognormal").alias("model"),
        F.round(mu, 6).alias("param"),
        F.round(-0.5 * F.log(v) - 0.5 * _LN2PI - 0.5 - mu, 6).alias("ll_per_n"),
    )
    par_row = base.select(
        F.lit("pareto").alias("model"),
        F.round(alpha, 6).alias("param"),
        F.round(
            F.log(alpha) + alpha * F.log("xm") - (alpha + 1.0) * mu, 6
        ).alias("ll_per_n"),
    )
    return exp_row.unionByName(logn_row).unionByName(par_row)


# --- code-vs-prose screening --------------------------------------------------------------

_CODE_SYMBOLS = r"[^{}();=<>\[\]]"  # strip NON-symbols; what's left counts

TEXT_CODE_DETECT_ORACLE = (
    "WITH d AS ("
    "  SELECT lang, CAST(length(text) AS BIGINT) AS nc, "
    f"  CAST(length(regexp_replace(text, '{_CODE_SYMBOLS}', '', 'g')) "
    "  AS BIGINT) AS nsym, "
    "  CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) "
    "  AS ndig FROM documents WHERE length(text) > 0"
    ") SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, "
    "CAST(sum(CASE WHEN nsym * 50 > nc OR ndig * 10 > nc THEN 1 ELSE 0 END)"
    " AS BIGINT) AS n_codeish, "
    "round(sum(nsym) / (1.0 * sum(nc)), 6) AS symbol_ratio, "
    "round(sum(ndig) / (1.0 * sum(nc)), 6) AS digit_ratio "
    "FROM d GROUP BY lang"
)


def text_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose screening: per document, the density of code-ish
    symbols ({ } ( ) ; = < > [ ]) and digits; a doc flags code-ish when
    symbols exceed 2% of characters or digits exceed 10% — the routing
    gate LLM corpora run to keep code out of (or into) the prose mix
    (Gopher/RefinedWeb both gate on symbol density before any learned
    classifier). Reported per lang with pooled ratios; the flag
    thresholds are INTEGER cross-multiplications (nsym·50 > nc), so the
    gate is exact, not a float comparison.

    Determinism: character counting via strip-and-measure
    (len(text) − len(regexp_replace(...))-style) — pure integers; the
    two pooled ratios are single divisions.

    Scale: per-row regex projection (JVM-side, no UDF) + one lang-keyed
    map-side-combined aggregate."""
    d = (
        load_table(spark, sf_dir, "documents")
        .where(F.length("text") > 0)
        .select(
            "lang",
            F.length("text").cast("long").alias("nc"),
            F.length(F.regexp_replace("text", _CODE_SYMBOLS, ""))
            .cast("long")
            .alias("nsym"),
            F.length(F.regexp_replace("text", "[^0-9]", ""))
            .cast("long")
            .alias("ndig"),
        )
    )
    return d.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(
            F.when(
                (F.col("nsym") * 50 > F.col("nc"))
                | (F.col("ndig") * 10 > F.col("nc")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_codeish"),
        F.round(F.sum("nsym") / (1.0 * F.sum("nc")), 6).alias("symbol_ratio"),
        F.round(F.sum("ndig") / (1.0 * F.sum("nc")), 6).alias("digit_ratio"),
    )


# --- MP4 / ISO-BMFF box walker ---------------------------------------------------------------

_MP4_DOCS = 40

MM_MP4_META_ORACLE = (
    "SELECT doc_id, "
    "CAST(1000 AS BIGINT) AS timescale, "
    "CAST(1000 + (doc_id * 271) % 600000 AS BIGINT) AS duration_ticks, "
    "CAST(1000 + (doc_id * 271) % 600000 AS BIGINT) AS duration_ms, "
    "CAST(60 + doc_id % 23 AS BIGINT) AS n_bytes, "
    "TRUE AS valid_ftyp "
    f"FROM documents WHERE doc_id < {_MP4_DOCS}"
)


def mm_mp4_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MP4 (ISO-BMFF) metadata parsed from REAL container bytes ENTIRELY
    JVM-side by walking the top-level BOX chain — ftyp, a
    variable-length ``free`` box (so moov sits at a file-dependent
    offset, like mm_jpeg_meta's COM segment), then moov→mvhd — with
    column-valued substring positions: each box advances by its 4-byte
    big-endian size; mvhd (version 0) carries timescale at +24 and
    duration at +28 from the box start. duration_ms = duration·1000/
    timescale (timescale fixed at 1000 here, so ticks = ms exactly).
    The video-container member of the codec-free multimodal family: the
    lake-triage scan that answers "how many hours of video?" without a
    decoder.

    40 deterministic MP4s are staged from the documents table (duration
    from doc_id·271, free-box padding from doc_id mod 23 — so the
    ORACLE derives every field arithmetically and any staging/walk
    drift fails the hash).

    Scale: binaryFile scan parallelizes per file; the walk touches ≤4
    boxes' worth of 4–8-byte slices per blob."""
    import hashlib
    import os
    import struct
    import tempfile

    d = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < _MP4_DOCS)
        .select("doc_id")
    )
    stage = os.path.join(
        tempfile.gettempdir(),
        f"pmrwc_mp4_{os.getuid()}_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}",
    )
    os.makedirs(stage, exist_ok=True)
    for stale in os.listdir(stage):
        os.unlink(os.path.join(stage, stale))
    for r in d.collect():  # 40 bounded fixture rows — staging only
        duration = 1000 + (r.doc_id * 271) % 600000
        pad = r.doc_id % 23
        ftyp = struct.pack(">I", 16) + b"ftypisom" + struct.pack(">I", 0)
        free = struct.pack(">I", 8 + pad) + b"free" + b"\x00" * pad
        mvhd = (
            struct.pack(">I", 28) + b"mvhd" + b"\x00" * 4  # version+flags
            + struct.pack(">II", 0, 0)  # ctime, mtime
            + struct.pack(">II", 1000, duration)  # timescale, duration
        )
        assert len(mvhd) == 28
        moov = struct.pack(">I", 8 + len(mvhd)) + b"moov" + mvhd
        blob = ftyp + free + moov
        assert len(blob) == 60 + pad
        with open(f"{stage}/{r.doc_id}.mp4", "wb") as f:
            f.write(blob)
    if not os.listdir(stage):
        return spark.createDataFrame(
            [],
            "doc_id long, timescale long, duration_ticks long, "
            "duration_ms long, n_bytes long, valid_ftyp boolean",
        )
    blobs = spark.read.format("binaryFile").load(f"{stage}/*.mp4")

    def be32(pos: str) -> str:
        return f"CAST(conv(hex(substring(content, {pos}, 4)), 16, 10) AS BIGINT)"

    def btype(pos: str) -> str:
        return f"CAST(substring(content, ({pos}) + 4, 4) AS STRING)"

    pos = "1"
    moov = "CAST(NULL AS BIGINT)"
    for _ in range(4):  # ≥ top-level boxes before moov in any staged file
        moov = (
            f"coalesce({moov}, CASE WHEN {btype(pos)} = 'moov' "
            f"THEN {pos} END)"
        )
        pos = f"(({pos}) + {be32(pos)})"
    # mvhd is moov's first child: its box starts at moov+8 (1-based), so
    # timescale sits at 0-based offset 20 and duration at 24 within mvhd
    ts = be32(f"({moov}) + 8 + 20")
    dur = be32(f"({moov}) + 8 + 24")
    return blobs.select(
        F.regexp_extract(F.col("path"), r"(\d+)\.mp4$", 1)
        .cast("long")
        .alias("doc_id"),
        F.expr(ts).alias("timescale"),
        F.expr(dur).alias("duration_ticks"),
        (F.expr(dur) * 1000 / F.expr(ts)).cast("long").alias("duration_ms"),
        F.col("length").alias("n_bytes"),
        (
            F.expr("CAST(substring(content, 5, 4) AS STRING)") == "ftyp"
        ).alias("valid_ftyp"),
    )


# --- week-over-week change ---------------------------------------------------------------------

EVENT_WOW_CHANGE_ORACLE = (
    "WITH g AS ("
    f"  SELECT {floor_day_us_sql()} AS day, CAST(count(*) AS BIGINT) AS cnt "
    "  FROM events GROUP BY 1"
    "), l AS ("
    "  SELECT day, cnt, lag(cnt, 7) OVER (ORDER BY day) AS prev7, "
    "  lag(day, 7) OVER (ORDER BY day) AS prev7_day FROM g"
    ") SELECT day, cnt, CAST(prev7 AS BIGINT) AS prev7, "
    "CAST(cnt - prev7 AS BIGINT) AS wow_abs, "
    "round((cnt - prev7) / (1.0 * nullif(prev7, 0)), 6) AS wow_pct "
    "FROM l WHERE prev7 IS NOT NULL AND prev7_day = day - 7"
)


def event_wow_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week change of daily event volume — absolute and
    percent against the SAME WEEKDAY seven days earlier (day-over-day
    deltas confound the weekday cycle; WoW compares Monday with Monday),
    guarded so a 7-row lag across a GAP in the day series doesn't
    silently compare mismatched weekdays (the lag must land exactly
    day−7). The growth number every weekly report leads with, beside
    event_seasonal_decompose's full decomposition.

    Determinism: integer counts and day arithmetic; one division.

    Scale: day-grain after one event aggregate (stat_spearman
    precedent)."""
    g = (
        load_table(spark, sf_dir, "events")
        .groupBy(ts_day("ts").alias("day"))
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    w = Window.orderBy("day")
    l = g.select(
        "day",
        "cnt",
        F.lag("cnt", 7).over(w).alias("prev7"),
        F.lag("day", 7).over(w).alias("prev7_day"),
    )
    return l.where(
        F.col("prev7").isNotNull() & (F.col("prev7_day") == F.col("day") - 7)
    ).select(
        "day",
        "cnt",
        F.col("prev7").cast("long").alias("prev7"),
        (F.col("cnt") - F.col("prev7")).cast("long").alias("wow_abs"),
        F.round(
            (F.col("cnt") - F.col("prev7"))
            / (1.0 * F.nullif(F.col("prev7"), F.lit(0))),
            6,
        ).alias("wow_pct"),
    )


# --- dow × hour activity heatmap ------------------------------------------------------------------

EVENT_INTRADAY_ORACLE = (
    "WITH e AS ("
    "  SELECT CAST(epoch_ns(ts) // 1000 AS BIGINT) AS us FROM events"
    "), b AS ("
    f"  SELECT (({floor_day_us_sql('us')} % 7) + 7) % 7 AS dow, "
    "  ((us % 86400000000) + 86400000000) % 86400000000 "
    "  // 3600000000 AS hour FROM e"
    "), c AS ("
    "  SELECT dow, CAST(hour AS BIGINT) AS hour, "
    "  CAST(count(*) AS BIGINT) AS cnt FROM b GROUP BY 1, 2"
    "), t AS (SELECT dow, CAST(sum(cnt) AS BIGINT) AS day_total FROM c "
    "GROUP BY 1) "
    "SELECT c.dow, hour, cnt, day_total, "
    "round(cnt / (1.0 * day_total), 6) AS share "
    "FROM c JOIN t ON c.dow = t.dow"
)


def event_intraday_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dow × hour-of-day activity heatmap with within-day shares —
    the load-shape matrix capacity planning and on-call staffing read
    (and the input to any 'is 3 AM Tuesday traffic normal?' check), at
    an HOUR-OF-DAY grain no other surfaced op exposes (day-grain ops
    cannot see that all of Monday's volume lands in two peak hours).
    dow is epoch-day mod 7 (0 = Thursday), hour the floor µs-of-day /
    3600s — both via the guarded-modulo floor so pre-epoch timestamps
    bucket correctly.

    Determinism: pure integer µs arithmetic; one share division.

    Scale: one map-side-combined (dow, hour) aggregate (≤168 groups)
    plus a 7-row total join."""
    e = load_table(spark, sf_dir, "events").select(
        F.unix_micros("ts").alias("us")
    )
    day_us = 86_400_000_000
    us_of_day = F.pmod(F.col("us"), F.lit(day_us))
    day = ((F.col("us") - us_of_day) / day_us).cast("long")
    b = e.select(
        F.pmod(day, F.lit(7)).alias("dow"),
        (us_of_day / 3_600_000_000).cast("long").alias("hour"),
    )
    c = b.groupBy("dow", "hour").agg(F.count("*").cast("long").alias("cnt"))
    t = c.groupBy("dow").agg(F.sum("cnt").cast("long").alias("day_total"))
    return c.join(t, "dow").select(
        "dow",
        "hour",
        "cnt",
        "day_total",
        F.round(F.col("cnt") / (1.0 * F.col("day_total")), 6).alias("share"),
    )


DEV_CASES = [
    ("stat_fit_compare", stat_fit_compare, STAT_FIT_COMPARE_ORACLE),
    ("text_code_detect", text_code_detect, TEXT_CODE_DETECT_ORACLE),
    ("mm_mp4_meta", mm_mp4_meta, MM_MP4_META_ORACLE),
    ("event_wow_change", event_wow_change, EVENT_WOW_CHANGE_ORACLE),
    ("event_intraday_profile", event_intraday_profile, EVENT_INTRADAY_ORACLE),
]
