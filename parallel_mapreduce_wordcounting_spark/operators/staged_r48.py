"""Container-index / join-planning / variance-screen / velocity wave. Like
every ``staged_r*`` module with ``DEV_CASES``, it registers itself on
import: the package root registers each ``(key, fn, oracle)`` entry.
tests/test_oracle_parity.py runs the fn-vs-DuckDB compare;
tests/test_staged_r48.py holds the independent property checks.

Contents:

- ``mm_zip_index`` — parse a REAL ZIP archive's central directory into a
  per-entry index (name, stored size, local-header offset, stored-vs-
  deflated flag). One archive stages 40 documents as ZIP_STORED entries
  written in doc_id order, so every offset is pure arithmetic —
  entry i starts at Σ_{j<i}(30-byte local header + name length + payload
  bytes) — and the ORACLE recomputes the whole index from the documents
  table with one window sum, certifying the binary layout byte-for-byte
  against the zipfile-module parse. The mapInPandas kernel is the real
  container-indexing shape (one Arrow batch of blobs in, an entry table
  out): at 100 TB this is how tar/zip shards of a web crawl become a
  queryable catalog without extracting anything.
- ``join_skew_diagnose`` — the pre-join skew census a planner wants
  BEFORE keying a self-join on user_id: per-key frequency f, the exact
  self-join output size Σf² (the number the uncapped-pair bug class
  produces), the counterfactual Σ min(f, 128)² under the repo's posting
  cap (staged_r9 `_span_edges` convention), the top key's share of the
  blow-up, and skew ratio (max contribution / mean contribution).
  Complements ``dq_join_cardinality`` (a 1:N fan HISTOGRAM for
  orders⋈lineitem) with the M:N SELF-join planning numbers that decide
  cap-vs-salt-vs-broadcast.
- ``stat_fmax`` — Hartley's F-max homogeneity-of-variance screen over
  per-event-type purchase values: every group variance from exact
  decimal(38)/HUGEINT power sums (one double division each, identical
  IEEE trees), F_max = max(S²)/min(S²). The TRANSCENDENTAL-FREE sibling
  of Bartlett's test (which needs ln) and the parametric complement of
  the registered ``stat_levene``; with unequal group sizes the cutoff
  is a screen, not an exact quantile (documented).
- ``event_velocity_screen`` — per-user abuse/rate-limit screen: peak
  events in ANY sliding hour (a µs RANGE-frame window — value-based
  framing, so gaps are handled exactly), the mean hourly rate over the
  user's active span, and burst_factor = peak / mean rate with an alarm
  at >10×. The census behind API rate limiting and scraper detection;
  RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW is the exact
  "any window ending at an event" sweep (a maximum over a continuum of
  windows is always attained at an event arrival).

Exactness doctrine: ZIP offsets/sizes, skew censuses, variance
sufficient statistics and peak counts are exact integers end-to-end;
fmax / rates / burst_factor each spend one or two divisions on exact
integers and round to 6 dp; booleans compare ROUNDED values on both
engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.loader import load_table, ts_us
from .exact import money_cents, money_cents_sql

_D38 = "decimal(38,0)"

# --- ZIP central-directory index ------------------------------------------------------

_ZIP_DOC_LO, _ZIP_DOC_HI = 160, 200

MM_ZIP_INDEX_ORACLE = (
    "WITH d AS ("
    "  SELECT doc_id, octet_length(encode(text)) AS sz, "
    "  length(CAST(doc_id AS VARCHAR)) + 4 AS nlen"
    f"  FROM documents WHERE doc_id >= {_ZIP_DOC_LO} AND doc_id < {_ZIP_DOC_HI}"
    ") SELECT CAST(doc_id AS VARCHAR) || '.txt' AS name, "
    "CAST(sz AS BIGINT) AS size_bytes, "
    "CAST(coalesce(sum(30 + nlen + sz) OVER (ORDER BY doc_id "
    "  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)"
    "  AS header_offset, "
    "TRUE AS is_stored FROM d"
)


def mm_zip_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See module docstring. The stager writes ONE archive (ZIP_STORED,
    doc_id order, no extra fields — pinned byte-level in the tests);
    the kernel parses the central directory per blob inside
    ``mapInPandas`` — per-blob O(entries) work, Arrow-batched, no blob
    ever collected to the driver. At 100 TB each crawl shard is one
    such blob and the output is the extraction-free shard catalog."""
    import hashlib
    import os
    import tempfile
    import zipfile

    d = (
        load_table(spark, sf_dir, "documents")
        .where((F.col("doc_id") >= _ZIP_DOC_LO) & (F.col("doc_id") < _ZIP_DOC_HI))
        .select("doc_id", "text")
        .orderBy("doc_id")
    )
    stage = os.path.join(
        tempfile.gettempdir(),
        f"pmrwc_zip_{os.getuid()}_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}",
    )
    os.makedirs(stage, exist_ok=True)
    for stale in os.listdir(stage):
        os.unlink(os.path.join(stage, stale))
    rows = d.collect()  # 40 bounded fixture rows — staging only
    if not rows:
        return spark.createDataFrame(
            [],
            "name string, size_bytes long, header_offset long, is_stored boolean",
        )
    with zipfile.ZipFile(
        os.path.join(stage, "shard0.zip"), "w", zipfile.ZIP_STORED
    ) as z:
        for r in rows:
            z.writestr(f"{r.doc_id}.txt", r.text.encode("utf-8"))
    blobs = spark.read.format("binaryFile").load(f"{stage}/*.zip").select(
        "content"
    )

    def kernel(batches):
        import io
        import zipfile as zf

        import pandas as pd

        for pdf in batches:
            out = []
            for content in pdf["content"]:
                arc = zf.ZipFile(io.BytesIO(bytes(content)))
                for info in arc.infolist():
                    out.append(
                        (
                            info.filename,
                            info.file_size,
                            info.header_offset,
                            info.compress_type == zf.ZIP_STORED,
                        )
                    )
            yield pd.DataFrame(
                out,
                columns=["name", "size_bytes", "header_offset", "is_stored"],
            )

    return blobs.mapInPandas(
        kernel,
        "name string, size_bytes long, header_offset long, is_stored boolean",
    )


# --- pre-join skew diagnosis ----------------------------------------------------------

_SKEW_CAP = 128  # the repo-wide posting-cap convention (staged_r9)

JOIN_SKEW_DIAGNOSE_ORACLE = (
    "WITH f AS ("
    "  SELECT user_id, CAST(count(*) AS BIGINT) AS f FROM events"
    "  GROUP BY user_id"
    "), agg AS ("
    "  SELECT CAST(count(*) AS BIGINT) AS n_keys, "
    "  CAST(sum(f) AS BIGINT) AS sum_f, "
    "  CAST(sum(CAST(f AS HUGEINT) * f) AS HUGEINT) AS est_pairs, "
    f"  CAST(sum(CAST(least(f, {_SKEW_CAP}) AS HUGEINT)"
    f"    * least(f, {_SKEW_CAP})) AS HUGEINT) AS est_pairs_capped, "
    "  CAST(max(CAST(f AS HUGEINT) * f) AS HUGEINT) AS max_contrib"
    "  FROM f"
    ") SELECT n_keys, sum_f, "
    "CAST(est_pairs AS BIGINT) AS est_self_join_rows, "
    "CAST(est_pairs_capped AS BIGINT) AS est_capped_rows, "
    "round(CAST(max_contrib AS DOUBLE) / CAST(est_pairs AS DOUBLE), 6)"
    "  AS top1_share, "
    "round(CAST(max_contrib * n_keys AS DOUBLE) / CAST(est_pairs AS DOUBLE), 6)"
    "  AS skew_ratio "
    "FROM agg"
)


def join_skew_diagnose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See module docstring. One map-side-combined groupBy(key) then a
    1-row reduce over the |keys| frequency table — the diagnosis costs
    one aggregate however large the fact table, which is the whole
    point: Σf² tells you the join you were ABOUT to run would emit that
    many rows, before you run it."""
    f = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
    )
    fd = F.col("f").cast(_D38)
    capd = F.least(F.col("f"), F.lit(_SKEW_CAP)).cast(_D38)
    agg = f.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("f").cast("long").alias("sum_f"),
        F.sum(fd * fd).alias("est_pairs"),
        F.sum(capd * capd).alias("est_pairs_capped"),
        F.max(fd * fd).alias("max_contrib"),
    )
    return agg.select(
        "n_keys",
        "sum_f",
        F.col("est_pairs").cast("long").alias("est_self_join_rows"),
        F.col("est_pairs_capped").cast("long").alias("est_capped_rows"),
        F.round(
            F.col("max_contrib").cast("double")
            / F.col("est_pairs").cast("double"),
            6,
        ).alias("top1_share"),
        F.round(
            (F.col("max_contrib") * F.col("n_keys")).cast("double")
            / F.col("est_pairs").cast("double"),
            6,
        ).alias("skew_ratio"),
    )


# --- Hartley's F-max variance-homogeneity screen --------------------------------------

_FMAX_CUTOFF = 3.0  # screening threshold (unequal n → not an exact quantile)

STAT_FMAX_ORACLE = (
    "WITH s AS ("
    "  SELECT event_type, CAST(count(*) AS HUGEINT) AS n, "
    f"  sum(CAST({money_cents_sql('value')} AS HUGEINT)) AS sx, "
    f"  sum(CAST({money_cents_sql('value')} AS HUGEINT)"
    f"    * {money_cents_sql('value')}) AS sx2"
    "  FROM events GROUP BY event_type"
    "), v AS ("
    "  SELECT event_type, n, CAST(n * sx2 - sx * sx AS DOUBLE)"
    "   / CAST(n * (n - 1) AS DOUBLE) AS s2"
    "  FROM s WHERE n >= 2"
    ") SELECT CAST(count(*) AS INT) AS k_groups, "
    "CAST(min(n) AS BIGINT) AS n_min, CAST(max(n) AS BIGINT) AS n_max, "
    "round(max(s2) / 10000, 6) AS var_max_usd2, "
    "round(min(s2) / 10000, 6) AS var_min_usd2, "
    "round(max(s2) / min(s2), 6) AS fmax, "
    f"round(max(s2) / min(s2), 6) > {_FMAX_CUTOFF} AS heteroscedastic "
    "FROM v"
)


def stat_fmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See module docstring. One map-side-combined groupBy(event_type)
    over exact cents power sums, then a 1-row reduce over the ≤|types|
    variance frame. Each S² is one division of exact decimal(38)
    integers — both engines produce the identical double, so max/min
    selection and the ratio cannot diverge."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", money_cents(F.col("value")).cast(_D38).alias("x")
    )
    s = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast(_D38).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sx2"),
    )
    v = s.where(F.col("n") >= 2).select(
        "event_type",
        "n",
        (
            (F.col("n") * F.col("sx2") - F.col("sx") * F.col("sx")).cast(
                "double"
            )
            / (F.col("n") * (F.col("n") - 1)).cast("double")
        ).alias("s2"),
    )
    fmax = F.round(F.max("s2") / F.min("s2"), 6)
    return v.agg(
        F.count(F.lit(1)).cast("int").alias("k_groups"),
        F.min("n").cast("long").alias("n_min"),
        F.max("n").cast("long").alias("n_max"),
        F.round(F.max("s2") / 10000, 6).alias("var_max_usd2"),
        F.round(F.min("s2") / 10000, 6).alias("var_min_usd2"),
        fmax.alias("fmax"),
        (fmax > _FMAX_CUTOFF).alias("heteroscedastic"),
    )


# --- sliding-hour velocity screen ------------------------------------------------------

_VELOCITY_WINDOW_US = 3_600_000_000 - 1  # RANGE preceding bound: (t-1h, t]
_VELOCITY_BURST_ALARM = 10.0

EVENT_VELOCITY_SCREEN_ORACLE = (
    "WITH e AS ("
    "  SELECT user_id, epoch_ns(ts) // 1000 AS us FROM events"
    "), w AS ("
    "  SELECT user_id, us, CAST(count(*) OVER (PARTITION BY user_id"
    f"  ORDER BY us RANGE BETWEEN {_VELOCITY_WINDOW_US} PRECEDING"
    "   AND CURRENT ROW) AS BIGINT) AS c"
    "  FROM e"
    "), g AS ("
    "  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events, "
    "  CAST(max(c) AS BIGINT) AS peak_hourly, "
    "  CAST(max(us) - min(us) AS BIGINT) AS span_us FROM w GROUP BY user_id"
    ") SELECT user_id, n_events, peak_hourly, "
    "CASE WHEN span_us = 0 THEN NULL ELSE "
    "  round(CAST(n_events AS DOUBLE) * 3600000000 / span_us, 6) END"
    "  AS mean_rate_per_hour, "
    "CASE WHEN span_us = 0 THEN NULL ELSE "
    "  round(peak_hourly / (CAST(n_events AS DOUBLE) * 3600000000 / span_us), 6)"
    "  END AS burst_factor, "
    "CASE WHEN span_us = 0 THEN TRUE ELSE "
    "  round(peak_hourly / (CAST(n_events AS DOUBLE) * 3600000000 / span_us), 6)"
    f"  > {_VELOCITY_BURST_ALARM} END AS velocity_alarm "
    "FROM g"
)


def event_velocity_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See module docstring. One hash-partition by user + in-partition
    sort; the RANGE frame is Spark's sliding two-pointer pass — O(n)
    per user, no self-join, no explode. A single-event user has zero
    span: rates are NULL and the alarm is conservatively TRUE (one
    event is trivially 'all activity in one instant')."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", ts_us("ts").alias("us")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-_VELOCITY_WINDOW_US, 0)
    )
    g = (
        e.withColumn("c", F.count(F.lit(1)).over(w).cast("long"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.max("c").cast("long").alias("peak_hourly"),
            (F.max("us") - F.min("us")).cast("long").alias("span_us"),
        )
    )
    rate = F.round(
        F.col("n_events").cast("double") * 3_600_000_000 / F.col("span_us"), 6
    )
    burst = F.round(
        F.col("peak_hourly")
        / (F.col("n_events").cast("double") * 3_600_000_000 / F.col("span_us")),
        6,
    )
    zero = F.col("span_us") == 0
    return g.select(
        "user_id",
        "n_events",
        "peak_hourly",
        F.when(zero, F.lit(None).cast("double")).otherwise(rate).alias(
            "mean_rate_per_hour"
        ),
        F.when(zero, F.lit(None).cast("double")).otherwise(burst).alias(
            "burst_factor"
        ),
        F.when(zero, F.lit(True))
        .otherwise(burst > _VELOCITY_BURST_ALARM)
        .alias("velocity_alarm"),
    )


DEV_CASES = [
    ("mm_zip_index", mm_zip_index, MM_ZIP_INDEX_ORACLE),
    ("join_skew_diagnose", join_skew_diagnose, JOIN_SKEW_DIAGNOSE_ORACLE),
    ("stat_fmax", stat_fmax, STAT_FMAX_ORACLE),
    ("event_velocity_screen", event_velocity_screen, EVENT_VELOCITY_SCREEN_ORACLE),
]
