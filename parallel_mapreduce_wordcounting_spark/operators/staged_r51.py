"""ID-forensics / interval-union / seasonal-trend / color-quantization wave.
Like every ``staged_r*`` module with ``DEV_CASES``, it registers itself on
import: the package root registers each ``(key, fn, oracle)`` entry.
tests/test_oracle_parity.py runs the fn-vs-DuckDB compare;
tests/test_staged_r51.py holds the independent property checks.

Contents:

- ``fn_snowflake_decode`` — Snowflake-style ID codec forensics: IDs are
  synthesized from events as ``rel_ms·2²² | worker·2¹² | seq``
  (41/10/12-bit layout, worker = user_id mod 1024, seq = event_id mod
  4096, rel_ms from the broadcast epoch minimum), then DECODED back by
  pure bit arithmetic and audited per worker (count, time span, max
  sequence, exact round-trip count). The op every data platform needs
  the day someone asks "what do these opaque int64 IDs actually
  encode?" — and a bit-level cross-engine exactness exercise.
- ``event_interval_union`` — total covered time per user when every
  event opens a 30-minute hold: the classic sweep — running max of
  interval ends over a (start, id)-ordered window, each interval
  contributing its clamped increment — sums EXACTLY to the union
  length without materializing merged spans. The billing/SLA primitive
  ("how much wall-clock was this user active?") beside
  ``event_concurrency``'s peak-simultaneity (same boundary-sweep
  family, different deliverable).
- ``stat_mann_kendall_seasonal`` — the seasonal Mann–Kendall trend test
  (Hirsch & Slack 1984) on daily purchase revenue with day-of-week
  seasons: S = Σ_seasons Σ_{i<j} sign(y_j − y_i) compares only
  LIKE-SEASON days (so a weekly cycle cannot masquerade as trend),
  Var(S) = Σ[n(n−1)(2n+5) − Σ_ties t(t−1)(2t+5)]/18, and z applies the
  continuity correction. Everything is exact integers until the final
  sqrt/division; pair fan-out is calendar-bounded (days²/7), never
  data-bounded. The monotone-trend screen beside stat_theil_sen's
  slope ESTIMATE.
- ``mm_color_quantize`` — the first image TRANSFORM in the multimodal
  family (the others parse or census): 3-bit-per-channel posterization
  of the staged PPM rasters (v >> 5 per channel → a 512-color cube)
  with a per-image palette census — distinct quantized colors, pixel
  count, dominant color and its frequency. Color quantization is the
  standard pre-step for perceptual hashing and palette-based near-dup
  detection (mm_phash's sibling); the ORACLE rederives every quantized
  pixel from the staging formula, certifying the kernel's shift
  arithmetic end-to-end.

Exactness doctrine: decoded ID fields, union microseconds, S/Var
integers and quantized palettes are exact integers end-to-end; z and
coverage ratios spend one sqrt and/or division on exact integers and
round to 6 dp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..pins import persisting, pin
from ..sources.loader import load_table, ts_us
from .exact import floor_day_us_sql, money_cents, money_cents_sql

_D38 = "decimal(38,0)"

# --- Snowflake-style ID codec forensics -------------------------------------------------

_SF_WORKER_BITS, _SF_SEQ_BITS = 10, 12

FN_SNOWFLAKE_DECODE_ORACLE = (
    "WITH e AS ("
    "  SELECT epoch_ns(ts) // 1000 // 1000 AS ms, "
    "  user_id % 1024 AS worker, event_id % 4096 AS seq FROM events"
    "), m AS (SELECT min(ms) AS ms0 FROM e), sid AS ("
    "  SELECT (ms - (SELECT ms0 FROM m)) * 4194304"
    "   + worker * 4096 + seq AS id, ms, worker, seq FROM e"
    "), dec AS ("
    "  SELECT id, id // 4194304 AS rel_ms, (id // 4096) % 1024 AS worker_d, "
    "  id % 4096 AS seq_d, ms, worker, seq FROM sid"
    ") SELECT CAST(worker_d AS BIGINT) AS worker, "
    "CAST(count(*) AS BIGINT) AS n_ids, "
    "CAST(max(rel_ms) - min(rel_ms) AS BIGINT) AS span_ms, "
    "CAST(max(seq_d) AS BIGINT) AS max_seq, "
    "CAST(sum(CASE WHEN worker_d = worker AND seq_d = seq"
    " AND rel_ms = ms - (SELECT ms0 FROM m) THEN 1 ELSE 0 END) AS BIGINT)"
    "  AS roundtrip_ok "
    "FROM dec GROUP BY 1"
)


def fn_snowflake_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See module docstring. Encode and decode are shift/mask
    expressions in one codegen stage (2²² = 4194304, 2¹² = 4096 —
    multiplies and integer division, so the same SQL works where
    bit-shift operators differ); the epoch minimum rides a 1-row
    broadcast and the audit is one map-side-combined groupBy(worker)."""
    e = load_table(spark, sf_dir, "events").select(
        (ts_us("ts") / 1000).cast("long").alias("ms"),
        (F.col("user_id") % 1024).alias("worker"),
        (F.col("event_id") % 4096).alias("seq"),
    )
    m = e.agg(F.min("ms").alias("ms0"))
    sid = e.crossJoin(F.broadcast(m)).select(
        (
            (F.col("ms") - F.col("ms0")) * 4194304
            + F.col("worker") * 4096
            + F.col("seq")
        ).alias("id"),
        "ms",
        "ms0",
        "worker",
        "seq",
    )
    dec = sid.select(
        F.expr("id div 4194304").alias("rel_ms"),
        (F.expr("id div 4096") % 1024).alias("worker_d"),
        (F.col("id") % 4096).alias("seq_d"),
        "ms",
        "ms0",
        "worker",
        "seq",
    )
    ok = (
        (F.col("worker_d") == F.col("worker"))
        & (F.col("seq_d") == F.col("seq"))
        & (F.col("rel_ms") == F.col("ms") - F.col("ms0"))
    )
    return dec.groupBy(F.col("worker_d").cast("long").alias("worker")).agg(
        F.count(F.lit(1)).cast("long").alias("n_ids"),
        (F.max("rel_ms") - F.min("rel_ms")).cast("long").alias("span_ms"),
        F.max("seq_d").cast("long").alias("max_seq"),
        F.sum(F.when(ok, 1).otherwise(0)).cast("long").alias("roundtrip_ok"),
    )


# --- interval-union length per user ------------------------------------------------------

_HOLD_US = 1_800_000_000  # every event opens a 30-minute hold

EVENT_INTERVAL_UNION_ORACLE = (
    "WITH e AS ("
    "  SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us FROM events"
    "), w AS ("
    f"  SELECT user_id, us, max(us + {_HOLD_US}) OVER ("
    "    PARTITION BY user_id ORDER BY us, event_id"
    "    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme"
    "  FROM e"
    "), c AS ("
    f"  SELECT user_id, us + {_HOLD_US} - greatest(coalesce(pme, us), us)"
    "    AS contrib"
    f"  FROM w WHERE pme IS NULL OR us + {_HOLD_US} > pme"
    ") SELECT user_id, CAST(count(*) AS BIGINT) AS n_contributing, "
    "CAST(sum(contrib) AS BIGINT) AS union_us, "
    "round(CAST(sum(contrib) AS DOUBLE)"
    f" / (count(*) * {_HOLD_US}.0), 6) AS merge_ratio "
    "FROM c GROUP BY user_id"
)


def event_interval_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See module docstring. One per-user window (hash partition +
    in-partition sort, the same single shuffle any per-entity sweep
    costs); the clamped-increment identity means the union length needs
    no merged-span materialization and no second pass. merge_ratio is
    union / (contributing · hold) — 1.0 means no overlap among the
    contributing intervals."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", ts_us("ts").alias("us")
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    ww = e.select(
        "user_id", "us", F.max(F.col("us") + _HOLD_US).over(w).alias("pme")
    )
    c = ww.where(
        F.col("pme").isNull() | (F.col("us") + _HOLD_US > F.col("pme"))
    ).select(
        "user_id",
        (
            F.col("us")
            + _HOLD_US
            - F.greatest(F.coalesce("pme", "us"), F.col("us"))
        ).alias("contrib"),
    )
    return c.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_contributing"),
        F.sum("contrib").cast("long").alias("union_us"),
        F.round(
            F.sum("contrib").cast("double")
            / (F.count(F.lit(1)) * float(_HOLD_US)),
            6,
        ).alias("merge_ratio"),
    )


# --- seasonal Mann–Kendall trend test ----------------------------------------------------

_MK_Z_CUTOFF = 1.96

STAT_MANN_KENDALL_SEASONAL_ORACLE = (
    "WITH g AS ("
    f"  SELECT {floor_day_us_sql()} AS day, "
    f"  CAST(sum({money_cents_sql('value')}) AS BIGINT) AS y"
    "  FROM events WHERE event_type = 'purchase' GROUP BY 1"
    "), s AS (SELECT day % 7 AS dow, day, y FROM g), pairs AS ("
    "  SELECT CAST(sign(b.y - a.y) AS BIGINT) AS sg"
    "  FROM s a JOIN s b ON b.dow = a.dow AND b.day > a.day"
    "), ssum AS (SELECT CAST(coalesce(sum(sg), 0) AS BIGINT) AS S, "
    "  CAST(count(*) AS BIGINT) AS n_pairs FROM pairs), "
    "ns AS (SELECT dow, CAST(count(*) AS HUGEINT) AS n FROM s GROUP BY dow), "
    "ties AS (SELECT dow, CAST(count(*) AS HUGEINT) AS t FROM s"
    "  GROUP BY dow, y), "
    "var_s AS ("
    "  SELECT CAST((SELECT sum(n * (n - 1) * (2 * n + 5)) FROM ns)"
    "   - (SELECT coalesce(sum(CASE WHEN t > 1 THEN t * (t - 1) * (2 * t + 5)"
    "       ELSE 0 END), 0) FROM ties) AS HUGEINT) AS v18"
    ") SELECT (SELECT S FROM ssum) AS s_stat, "
    "(SELECT n_pairs FROM ssum) AS n_pairs, "
    "CAST((SELECT v18 FROM var_s) AS BIGINT) AS var18, "
    "round(CASE WHEN (SELECT S FROM ssum) = 0 THEN 0.0"
    "  ELSE ((SELECT S FROM ssum) - sign((SELECT S FROM ssum)))"
    "   / sqrt(CAST((SELECT v18 FROM var_s) AS DOUBLE) / 18) END, 6) AS z, "
    "abs(round(CASE WHEN (SELECT S FROM ssum) = 0 THEN 0.0"
    "  ELSE ((SELECT S FROM ssum) - sign((SELECT S FROM ssum)))"
    "   / sqrt(CAST((SELECT v18 FROM var_s) AS DOUBLE) / 18) END, 6))"
    f" > {_MK_Z_CUTOFF} AS trend_detected"
)


def stat_mann_kendall_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See module docstring. One day-grain aggregate absorbs the event
    volume; the like-season pair join fans out days²/7 — calendar-
    bounded; variance terms are two tiny grouped sums. trend_detected
    compares the ROUNDED |z| on both engines."""
    from ..sources.loader import ts_day

    g = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .groupBy(ts_day("ts").alias("day"))
        .agg(F.sum(money_cents(F.col("value"))).alias("y"))
    )
    s = g.select(F.pmod("day", F.lit(7)).alias("dow"), "day", "y")
    with persisting() as keep:
        keep(s)
        a = s.select(
            F.col("dow"), F.col("day").alias("da"), F.col("y").alias("ya")
        )
        b = s.select(
            F.col("dow"), F.col("day").alias("db"), F.col("y").alias("yb")
        )
        pairs = a.join(b, "dow").where(F.col("db") > F.col("da"))
        ssum = pairs.agg(
            F.coalesce(
                F.sum(F.signum(F.col("yb") - F.col("ya")).cast("long")),
                F.lit(0),
            )
            .cast("long")
            .alias("S"),
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
        )
        ns = s.groupBy("dow").agg(F.count(F.lit(1)).cast(_D38).alias("n"))
        ties = s.groupBy("dow", "y").agg(
            F.count(F.lit(1)).cast(_D38).alias("t")
        )
        vn = ns.agg(
            F.sum(
                F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
            ).alias("v")
        )
        vt = ties.agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("t") > 1,
                        F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5),
                    ).otherwise(F.lit(0).cast(_D38))
                ),
                F.lit(0).cast(_D38),
            ).alias("v")
        )
        row = (
            ssum.crossJoin(F.broadcast(vn.select(F.col("v").alias("vn"))))
            .crossJoin(F.broadcast(vt.select(F.col("v").alias("vt"))))
            .select(
                "S",
                "n_pairs",
                (F.col("vn") - F.col("vt")).cast("long").alias("var18"),
            )
        )
        z = F.round(
            F.when(F.col("S") == 0, F.lit(0.0)).otherwise(
                (F.col("S") - F.signum(F.col("S")))
                / F.sqrt(F.col("var18").cast("double") / 18)
            ),
            6,
        )
        out = row.select(
            F.col("S").alias("s_stat"),
            "n_pairs",
            "var18",
            z.alias("z"),
            (F.abs(z) > _MK_Z_CUTOFF).alias("trend_detected"),
        )
        return pin(out)


# --- 3-bit color quantization + palette census -------------------------------------------

_CQ_DOC_LO, _CQ_DOC_HI = 280, 320

MM_COLOR_QUANTIZE_ORACLE = (
    "WITH d AS ("
    "  SELECT doc_id, 8 + doc_id % 8 AS w, 6 + doc_id % 6 AS h FROM documents"
    f"  WHERE doc_id >= {_CQ_DOC_LO} AND doc_id < {_CQ_DOC_HI}"
    "), px AS ("
    "  SELECT doc_id, "
    "  (((doc_id * 31 + (3 * p + 0) * 7) % 256) // 32) * 64"
    "  + (((doc_id * 31 + (3 * p + 1) * 7) % 256) // 32) * 8"
    "  + (((doc_id * 31 + (3 * p + 2) * 7) % 256) // 32) AS color"
    "  FROM d, unnest(range(w * h)) t(p)"
    "), cc AS ("
    "  SELECT doc_id, color, CAST(count(*) AS BIGINT) AS k FROM px"
    "  GROUP BY 1, 2"
    "), top AS ("
    "  SELECT doc_id, color, k, row_number() OVER ("
    "    PARTITION BY doc_id ORDER BY k DESC, color) AS rn FROM cc"
    ") SELECT doc_id, CAST(count(*) AS BIGINT) AS n_colors, "
    "CAST(sum(k) AS BIGINT) AS n_pixels, "
    "CAST(max(CASE WHEN rn = 1 THEN color END) AS BIGINT) AS top_color, "
    "CAST(max(CASE WHEN rn = 1 THEN k END) AS BIGINT) AS top_count "
    "FROM top GROUP BY doc_id"
)


def mm_color_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See module docstring. Staging reuses the PPM generator (distinct
    doc range + dir, so the two ops never race); the kernel posterizes
    with one vectorized ``>> 5`` and packs the palette key with shifts —
    per-blob O(pixels), Arrow-batched. The census output is
    per-image-bounded (≤512 colors), so nothing row-linear leaves the
    executor.

    The fixture is PRE-MATERIALIZED once per sf_dir (r11 verdict item 6:
    registered mm keys must eat real files, not re-synthesize on the
    driver every run) — steady state is a manifest check + pure
    binaryFile scan; only the bounded doc_id list is collected."""
    from ..sources.binfix import ensure_blob_fixture, ppm_p6_payload

    d = (
        load_table(spark, sf_dir, "documents")
        .where((F.col("doc_id") >= _CQ_DOC_LO) & (F.col("doc_id") < _CQ_DOC_HI))
        .select("doc_id")
    )
    ids = sorted(r.doc_id for r in d.collect())  # ≤40 rows — fixture key only
    if not ids:
        return spark.createDataFrame(
            [],
            "doc_id long, n_colors long, n_pixels long, top_color long, "
            "top_count long",
        )
    stage = ensure_blob_fixture(
        "cq",
        sf_dir,
        version=1,
        names=[f"{i}.ppm" for i in ids],
        payload_of=lambda name: ppm_p6_payload(int(name.split(".")[0])),
    )
    blobs = spark.read.format("binaryFile").load(f"{stage}/*.ppm").select(
        "path", "content"
    )

    def kernel(batches):
        import os as _os
        from collections import Counter

        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = []
            for path, content in zip(pdf["path"], pdf["content"]):
                doc_id = int(_os.path.basename(path).split(".")[0])
                blob = bytes(content)
                _, dims, _, rest = blob.split(b"\n", 3)
                w, h = (int(t) for t in dims.split())
                v = np.frombuffer(rest, dtype=np.uint8).astype(np.int64)
                q = v >> 5
                colors = (
                    (q[0::3] << 6) | (q[1::3] << 3) | q[2::3]
                )
                cnt = Counter(colors.tolist())
                top_color, top_count = min(
                    cnt.items(), key=lambda kv: (-kv[1], kv[0])
                )
                out.append(
                    (doc_id, len(cnt), w * h, int(top_color), int(top_count))
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id",
                    "n_colors",
                    "n_pixels",
                    "top_color",
                    "top_count",
                ],
            )

    return blobs.mapInPandas(
        kernel,
        "doc_id long, n_colors long, n_pixels long, top_color long, "
        "top_count long",
    )


DEV_CASES = [
    ("fn_snowflake_decode", fn_snowflake_decode, FN_SNOWFLAKE_DECODE_ORACLE),
    ("event_interval_union", event_interval_union, EVENT_INTERVAL_UNION_ORACLE),
    (
        "stat_mann_kendall_seasonal",
        stat_mann_kendall_seasonal,
        STAT_MANN_KENDALL_SEASONAL_ORACLE,
    ),
    ("mm_color_quantize", mm_color_quantize, MM_COLOR_QUANTIZE_ORACLE),
]
