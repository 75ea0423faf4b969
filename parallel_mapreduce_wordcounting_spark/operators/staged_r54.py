"""Two-sample-energy / schema-drift / audio-resample / stylometry wave. Like
every ``staged_r*`` module with ``DEV_CASES``, it registers itself on
import: the package root registers each ``(key, fn, oracle)`` entry.
tests/test_oracle_parity.py runs the fn-vs-DuckDB compare;
tests/test_staged_r54.py holds the independent property checks.

Contents:

- ``stat_energy_distance`` — Székely's energy distance between the
  first- and second-half daily-revenue distributions:
  2·E|X−Y| − E|X−X′| − E|Y−Y′|, every pairwise |difference| an exact
  integer in cents and the pair fan-out CALENDAR-bounded (days²/4 per
  term — never data-bounded). The modern nonparametric two-sample test
  beside stat_ks_test (sup-distance) and stat_mann_whitney (ranks):
  zero under equal distributions, metric-valid, transcendental-free.
- ``dq_cardinality_drift`` — NDV drift between the first and second
  half of orders (split at the median order day under a total order):
  per watched column, distinct counts in each half, the shared count,
  and the Jaccard of the two value sets — the schema-health screen
  that catches an upstream backfill suddenly minting new keys (or a
  category column collapsing) long before referential checks fire.
  Complements dq_catalog_snapshot (static profile) with a drift view.
- ``mm_stride_resample`` — 2× audio decimation with a 2-tap boxcar
  anti-alias prefilter over REAL PCM16 blobs (the staged-generator
  convention, doc range 320–360): out_j = floor((s_{2j}+s_{2j+1})/2),
  census n_out / peak / sum / RMS-ratio against the input. The second
  DSP stage after mm_wav_energy's census — the downsample every
  audio-ingest pipeline runs before feature extraction — with the
  ORACLE rederiving every output sample from the generator formula
  (FLOOR division pinned on both engines via the guarded-modulo form).
- ``text_yule_k`` — Yule's characteristic K per source:
  10⁴·(Σf² − N)/N² over token frequencies — the classic stylometric
  repetitiveness constant (scale-invariant where TTR is not). Joins
  the stylometry battery (text_simpson, text_hapax, text_burrows_delta)
  with the one index that is stable under corpus growth; pure integer
  sufficient statistics, one division.

Exactness doctrine: pairwise |diffs|, NDV counts, resampled samples and
frequency power sums are exact integers end-to-end; energy / Jaccard /
RMS-ratio / K spend divisions (and one sqrt) on exact integers and
round to 6 dp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..pins import persisting, pin
from ..sources.loader import load_table, ts_day
from .exact import floor_day_us_sql, money_cents, money_cents_sql

_D38 = "decimal(38,0)"

# --- energy distance between the two calendar halves ------------------------------------

STAT_ENERGY_DISTANCE_ORACLE = (
    "WITH g AS ("
    f"  SELECT {floor_day_us_sql()} AS day, "
    f"  CAST(sum({money_cents_sql('value')}) AS BIGINT) AS y"
    "  FROM events WHERE event_type = 'purchase' GROUP BY 1"
    "), r AS (SELECT row_number() OVER (ORDER BY day) AS t, "
    "  CAST(y AS HUGEINT) AS y FROM g), "
    "nn AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM r), "
    "a AS (SELECT y FROM r WHERE t * 2 <= (SELECT n FROM nn)), "
    "b AS (SELECT y FROM r WHERE t * 2 > (SELECT n FROM nn)), "
    "sxy AS (SELECT CAST(sum(abs(a.y - b.y)) AS HUGEINT) AS s, "
    "  CAST(count(*) AS HUGEINT) AS m FROM a, b), "
    "sxx AS (SELECT CAST(coalesce(sum(abs(a1.y - a2.y)), 0) AS HUGEINT) AS s, "
    "  CAST(count(*) AS HUGEINT) AS m FROM a a1, a a2), "
    "syy AS (SELECT CAST(coalesce(sum(abs(b1.y - b2.y)), 0) AS HUGEINT) AS s, "
    "  CAST(count(*) AS HUGEINT) AS m FROM b b1, b b2) "
    "SELECT CAST((SELECT count(*) FROM a) AS BIGINT) AS n_a, "
    "CAST((SELECT count(*) FROM b) AS BIGINT) AS n_b, "
    "round(2.0 * (SELECT s FROM sxy) / (SELECT m FROM sxy) / 100"
    " - CAST((SELECT s FROM sxx) AS DOUBLE) / (SELECT m FROM sxx) / 100"
    " - CAST((SELECT s FROM syy) AS DOUBLE) / (SELECT m FROM syy) / 100, 6)"
    "  AS energy_usd"
)


def stat_energy_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See module docstring. One day-grain aggregate absorbs the event
    volume; the three pairwise-sum terms are equi-condition-free joins
    over the ≤|days| halves — calendar-bounded quadratics (≈450 pairs a
    month, ≈3.3M a decade), each a single map-side-combined |diff| sum.
    No float enters before the final three divisions."""
    g = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .groupBy(ts_day("ts").alias("day"))
        .agg(F.sum(money_cents(F.col("value"))).cast(_D38).alias("y"))
    )
    r = g.select(
        F.row_number().over(Window.orderBy("day")).alias("t"), "y"
    )
    nn = r.agg(F.count(F.lit(1)).alias("n"))
    halves = r.crossJoin(F.broadcast(nn)).select(
        F.when(F.col("t") * 2 <= F.col("n"), F.lit(0))
        .otherwise(F.lit(1))
        .alias("h"),
        "y",
    )
    with persisting() as keep:
        keep(halves)
        a = halves.where(F.col("h") == 0).select(F.col("y").alias("ya"))
        b = halves.where(F.col("h") == 1).select(F.col("y").alias("yb"))

        def pair_sum(left, right, la, lb):
            # broadcast the (calendar-bounded) right half: the product is
            # days²/4 pairs, and BNLJ-with-broadcast is the sweep-pinned
            # shape for bounded no-equi-key products
            return left.crossJoin(F.broadcast(right)).agg(
                F.sum(F.abs(F.col(la) - F.col(lb))).alias("s"),
                F.count(F.lit(1)).cast(_D38).alias("m"),
            )

        sxy = pair_sum(a, b, "ya", "yb").select(
            F.col("s").alias("sxy"), F.col("m").alias("mxy")
        )
        sxx = pair_sum(
            a, a.select(F.col("ya").alias("ya2")), "ya", "ya2"
        ).select(F.col("s").alias("sxx"), F.col("m").alias("mxx"))
        syy = pair_sum(
            b, b.select(F.col("yb").alias("yb2")), "yb", "yb2"
        ).select(F.col("s").alias("syy"), F.col("m").alias("myy"))
        counts = halves.agg(
            F.sum(F.when(F.col("h") == 0, 1).otherwise(0))
            .cast("long")
            .alias("n_a"),
            F.sum(F.when(F.col("h") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_b"),
        )
        out = (
            counts.crossJoin(F.broadcast(sxy))
            .crossJoin(F.broadcast(sxx))
            .crossJoin(F.broadcast(syy))
            .select(
                "n_a",
                "n_b",
                F.round(
                    2.0 * F.col("sxy").cast("double") / F.col("mxy") / 100
                    - F.col("sxx").cast("double") / F.col("mxx") / 100
                    - F.col("syy").cast("double") / F.col("myy") / 100,
                    6,
                ).alias("energy_usd"),
            )
        )
        return pin(out)


# --- NDV drift between order halves ------------------------------------------------------

DQ_CARDINALITY_DRIFT_ORACLE = (
    "WITH o AS ("
    f"  SELECT o_orderkey, o_custkey, o_orderpriority, "
    f"  {floor_day_us_sql('epoch_ns(o_orderdate) // 1000')} AS d FROM orders"
    "), dg AS ("
    "  SELECT d, CAST(count(*) AS BIGINT) AS c FROM o GROUP BY d"
    "), med AS ("
    # the day containing the median ROW, from day-grain cumulative counts
    # (identical to a row-level row_number median, but the window runs
    # over DAYS — calendar-bounded, never a row-level global sort)
    "  SELECT min(d) AS m FROM ("
    "    SELECT d, sum(c) OVER (ORDER BY d) AS cum, "
    "    (SELECT sum(c) FROM dg) AS n FROM dg)"
    "  WHERE cum >= (n + 1) // 2"
    "), halves AS ("
    "  SELECT CASE WHEN d <= (SELECT m FROM med) THEN 0 ELSE 1 END AS h, "
    "  o_custkey, o_orderpriority FROM o"
    "), cust AS ("
    "  SELECT 'o_custkey' AS col, "
    "  CAST(count(DISTINCT CASE WHEN h = 0 THEN o_custkey END) AS BIGINT)"
    "    AS ndv_first, "
    "  CAST(count(DISTINCT CASE WHEN h = 1 THEN o_custkey END) AS BIGINT)"
    "    AS ndv_second, "
    "  CAST(count(DISTINCT o_custkey) AS BIGINT) AS ndv_union, "
    "  CAST((SELECT count(*) FROM (SELECT DISTINCT o_custkey FROM halves"
    "    WHERE h = 0 INTERSECT SELECT DISTINCT o_custkey FROM halves"
    "    WHERE h = 1)) AS BIGINT) AS ndv_shared"
    "  FROM halves"
    "), pri AS ("
    "  SELECT 'o_orderpriority' AS col, "
    "  CAST(count(DISTINCT CASE WHEN h = 0 THEN o_orderpriority END)"
    "    AS BIGINT) AS ndv_first, "
    "  CAST(count(DISTINCT CASE WHEN h = 1 THEN o_orderpriority END)"
    "    AS BIGINT) AS ndv_second, "
    "  CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS ndv_union, "
    "  CAST((SELECT count(*) FROM (SELECT DISTINCT o_orderpriority"
    "    FROM halves WHERE h = 0 INTERSECT SELECT DISTINCT o_orderpriority"
    "    FROM halves WHERE h = 1)) AS BIGINT) AS ndv_shared"
    "  FROM halves"
    ") SELECT col, ndv_first, ndv_second, ndv_shared, "
    "round(CAST(ndv_shared AS DOUBLE) / ndv_union, 6) AS value_jaccard "
    "FROM (SELECT * FROM cust UNION ALL SELECT * FROM pri)"
)


def dq_cardinality_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See module docstring. The median-row day comes from day-grain
    cumulative counts — a calendar-bounded window, never a row-level
    global sort (the ×10 harness measured the row_number form 2.0×;
    this form is flat) — broadcast as a scalar; per-column NDVs are
    conditional distinct aggregates in ONE pass; shared counts are
    per-column distinct intersections on already-distinct value sets."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderpriority",
        ts_day("o_orderdate").alias("d"),
    )
    dg = o.groupBy("d").agg(F.count(F.lit(1)).cast("long").alias("c"))
    nn = dg.agg(F.sum("c").alias("n"))
    med = (
        dg.crossJoin(F.broadcast(nn))
        .select(
            "d",
            F.sum("c").over(
                Window.orderBy("d").rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            ).alias("cum"),
            "n",
        )
        .where(F.col("cum") >= F.expr("(n + 1) div 2"))
        .agg(F.min("d").alias("m"))
    )
    halves = o.crossJoin(F.broadcast(med)).select(
        F.when(F.col("d") <= F.col("m"), F.lit(0)).otherwise(F.lit(1)).alias(
            "h"
        ),
        "o_custkey",
        "o_orderpriority",
    )
    with persisting() as keep:
        keep(halves)
        rows = []
        for col in ("o_custkey", "o_orderpriority"):
            base = halves.select("h", F.col(col).alias("v"))
            ndv = base.agg(
                F.countDistinct(F.when(F.col("h") == 0, F.col("v")))
                .cast("long")
                .alias("ndv_first"),
                F.countDistinct(F.when(F.col("h") == 1, F.col("v")))
                .cast("long")
                .alias("ndv_second"),
                F.countDistinct("v").cast("long").alias("ndv_union"),
            )
            shared = (
                base.where(F.col("h") == 0)
                .select("v")
                .distinct()
                .join(
                    base.where(F.col("h") == 1).select("v").distinct(), "v"
                )
                .agg(F.count(F.lit(1)).cast("long").alias("ndv_shared"))
            )
            rows.append(
                ndv.crossJoin(F.broadcast(shared)).select(
                    F.lit(col).alias("col"),
                    "ndv_first",
                    "ndv_second",
                    "ndv_shared",
                    # try_divide: an empty (or single-half) table zeroes
                    # ndv_union; DuckDB's x/0 yields NULL where a bare ANSI
                    # `/` aborts (round-12 degenerate-corpus sweep find)
                    F.round(
                        F.try_divide(
                            F.col("ndv_shared").cast("double"),
                            F.col("ndv_union"),
                        ),
                        6,
                    ).alias("value_jaccard"),
                )
            )
        out = rows[0].unionAll(rows[1])
        return pin(out)


# --- 2x decimation with boxcar prefilter over PCM16 blobs --------------------------------

_RS_DOC_LO, _RS_DOC_HI = 320, 360

MM_STRIDE_RESAMPLE_ORACLE = (
    "WITH d AS ("
    "  SELECT doc_id, 160 + (doc_id % 17) * 8 AS n FROM documents"
    f"  WHERE doc_id >= {_RS_DOC_LO} AND doc_id < {_RS_DOC_HI}"
    "), pairs AS ("
    "  SELECT doc_id, CAST(j AS BIGINT) AS j, "
    "  CAST((doc_id * 7919 + (2 * j) * 104729 + 12345) % 65536 - 32768"
    "    AS BIGINT) AS s0, "
    "  CAST((doc_id * 7919 + (2 * j + 1) * 104729 + 12345) % 65536 - 32768"
    "    AS BIGINT) AS s1"
    "  FROM d, unnest(range(n // 2)) t(j)"
    "), outp AS ("
    "  SELECT doc_id, "
    "  ((s0 + s1) - ((((s0 + s1) % 2) + 2) % 2)) // 2 AS o, s0, s1"
    "  FROM pairs"
    ") SELECT doc_id, CAST(count(*) AS BIGINT) AS n_out, "
    "CAST(max(abs(o)) AS BIGINT) AS peak_out, "
    "CAST(sum(o) AS BIGINT) AS sum_out, "
    "round(sqrt(CAST(sum(o * o) AS DOUBLE) / count(*))"
    " / sqrt(CAST(sum(s0 * s0) + sum(s1 * s1) AS DOUBLE) / (2 * count(*))), 6)"
    "  AS rms_ratio "
    "FROM outp GROUP BY doc_id"
)


def mm_stride_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See module docstring. Staging reuses the PCM generator (fresh doc
    range + dir); the kernel is two numpy strided views and one integer
    mean — floor division pinned to the oracle's guarded-modulo form.
    Boxcar-then-decimate halves the bandwidth before subsampling, which
    is why rms_ratio sits below 1 on white-noise-like input (averaging
    uncorrelated samples halves the power).

    The fixture is PRE-MATERIALIZED once per sf_dir (r11 verdict item 6:
    registered mm/audio keys must eat real files, not re-synthesize on
    the driver every run) — steady state is a manifest check + pure
    binaryFile scan; only the bounded doc_id list is collected."""
    from ..sources.binfix import ensure_blob_fixture, pcm16_wav_payload

    d = (
        load_table(spark, sf_dir, "documents")
        .where((F.col("doc_id") >= _RS_DOC_LO) & (F.col("doc_id") < _RS_DOC_HI))
        .select("doc_id")
    )
    ids = sorted(r.doc_id for r in d.collect())  # ≤40 rows — fixture key only
    if not ids:
        return spark.createDataFrame(
            [],
            "doc_id long, n_out long, peak_out long, sum_out long, "
            "rms_ratio double",
        )
    stage = ensure_blob_fixture(
        "rs",
        sf_dir,
        version=1,
        names=[f"{i}.wav" for i in ids],
        payload_of=lambda name: pcm16_wav_payload(int(name.split(".")[0])),
    )
    blobs = spark.read.format("binaryFile").load(f"{stage}/*.wav").select(
        "path", "content"
    )

    def kernel(batches):
        import os as _os

        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = []
            for path, content in zip(pdf["path"], pdf["content"]):
                doc_id = int(_os.path.basename(path).split(".")[0])
                v = np.frombuffer(bytes(content)[44:], dtype="<i2").astype(
                    np.int64
                )
                s0, s1 = v[0::2], v[1::2]
                m = min(len(s0), len(s1))
                s0, s1 = s0[:m], s1[:m]
                o = (s0 + s1) // 2  # numpy floor-div == the oracle's form
                rms_out = np.sqrt(float((o * o).sum()) / m)
                rms_in = np.sqrt(
                    float((s0 * s0).sum() + (s1 * s1).sum()) / (2 * m)
                )
                out.append(
                    (
                        doc_id,
                        m,
                        int(np.max(np.abs(o))),
                        int(o.sum()),
                        round(float(rms_out / rms_in), 6),
                    )
                )
            yield pd.DataFrame(
                out,
                columns=["doc_id", "n_out", "peak_out", "sum_out", "rms_ratio"],
            )

    return blobs.mapInPandas(
        kernel,
        "doc_id long, n_out long, peak_out long, sum_out long, "
        "rms_ratio double",
    )


# --- Yule's characteristic K --------------------------------------------------------------

TEXT_YULE_K_ORACLE = (
    "WITH t AS ("
    "  SELECT source, w, CAST(count(*) AS HUGEINT) AS f FROM ("
    "    SELECT source, unnest(string_split(lower(text), ' ')) AS w"
    "    FROM documents) GROUP BY 1, 2"
    "), s AS ("
    "  SELECT source, CAST(sum(f) AS HUGEINT) AS s1, "
    "  CAST(sum(f * f) AS HUGEINT) AS s2, CAST(count(*) AS BIGINT) AS vocab"
    "  FROM t GROUP BY source"
    ") SELECT source, CAST(s1 AS BIGINT) AS n_tokens, vocab, "
    "round(10000.0 * CAST(s2 - s1 AS DOUBLE)"
    " / (CAST(s1 AS DOUBLE) * s1), 6) AS yule_k "
    "FROM s"
)


def text_yule_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See module docstring. One token-count shuffle (map-side combined)
    then a per-source reduce over the vocabulary — the text_zipf plan
    family; K's (S₂−S₁)/S₁² form needs only two power sums, no
    frequency-of-frequencies table."""
    d = load_table(spark, sf_dir, "documents")
    t = (
        d.select(
            "source", F.explode(F.split(F.lower("text"), " ")).alias("w")
        )
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast(_D38).alias("f"))
    )
    s = t.groupBy("source").agg(
        F.sum("f").alias("s1"),
        F.sum(F.col("f") * F.col("f")).alias("s2"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
    )
    return s.select(
        "source",
        F.col("s1").cast("long").alias("n_tokens"),
        "vocab",
        F.round(
            10000.0
            * (F.col("s2") - F.col("s1")).cast("double")
            / (F.col("s1").cast("double") * F.col("s1").cast("double")),
            6,
        ).alias("yule_k"),
    )


DEV_CASES = [
    ("stat_energy_distance", stat_energy_distance, STAT_ENERGY_DISTANCE_ORACLE),
    ("dq_cardinality_drift", dq_cardinality_drift, DQ_CARDINALITY_DRIFT_ORACLE),
    ("mm_stride_resample", mm_stride_resample, MM_STRIDE_RESAMPLE_ORACLE),
    ("text_yule_k", text_yule_k, TEXT_YULE_K_ORACLE),
]
