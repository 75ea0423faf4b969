"""Magic-byte-triage / random-projection / arrival-process / heteroscedasticity
wave. Like every ``staged_r*`` module with ``DEV_CASES``, it registers
itself on import: the package root registers each ``(key, fn, oracle)``
entry. tests/test_oracle_parity.py runs the fn-vs-DuckDB compare;
tests/test_staged_r45.py holds the independent property checks.

Contents:

- ``mm_magic_sniff`` — file-type triage of a MIXED binary dump from
  magic bytes alone (no extensions — files stage as ``<id>.bin``): PNG
  (8-byte signature), RIFF/WAVE (bytes 1–4 + 9–12), NPY (\\x93NUMPY),
  else text. 60 fixture blobs stage with the type decided by
  doc_id % 4 arithmetic, so the ORACLE derives the expected census
  (type, file count, total bytes incl. the real header sizes) from the
  source table and any staging or classifier drift fails the hash.
  This is step zero of every mixed-media lake ingest — the fan-out
  router in front of the mm_*_meta parsers — and it runs entirely
  JVM-side on the first 12 bytes of each blob.
- ``sim_jl_projection`` — Johnson–Lindenstrauss random projection of
  the 64-d embeddings to k=16 via a DETERMINISTIC Rademacher (±1) sign
  matrix (md5-derived per (j, i), Achlioptas 2003's database-friendly
  construction), with a distortion census over the vec_id chain pairs
  (i, i+1). Embeddings are first quantized to integer micro-units
  (the sim_quantize_int8 grain), so projections and BOTH squared
  distances are exact integers; the census compares Σ‖Pu−Pv‖² against
  k·Σ‖u−v‖² (E[‖Ru‖²] = k‖u‖² for Rademacher R) as one exact-integer
  ratio, and the per-pair ±50% envelope counts are decided by integer
  cross-multiplication — no float decides anything. The measurement
  you run before serving 4× cheaper vectors.
- ``event_inter_arrival`` — the arrival-process profile per event
  type: inter-event gaps (exact integer µs over a total
  (ts, event_id) order), mean gap, coefficient of variation,
  Goh–Barabási burstiness B = (CV−1)/(CV+1), and the events-per-hour
  rate. CV ≈ 1 is Poisson, B → 1 is bursty — the screen that says
  whether rate-based capacity math applies at all. Variance comes
  from exact decimal(38)/HUGEINT power sums; one sqrt + division
  lands in the 6-dp round.
- ``stat_het_spearman`` — the rank-based heteroscedasticity screen
  (Gujarati's Spearman test): ρ between |scaled trend residual| and
  time over the SHARED derivation of staged_r44 (TREND_RESID_CTES /
  _trend_residuals — the span_edges shared-CTE convention), with
  integer doubled-midranks (the stat_spearman idiom) so every Pearson
  sufficient statistic over ranks is exact. Pairs with
  stat_durbin_watson: DW asks "are residuals serially correlated?",
  this asks "does their spread grow with time?" — the two classic
  post-fit diagnostics.

Exactness doctrine: sniff censuses, projections, squared distances and
gap moments are exact integers; CV/ρ/distortion each spend exactly one
sqrt and/or division on exact integers and round to 6 dp; burstiness
derives from the ALREADY-ROUNDED cv on both engines.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.loader import load_table, ts_us
from .staged_r44 import TREND_RESID_CTES, _trend_residuals

_D38 = "decimal(38,0)"

# --- magic-byte triage of a mixed binary dump ---------------------------------------

_SNIFF_DOCS = 60
_SNIFF_TYPES = ("png", "wav", "npy", "text")  # doc_id % 4 → type
_SNIFF_HEADER_BYTES = {"png": 8, "wav": 12, "npy": 6, "text": 0}

MM_MAGIC_SNIFF_ORACLE = (
    "SELECT CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'wav' "
    "WHEN 2 THEN 'npy' ELSE 'text' END AS detected, "
    "CAST(count(*) AS BIGINT) AS n_files, "
    "CAST(sum(octet_length(encode(text)) + CASE doc_id % 4 "
    "WHEN 0 THEN 8 WHEN 1 THEN 12 WHEN 2 THEN 6 ELSE 0 END) AS BIGINT) "
    "AS sum_bytes "
    f"FROM documents WHERE doc_id < {_SNIFF_DOCS} GROUP BY 1"
)


def mm_magic_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See module docstring. The classifier reads ONLY
    ``hex(substring(content, pos, len))`` prefixes — JVM-side byte-slice
    compares, zero Python, zero decode — so at 100 TB the scan cost is
    the binaryFile enumeration, not the blob volume (a production build
    would read just the first 4 KB per blob via the format's
    ``pathGlobFilter``/stream slicing; the 12-byte decision logic is
    unchanged)."""
    import os
    import struct
    import tempfile

    d = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < _SNIFF_DOCS)
        .select("doc_id", "text")
    )
    stage = os.path.join(
        tempfile.gettempdir(),
        f"pmrwc_sniff_{os.getuid()}_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}",
    )
    os.makedirs(stage, exist_ok=True)
    for stale in os.listdir(stage):
        os.unlink(os.path.join(stage, stale))
    for r in d.collect():  # 60 bounded fixture rows — staging only
        payload = r.text.encode("utf-8")
        kind = _SNIFF_TYPES[r.doc_id % 4]
        if kind == "png":
            blob = b"\x89PNG\r\n\x1a\n" + payload
        elif kind == "wav":
            blob = b"RIFF" + struct.pack("<I", 4 + len(payload)) + b"WAVE" + payload
        elif kind == "npy":
            blob = b"\x93NUMPY" + payload
        else:
            blob = payload
        with open(os.path.join(stage, f"{r.doc_id}.bin"), "wb") as f:
            f.write(blob)
    if not os.listdir(stage):
        # empty corpus staged zero blobs (mm_png_meta convention)
        return spark.createDataFrame(
            [], "detected string, n_files long, sum_bytes long"
        )
    blobs = spark.read.format("binaryFile").load(stage)
    hexat = lambda pos, n: F.hex(F.expr(f"substring(content, {pos}, {n})"))  # noqa: E731
    detected = (
        F.when(hexat(1, 8) == "89504E470D0A1A0A", "png")
        .when((hexat(1, 4) == "52494646") & (hexat(9, 4) == "57415645"), "wav")
        .when(hexat(1, 6) == "934E554D5059", "npy")
        .otherwise("text")
    )
    return blobs.select(
        detected.alias("detected"), F.length("content").alias("nb")
    ).groupBy("detected").agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.sum("nb").cast("long").alias("sum_bytes"),
    )


# --- Johnson–Lindenstrauss random projection + distortion census ----------------------

_JL_D = 64
_JL_K = 16
_JL_SCALE = 1_000_000

# deterministic Rademacher sign matrix: ±1 from md5("jl:<j>:<i>") parity.
# A module-level CONSTANT (not per-row compute): hashlib here and DuckDB's
# md5 in the oracle are the same function on the same bytes, and
# tests/test_staged_r45.py pins the equality anyway.
_JL_SIGNS = tuple(
    tuple(
        1 - 2 * (int(hashlib.md5(f"jl:{j}:{i}".encode()).hexdigest()[:2], 16) % 2)
        for i in range(_JL_D)
    )
    for j in range(_JL_K)
)

_JL_SGN_SQL = (
    "(1 - 2 * (CAST(('0x' || substr(md5('jl:' || CAST(j AS VARCHAR) || ':' "
    "|| CAST(i AS VARCHAR)), 1, 2)) AS BIGINT) % 2))"
)

_JL_Q_SQL = (
    "list_transform(embedding, x -> CAST(sign(x) * floor(abs(x) * "
    f"{_JL_SCALE} + 0.5) AS BIGINT))"
)

SIM_JL_PROJECTION_ORACLE = (
    f"WITH qv AS (SELECT vec_id, {_JL_Q_SQL} AS q FROM embeddings), "
    "pr AS ("
    "  SELECT vec_id, j, "
    f"  list_sum(list_transform(range(0, {_JL_D}), "
    f"    i -> {_JL_SGN_SQL} * q[i + 1])) AS p"
    f"  FROM qv, unnest(range(0, {_JL_K})) AS t(j)"
    "), pv AS ("
    "  SELECT vec_id, list(p ORDER BY j) AS ps FROM pr GROUP BY vec_id"
    "), pair AS ("
    "  SELECT a.vec_id AS va, "
    f"  CAST(list_sum(list_transform(range(0, {_JL_D}), "
    "    i -> CAST(a.q[i + 1] - b.q[i + 1] AS HUGEINT) "
    "       * (a.q[i + 1] - b.q[i + 1]))) AS HUGEINT) AS d2o, "
    f"  CAST(list_sum(list_transform(range(0, {_JL_K}), "
    "    j -> CAST(pa.ps[j + 1] - pb.ps[j + 1] AS HUGEINT) "
    "       * (pa.ps[j + 1] - pb.ps[j + 1]))) AS HUGEINT) AS d2p"
    "  FROM qv a JOIN qv b ON b.vec_id = a.vec_id + 1"
    "  JOIN pv pa ON pa.vec_id = a.vec_id JOIN pv pb ON pb.vec_id = b.vec_id"
    ") SELECT CAST(count(*) AS BIGINT) AS n_pairs, "
    f"round(CAST(sum(d2p) AS DOUBLE) / CAST({_JL_K} * sum(d2o) AS DOUBLE), 6) "
    "  AS ratio_of_sums, "
    f"CAST(sum(CASE WHEN 2 * abs(d2p - {_JL_K} * d2o) <= {_JL_K} * d2o "
    "  THEN 1 ELSE 0 END) AS BIGINT) AS n_within_50pct, "
    f"CAST(sum(CASE WHEN 2 * (d2p - {_JL_K} * d2o) < -({_JL_K} * d2o) "
    "  THEN 1 ELSE 0 END) AS BIGINT) AS n_below, "
    f"CAST(sum(CASE WHEN 2 * (d2p - {_JL_K} * d2o) > {_JL_K} * d2o "
    "  THEN 1 ELSE 0 END) AS BIGINT) AS n_above "
    "FROM pair"
)


def sim_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See module docstring. Per row: one quantize transform, k=16
    zip_with/aggregate folds against BROADCAST-LITERAL sign arrays (the
    matrix is 16×64 constants — nothing data-dependent), one
    chain-neighbor equi-join. Everything stays in whole-stage codegen;
    output is a 1-row census, so the harness never collects row-linear
    data. At 100 TB the same projection is the write-side map of an
    ANN index build — the census is its acceptance test."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = F.transform(
        F.col("embedding"),
        lambda x: (
            F.signum(x) * F.floor(F.abs(x) * _JL_SCALE + F.lit(0.5))
        ).cast("long"),
    )
    qv = emb.select("vec_id", q.alias("q"))
    projs = [
        F.aggregate(
            F.zip_with(
                F.array(*[F.lit(s) for s in _JL_SIGNS[j]]),
                F.col("q"),
                lambda a, b: a.cast("long") * b,
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias(f"p{j}")
        for j in range(_JL_K)
    ]
    pv = qv.select("vec_id", "q", F.array(*projs).alias("ps"))
    b = pv.select(
        (F.col("vec_id") - 1).alias("vec_id"),
        F.col("q").alias("qb"),
        F.col("ps").alias("psb"),
    )
    sq = lambda u, v: F.aggregate(  # noqa: E731
        F.zip_with(u, v, lambda a, c: (a - c).cast(_D38) * (a - c).cast(_D38)),
        F.lit(0).cast(_D38),
        lambda acc, x: acc + x,
    )
    pair = pv.join(b, "vec_id").select(
        sq(F.col("q"), F.col("qb")).alias("d2o"),
        sq(F.col("ps"), F.col("psb")).alias("d2p"),
    )
    k = F.lit(_JL_K).cast(_D38)
    return pair.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.round(
            F.sum("d2p").cast("double") / (k * F.sum("d2o")).cast("double"), 6
        ).alias("ratio_of_sums"),
        F.sum(
            F.when(
                2 * F.abs(F.col("d2p") - k * F.col("d2o")) <= k * F.col("d2o"), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_within_50pct"),
        F.sum(
            F.when(
                2 * (F.col("d2p") - k * F.col("d2o")) < -(k * F.col("d2o")), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_below"),
        F.sum(
            F.when(
                2 * (F.col("d2p") - k * F.col("d2o")) > k * F.col("d2o"), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_above"),
    )


# --- per-type arrival-process profile ------------------------------------------------

EVENT_INTER_ARRIVAL_ORACLE = (
    "WITH o AS ("
    "  SELECT event_type, epoch_ns(ts) // 1000 AS us, event_id FROM events"
    "), g AS ("
    "  SELECT event_type, us - lag(us) OVER ("
    "    PARTITION BY event_type ORDER BY us, event_id) AS gap FROM o"
    "), f AS (SELECT event_type, CAST(gap AS HUGEINT) AS gap FROM g "
    "  WHERE gap IS NOT NULL), "
    "s AS ("
    "  SELECT event_type, CAST(count(*) AS HUGEINT) AS n, sum(gap) AS sg, "
    "  sum(gap * gap) AS sg2 FROM f GROUP BY event_type"
    "), c AS ("
    "  SELECT event_type, CAST(n AS BIGINT) AS n_gaps, "
    "  CAST(sg AS DOUBLE) / CAST(n AS DOUBLE) AS mean_gap_us, "
    "  round(sqrt(CAST(n * sg2 - sg * sg AS DOUBLE)) / CAST(sg AS DOUBLE), 6) "
    "    AS cv, "
    "  round(CAST(n * 3600000000 AS DOUBLE) / CAST(sg AS DOUBLE), 6) "
    "    AS rate_per_hour "
    "  FROM s"
    ") SELECT event_type, n_gaps, mean_gap_us, cv, "
    "round((cv - 1) / (cv + 1), 6) AS burstiness, rate_per_hour FROM c"
)


def event_inter_arrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See module docstring. One event_type shuffle carries the lag
    window AND the moment aggregate; gaps are exact integer µs over the
    total (us, event_id) order, so the power sums are reproducible under
    any partitioning. CV = √(nΣg²−S²)/S spends the sqrt on an exact
    integer."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type", ts_us("ts").alias("us"), "event_id"
    )
    w = Window.partitionBy("event_type").orderBy("us", "event_id")
    gaps = (
        e.select("event_type", (F.col("us") - F.lag("us").over(w)).alias("gap"))
        .where(F.col("gap").isNotNull())
        .select("event_type", F.col("gap").cast(_D38).alias("gap"))
    )
    s = gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).cast(_D38).alias("n"),
        F.sum("gap").alias("sg"),
        F.sum(F.col("gap") * F.col("gap")).alias("sg2"),
    )
    c = s.select(
        "event_type",
        F.col("n").cast("long").alias("n_gaps"),
        (F.col("sg").cast("double") / F.col("n").cast("double")).alias(
            "mean_gap_us"
        ),
        F.round(
            F.sqrt(
                (F.col("n") * F.col("sg2") - F.col("sg") * F.col("sg")).cast(
                    "double"
                )
            )
            / F.col("sg").cast("double"),
            6,
        ).alias("cv"),
        F.round(
            (F.col("n") * F.lit(3_600_000_000).cast(_D38)).cast("double")
            / F.col("sg").cast("double"),
            6,
        ).alias("rate_per_hour"),
    )
    return c.select(
        "event_type",
        "n_gaps",
        "mean_gap_us",
        "cv",
        F.round((F.col("cv") - 1) / (F.col("cv") + 1), 6).alias("burstiness"),
        "rate_per_hour",
    )


# --- rank-based heteroscedasticity screen --------------------------------------------

_HET_RHO_CUTOFF = 0.3

STAT_HET_SPEARMAN_ORACLE = (
    f"WITH {TREND_RESID_CTES}, "
    "ab AS (SELECT t, abs(ee) AS a FROM e), "
    "rk AS ("
    "  SELECT CAST(2 * t AS HUGEINT) AS rt, "
    "  CAST(2 * rank() OVER (ORDER BY a) "
    "    + count(*) OVER (PARTITION BY a) - 1 AS HUGEINT) AS ra FROM ab"
    "), hs AS ("
    "  SELECT CAST(count(*) AS HUGEINT) AS n, sum(rt) AS st, sum(ra) AS sa, "
    "  sum(rt * rt) AS st2, sum(ra * ra) AS sa2, sum(rt * ra) AS sta FROM rk"
    ") SELECT CAST(n AS INT) AS n_days, "
    "round(CAST(n * sta - st * sa AS DOUBLE) / "
    "  sqrt(CAST(n * st2 - st * st AS DOUBLE) "
    "     * CAST(n * sa2 - sa * sa AS DOUBLE)), 6) AS rho, "
    "abs(round(CAST(n * sta - st * sa AS DOUBLE) / "
    "  sqrt(CAST(n * st2 - st * st AS DOUBLE) "
    f"     * CAST(n * sa2 - sa * sa AS DOUBLE)), 6)) > {_HET_RHO_CUTOFF} "
    "  AS heteroscedastic FROM hs"
)


def stat_het_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See module docstring. |E_t| = D·|e_t| is an exact integer (the
    shared staged_r44 derivation), so the rank windows sort exact values
    and the doubled-midrank trick keeps every sufficient statistic
    integral; ρ is one double expression rounded 6 dp. Bounded global
    windows over the ≤|days| series (the stat_spearman convention)."""
    ab = _trend_residuals(spark, sf_dir).select("t", F.abs(F.col("ee")).alias("a"))
    rk = ab.select(
        (2 * F.col("t")).cast(_D38).alias("rt"),
        (
            2 * F.rank().over(Window.orderBy("a"))
            + F.count(F.lit(1)).over(Window.partitionBy("a"))
            - 1
        )
        .cast(_D38)
        .alias("ra"),
    )
    s = rk.agg(
        F.count(F.lit(1)).cast(_D38).alias("n"),
        F.sum("rt").alias("st"),
        F.sum("ra").alias("sa"),
        F.sum(F.col("rt") * F.col("rt")).alias("st2"),
        F.sum(F.col("ra") * F.col("ra")).alias("sa2"),
        F.sum(F.col("rt") * F.col("ra")).alias("sta"),
    )
    rho = F.round(
        (F.col("n") * F.col("sta") - F.col("st") * F.col("sa")).cast("double")
        / F.sqrt(
            (F.col("n") * F.col("st2") - F.col("st") * F.col("st")).cast("double")
            * (F.col("n") * F.col("sa2") - F.col("sa") * F.col("sa")).cast("double")
        ),
        6,
    )
    return s.select(
        F.col("n").cast("int").alias("n_days"),
        rho.alias("rho"),
        (F.abs(rho) > _HET_RHO_CUTOFF).alias("heteroscedastic"),
    )


DEV_CASES = [
    ("mm_magic_sniff", mm_magic_sniff, MM_MAGIC_SNIFF_ORACLE),
    ("sim_jl_projection", sim_jl_projection, SIM_JL_PROJECTION_ORACLE),
    ("event_inter_arrival", event_inter_arrival, EVENT_INTER_ARRIVAL_ORACLE),
    ("stat_het_spearman", stat_het_spearman, STAT_HET_SPEARMAN_ORACLE),
]
