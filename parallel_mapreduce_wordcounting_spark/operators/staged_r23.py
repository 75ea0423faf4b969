"""Density / tail / multivariate-outlier wave. Like every ``staged_r*`` module
with ``DEV_CASES``, it registers itself on import: the package root
registers each ``(key, fn, oracle)`` entry. tests/test_oracle_parity.py runs
the fn-vs-DuckDB compare; tests/test_staged_r23.py holds the independent
property checks.

Contents:

- ``sim_dbscan`` — DBSCAN over the embedding space (ε = cosine
  distance 0.65, i.e. rounded cosine ≥ 0.35; minPts = 3 neighbors):
  core / border / noise roles plus deterministic cluster ids — the
  density clustering that needs NO k, the standard semantic-dedup
  grouping when cluster counts are unknown. Built on the exact blocked
  GEMM pair search (never all-pairs in Spark) + star-contraction
  connected components.
- ``stat_hill_tail`` — Hill estimator of the Pareto tail index over
  the top-100 order values: "how heavy is the revenue tail?" — the
  extreme-value companion of stat_gumbel (block maxima) and dq_benford
  (digit law).
- ``stat_kde_grid`` — Gaussian kernel density estimate of the order-
  value distribution on a 33-point integer-cents grid with a
  Silverman-rule bandwidth — the smooth counterpart of agg_hist,
  computed as one broadcast-grid aggregate.
- ``dq_mahalanobis`` — top-20 bivariate outliers (quantity ×
  extended price) by exact-sufficient-statistics Mahalanobis distance:
  the multivariate complement of dq_anomaly_iqr / win_hampel's
  univariate screens; the entire ranking is transcendental-free and
  bit-deterministic.
- ``text_compression_ratio`` — per-document zlib compression ratio,
  the Gopher/RefinedWeb-style repetitiveness signal ("too compressible
  = boilerplate, too incompressible = noise"); genuinely
  non-SQL-expressible (DuckDB has no zlib surface), so it is the
  wave's single rows-only key, pinned instead by an exact stdlib-zlib
  replica in the tests.

Exactness doctrine: unchanged — neighbor graphs and argmaxes decided on
6 dp-rounded cosines or exact integers; Mahalanobis and the KDE grid
derive from exact integer/decimal(38) sufficient statistics with
identical IEEE expression trees; transcendentals only per-row/per-cell,
absorbed by final ≤6 dp rounding.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.loader import load_table
from .exact import money_cents, money_cents_sql

_D38 = "decimal(38,0)"

# --- DBSCAN over the embedding similarity graph ---------------------------------

_DBSCAN_COS = 0.35  # rounded-cosine radius (= cosine distance 0.65)
_DBSCAN_MINPTS = 3  # neighbors (excluding self) required for a core

_PAIR_COS = (
    "round(list_dot_product(CAST(a.embedding AS DOUBLE[]), "
    "CAST(b.embedding AS DOUBLE[])), 6)"
)

SIM_DBSCAN_ORACLE = (
    "WITH RECURSIVE p AS ("
    "  SELECT a.vec_id AS va, b.vec_id AS vb"
    "  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id"
    f"  AND {_PAIR_COS} >= {_DBSCAN_COS}"
    "), e AS MATERIALIZED ("
    "  SELECT va AS u, vb AS v FROM p UNION ALL SELECT vb, va FROM p"
    "), core AS MATERIALIZED ("
    f"  SELECT u FROM e GROUP BY u HAVING count(*) >= {_DBSCAN_MINPTS}"
    "), ce AS MATERIALIZED ("
    "  SELECT e.u, e.v FROM e JOIN core a ON e.u = a.u "
    "  JOIN core b ON e.v = b.u"
    "), reach AS ("
    "  SELECT u, u AS v FROM core"
    "  UNION "
    "  SELECT r.u, c.v FROM reach r JOIN ce c ON r.v = c.u"
    "), lab AS ("
    "  SELECT u, CAST(min(v) AS BIGINT) AS cluster_id FROM reach GROUP BY u"
    "), border AS ("
    "  SELECT e.u, CAST(min(l.cluster_id) AS BIGINT) AS cluster_id"
    "  FROM e JOIN lab l ON e.v = l.u"
    "  WHERE e.u NOT IN (SELECT u FROM core) GROUP BY e.u"
    ") "
    "SELECT u AS vec_id, 'core' AS role, cluster_id FROM lab "
    "UNION ALL SELECT u, 'border', cluster_id FROM border "
    "UNION ALL SELECT vec_id, 'noise', CAST(NULL AS BIGINT) FROM embeddings "
    "WHERE vec_id NOT IN (SELECT u FROM lab) "
    "AND vec_id NOT IN (SELECT u FROM border)"
)


def sim_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN over the embeddings (Ester et al. 1996): ε-neighbors are
    pairs with rounded cosine ≥ 0.35, a CORE point has ≥ 3 neighbors,
    clusters are connected components of the core-core graph (labeled by
    the smallest member id), BORDER points attach to the smallest
    cluster id among their core neighbors, everything else is NOISE —
    density clustering with no k, the standard grouping for semantic
    dedup when the number of duplicate families is unknown (and the
    un-parameterized complement of ``sim_kmeans``).

    Determinism: the ε-graph is decided on 6 dp-rounded cosines (the
    driver-verified grain of the sim_* family); every subsequent step —
    degree threshold, min-label components, min-id border assignment —
    is exact integer arithmetic.

    Scale: the pair search is the exact blocked GEMM
    (``similarity.grid_pair_sims_above`` — per-block numpy matmuls,
    emitted pairs proportional to matches, never an n² crossJoin; at
    100 TB swap in the LSH candidate generator); components run
    large-star/small-star (O(log²) rounds); roles are one degree
    aggregate + semi/anti joins."""
    from .dedup import star_contraction
    from .similarity import grid_pair_sims_above

    e = load_table(spark, sf_dir, "embeddings")
    pairs = grid_pair_sims_above(spark, sf_dir, _DBSCAN_COS).select(
        "vec_id_a", "vec_id_b"
    )
    edges = pairs.select(
        F.col("vec_id_a").alias("u"), F.col("vec_id_b").alias("v")
    ).unionByName(
        pairs.select(F.col("vec_id_b").alias("u"), F.col("vec_id_a").alias("v"))
    )
    core = (
        edges.groupBy("u")
        .agg(F.count("*").alias("d"))
        .where(F.col("d") >= _DBSCAN_MINPTS)
        .select("u")
    )
    ce = edges.join(core, "u", "semi").join(
        core.select(F.col("u").alias("v")), "v", "semi"
    )
    lab_conn = star_contraction(ce).select(
        "u", F.col("label").cast("long").alias("cluster_id")
    )
    lab_iso = core.join(lab_conn, "u", "anti").select(
        "u", F.col("u").cast("long").alias("cluster_id")
    )
    lab = lab_conn.unionByName(lab_iso)
    border = (
        edges.join(core, "u", "anti")
        .join(
            lab.select(F.col("u").alias("v"), "cluster_id"), "v"
        )
        .groupBy("u")
        .agg(F.min("cluster_id").cast("long").alias("cluster_id"))
    )
    cores_out = lab.select(
        F.col("u").alias("vec_id"), F.lit("core").alias("role"), "cluster_id"
    )
    border_out = border.select(
        F.col("u").alias("vec_id"), F.lit("border").alias("role"), "cluster_id"
    )
    assigned = lab.select("u").unionByName(border.select("u"))
    noise_out = (
        e.select("vec_id")
        .join(assigned.select(F.col("u").alias("vec_id")), "vec_id", "anti")
        .select(
            "vec_id",
            F.lit("noise").alias("role"),
            F.lit(None).cast("long").alias("cluster_id"),
        )
    )
    return cores_out.unionByName(border_out).unionByName(noise_out)


# --- Hill estimator of the Pareto tail index ------------------------------------

_HILL_K = 100

STAT_HILL_ORACLE = (
    "WITH t AS ("
    f"  SELECT o_totalprice AS x FROM orders ORDER BY x DESC LIMIT {_HILL_K + 1}"
    "), k AS (SELECT min(x) AS xk FROM t), "
    "n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM orders) "
    "SELECT nn AS n, "
    f"round(sum(ln(x / xk)) / {_HILL_K}.0, 6) AS hill_mean, "
    f"round({_HILL_K}.0 / nullif(sum(ln(x / xk)), 0.0), 6) AS alpha, "
    "round(xk, 2) AS x_k "
    "FROM t CROSS JOIN k CROSS JOIN n "
    f"WHERE nn >= {_HILL_K + 1} GROUP BY nn, xk"
)


def stat_hill_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the Pareto tail index α over the top-100 order
    values: 1/α = mean of ln(x_(i)/x_(k+1)) over the k largest — "how
    heavy-tailed is revenue?" (α ≤ 2 ⇒ infinite variance; α ≤ 1 ⇒
    whales dominate any sample mean). The extreme-value companion of
    ``stat_gumbel`` (block maxima) and ``dq_benford`` (digit law), and
    THE quantity that decides whether per-customer revenue caps or
    winsorization (``agg_winsorized_mean``) are needed at 100 TB.

    The boundary trick keeps it window-free: rows tied with the k+1-st
    value contribute ln(1) = 0, so summing ln(x/x_(k+1)) over the WHOLE
    top-(k+1) set and dividing by k equals the textbook top-k mean — no
    row_number, just TakeOrdered(k+1) + min + one aggregate. Corpora
    with fewer than k+1 orders yield zero rows by guard.

    Scale: TakeOrderedAndProject keeps per-task heaps of 101 rows; the
    ln sum is over 101 values regardless of corpus size."""
    o = load_table(spark, sf_dir, "orders")
    t = o.select(F.col("o_totalprice").alias("x")).orderBy(F.desc("x")).limit(
        _HILL_K + 1
    )
    k = t.agg(F.min("x").alias("xk"))
    n = o.agg(F.count("*").cast("long").alias("nn"))
    s = F.sum(F.log(F.col("x") / F.col("xk")))
    return (
        t.crossJoin(F.broadcast(k))
        .crossJoin(F.broadcast(n))
        .where(F.col("nn") >= _HILL_K + 1)
        .groupBy(F.col("nn").alias("n"), "xk")
        .agg(
            F.round(s / float(_HILL_K), 6).alias("hill_mean"),
            F.round(
                F.lit(float(_HILL_K)) / F.nullif(s, F.lit(0.0)), 6
            ).alias("alpha"),
        )
        .select(
            "n", "hill_mean", "alpha", F.round("xk", 2).alias("x_k")
        )
    )


# --- Gaussian KDE on an integer-cents grid --------------------------------------

_KDE_POINTS = 33


def _kde_h_sql() -> str:
    """Integer-cents Silverman bandwidth from exact sufficient stats —
    the identical expression tree the Spark side evaluates in Python."""
    var = (
        "(CAST(sxx AS DOUBLE) / n - (CAST(sx AS DOUBLE) / n) "
        "* (CAST(sx AS DOUBLE) / n))"
    )
    return (
        f"CAST(greatest(1, floor(1.06 * sqrt({var}) * pow(n, -0.2) + 0.5)) "
        "AS BIGINT)"
    )


STAT_KDE_ORACLE = (
    "WITH c AS ("
    f"  SELECT {money_cents_sql('o_totalprice')} AS cents FROM orders"
    "), s AS ("
    "  SELECT CAST(count(*) AS BIGINT) AS n, min(cents) AS gmin, "
    "  max(cents) AS gmax, CAST(sum(cents) AS HUGEINT) AS sx, "
    "  CAST(sum(CAST(cents AS HUGEINT) * cents) AS HUGEINT) AS sxx FROM c"
    "), hh AS ("
    f"  SELECT n, gmin, gmax, {_kde_h_sql()} AS h FROM s WHERE n > 0"
    "), grid AS ("
    "  SELECT CAST(j AS BIGINT) AS grid_idx, "
    f"  gmin + ((gmax - gmin) * j) // {_KDE_POINTS - 1} AS grid_cents, "
    "  h, n"
    f"  FROM hh CROSS JOIN generate_series(0, {_KDE_POINTS - 1}) t(j)"
    ") SELECT grid_idx, CAST(grid_cents AS BIGINT) AS grid_cents, "
    "round(avg(exp(-0.5 * (CAST(grid_cents - cents AS DOUBLE) / h) "
    "* (CAST(grid_cents - cents AS DOUBLE) / h))), 6) AS phi_mean "
    "FROM grid CROSS JOIN c GROUP BY 1, 2"
)

_KDE_SCHEMA = "grid_idx long, grid_cents long, phi_mean double"


def stat_kde_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaussian kernel density estimate of the order-value distribution,
    evaluated on a 33-point grid spanning [min, max] in integer cents,
    with a Silverman-rule bandwidth h = 1.06·σ·n^(−1/5) — the SMOOTH
    counterpart of ``agg_hist``'s binned histogram (no bin-edge
    artifacts; the shape analysts actually plot). phi_mean is the raw
    kernel mean Σφ((g−x)/h)/n; density = phi_mean/(h·√2π).

    Determinism: the grid and bandwidth derive from EXACT sufficient
    statistics (n, min, max, Σcents, Σcents² in decimal(38)/HUGEINT) via
    identical expression trees — grid points are all-integer floor
    arithmetic, h rounds to integer cents (floored at 1) — so both
    engines evaluate φ at identical integer arguments; the kernel mean's
    summation-order noise is absorbed by the 6 dp rounding.

    Scale: ONE pass for the stats, one broadcast of the 33-row grid
    against the cents stream with map-side combine down to 33 groups —
    the same aggregate shape as a histogram, kernel instead of bucket."""
    o = load_table(spark, sf_dir, "orders")
    c = o.select(money_cents(F.col("o_totalprice")).alias("cents"))
    s = c.agg(
        F.count("*").alias("n"),
        F.min("cents").alias("gmin"),
        F.max("cents").alias("gmax"),
        F.sum(F.col("cents").cast(_D38)).alias("sx"),
        F.sum((F.col("cents").cast(_D38) * F.col("cents"))).alias("sxx"),
    ).collect()[0]
    if not s["n"]:
        return spark.createDataFrame([], _KDE_SCHEMA)
    n, gmin, gmax = s["n"], int(s["gmin"]), int(s["gmax"])
    sx, sxx = int(s["sx"]), int(s["sxx"])
    var = float(sxx) / n - (float(sx) / n) * (float(sx) / n)
    h = max(1, int(math.floor(1.06 * math.sqrt(var) * n ** -0.2 + 0.5)))
    grid = [
        (j, gmin + ((gmax - gmin) * j) // (_KDE_POINTS - 1))
        for j in range(_KDE_POINTS)
    ]
    gdf = spark.createDataFrame(grid, "grid_idx long, grid_cents long")
    t = (F.col("grid_cents") - F.col("cents")).cast("double") / F.lit(float(h))
    return (
        c.crossJoin(F.broadcast(gdf))
        .groupBy("grid_idx", "grid_cents")
        .agg(F.round(F.avg(F.exp(-0.5 * t * t)), 6).alias("phi_mean"))
    )


# --- exact-moments Mahalanobis outlier ranking ----------------------------------

_MAHA_TOPK = 20


def _maha_oracle() -> str:
    m1 = "(CAST(s1 AS DOUBLE) / n)"
    m2 = "(CAST(s2 AS DOUBLE) / n)"
    c11 = f"(CAST(s11 AS DOUBLE) / n - {m1} * {m1})"
    c22 = f"(CAST(s22 AS DOUBLE) / n - {m2} * {m2})"
    c12 = f"(CAST(s12 AS DOUBLE) / n - {m1} * {m2})"
    det = f"({c11} * {c22} - {c12} * {c12})"
    d1 = f"(x1 - {m1})"
    d2 = f"(x2 - {m2})"
    md2 = (
        f"(({d1} * {d1} * {c22} - 2.0 * {d1} * {d2} * {c12} "
        f"+ {d2} * {d2} * {c11}) / {det})"
    )
    return (
        "WITH d AS ("
        "  SELECT l_orderkey, l_linenumber, "
        "  CAST(l_quantity AS BIGINT) AS q, "
        f"  {money_cents_sql('l_extendedprice')} AS pc FROM lineitem"
        "), s AS ("
        "  SELECT CAST(count(*) AS BIGINT) AS n, "
        "  CAST(sum(q) AS HUGEINT) AS s1, CAST(sum(pc) AS HUGEINT) AS s2, "
        "  CAST(sum(CAST(q AS HUGEINT) * q) AS HUGEINT) AS s11, "
        "  CAST(sum(CAST(pc AS HUGEINT) * pc) AS HUGEINT) AS s22, "
        "  CAST(sum(CAST(q AS HUGEINT) * pc) AS HUGEINT) AS s12 FROM d"
        "), x AS ("
        "  SELECT l_orderkey, l_linenumber, CAST(q AS DOUBLE) AS x1, "
        "  CAST(pc AS DOUBLE) AS x2, n, s1, s2, s11, s22, s12"
        "  FROM d CROSS JOIN s"
        f"  WHERE n > 1 AND {det} > 0.0"
        ") SELECT l_orderkey, l_linenumber, CAST(x1 AS BIGINT) AS quantity, "
        "CAST(x2 AS BIGINT) AS price_cents, "
        f"round({md2}, 6) AS md2 "
        f"FROM x ORDER BY {md2} DESC, l_orderkey, l_linenumber "
        f"LIMIT {_MAHA_TOPK}"
    )


DQ_MAHALANOBIS_ORACLE = _maha_oracle()


def dq_mahalanobis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 bivariate outliers of (quantity, extended price in cents)
    by Mahalanobis distance from exact sufficient statistics — the
    multivariate data-quality screen that catches rows UNIVARIATELY
    normal but jointly impossible (tiny quantity × huge price), which
    dq_anomaly_iqr / win_hampel's per-column rules cannot see.

    Determinism: means, covariance, determinant, and every md² derive
    from exact integer/decimal(38) sums through identical IEEE
    expression trees — there is NO transcendental anywhere, so the md²
    doubles are bit-identical cross-engine and the top-20 ranking
    (ties → integer keys) is exact, not merely rounded-stable.
    Degenerate corpora (n ≤ 1 or a constant column ⇒ singular
    covariance, det = 0) yield zero rows by guard.

    Scale: one pass of map-side-combined integer sums (a 6-number
    broadcast state), one scoring scan, TakeOrderedAndProject top-k —
    no shuffle of data rows at all."""
    li = load_table(spark, sf_dir, "lineitem")
    d = li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("long").alias("q"),
        money_cents(F.col("l_extendedprice")).alias("pc"),
    )
    s = d.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("q").cast(_D38)).alias("s1"),
        F.sum(F.col("pc").cast(_D38)).alias("s2"),
        F.sum(F.col("q").cast(_D38) * F.col("q")).alias("s11"),
        F.sum(F.col("pc").cast(_D38) * F.col("pc")).alias("s22"),
        F.sum(F.col("q").cast(_D38) * F.col("pc")).alias("s12"),
    )
    x = d.crossJoin(F.broadcast(s))
    m1 = F.col("s1").cast("double") / F.col("n")
    m2 = F.col("s2").cast("double") / F.col("n")
    c11 = F.col("s11").cast("double") / F.col("n") - m1 * m1
    c22 = F.col("s22").cast("double") / F.col("n") - m2 * m2
    c12 = F.col("s12").cast("double") / F.col("n") - m1 * m2
    det = c11 * c22 - c12 * c12
    d1 = F.col("q").cast("double") - m1
    d2 = F.col("pc").cast("double") - m2
    md2 = (d1 * d1 * c22 - 2.0 * d1 * d2 * c12 + d2 * d2 * c11) / det
    return (
        x.where((F.col("n") > 1) & (det > 0.0))
        .select(
            "l_orderkey",
            "l_linenumber",
            F.col("q").alias("quantity"),
            F.col("pc").alias("price_cents"),
            md2.alias("_md2_raw"),
            F.round(md2, 6).alias("md2"),
        )
        .orderBy(F.desc("_md2_raw"), F.asc("l_orderkey"), F.asc("l_linenumber"))
        .limit(_MAHA_TOPK)
        .drop("_md2_raw")
    )


# --- zlib compression-ratio quality signal (rows-only: no SQL zlib) -------------


def text_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document zlib(level 6) compression ratio — the classic
    repetitiveness/quality signal from the Gopher and RefinedWeb
    curation stacks: boilerplate and template spam compress far below
    natural prose, while encrypted/binary junk barely compresses at
    all, so both corpus-poisoning tails sit at the ratio extremes and a
    simple band filter removes them. Complements the registered
    ``text_repetition`` (explicit n-gram fractions) with the
    information-theoretic catch-all.

    The zlib pass is a vectorized Arrow-batched pandas UDF (one
    ``compress`` per document, level fixed at 6 — zlib output is
    deterministic for a fixed level, pinned byte-for-byte against
    stdlib zlib in the tests). Genuinely NON-SQL-expressible: DuckDB
    exposes no zlib surface, so this is the wave's single rows-only
    key — the §2-designated weaker driver check applies by design.

    Scale: embarrassingly parallel, zero shuffle; compression cost is
    linear in corpus bytes (the same pass a production pipeline already
    pays for storage)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def comp_len(texts: pd.Series) -> pd.Series:
        import zlib

        return texts.map(lambda t: len(zlib.compress(t.encode("utf-8"), 6)))

    d = load_table(spark, sf_dir, "documents")
    raw = F.octet_length("text")
    return d.select(
        "doc_id",
        raw.cast("long").alias("raw_bytes"),
        comp_len(F.col("text")).alias("comp_bytes"),
    ).withColumn(
        "ratio",
        F.round(
            F.try_divide(F.col("comp_bytes").cast("double"), F.col("raw_bytes")),
            6,
        ),
    )


DEV_CASES = [
    ("sim_dbscan", sim_dbscan, SIM_DBSCAN_ORACLE),
    ("stat_hill_tail", stat_hill_tail, STAT_HILL_ORACLE),
    ("stat_kde_grid", stat_kde_grid, STAT_KDE_ORACLE),
    ("dq_mahalanobis", dq_mahalanobis, DQ_MAHALANOBIS_ORACLE),
    ("text_compression_ratio", text_compression_ratio, None),
]
