"""Fixed-width-ingestion / dispersion / tie-strength wave. Like every
``staged_r*`` module with ``DEV_CASES``, it registers itself on import: the
package root registers each ``(key, fn, oracle)`` entry.
tests/test_oracle_parity.py runs the fn-vs-DuckDB compare;
tests/test_staged_r33.py holds the independent property checks.

Contents:

- ``scan_fixed_width`` — fixed-width (mainframe/COBOL copybook style)
  text ingestion: positional substring parsing of staged records into
  typed columns, then a grouped aggregate — the legacy-feed reader
  every enterprise lake still needs beside CSV/JSONL/parquet/binary.
- ``stat_dispersion`` — the Poisson dispersion (variance-to-mean) test
  on daily event counts, with the overdispersion VERDICT decided by an
  exact INTEGER cross-multiplication — "are arrivals Poisson, or
  bursty?", the screen that decides whether rate CIs can use √n.
- ``fn_digest`` — the checksum surface: md5 and sha-256 content digests
  plus byte length per document — the content-addressing primitive
  under dedup_exact/dedup_canonical, surfaced as its own verified
  function row.
- ``graph_edge_embeddedness`` — per-edge neighborhood overlap (Jaccard
  of the endpoints' neighbor sets) over the verified near-dup graph —
  Granovetter tie strength: embeddedness 0 flags BRIDGES (the
  borderline pairs that chain unrelated duplicate families; exactly
  what dedup_cluster should not merge across), high embeddedness flags
  dense template families.
- ``event_peaks`` — local-maximum detection with prominence over the
  daily volume series (a peak beats both neighbors; prominence = margin
  over the taller neighbor) — the "which days spiked?" primitive under
  event_changepoint's level shifts.

Exactness doctrine: unchanged — fixed-width parses, dispersion
statistics, digests, embeddedness counts and peak flags are exact
integers/strings; the only doubles are display ratios.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..pins import persisting, pin
from ..sources.loader import load_table, ts_day
from .exact import floor_day_us_sql

_D38 = "decimal(38,0)"

# --- fixed-width ingestion ---------------------------------------------------------------

_FW_MAX_ROWS = 200
_FW_CODES = ["ALP", "BET", "GAM"]

SCAN_FIXED_WIDTH_ORACLE = (
    "WITH n AS (SELECT least(CAST("
    f"{_FW_MAX_ROWS} AS BIGINT), count(*)) AS k FROM orders), "
    "g AS (SELECT unnest(range(0, k)) AS i FROM n), "
    "r AS ("
    "  SELECT CASE i % 3 WHEN 0 THEN 'ALP' WHEN 1 THEN 'BET' "
    "  ELSE 'GAM' END AS code, (i * 997) % 100000 AS amt FROM g"
    ") SELECT code, CAST(count(*) AS BIGINT) AS n_recs, "
    "CAST(sum(amt) AS BIGINT) AS total_cents, "
    "CAST(max(amt) AS BIGINT) AS max_cents "
    "FROM r GROUP BY code"
)


def scan_fixed_width(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width record ingestion — the COBOL-copybook feed format
    enterprise lakes still receive: each staged line is
    ``id(6) code(3) amount(8)`` with zero padding and NO delimiters;
    the reader is ``spark.read.text`` plus POSITIONAL substring parsing
    into typed columns (the copybook as code), then a per-code
    aggregate. Completes the ingestion matrix beside CSV (delimited),
    JSONL (self-describing), parquet (columnar) and binaryFile (opaque).

    The fixture derives from the orders row count (id, code and amount
    all arithmetic in the line index), so the ORACLE recomputes the
    aggregate from arithmetic alone and any staging/offset drift —
    off-by-one column positions are THE classic fixed-width bug —
    fails the hash.

    Scale: text scans split by line ranges; parsing is per-row
    substring projection (JVM, no UDF); one map-side-combined
    aggregate."""
    import hashlib
    import os
    import tempfile

    k = min(_FW_MAX_ROWS, load_table(spark, sf_dir, "orders").count())
    stage = os.path.join(
        tempfile.gettempdir(),
        f"pmrwc_fw_{os.getuid()}_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}",
    )
    os.makedirs(stage, exist_ok=True)
    for stale in os.listdir(stage):
        os.unlink(os.path.join(stage, stale))
    with open(f"{stage}/feed.txt", "w") as f:
        for i in range(k):  # ≤ 200 bounded fixture rows — staging only
            f.write(f"{i:06d}{_FW_CODES[i % 3]}{(i * 997) % 100000:08d}\n")
    if k == 0:
        return spark.createDataFrame(
            [], "code string, n_recs long, total_cents long, max_cents long"
        )
    lines = spark.read.text(f"{stage}/*.txt")
    rec = lines.select(
        F.substring("value", 1, 6).cast("long").alias("rec_id"),
        F.substring("value", 7, 3).alias("code"),
        F.substring("value", 10, 8).cast("long").alias("amt"),
    )
    return rec.groupBy("code").agg(
        F.count("*").cast("long").alias("n_recs"),
        F.sum("amt").cast("long").alias("total_cents"),
        F.max("amt").cast("long").alias("max_cents"),
    )


# --- Poisson dispersion test ----------------------------------------------------------------

STAT_DISPERSION_ORACLE = (
    "WITH g AS ("
    f"  SELECT {floor_day_us_sql()} AS day, CAST(count(*) AS BIGINT) AS c "
    "  FROM events GROUP BY 1"
    "), s AS ("
    "  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS HUGEINT) AS sx, "
    "  CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS sxx FROM g"
    ") SELECT n, round(CAST(sx AS DOUBLE) / n, 6) AS mean_per_day, "
    "round(CAST(n * sxx - sx * sx AS DOUBLE) / ((n - 1.0) * sx), 6) "
    "AS dispersion, "
    "round(CAST(n * sxx - sx * sx AS DOUBLE) / (CAST(n AS DOUBLE) * sx) "
    "* n, 4) AS chi2, "
    "n * sxx - sx * sx > (n - 1) * sx AS overdispersed "
    "FROM s WHERE n > 1 AND sx > 0"
)


def stat_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Poisson dispersion (variance-to-mean / index-of-dispersion)
    test on daily event counts: D = s²/x̄ with the conditional chi-square
    Σ(x−x̄)²/x̄ ~ χ²(n−1) under Poisson arrivals — the burstiness screen
    that decides whether per-day rate confidence intervals may assume
    var = mean (D ≈ 1), or the process is clumped (D > 1, e.g. campaign
    bursts) or regularized (D < 1, e.g. rate-limited feeds). The
    OVERDISPERSED verdict is an exact INTEGER cross-multiplication
    (n·Σx² − S² > (n−1)·S) — no float knife-edge.

    Determinism: all sufficient statistics exact HUGEINT/decimal(38);
    the two ratios are single double expressions over them.

    Scale: one day-grain aggregate absorbs the events; 1-row reduce."""
    g = (
        load_table(spark, sf_dir, "events")
        .groupBy(ts_day("ts").alias("day"))
        .agg(F.count("*").cast("long").alias("c"))
    )
    s = g.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("c").cast(_D38)).alias("sx"),
        F.sum(F.col("c").cast(_D38) * F.col("c")).alias("sxx"),
    )
    varnum = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return s.where((F.col("n") > 1) & (F.col("sx") > 0)).select(
        "n",
        F.round(F.col("sx").cast("double") / F.col("n"), 6).alias(
            "mean_per_day"
        ),
        F.round(
            varnum.cast("double") / ((F.col("n") - 1.0) * F.col("sx")), 6
        ).alias("dispersion"),
        F.round(
            varnum.cast("double")
            / (F.col("n").cast("double") * F.col("sx"))
            * F.col("n"),
            4,
        ).alias("chi2"),
        (varnum > (F.col("n") - 1) * F.col("sx")).alias("overdispersed"),
    )


# --- content digests ---------------------------------------------------------------------------

FN_DIGEST_ORACLE = (
    "SELECT doc_id, md5(text) AS md5_hex, sha256(text) AS sha256_hex, "
    "CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes "
    "FROM documents"
)


def fn_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The checksum surface: md5 and SHA-256 hex digests plus exact byte
    length per document — the content-addressing primitive that backs
    ``dedup_exact``/``dedup_canonical`` and every blob store's object
    key, surfaced as its own driver-verified row so the cross-engine
    digest agreement (UTF-8 byte-level, not codepoint-level) is itself
    certified by the hash gate.

    Determinism: cryptographic digests are bit-exact by definition once
    both engines hash the same bytes — Spark hashes the UTF-8 encoding
    of the string (cast to binary), DuckDB's md5/sha256 of VARCHAR do
    the same.

    Scale: embarrassingly parallel per-row projection, zero shuffle."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5(F.col("text").cast("binary")).alias("md5_hex"),
        F.sha2(F.col("text").cast("binary"), 256).alias("sha256_hex"),
        F.octet_length("text").cast("long").alias("n_bytes"),
    )


# --- edge embeddedness (tie strength) -------------------------------------------------------------


def _embeddedness_oracle() -> str:
    from .dedup import SHINGLES_CTE, oracle_jaccard_pairs_select

    return (
        f"{SHINGLES_CTE}, "
        f"p AS ({oracle_jaccard_pairs_select(0.3)}"
        "), e0 AS MATERIALIZED ("
        "  SELECT da AS u, db AS v FROM p UNION ALL SELECT db, da FROM p"
        "), deg AS MATERIALIZED ("
        "  SELECT u AS node, CAST(count(*) AS BIGINT) AS d FROM e0 GROUP BY u"
        "), com AS ("
        "  SELECT p.da, p.db, CAST(count(*) AS BIGINT) AS common "
        "  FROM p JOIN e0 a ON a.u = p.da JOIN e0 b ON b.u = p.db "
        "  AND a.v = b.v WHERE a.v <> p.da AND a.v <> p.db "
        "  GROUP BY p.da, p.db"
        ") SELECT p.da AS doc_id_a, p.db AS doc_id_b, "
        "coalesce(com.common, 0) AS n_common, "
        "du.d + dv.d - 2 - coalesce(com.common, 0) AS n_union, "
        "round(coalesce(com.common, 0) / (1.0 * nullif(du.d + dv.d - 2 "
        "- coalesce(com.common, 0), 0)), 6) AS embeddedness, "
        "coalesce(com.common, 0) = 0 AS is_bridge "
        "FROM p JOIN deg du ON p.da = du.node JOIN deg dv ON p.db = dv.node "
        "LEFT JOIN com ON p.da = com.da AND p.db = com.db"
    )


GRAPH_EDGE_EMBEDDEDNESS_ORACLE = _embeddedness_oracle()


def graph_edge_embeddedness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-edge EMBEDDEDNESS (Granovetter tie strength) over the verified
    near-dup graph: for each edge (u,v), the Jaccard overlap of the
    endpoints' other neighbors — common/(d_u + d_v − 2 − common).
    Embeddedness 0 marks a BRIDGE: a borderline pair that is the ONLY
    connection between two otherwise-separate duplicate families —
    exactly the edge ``dedup_cluster``'s connected components should be
    audited for before keep-one-per-component deletes a family's sole
    survivor. High embeddedness marks dense template farms where any
    representative is safe.

    Determinism: common-neighbor and degree counts are exact integers;
    the is_bridge flag is an integer comparison; embeddedness one
    division (NULL when the endpoints have no other neighbors —
    a 2-clique component — via nullif on both engines).

    Scale: the pair set persists once (graph_modularity precedent,
    released on exit); common-neighbor counting is the
    edge⋈edge join keyed on the shared endpoint — Σ_v d_v² work, the
    standard triangle-counting bound, never all-pairs."""
    from .dedup import dedup_fuzzy_minhash

    with persisting() as keep:
        p = keep(dedup_fuzzy_minhash(spark, sf_dir).select("doc_id_a", "doc_id_b"))
        p.count()
        e0 = p.select(
            F.col("doc_id_a").alias("u"), F.col("doc_id_b").alias("v")
        ).unionByName(
            p.select(F.col("doc_id_b").alias("u"), F.col("doc_id_a").alias("v"))
        )
        deg = e0.groupBy(F.col("u").alias("node")).agg(
            F.count("*").cast("long").alias("d")
        )
        pr = p.select(
            F.col("doc_id_a").alias("da"), F.col("doc_id_b").alias("db")
        )
        a = e0.select(F.col("u").alias("da"), F.col("v").alias("w"))
        b = e0.select(F.col("u").alias("db2"), F.col("v").alias("w2"))
        com = (
            pr.join(a, "da")
            .join(
                b,
                (F.col("db") == F.col("db2")) & (F.col("w") == F.col("w2")),
            )
            .where((F.col("w") != F.col("da")) & (F.col("w") != F.col("db")))
            .groupBy("da", "db")
            .agg(F.count("*").cast("long").alias("common"))
        )
        out = (
            p.join(deg.select(F.col("node").alias("doc_id_a"), F.col("d").alias("du")), "doc_id_a")
            .join(deg.select(F.col("node").alias("doc_id_b"), F.col("d").alias("dv")), "doc_id_b")
            .join(
                com.select(
                    F.col("da").alias("doc_id_a"),
                    F.col("db").alias("doc_id_b"),
                    "common",
                ),
                ["doc_id_a", "doc_id_b"],
                "left",
            )
        )
        cc = F.coalesce("common", F.lit(0))
        nu = F.col("du") + F.col("dv") - 2 - cc
        res = out.select(
            "doc_id_a",
            "doc_id_b",
            cc.alias("n_common"),
            nu.cast("long").alias("n_union"),
            F.round(cc / (1.0 * F.nullif(nu, F.lit(0))), 6).alias(
                "embeddedness"
            ),
            (cc == 0).alias("is_bridge"),
        )
        return pin(res)


# --- peak detection -----------------------------------------------------------------------------

EVENT_PEAKS_ORACLE = (
    "WITH g AS ("
    f"  SELECT {floor_day_us_sql()} AS day, CAST(count(*) AS BIGINT) AS cnt "
    "  FROM events GROUP BY 1"
    "), l AS ("
    "  SELECT day, cnt, lag(cnt) OVER (ORDER BY day) AS prev, "
    "  lead(cnt) OVER (ORDER BY day) AS nxt, "
    "  lag(day) OVER (ORDER BY day) AS pd, "
    "  lead(day) OVER (ORDER BY day) AS nd FROM g"
    ") SELECT day, cnt, "
    "cnt > prev AND cnt > nxt AS is_peak, "
    "CAST(cnt - greatest(prev, nxt) AS BIGINT) AS prominence "
    "FROM l WHERE prev IS NOT NULL AND nxt IS NOT NULL "
    "AND pd = day - 1 AND nd = day + 1"
)


def event_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-maximum detection over the daily volume series: an interior
    day is a PEAK when it strictly beats both calendar neighbors
    (gap-guarded — a lag across a missing day never fakes adjacency),
    with prominence = margin over the taller neighbor (negative for
    non-peaks: the depth below the local envelope) — the "which days
    spiked?" primitive under event_changepoint's sustained level shifts
    and event_anomaly_seasonal's weekday-adjusted outliers: a one-day
    launch spike is a peak, not a changepoint.

    Determinism: pure integer counts and comparisons.

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
        F.lag("cnt").over(w).alias("prev"),
        F.lead("cnt").over(w).alias("nxt"),
        F.lag("day").over(w).alias("pd"),
        F.lead("day").over(w).alias("nd"),
    )
    return l.where(
        F.col("prev").isNotNull()
        & F.col("nxt").isNotNull()
        & (F.col("pd") == F.col("day") - 1)
        & (F.col("nd") == F.col("day") + 1)
    ).select(
        "day",
        "cnt",
        ((F.col("cnt") > F.col("prev")) & (F.col("cnt") > F.col("nxt"))).alias(
            "is_peak"
        ),
        (F.col("cnt") - F.greatest("prev", "nxt")).cast("long").alias(
            "prominence"
        ),
    )


DEV_CASES = [
    ("scan_fixed_width", scan_fixed_width, SCAN_FIXED_WIDTH_ORACLE),
    ("stat_dispersion", stat_dispersion, STAT_DISPERSION_ORACLE),
    ("fn_digest", fn_digest, FN_DIGEST_ORACLE),
    (
        "graph_edge_embeddedness",
        graph_edge_embeddedness,
        GRAPH_EDGE_EMBEDDEDNESS_ORACLE,
    ),
    ("event_peaks", event_peaks, EVENT_PEAKS_ORACLE),
]
