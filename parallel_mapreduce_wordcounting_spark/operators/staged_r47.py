"""Privacy-release / storage-layout / rank-test / lexical-diversity wave. Like
every ``staged_r*`` module with ``DEV_CASES``, it registers itself on
import: the package root registers each ``(key, fn, oracle)`` entry.
tests/test_oracle_parity.py runs the fn-vs-DuckDB compare;
tests/test_staged_r47.py holds the independent property checks.

Contents:

- ``pipeline_dp_histogram`` — differentially-private per-source document
  counts via the GEOMETRIC MECHANISM (Ghosh–Roughgarden–Sundararajan
  2009, the discrete Laplace): two-sided geometric noise with α = 1/2
  (ε = ln 2 per count), drawn DETERMINISTICALLY by inverse-CDF lookup
  on a 16-bit md5-derived uniform per source key. The CDF thresholds
  are precomputed EXACT integers out of 2¹⁶ (module constants, mirrored
  literally in the oracle), so noise is pure integer comparison on both
  engines — no transcendental, no float. true_n is emitted alongside
  dp_n because this is the mechanism's CERTIFICATION census (in a real
  release only dp_n crosses the privacy boundary; the oracle needs the
  pair to certify noise = dp_n − true_n came from the right
  distribution). Tail mass beyond |k| = 8 clamps into the extreme bins.
- ``layout_prune_sim`` — the zone-map file-skipping planner's census:
  assign lineitem rows to synthetic files two ways (ingest order =
  l_orderkey // 128, and shipdate-sorted equal-size files), compute
  per-file min/max of ship-day, and count which files a 30-day band
  predicate could skip plus the read amplification (rows scanned /
  rows matched). THE quantitative argument for sort/Z-order layout at
  100 TB: the fixture shows ingest order scans EVERY file (~92× read
  amplification at sf0.001) while the sorted layout scans 1 of 12.
  The Spark side derives the sorted layout ANALYTICALLY from two rank
  counts (rows below lo / through hi) — no global-sort window, no
  single-partition row_number; the oracle materializes the same layout
  with an explicit row_number to certify the closed form.
- ``stat_friedman`` — the Friedman repeated-measures rank test over the
  (day × event_type) daily-count matrix: within each day-block the k
  treatments are ranked (integer doubled midranks — the stat_spearman
  idiom — so Σ R²ⱼ is exact), Q = 3·(ΣR2ⱼ² − n²k(k+1)²)/(n·k·(k+1))
  with one double division, 6 dp. The nonparametric k-sample sibling
  of stat_kruskal_wallis for BLOCKED designs (same days, k metrics);
  zero-filled grid because an absent (day, type) cell is a true zero
  count, not missing data. Midrank Q is uncorrected for ties
  (documented; the tie-corrected variant divides by 1−ΣT/(nk(k²−1))).
- ``text_mattr`` — Moving-Average Type-Token Ratio (Covington & McFall
  2010), the document-length-invariant lexical-diversity measure: the
  mean distinct-token count over every sliding window of W = 20 tokens,
  divided by W. Computed WITHOUT per-window work via the
  previous-occurrence closed form: token instance i with previous
  occurrence p is distinct in windows s ∈ [max(0, i−W+1, p+1),
  min(i, n−W)], so its contribution is one greatest/least expression
  and the whole measure is Σ contributions — one lag window per
  (doc, token) chain, one per-doc sum, exact integers until the final
  division. O(tokens) at any corpus size where the naive form is
  O(tokens × W).

Exactness doctrine: DP noise, zone-map censuses, Friedman rank sums and
MATTR numerators are exact integers end-to-end; q_stat / skip_frac /
read_amplification / mattr each spend one division on exact integers
and round to 6 dp; epsilon is the LITERAL 0.693147 on both engines
(never a computed ln 2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..pins import persisting, pin
from ..sources.loader import load_table, ts_day

_D38 = "decimal(38,0)"

# --- differentially-private histogram via the geometric mechanism -------------------

# Inverse-CDF thresholds for two-sided geometric noise, α = 1/2, out of
# 2¹⁶: noise = the smallest k with u < threshold(k). CDF(−m) = 1/(3·2^(m−1)),
# CDF(m) = 1 − 1/(3·2^m), floored to integers; the |k| = 8 tails clamp.
_DP_NOISE_THRESHOLDS = (
    (-8, 170), (-7, 341), (-6, 682), (-5, 1365), (-4, 2730), (-3, 5461),
    (-2, 10922), (-1, 21845), (0, 43690), (1, 54613), (2, 60074),
    (3, 62805), (4, 64170), (5, 64853), (6, 65194), (7, 65365), (8, 65536),
)
_DP_EPSILON = 0.693147  # ln 2 as a LITERAL — never computed at runtime

_ORACLE_SRC_H60 = (
    "list_sum(list_transform(range(0, 15), i -> "
    "CAST(strpos('0123456789abcdef', substr(md5(w), 15 - CAST(i AS INT), 1)) - 1 "
    "AS BIGINT) << CAST(4 * i AS INT)))"
)

_DP_NOISE_CASE_SQL = (
    "CASE "
    + " ".join(f"WHEN u < {t} THEN {k}" for k, t in _DP_NOISE_THRESHOLDS)
    + " END"
)

PIPELINE_DP_HISTOGRAM_ORACLE = (
    "WITH c AS ("
    "  SELECT source, CAST(count(*) AS BIGINT) AS true_n FROM documents"
    "  GROUP BY source"
    "), u AS ("
    f"  SELECT source, true_n, CAST({_ORACLE_SRC_H60} AS BIGINT) & 65535 AS u"
    "  FROM (SELECT source, true_n, source AS w FROM c)"
    f") SELECT source, true_n, CAST({_DP_NOISE_CASE_SQL} AS BIGINT) AS noise, "
    f"true_n + CAST({_DP_NOISE_CASE_SQL} AS BIGINT) AS dp_n, "
    f"CAST({_DP_EPSILON} AS DOUBLE) AS epsilon FROM u"
)


def pipeline_dp_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See module docstring. One map-side-combined groupBy(source) —
    the only data-volume pass; noise assignment is a per-group constant
    expression chain (17 integer compares), so at 100 TB the cost is
    the counting aggregate and nothing else. Deterministic noise keyed
    on the GROUP VALUE makes the release idempotent across reruns —
    re-releasing never spends extra privacy budget on fresh draws
    (and lets the oracle certify the mechanism end-to-end)."""
    c = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("true_n"))
    )
    u = F.conv(
        F.substring(F.md5(F.col("source").cast("binary")), 1, 15), 16, 10
    ).cast("long").bitwiseAND(F.lit(65535))
    noise = F.lit(None).cast("long")
    # build the inverse-CDF chain from the top so earlier thresholds win
    for k, t in reversed(_DP_NOISE_THRESHOLDS):
        noise = F.when(F.col("u") < t, F.lit(k).cast("long")).otherwise(noise)
    return (
        c.withColumn("u", u)
        .withColumn("noise", noise)
        .select(
            "source",
            "true_n",
            "noise",
            (F.col("true_n") + F.col("noise")).alias("dp_n"),
            F.lit(_DP_EPSILON).cast("double").alias("epsilon"),
        )
    )


# --- zone-map file-skipping simulator -------------------------------------------------

_PRUNE_ORDERS_PER_FILE = 128
_PRUNE_BAND_LO_DAYS = 300  # band start, days after the global min ship-day
_PRUNE_BAND_DAYS = 30

LAYOUT_PRUNE_SIM_ORACLE = (
    "WITH li AS ("
    "  SELECT l_orderkey, l_linenumber, "
    "  CAST(epoch_ns(l_shipdate) // 1000 // 86400000000 AS BIGINT) AS d"
    "  FROM lineitem"
    "), bounds AS (SELECT min(d) AS d0 FROM li), "
    f"pred AS (SELECT d0 + {_PRUNE_BAND_LO_DAYS} AS lo, "
    f"  d0 + {_PRUNE_BAND_LO_DAYS + _PRUNE_BAND_DAYS} AS hi FROM bounds), "
    "natf AS ("
    f"  SELECT l_orderkey // {_PRUNE_ORDERS_PER_FILE} AS f, min(d) AS mn, "
    "  max(d) AS mx, CAST(count(*) AS BIGINT) AS nr FROM li GROUP BY 1"
    "), tot AS ("
    "  SELECT CAST(count(*) AS BIGINT) AS n_rows, "
    "  CAST(sum(CASE WHEN d BETWEEN (SELECT lo FROM pred) "
    "    AND (SELECT hi FROM pred) THEN 1 ELSE 0 END) AS BIGINT) AS n_match"
    "  FROM li"
    "), natstats AS ("
    "  SELECT 'ingest_order' AS layout, CAST(count(*) AS BIGINT) AS n_files, "
    "  CAST(sum(CASE WHEN mx >= (SELECT lo FROM pred) "
    "    AND mn <= (SELECT hi FROM pred) THEN 1 ELSE 0 END) AS BIGINT)"
    "    AS files_scanned, "
    "  CAST(sum(CASE WHEN mx >= (SELECT lo FROM pred) "
    "    AND mn <= (SELECT hi FROM pred) THEN nr ELSE 0 END) AS BIGINT)"
    "    AS rows_scanned FROM natf"
    "), srt AS ("
    "  SELECT d, row_number() OVER (ORDER BY d, l_orderkey, l_linenumber) - 1"
    "  AS rn FROM li"
    "), rpf AS ("
    "  SELECT ((SELECT n_rows FROM tot) + (SELECT count(*) FROM natf) - 1)"
    "  // (SELECT count(*) FROM natf) AS m"
    "), srtf AS ("
    "  SELECT rn // (SELECT m FROM rpf) AS f, min(d) AS mn, max(d) AS mx, "
    "  CAST(count(*) AS BIGINT) AS nr FROM srt GROUP BY 1"
    "), srtstats AS ("
    # any-match short-circuit mirrors the Spark closed form: when the band
    # is empty (n_match = 0) a sorted layout scans NOTHING — the
    # materialized zone map alone would still charge the one file whose
    # [mn, mx] straddles the band across a value gap (r10 ADVICE)
    "  SELECT 'shipdate_sorted' AS layout, CAST(count(*) AS BIGINT) AS n_files, "
    "  CAST(CASE WHEN (SELECT n_match FROM tot) = 0 THEN 0 ELSE "
    "  sum(CASE WHEN mx >= (SELECT lo FROM pred) "
    "    AND mn <= (SELECT hi FROM pred) THEN 1 ELSE 0 END) END AS BIGINT)"
    "    AS files_scanned, "
    "  CAST(CASE WHEN (SELECT n_match FROM tot) = 0 THEN 0 ELSE "
    "  sum(CASE WHEN mx >= (SELECT lo FROM pred) "
    "    AND mn <= (SELECT hi FROM pred) THEN nr ELSE 0 END) END AS BIGINT)"
    "    AS rows_scanned FROM srtf"
    ") SELECT layout, n_files, files_scanned, rows_scanned, "
    "(SELECT n_match FROM tot) AS rows_matched, "
    "round(1.0 - CAST(files_scanned AS DOUBLE) / n_files, 6) AS skip_frac, "
    "round(CAST(rows_scanned AS DOUBLE) "
    "  / NULLIF((SELECT n_match FROM tot), 0), 6)"
    "  AS read_amplification "
    "FROM (SELECT * FROM natstats UNION ALL SELECT * FROM srtstats)"
)


def layout_prune_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See module docstring. The ingest-order half is one groupBy(file)
    zone-map aggregate. The sorted-layout half NEVER sorts: with files
    of m rows cut from the d-ordered sequence, a band [lo, hi] touches
    exactly files floor(R_lo/m) … floor((R_hi−1)/m) where R_lo = #rows
    with d < lo and R_hi = #rows with d ≤ hi — two counts from the same
    single scan, then integer arithmetic on a 1-row frame (the oracle
    certifies the closed form against a materialized row_number
    layout). rows_scanned for the sorted case = the scanned files' full
    extent, min(n, (f_last+1)·m) − f_first·m."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", ts_day("l_shipdate").alias("d")
    )
    with persisting() as keep:
        keep(li)
        b = li.agg(
            F.min("d").alias("d0"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
        )
        w = li.crossJoin(F.broadcast(b)).select(
            "l_orderkey",
            "d",
            "n_rows",
            (F.col("d0") + _PRUNE_BAND_LO_DAYS).alias("lo"),
            (F.col("d0") + _PRUNE_BAND_LO_DAYS + _PRUNE_BAND_DAYS).alias("hi"),
        )
        natf = (
            w.groupBy(
                (F.col("l_orderkey") / _PRUNE_ORDERS_PER_FILE)
                .cast("long")
                .alias("f")
            )
            .agg(
                F.min("d").alias("mn"),
                F.max("d").alias("mx"),
                F.count(F.lit(1)).cast("long").alias("nr"),
                F.first("lo").alias("lo"),
                F.first("hi").alias("hi"),
            )
        )
        hit = (F.col("mx") >= F.col("lo")) & (F.col("mn") <= F.col("hi"))
        nat = natf.agg(
            F.count(F.lit(1)).cast("long").alias("n_files"),
            F.sum(F.when(hit, 1).otherwise(0)).cast("long").alias(
                "files_scanned"
            ),
            F.sum(F.when(hit, F.col("nr")).otherwise(0)).cast("long").alias(
                "rows_scanned"
            ),
        )
        counts = w.agg(
            F.first("n_rows").alias("n_rows"),
            F.sum(F.when(F.col("d") < F.col("lo"), 1).otherwise(0))
            .cast("long")
            .alias("r_lo"),
            F.sum(F.when(F.col("d") <= F.col("hi"), 1).otherwise(0))
            .cast("long")
            .alias("r_hi"),
            F.sum(
                F.when(
                    (F.col("d") >= F.col("lo")) & (F.col("d") <= F.col("hi")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_match"),
        )
        one = (
            nat.select(
                F.col("n_files").alias("nf"),
                F.col("files_scanned").alias("nat_fs"),
                F.col("rows_scanned").alias("nat_rs"),
            )
            .crossJoin(F.broadcast(counts))
        )
        m = F.floor((F.col("n_rows") + F.col("nf") - 1) / F.col("nf")).cast(
            "long"
        )
        f_first = F.floor(F.col("r_lo") / m).cast("long")
        f_last = F.floor((F.col("r_hi") - 1) / m).cast("long")
        any_match = F.col("r_hi") > F.col("r_lo")
        srt_files = F.when(any_match, f_last - f_first + 1).otherwise(
            F.lit(0)
        ).cast("long")
        srt_rows = F.when(
            any_match,
            F.least(F.col("n_rows"), (f_last + 1) * m) - f_first * m,
        ).otherwise(F.lit(0)).cast("long")
        srt_nf = F.floor((F.col("n_rows") + m - 1) / m).cast("long")
        both = one.select(
            F.col("n_match"),
            F.struct(
                F.lit("ingest_order").alias("layout"),
                F.col("nf").alias("n_files"),
                F.col("nat_fs").alias("files_scanned"),
                F.col("nat_rs").alias("rows_scanned"),
            ).alias("a"),
            F.struct(
                F.lit("shipdate_sorted").alias("layout"),
                srt_nf.alias("n_files"),
                srt_files.alias("files_scanned"),
                srt_rows.alias("rows_scanned"),
            ).alias("b"),
        )
        out = (
            both.select("n_match", F.explode(F.array("a", "b")).alias("s"))
            .select(
                F.col("s.layout").alias("layout"),
                F.col("s.n_files").alias("n_files"),
                F.col("s.files_scanned").alias("files_scanned"),
                F.col("s.rows_scanned").alias("rows_scanned"),
                F.col("n_match").alias("rows_matched"),
                F.round(
                    1.0
                    - F.col("s.files_scanned").cast("double")
                    / F.col("s.n_files"),
                    6,
                ).alias("skip_frac"),
                # try_divide: NULL (not an ANSI abort) when the band is
                # empty, matching the oracle's NULLIF(n_match, 0)
                F.round(
                    F.try_divide(
                        F.col("s.rows_scanned").cast("double"), F.col("n_match")
                    ),
                    6,
                ).alias("read_amplification"),
            )
        )
        return pin(out)


# --- Friedman repeated-measures rank test --------------------------------------------

_FRIEDMAN_CHI2_CUTOFF = 9.488  # chi², df = 4, p = 0.05 — literal, not computed

STAT_FRIEDMAN_ORACLE = (
    "WITH grid AS ("
    "  SELECT d.day, t.event_type, coalesce(c.cnt, 0) AS v"
    "  FROM (SELECT DISTINCT epoch_ns(ts) // 1000 // 86400000000 AS day"
    "        FROM events) d"
    "  CROSS JOIN (SELECT DISTINCT event_type FROM events) t"
    "  LEFT JOIN (SELECT epoch_ns(ts) // 1000 // 86400000000 AS day, "
    "    event_type, CAST(count(*) AS BIGINT) AS cnt FROM events"
    "    GROUP BY 1, 2) c"
    "  ON c.day = d.day AND c.event_type = t.event_type"
    "), rk AS ("
    "  SELECT day, event_type, "
    "  CAST(2 * rank() OVER (PARTITION BY day ORDER BY v)"
    "     + count(*) OVER (PARTITION BY day, v) - 1 AS HUGEINT) AS r2"
    "  FROM grid"
    "), rj AS ("
    "  SELECT event_type, sum(r2) AS r2j, CAST(count(*) AS HUGEINT) AS n"
    "  FROM rk GROUP BY event_type"
    "), agg AS ("
    "  SELECT CAST(max(n) AS HUGEINT) AS n, CAST(count(*) AS HUGEINT) AS k, "
    "  sum(r2j * r2j) AS s2 FROM rj"
    ") SELECT CAST(n AS INT) AS n_blocks, CAST(k AS INT) AS k_treatments, "
    "round(CAST(3 * (s2 - n * n * k * (k + 1) * (k + 1)) AS DOUBLE)"
    " / CAST(n * k * (k + 1) AS DOUBLE), 6) AS q_stat, "
    "round(CAST(3 * (s2 - n * n * k * (k + 1) * (k + 1)) AS DOUBLE)"
    " / CAST(n * k * (k + 1) AS DOUBLE), 6) "
    f"> {_FRIEDMAN_CHI2_CUTOFF} AS significant FROM agg"
)


def stat_friedman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See module docstring. One (day, type) count aggregate absorbs the
    event volume; the zero-filled grid is |days| × |types| rows (a
    broadcast cross join of two tiny distinct sets against the count
    table), the rank windows partition by day, and the final statistic
    is a k-row reduce — scale-safe by construction. significant
    compares the ROUNDED Q on both engines."""
    ev = load_table(spark, sf_dir, "events").select(
        ts_day("ts").alias("day"), "event_type"
    )
    cnt = ev.groupBy("day", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    days = ev.select("day").distinct()
    types = ev.select("event_type").distinct()
    grid = (
        days.crossJoin(F.broadcast(types))
        .join(cnt, ["day", "event_type"], "left")
        .select("day", "event_type", F.coalesce("cnt", F.lit(0)).alias("v"))
    )
    rk = grid.select(
        "event_type",
        (
            2 * F.rank().over(Window.partitionBy("day").orderBy("v"))
            + F.count(F.lit(1)).over(Window.partitionBy("day", "v"))
            - 1
        )
        .cast(_D38)
        .alias("r2"),
    )
    rj = rk.groupBy("event_type").agg(
        F.sum("r2").alias("r2j"), F.count(F.lit(1)).cast(_D38).alias("n")
    )
    agg = rj.agg(
        F.max("n").alias("n"),
        F.count(F.lit(1)).cast(_D38).alias("k"),
        F.sum(F.col("r2j") * F.col("r2j")).alias("s2"),
    )
    q = F.round(
        (
            3
            * (
                F.col("s2")
                - F.col("n")
                * F.col("n")
                * F.col("k")
                * (F.col("k") + 1)
                * (F.col("k") + 1)
            )
        ).cast("double")
        / (F.col("n") * F.col("k") * (F.col("k") + 1)).cast("double"),
        6,
    )
    return agg.select(
        F.col("n").cast("int").alias("n_blocks"),
        F.col("k").cast("int").alias("k_treatments"),
        q.alias("q_stat"),
        (q > _FRIEDMAN_CHI2_CUTOFF).alias("significant"),
    )


# --- Moving-Average Type-Token Ratio --------------------------------------------------

_MATTR_W = 20

TEXT_MATTR_ORACLE = (
    "WITH toks AS ("
    "  SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents"
    "), pos AS ("
    "  SELECT doc_id, len(ws) AS n, unnest(ws) AS w, "
    "  generate_subscripts(ws, 1) - 1 AS i"
    f"  FROM toks WHERE len(ws) >= {_MATTR_W}"
    "), prv AS ("
    "  SELECT doc_id, n, i, "
    "  coalesce(lag(i) OVER (PARTITION BY doc_id, w ORDER BY i), -1) AS p"
    "  FROM pos"
    "), contrib AS ("
    f"  SELECT doc_id, n, greatest(0, least(i, n - {_MATTR_W})"
    f"   - greatest(0, i - {_MATTR_W} + 1, p + 1) + 1) AS c"
    "  FROM prv"
    ") SELECT doc_id, CAST(max(n) AS BIGINT) AS n_tokens, "
    f"CAST(max(n) - {_MATTR_W} + 1 AS BIGINT) AS n_windows, "
    "CAST(sum(c) AS BIGINT) AS sum_distinct, "
    f"round(CAST(sum(c) AS DOUBLE) / ((max(n) - {_MATTR_W} + 1) * {_MATTR_W}), 6)"
    "  AS mattr "
    "FROM contrib GROUP BY doc_id"
)


def text_mattr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See module docstring. posexplode → one lag window per
    (doc, token) occurrence chain → one per-doc sum; every step is
    hash-partitioned on doc_id, and the windows sort within chains, not
    documents, so skewed (doc, token) heavy hitters stay bounded by
    document length. Output is per-document — row-linear by contract
    (the measure itself is the product)."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.lower("text"), " ").alias("ws")
    )
    pos = (
        d.where(F.size("ws") >= _MATTR_W)
        .select(
            "doc_id",
            F.size("ws").alias("n"),
            F.posexplode("ws").alias("i", "w"),
        )
    )
    prv = pos.select(
        "doc_id",
        "n",
        "i",
        F.coalesce(
            F.lag("i").over(
                Window.partitionBy("doc_id", "w").orderBy("i")
            ),
            F.lit(-1),
        ).alias("p"),
    )
    contrib = prv.select(
        "doc_id",
        "n",
        F.greatest(
            F.lit(0),
            F.least(F.col("i"), F.col("n") - _MATTR_W)
            - F.greatest(
                F.lit(0), F.col("i") - _MATTR_W + 1, F.col("p") + 1
            )
            + 1,
        ).alias("c"),
    )
    return contrib.groupBy("doc_id").agg(
        F.max("n").cast("long").alias("n_tokens"),
        (F.max("n") - _MATTR_W + 1).cast("long").alias("n_windows"),
        F.sum("c").cast("long").alias("sum_distinct"),
        F.round(
            F.sum("c").cast("double")
            / ((F.max("n") - _MATTR_W + 1) * _MATTR_W),
            6,
        ).alias("mattr"),
    )


DEV_CASES = [
    ("pipeline_dp_histogram", pipeline_dp_histogram, PIPELINE_DP_HISTOGRAM_ORACLE),
    ("layout_prune_sim", layout_prune_sim, LAYOUT_PRUNE_SIM_ORACLE),
    ("stat_friedman", stat_friedman, STAT_FRIEDMAN_ORACLE),
    ("text_mattr", text_mattr, TEXT_MATTR_ORACLE),
]
