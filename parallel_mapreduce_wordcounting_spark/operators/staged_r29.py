"""Ingestion-robustness / trend-test / graph-metrology wave. Like every
``staged_r*`` module with ``DEV_CASES``, it registers itself on import: the
package root registers each ``(key, fn, oracle)`` entry.
tests/test_oracle_parity.py runs the fn-vs-DuckDB compare;
tests/test_staged_r29.py holds the independent property checks.

Contents:

- ``scan_csv_quarantine`` — PERMISSIVE CSV ingestion with a corrupt-
  record quarantine: a staged CSV where every 7th row is malformed is
  read with an explicit schema + ``columnNameOfCorruptRecord``; good
  rows aggregate, bad rows count into quarantine — the "never abort the
  batch for one bad row" contract real lakes ingest under.
- ``stat_cochran_armitage`` — the Cochran–Armitage TREND test: is the
  purchase rate monotonically drifting across ordered value deciles?
  The ordered-categories companion of ``stat_chi2_independence``
  (which ignores order) — a monotone dose-response shows here long
  before a generic chi-square fires.
- ``graph_assortativity`` — Newman degree assortativity r of the
  verified near-dup graph: do high-degree docs link to other
  high-degree docs (template farms, r > 0) or to leaves (hub-and-spoke
  copies, r < 0)? Exact integer edge/degree sums, one rational
  expression.
- ``event_window_sweep`` — attribution-window sensitivity: the
  signup→purchase conversion rate under 1 h / 6 h / 24 h / 72 h / 7 d
  windows — how much "conversion" is an artifact of the window choice,
  computed from each signup's time-to-first-purchase once and swept
  over a 5-row literal spine.
- ``fn_inet`` — IPv4 network functions: synthesize per-user addresses,
  parse dotted-quad strings back to integers, bucket by /16 subnet —
  the inet surface (aton/ntoa/CIDR bucketing) every log pipeline needs,
  demonstrated round-trip-exact.

Exactness doctrine: unchanged — quarantine counts, trend sufficient
statistics, assortativity sums, window-sweep counts and inet arithmetic
are all exact integers; z and r are single IEEE expressions over them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pins import persisting, pin
from ..sources.loader import load_table
from .exact import floor_day_us_sql

_D38 = "decimal(38,0)"

# --- PERMISSIVE CSV quarantine ---------------------------------------------------------

_CSV_MAX_ROWS = 200

SCAN_CSV_QUARANTINE_ORACLE = (
    "WITH n AS (SELECT least(CAST("
    f"{_CSV_MAX_ROWS} AS BIGINT), count(*)) AS k FROM orders), "
    "g AS (SELECT unnest(range(0, k)) AS i FROM n) "
    "SELECT CAST(count(*) AS BIGINT) AS n_rows, "
    "CAST(sum(CASE WHEN i % 7 <> 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_good, "
    "CAST(sum(CASE WHEN i % 7 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_bad, "
    "CAST(sum(CASE WHEN i % 7 <> 3 THEN (i * 13) % 97 ELSE 0 END) AS BIGINT)"
    " AS sum_good_v "
    "FROM g HAVING count(*) > 0"
)


def scan_csv_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE-mode CSV ingestion with corrupt-record quarantine: a
    staged CSV (one row per of min(200, |orders|) ids; every 7th row
    carries a non-numeric value field) is read with an EXPLICIT schema
    plus ``columnNameOfCorruptRecord`` — malformed rows parse to NULL
    typed columns with the raw line preserved in the quarantine column,
    and the batch NEVER aborts. Output: total/good/bad row counts and
    the good-row value sum — the ingestion-health row a loader emits
    before committing a batch, with the quarantined raw lines available
    for replay (the "dead-letter" contract; FAILFAST would abort, and
    DROPMALFORMED would silently lose data — both wrong at 100 TB).

    The fixture derives from the orders row count, so the ORACLE
    recomputes every field from arithmetic alone and any staging/parse
    drift fails the hash.

    Scale: CSV scans parallelize per file split; the quarantine check is
    per-row projection; one map-side-combined aggregate follows."""
    import hashlib
    import os
    import tempfile

    k = min(_CSV_MAX_ROWS, load_table(spark, sf_dir, "orders").count())
    stage = os.path.join(
        tempfile.gettempdir(),
        f"pmrwc_csvq_{os.getuid()}_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}",
    )
    os.makedirs(stage, exist_ok=True)
    for stale in os.listdir(stage):
        os.unlink(os.path.join(stage, stale))
    with open(f"{stage}/part0.csv", "w") as f:
        for i in range(k):  # ≤ 200 bounded fixture rows — staging only
            if i % 7 == 3:
                f.write(f"{i},not_a_number\n")  # malformed: non-numeric v
            else:
                f.write(f"{i},{(i * 13) % 97}\n")
    if k == 0:
        return spark.createDataFrame(
            [], "n_rows long, n_good long, n_bad long, sum_good_v long"
        )
    df = spark.read.schema("id long, v long, _bad string").csv(
        f"{stage}/*.csv",
        mode="PERMISSIVE",
        columnNameOfCorruptRecord="_bad",
    )
    return df.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum(F.when(F.col("_bad").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_good"),
        F.sum(F.when(F.col("_bad").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_bad"),
        F.sum(F.when(F.col("_bad").isNull(), F.col("v")).otherwise(0))
        .cast("long")
        .alias("sum_good_v"),
    ).where(F.col("n_rows") > 0)


# --- Cochran–Armitage trend test ----------------------------------------------------------

_CA_BINS = 10

STAT_COCHRAN_ARMITAGE_ORACLE = (
    "WITH lab AS ("
    "  SELECT value AS v, CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END"
    "  AS y FROM events"
    "), mm AS (SELECT min(v) AS lo, max(v) AS hi FROM lab), "
    "binned AS ("
    f"  SELECT CASE WHEN mm.hi = mm.lo THEN 0 ELSE "
    f"  least(CAST(floor((v - mm.lo) / ((mm.hi - mm.lo) / {_CA_BINS})) "
    f"  AS BIGINT), {_CA_BINS - 1}) END AS s, y FROM lab, mm"
    "), bins AS ("
    "  SELECT s, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS c"
    "  FROM binned GROUP BY s"
    "), t AS ("
    "  SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(c) AS BIGINT) AS cc, "
    "  CAST(sum(c * s) AS HUGEINT) AS cs, CAST(sum(n * s) AS HUGEINT) AS ns, "
    "  CAST(sum(n * CAST(s AS HUGEINT) * s) AS HUGEINT) AS nss FROM bins"
    ") SELECT nn AS n, cc AS conversions, "
    "round(CAST(nn * cs - cc * ns AS DOUBLE) / nullif(sqrt("
    "  (cc / (1.0 * nn)) * (1 - cc / (1.0 * nn)) "
    "  * CAST(nn AS DOUBLE) * CAST(nn * nss - ns * ns AS DOUBLE)), 0.0), 4)"
    " AS z "
    "FROM t WHERE nn > 0"
)


def stat_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran–Armitage trend test across ordered value deciles (same
    equal-width bins as ``stat_calibration``/``stat_isotonic``, scores
    s = 0..9): T = Σ c_i·s_i − p̄·Σ n_i·s_i with
    Var(T) = p̄(1−p̄)[Σ n_i s_i² − (Σ n_i s_i)²/N], z = T/√Var — the
    test for a MONOTONE dose-response that ``stat_chi2_independence``
    (order-blind) dilutes across df; the standard screen for "does
    conversion drift with spend bucket?". Written n-scaled so the
    numerator N·Σcs − C·Σns and the bracket N·Σnss − (Σns)² are EXACT
    integers (HUGEINT/decimal38); z is one double expression over them.
    Degenerate corpora (no rows, constant rate p̄ ∈ {0,1}, single bin)
    yield zero rows / NULL z via guards identically on both engines.

    Scale: the event volume is absorbed by ONE map-side-combined bin
    aggregate; everything after is a 1-row reduce over ≤10 bins."""
    e = load_table(spark, sf_dir, "events")
    lab = e.select(
        F.col("value").alias("v"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    mm = lab.agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
    binned = lab.crossJoin(F.broadcast(mm)).select(
        F.when(F.col("hi") == F.col("lo"), F.lit(0))
        .otherwise(
            F.least(
                F.floor(
                    (F.col("v") - F.col("lo"))
                    / ((F.col("hi") - F.col("lo")) / _CA_BINS)
                ).cast("long"),
                F.lit(_CA_BINS - 1),
            )
        )
        .alias("s"),
        "y",
    )
    bins = binned.groupBy("s").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("c"),
    )
    t = bins.agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum("c").cast("long").alias("cc"),
        F.sum(F.col("c").cast(_D38) * F.col("s")).alias("cs"),
        F.sum(F.col("n").cast(_D38) * F.col("s")).alias("ns"),
        F.sum(F.col("n").cast(_D38) * F.col("s") * F.col("s")).alias("nss"),
    )
    pbar = F.col("cc") / (1.0 * F.col("nn"))
    num = (F.col("nn") * F.col("cs") - F.col("cc") * F.col("ns")).cast("double")
    brack = (F.col("nn") * F.col("nss") - F.col("ns") * F.col("ns")).cast(
        "double"
    )
    den = F.sqrt(
        pbar * (1 - pbar) * F.col("nn").cast("double") * brack
    )
    return t.where(F.col("nn") > 0).select(
        F.col("nn").alias("n"),
        F.col("cc").alias("conversions"),
        F.round(num / F.nullif(den, F.lit(0.0)), 4).alias("z"),
    )


# --- degree assortativity -------------------------------------------------------------------


def _assortativity_oracle() -> str:
    from .dedup import SHINGLES_CTE, oracle_jaccard_pairs_select

    return (
        f"{SHINGLES_CTE}, "
        f"p AS ({oracle_jaccard_pairs_select(0.3)}"
        "), e0 AS MATERIALIZED ("
        "  SELECT da AS u, db AS v FROM p UNION ALL SELECT db, da FROM p"
        "), deg AS MATERIALIZED ("
        "  SELECT u AS node, CAST(count(*) AS BIGINT) AS d FROM e0 GROUP BY u"
        "), ed AS ("
        "  SELECT du.d AS j, dv.d AS k FROM e0 "
        "  JOIN deg du ON e0.u = du.node JOIN deg dv ON e0.v = dv.node"
        "), s AS ("
        "  SELECT CAST(count(*) AS BIGINT) AS m2, "  # 2m directed half-edges
        "  CAST(sum(CAST(j AS HUGEINT) * k) AS HUGEINT) AS sjk, "
        "  CAST(sum(CAST(j AS HUGEINT) + k) AS HUGEINT) AS sjk1, "
        "  CAST(sum(CAST(j AS HUGEINT) * j + CAST(k AS HUGEINT) * k) "
        "  AS HUGEINT) AS sjk2 FROM ed"
        ") SELECT m2 // 2 AS m, "  # integer: m2 is the even half-edge count
        "round((CAST(4 * m2 * sjk - sjk1 * sjk1 AS DOUBLE)) / nullif("
        "CAST(2 * m2 * sjk2 - sjk1 * sjk1 AS DOUBLE), 0.0), 6) "
        "AS r_assortativity "
        "FROM s WHERE m2 > 0"
    )


GRAPH_ASSORTATIVITY_ORACLE = _assortativity_oracle()


def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman degree assortativity (Newman 2002) of the verified
    near-dup graph: the Pearson correlation of endpoint degrees over
    edges — r > 0 means high-degree docs link to each other (cliquey
    template FAMILIES), r < 0 means hub-and-spoke (one canonical doc
    with many leaf copies); the structure signal that decides whether
    keep-one-per-component dedup is safe or will chain unrelated docs.
    Computed over directed half-edges (each undirected edge twice,
    which symmetrizes j/k): with S1 = Σ(j+k), r = [4M·Σjk − S1²] /
    [2M·Σ(j²+k²) − S1²] where M counts half-edges — every term an
    EXACT integer (HUGEINT/decimal38), r one double division.
    Regular graphs (all degrees equal ⇒ zero denominator) yield NULL r
    via nullif identically on both engines.

    Scale: the pair set persists ONCE (graph_modularity precedent,
    released on exit); then one degree aggregate and two hash
    joins keyed on node — all edge-linear."""
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
        ed = (
            e0.join(deg.select(F.col("node").alias("u"), F.col("d").alias("j")), "u")
            .join(deg.select(F.col("node").alias("v"), F.col("d").alias("k")), "v")
            .select("j", "k")
        )
        s = ed.agg(
            F.count("*").cast("long").alias("m2"),
            F.sum(F.col("j").cast(_D38) * F.col("k")).alias("sjk"),
            F.sum(F.col("j").cast(_D38) + F.col("k")).alias("sjk1"),
            F.sum(
                F.col("j").cast(_D38) * F.col("j")
                + F.col("k").cast(_D38) * F.col("k")
            ).alias("sjk2"),
        )
        num = (4 * F.col("m2") * F.col("sjk") - F.col("sjk1") * F.col("sjk1")).cast(
            "double"
        )
        den = (
            2 * F.col("m2") * F.col("sjk2") - F.col("sjk1") * F.col("sjk1")
        ).cast("double")
        out = s.where(F.col("m2") > 0).select(
            (F.col("m2") / 2).cast("long").alias("m"),
            F.round(num / F.nullif(den, F.lit(0.0)), 6).alias("r_assortativity"),
        )
        return pin(out)


# --- attribution-window sensitivity sweep ------------------------------------------------------

_SWEEP_WINDOWS_US = [
    3_600_000_000,  # 1 h
    21_600_000_000,  # 6 h
    86_400_000_000,  # 24 h
    259_200_000_000,  # 72 h
    604_800_000_000,  # 7 d
]

EVENT_WINDOW_SWEEP_ORACLE = (
    "WITH s AS ("
    "  SELECT user_id, CAST(epoch_ns(ts) // 1000 AS BIGINT) AS sus, event_id"
    "  FROM events WHERE event_type = 'signup'"
    "), pch AS ("
    "  SELECT user_id, CAST(epoch_ns(ts) // 1000 AS BIGINT) AS pus "
    "  FROM events WHERE event_type = 'purchase'"
    "), dt AS ("
    "  SELECT s.event_id, min(pus - sus) AS dt_us FROM s "
    "  JOIN pch ON s.user_id = pch.user_id AND pus >= sus "
    "  GROUP BY s.event_id"
    "), base AS (SELECT CAST(count(*) AS BIGINT) AS n_signups FROM s) "
    "SELECT CAST(w AS BIGINT) AS window_us, n_signups, "
    "CAST((SELECT count(*) FROM dt WHERE dt_us <= w) AS BIGINT) "
    "AS n_converted, "
    "round((SELECT count(*) FROM dt WHERE dt_us <= w) / (1.0 * n_signups), 6)"
    " AS rate "
    "FROM (SELECT unnest(["
    + ", ".join(str(w) for w in _SWEEP_WINDOWS_US)
    + "]) AS w), base WHERE n_signups > 0"
)


def event_window_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution-window sensitivity: the signup→purchase conversion
    rate under 1 h / 6 h / 24 h / 72 h / 7 d windows — each signup's
    time-to-first-subsequent-purchase is computed ONCE (user-keyed join
    + min), then swept against a 5-row literal window spine — showing
    how much of a reported "conversion rate" is an artifact of the
    window choice (the honest companion of ``event_time_to_convert``'s
    single distribution and ``event_attribution``'s fixed rules).
    Monotonicity in the window length is pinned by construction and by
    test.

    Determinism: pure integer µs arithmetic and counts; one division
    per window row.

    Scale: the signup×purchase join is keyed on user_id (per-user event
    counts bound the fan-out); the sweep is a broadcast of 5 literal
    rows against the per-signup dt table, combined map-side to 5
    groups."""
    e = load_table(spark, sf_dir, "events")
    s = e.where(F.col("event_type") == "signup").select(
        "user_id", F.unix_micros("ts").alias("sus"), "event_id"
    )
    pch = e.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.unix_micros("ts").alias("pus")
    )
    dt = (
        s.join(pch, (F.col("user_id") == F.col("pu")) & (F.col("pus") >= F.col("sus")))
        .groupBy("event_id")
        .agg(F.min(F.col("pus") - F.col("sus")).alias("dt_us"))
    )
    base = s.agg(F.count("*").cast("long").alias("n_signups"))
    ws = spark.createDataFrame([(w,) for w in _SWEEP_WINDOWS_US], "w long")
    conv = (
        dt.crossJoin(F.broadcast(ws))
        .where(F.col("dt_us") <= F.col("w"))
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("n_converted"))
    )
    return (
        ws.join(conv, "w", "left")
        .crossJoin(F.broadcast(base))
        .where(F.col("n_signups") > 0)
        .select(
            F.col("w").alias("window_us"),
            "n_signups",
            F.coalesce("n_converted", F.lit(0)).cast("long").alias("n_converted"),
            F.round(
                F.coalesce("n_converted", F.lit(0)) / (1.0 * F.col("n_signups")),
                6,
            ).alias("rate"),
        )
    )


# --- IPv4 inet surface ---------------------------------------------------------------------------

FN_INET_ORACLE = (
    "WITH u AS (SELECT DISTINCT user_id FROM events), "
    "ip AS ("
    "  SELECT user_id, "
    "  10 * 16777216 + ((user_id * 7) % 256) * 65536 "
    "  + ((user_id * 131) % 256) * 256 + (user_id % 256) AS ip_int FROM u"
    "), s AS ("
    "  SELECT user_id, ip_int, "
    "  CAST(ip_int // 16777216 AS VARCHAR) || '.' || "
    "  CAST((ip_int // 65536) % 256 AS VARCHAR) || '.' || "
    "  CAST((ip_int // 256) % 256 AS VARCHAR) || '.' || "
    "  CAST(ip_int % 256 AS VARCHAR) AS ip_str FROM ip"
    "), back AS ("
    "  SELECT user_id, ip_int, ip_str, "
    "  CAST(string_split(ip_str, '.')[1] AS BIGINT) * 16777216 "
    "  + CAST(string_split(ip_str, '.')[2] AS BIGINT) * 65536 "
    "  + CAST(string_split(ip_str, '.')[3] AS BIGINT) * 256 "
    "  + CAST(string_split(ip_str, '.')[4] AS BIGINT) AS rt FROM s"
    ") SELECT CAST(ip_int // 65536 AS BIGINT) AS subnet16, "
    "CAST(count(*) AS BIGINT) AS n_users, "
    "CAST(sum(CASE WHEN rt = ip_int THEN 1 ELSE 0 END) AS BIGINT) "
    "AS n_roundtrip_ok, "
    "min(ip_str) AS sample_ip "
    "FROM back GROUP BY 1"
)


def fn_inet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IPv4 inet functions demonstrated round-trip-exact: synthesize a
    deterministic 10.x.y.z address per user (aton form: the packed
    uint32), format it dotted-quad (ntoa), parse the STRING back with
    split/cast, and bucket users by /16 subnet — the
    aton/ntoa/CIDR-bucket surface every access-log pipeline needs
    (sessionizing by NAT block, rate-limiting by subnet), with the
    parse⇄format inverse property carried IN the output
    (n_roundtrip_ok) so the driver hash itself certifies it.

    Determinism: pure integer arithmetic and string formatting both
    engines define identically.

    Scale: per-row projection + one /16-keyed aggregate (≤256 groups
    here; 65536 in general — always map-side combinable)."""
    u = load_table(spark, sf_dir, "events").select("user_id").distinct()
    ip_int = (
        F.lit(10 * 16777216)
        + ((F.col("user_id") * 7) % 256) * 65536
        + ((F.col("user_id") * 131) % 256) * 256
        + (F.col("user_id") % 256)
    )
    s = u.select("user_id", ip_int.alias("ip_int")).select(
        "user_id",
        "ip_int",
        F.concat_ws(
            ".",
            (F.col("ip_int") / 16777216).cast("long").cast("string"),
            ((F.col("ip_int") / 65536).cast("long") % 256).cast("string"),
            ((F.col("ip_int") / 256).cast("long") % 256).cast("string"),
            (F.col("ip_int") % 256).cast("string"),
        ).alias("ip_str"),
    )
    parts = F.split(F.col("ip_str"), r"\.")
    rt = (
        parts.getItem(0).cast("long") * 16777216
        + parts.getItem(1).cast("long") * 65536
        + parts.getItem(2).cast("long") * 256
        + parts.getItem(3).cast("long")
    )
    return (
        s.withColumn("rt", rt)
        .groupBy((F.col("ip_int") / 65536).cast("long").alias("subnet16"))
        .agg(
            F.count("*").cast("long").alias("n_users"),
            F.sum(F.when(F.col("rt") == F.col("ip_int"), 1).otherwise(0))
            .cast("long")
            .alias("n_roundtrip_ok"),
            F.min("ip_str").alias("sample_ip"),
        )
    )


DEV_CASES = [
    ("scan_csv_quarantine", scan_csv_quarantine, SCAN_CSV_QUARANTINE_ORACLE),
    ("stat_cochran_armitage", stat_cochran_armitage, STAT_COCHRAN_ARMITAGE_ORACLE),
    ("graph_assortativity", graph_assortativity, GRAPH_ASSORTATIVITY_ORACLE),
    ("event_window_sweep", event_window_sweep, EVENT_WINDOW_SWEEP_ORACLE),
    ("fn_inet", fn_inet, FN_INET_ORACLE),
]
