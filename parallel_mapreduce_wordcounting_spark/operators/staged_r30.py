"""Interval-estimate / lakehouse-maintenance / reconciliation wave. Like every
``staged_r*`` module with ``DEV_CASES``, it registers itself on import: the
package root registers each ``(key, fn, oracle)`` entry.
tests/test_oracle_parity.py runs the fn-vs-DuckDB compare;
tests/test_staged_r30.py holds the independent property checks.

Contents:

- ``stat_median_ci`` — the median of order value with a distribution-
  free 95% confidence interval as ORDER STATISTICS (binomial
  normal-approximation ranks), selected by the repo's no-global-sort
  bucket-prefix pattern — the interval every "the median is X" claim
  needs and bootstrap-free (one pass, exact rank selection).
- ``layout_compaction_plan`` — small-files compaction planning: a
  deterministic manifest of file sizes is bin-packed by sorted
  sequential fill into 128 MB target bins (the Delta/Iceberg OPTIMIZE
  shape) — the maintenance planner beside layout_zorder/layout_hilbert
  (which decide ORDER; this decides GROUPING).
- ``warehouse_incremental_stats`` — mergeable-state incremental
  aggregation: half the table's per-group sufficient statistics are
  SAVED to parquet as state, the other half computed fresh, and the
  MERGE of the two must hash-equal a direct full scan (the oracle) —
  the incremental-view-maintenance contract that lets a 100 TB
  aggregate update from a day's delta without rescanning history.
- ``dq_reconciliation`` — cross-table money reconciliation: every
  order's header total vs the Σ extendedprice·(1−discount)·(1+tax) of
  its lines, classified match / mismatch / no-lines with exact-cents
  delta tallies — the financial-integrity census (this fixture fails
  the TPC-H invariant on EVERY order, which is exactly what a DQ op
  must surface, not assume away).
- ``agg_argmax`` — deterministic argmax/argmin aggregates: per order
  priority, WHICH order carries the max (and min) total — via
  max/min over (value, key) structs, so ties break on the key instead
  of partition order (the nondeterminism trap in naive max_by).

Exactness doctrine: unchanged — rank selection, bin packing, state
merging, reconciliation deltas and argmax structs are exact integers;
the only doubles are the median midpoint average and the reported
dollar conversions, single identical-tree expressions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.loader import load_table
from .exact import money_cents, money_cents_sql

_D38 = "decimal(38,0)"

# --- distribution-free median CI -------------------------------------------------------

_Z975 = 1.959963984540054  # Phi^-1(0.975), literal on both engines


def _median_ci_oracle() -> str:
    lo_r = f"CAST(floor((n - {_Z975!r} * sqrt(CAST(n AS DOUBLE))) / 2.0) AS BIGINT)"
    hi_r = (
        f"CAST(ceil(1.0 + (n + {_Z975!r} * sqrt(CAST(n AS DOUBLE))) / 2.0) "
        "AS BIGINT)"
    )
    return (
        "WITH c AS ("
        f"  SELECT {money_cents_sql('o_totalprice')} AS v FROM orders"
        "), pts AS ("
        "  SELECT v, CAST(count(*) AS BIGINT) AS c FROM c GROUP BY v"
        "), r AS ("
        "  SELECT v, c, CAST(coalesce(sum(c) OVER (ORDER BY v ROWS BETWEEN "
        "  UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s FROM pts"
        "), nn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM pts), "
        "ranks AS ("
        f"  SELECT n, greatest({lo_r}, 1) AS lo_r, least({hi_r}, n) AS hi_r, "
        "  (n + 1) // 2 AS m1, n // 2 + 1 AS m2 FROM nn WHERE n > 0"
        ") SELECT n, "
        "round(((SELECT v FROM r, ranks WHERE s < m1 AND m1 <= s + c) "
        " + (SELECT v FROM r, ranks WHERE s < m2 AND m2 <= s + c)) / 200.0, 4)"
        " AS median, "
        "round((SELECT v FROM r, ranks WHERE s < lo_r AND lo_r <= s + c) "
        "/ 100.0, 2) AS ci_lo, "
        "round((SELECT v FROM r, ranks WHERE s < hi_r AND hi_r <= s + c) "
        "/ 100.0, 2) AS ci_hi "
        "FROM ranks"
    )


STAT_MEDIAN_CI_ORACLE = _median_ci_oracle()


def stat_median_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median order value with a DISTRIBUTION-FREE 95% confidence
    interval: the CI endpoints are the order statistics at ranks
    ⌊(n − z√n)/2⌋ and ⌈1 + (n + z√n)/2⌉ (the binomial normal
    approximation — no distributional assumption, no bootstrap
    resampling), the median the usual middle-rank average. All four
    order statistics are selected WITHOUT a global sort: values group
    once, the exclusive prefix count s comes from a window over the
    aggregated value spine, and rank r's value is the unique group with
    s < r ≤ s + c — the agg_percentile_iterative philosophy
    (rank selection is a lookup, not a sort).

    Determinism: ranks derive from n through identical literal-z
    expressions (floor/ceil of the same doubles); selection and counts
    are exact integers; the median midpoint and dollar conversions are
    single divisions.

    Scale: one map-side-combined value group-by; windows ride the
    |distinct values| spine. At truly huge distinct-value counts the
    same ranks feed agg_percentile_iterative's histogram narrowing
    instead — identical contract."""
    o = load_table(spark, sf_dir, "orders")
    pts = (
        o.select(money_cents(F.col("o_totalprice")).alias("v"))
        .groupBy("v")
        .agg(F.count("*").cast("long").alias("c"))
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    r = pts.select(
        "v", "c", F.coalesce(F.sum("c").over(w), F.lit(0)).cast("long").alias("s")
    )
    nn = pts.agg(F.sum("c").cast("long").alias("n"))
    sq = F.sqrt(F.col("n").cast("double"))
    ranks = nn.where(F.col("n") > 0).select(
        "n",
        F.greatest(
            F.floor((F.col("n") - _Z975 * sq) / 2.0).cast("long"), F.lit(1)
        ).alias("lo_r"),
        F.least(
            F.ceil(1.0 + (F.col("n") + _Z975 * sq) / 2.0).cast("long"),
            F.col("n"),
        ).alias("hi_r"),
        ((F.col("n") + 1) / 2).cast("long").alias("m1"),
        (F.col("n") / 2).cast("long").alias("m2_floor"),
    ).select(
        "n", "lo_r", "hi_r", "m1", (F.col("m2_floor") + 1).alias("m2")
    )
    j = r.crossJoin(F.broadcast(ranks))

    def pick(rank_col: str):
        return (
            j.where((F.col("s") < F.col(rank_col)) & (F.col(rank_col) <= F.col("s") + F.col("c")))
            .select(F.col("v").alias(rank_col + "_v"), "n", "lo_r", "hi_r", "m1", "m2")
        )

    m1v = pick("m1").select("n", F.col("m1_v"))
    m2v = pick("m2").select(F.col("n").alias("n2"), F.col("m2_v"))
    lov = pick("lo_r").select(F.col("n").alias("n3"), F.col("lo_r_v"))
    hiv = pick("hi_r").select(F.col("n").alias("n4"), F.col("hi_r_v"))
    return (
        m1v.join(m2v, F.col("n") == F.col("n2"))
        .join(lov, F.col("n") == F.col("n3"))
        .join(hiv, F.col("n") == F.col("n4"))
        .select(
            "n",
            F.round((F.col("m1_v") + F.col("m2_v")) / 200.0, 4).alias("median"),
            F.round(F.col("lo_r_v") / 100.0, 2).alias("ci_lo"),
            F.round(F.col("hi_r_v") / 100.0, 2).alias("ci_hi"),
        )
    )


# --- small-files compaction planning -----------------------------------------------------

_COMPACT_FILES = 40
_COMPACT_TARGET_MB = 128

LAYOUT_COMPACTION_ORACLE = (
    "WITH n AS (SELECT least(CAST("
    f"{_COMPACT_FILES} AS BIGINT), count(*)) AS k FROM orders), "
    "f AS ("
    "  SELECT CAST(i AS BIGINT) AS file_id, "
    "  CAST((i * 37) % 100 + 1 AS BIGINT) AS size_mb "
    "  FROM (SELECT unnest(range(0, k)) AS i FROM n)"
    "), s AS ("
    "  SELECT file_id, size_mb, "
    "  CAST(sum(size_mb) OVER (ORDER BY size_mb DESC, file_id "
    "  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum "
    "  FROM f"
    f") SELECT file_id, size_mb, (cum - size_mb) // {_COMPACT_TARGET_MB} "
    "AS bin FROM s"
)


def layout_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction planning — the maintenance job every
    lakehouse runs (Delta/Iceberg OPTIMIZE): a deterministic file
    manifest (min(40, |orders|) files, sizes derived arithmetically so
    the oracle recomputes the whole plan) is packed into 128 MB target
    bins by SORTED SEQUENTIAL FILL — files order by size descending,
    the running total assigns bin = ⌊(cum − size)/target⌋, so large
    files seed bins and small files backfill. Deterministic, one-pass,
    and within 11/9·OPT of optimal bin count (first-fit-decreasing
    bound; pure FFD's per-bin backtracking is inherently sequential —
    sorted fill is the distributed-friendly variant real OPTIMIZE
    implementations use).

    Completes the layout trio: layout_zorder/layout_hilbert decide
    row ORDER within files, this decides which files MERGE.

    Determinism / scale: pure integer sizes and prefix sums; the window
    rides the FILE-MANIFEST spine (file counts, not row counts — a
    100 TB table has ~10⁵ files; and at that scale the same plan can
    run per-partition-directory in parallel)."""
    k = min(_COMPACT_FILES, load_table(spark, sf_dir, "orders").count())
    if k == 0:
        return spark.createDataFrame([], "file_id long, size_mb long, bin long")
    f = spark.range(k).select(
        F.col("id").alias("file_id"),
        ((F.col("id") * 37) % 100 + 1).cast("long").alias("size_mb"),
    )
    w = Window.orderBy(F.desc("size_mb"), F.asc("file_id")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    s = f.select(
        "file_id", "size_mb", F.sum("size_mb").over(w).cast("long").alias("cum")
    )
    return s.select(
        "file_id",
        "size_mb",
        F.floor(
            (F.col("cum") - F.col("size_mb")) / _COMPACT_TARGET_MB
        ).cast("long").alias("bin"),
    )


# --- mergeable-state incremental aggregation ----------------------------------------------

WAREHOUSE_INCREMENTAL_ORACLE = (
    "SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n, "
    f"CAST(sum({money_cents_sql('o_totalprice')}) AS BIGINT) AS sum_cents, "
    f"CAST(min({money_cents_sql('o_totalprice')}) AS BIGINT) AS min_cents, "
    f"CAST(max({money_cents_sql('o_totalprice')}) AS BIGINT) AS max_cents "
    "FROM orders GROUP BY 1"
)


def warehouse_incremental_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-state incremental aggregation — the incremental-view-
    maintenance contract: per-priority sufficient statistics
    (n, Σcents, min, max) are computed for HALF the table (even order
    keys), persisted to parquet as the saved state, read BACK from disk,
    merged with the freshly-computed odd-half statistics (Σn, Σsum,
    min-of-mins, max-of-maxes), and the merged result must hash-equal
    the oracle's DIRECT full scan. This is how a 100 TB daily aggregate
    updates from one day's delta: the merge is algebraic (every stat
    here is a commutative monoid), so history is never rescanned — and
    the round trip through parquet proves the state survives storage,
    not just memory.

    Scale: each half is one map-side-combined aggregate; the state is
    |groups| rows; the merge is a union + re-aggregate over 2·|groups|
    rows."""
    import hashlib
    import os
    import tempfile

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        money_cents(F.col("o_totalprice")).alias("cents"),
    )

    def stats(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count("*").cast("long").alias("n"),
            F.sum("cents").cast("long").alias("sum_cents"),
            F.min("cents").cast("long").alias("min_cents"),
            F.max("cents").cast("long").alias("max_cents"),
        )

    state_a = stats(o.where(F.col("o_orderkey") % 2 == 0))
    stage = os.path.join(
        tempfile.gettempdir(),
        f"pmrwc_incr_{os.getuid()}_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}",
    )
    state_a.write.mode("overwrite").parquet(stage)
    saved = spark.read.schema(
        "o_orderpriority string, n long, sum_cents long, "
        "min_cents long, max_cents long"
    ).parquet(stage)
    fresh_b = stats(o.where(F.col("o_orderkey") % 2 == 1))
    return (
        saved.unionByName(fresh_b)
        .groupBy("o_orderpriority")
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("sum_cents").cast("long").alias("sum_cents"),
            F.min("min_cents").cast("long").alias("min_cents"),
            F.max("max_cents").cast("long").alias("max_cents"),
        )
    )


# --- money reconciliation census ------------------------------------------------------------

_LINE_NET_SQL = (
    "CAST(sign(x) * floor(abs(x) * 100 + 0.5) AS BIGINT)".replace(
        "x", "(l_extendedprice * (1 - l_discount) * (1 + l_tax))"
    )
)

DQ_RECONCILIATION_ORACLE = (
    "WITH l AS ("
    f"  SELECT l_orderkey, CAST(sum({_LINE_NET_SQL}) AS BIGINT) AS line_cents"
    "  FROM lineitem GROUP BY 1"
    "), j AS ("
    f"  SELECT o_orderkey, {money_cents_sql('o_totalprice')} AS hdr_cents, "
    "  line_cents FROM orders LEFT JOIN l ON o_orderkey = l_orderkey"
    ") SELECT CAST(count(*) AS BIGINT) AS n_orders, "
    "CAST(sum(CASE WHEN line_cents IS NULL THEN 1 ELSE 0 END) AS BIGINT) "
    "AS n_no_lines, "
    "CAST(sum(CASE WHEN line_cents = hdr_cents THEN 1 ELSE 0 END) AS BIGINT)"
    " AS n_match, "
    "CAST(sum(CASE WHEN line_cents IS NOT NULL AND line_cents <> hdr_cents "
    "THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch, "
    "CAST(sum(CASE WHEN line_cents IS NOT NULL THEN abs(hdr_cents "
    "- line_cents) ELSE 0 END) AS BIGINT) AS total_abs_delta_cents, "
    "CAST(max(CASE WHEN line_cents IS NOT NULL THEN abs(hdr_cents "
    "- line_cents) END) AS BIGINT) AS max_abs_delta_cents "
    "FROM j HAVING count(*) > 0"
)


def dq_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table money reconciliation census: each order's header
    total vs the exact-cents sum of its lines' net charge
    (extendedprice·(1−discount)·(1+tax)), classified MATCH / MISMATCH /
    NO-LINES with total and max absolute deltas — the financial-
    integrity check a warehouse runs before any revenue number ships.
    On this fixture EVERY order mismatches and 27-per-1500 have no
    lines at all — precisely the kind of silent invariant violation a
    DQ census must SURFACE (a pipeline assuming the TPC-H identity here
    would misstate revenue on every row); the census quantifies it
    instead of asserting it away.

    Determinism: the per-line net charge is one double product through
    an identical tree, immediately quantized to cents (the money_cents
    half-up rule), so every delta is an exact integer.

    Scale: one line aggregate keyed by order + one header hash join +
    a 1-row census reduce. Nothing else."""
    li = load_table(spark, sf_dir, "lineitem")
    net = (
        F.col("l_extendedprice")
        * (1 - F.col("l_discount"))
        * (1 + F.col("l_tax"))
    )
    l = li.select(
        "l_orderkey", money_cents(net).alias("net_cents")
    ).groupBy("l_orderkey").agg(
        F.sum("net_cents").cast("long").alias("line_cents")
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", money_cents(F.col("o_totalprice")).alias("hdr_cents")
    )
    j = o.join(l, o.o_orderkey == l.l_orderkey, "left")
    delta = F.abs(F.col("hdr_cents") - F.col("line_cents"))
    return j.agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum(F.when(F.col("line_cents").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_no_lines"),
        F.sum(F.when(F.col("line_cents") == F.col("hdr_cents"), 1).otherwise(0))
        .cast("long")
        .alias("n_match"),
        F.sum(
            F.when(
                F.col("line_cents").isNotNull()
                & (F.col("line_cents") != F.col("hdr_cents")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_mismatch"),
        F.sum(F.when(F.col("line_cents").isNotNull(), delta).otherwise(0))
        .cast("long")
        .alias("total_abs_delta_cents"),
        F.max(F.when(F.col("line_cents").isNotNull(), delta))
        .cast("long")
        .alias("max_abs_delta_cents"),
    ).where(F.col("n_orders") > 0)


# --- deterministic argmax/argmin aggregates ---------------------------------------------------

AGG_ARGMAX_ORACLE = (
    "WITH c AS ("
    f"  SELECT o_orderpriority, o_orderkey, {money_cents_sql('o_totalprice')}"
    "  AS cents FROM orders"
    "), r AS ("
    "  SELECT o_orderpriority, "
    "  max(struct_pack(cents := cents, k := o_orderkey)) AS mx, "
    "  min(struct_pack(cents := cents, k := o_orderkey)) AS mn, "
    "  CAST(count(*) AS BIGINT) AS n FROM c GROUP BY 1"
    ") SELECT o_orderpriority, n, "
    "CAST(mx.k AS BIGINT) AS argmax_order, "
    "CAST(mx.cents AS BIGINT) AS max_cents, "
    "CAST(mn.k AS BIGINT) AS argmin_order, "
    "CAST(mn.cents AS BIGINT) AS min_cents "
    "FROM r"
)


def agg_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic argmax/argmin aggregates: per order priority, WHICH
    order carries the maximum (and minimum) total — via max/min over
    (value, key) STRUCTS, whose lexicographic ordering makes ties break
    on the key instead of partition arrival order. The naive
    ``max_by``/``arg_max`` is non-deterministic under ties — the exact
    bug class the driver's value-hash comparison exists to catch — so
    the struct form IS the correct distributed idiom, not a workaround.

    Determinism: integer cents and keys; struct comparison is
    lexicographic on both engines.

    Scale: one map-side-combined aggregate carrying two small structs
    per group — argmax costs no more than max."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        "o_orderkey",
        money_cents(F.col("o_totalprice")).alias("cents"),
    )
    mx = F.max(F.struct(F.col("cents"), F.col("o_orderkey").alias("k")))
    mn = F.min(F.struct(F.col("cents"), F.col("o_orderkey").alias("k")))
    return o.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("n"),
        mx.alias("mx"),
        mn.alias("mn"),
    ).select(
        "o_orderpriority",
        "n",
        F.col("mx.k").cast("long").alias("argmax_order"),
        F.col("mx.cents").cast("long").alias("max_cents"),
        F.col("mn.k").cast("long").alias("argmin_order"),
        F.col("mn.cents").cast("long").alias("min_cents"),
    )


DEV_CASES = [
    ("stat_median_ci", stat_median_ci, STAT_MEDIAN_CI_ORACLE),
    ("layout_compaction_plan", layout_compaction_plan, LAYOUT_COMPACTION_ORACLE),
    (
        "warehouse_incremental_stats",
        warehouse_incremental_stats,
        WAREHOUSE_INCREMENTAL_ORACLE,
    ),
    ("dq_reconciliation", dq_reconciliation, DQ_RECONCILIATION_ORACLE),
    ("agg_argmax", agg_argmax, AGG_ARGMAX_ORACLE),
]
