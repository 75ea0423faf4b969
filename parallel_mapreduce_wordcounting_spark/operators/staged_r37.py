"""Time-travel / fan-out / partial-correlation / ABC wave. Like every
``staged_r*`` module with ``DEV_CASES``, it registers itself on import: the
package root registers each ``(key, fn, oracle)`` entry.
tests/test_oracle_parity.py runs the fn-vs-DuckDB compare;
tests/test_staged_r37.py holds the independent property checks.

Contents:

- ``scan_txn_log_asof`` — TIME TRAVEL over the transaction log: the
  live file set AS OF an historical version (actions with v ≤ V
  replayed, later ones ignored) — the "query yesterday's table" read
  path that makes a lakehouse log more than a backup, on the
  scan_txn_log staging.
- ``dq_join_cardinality`` — join fan-out census BEFORE the join: the
  distribution of per-order lineitem match counts (including the
  0-match orders an inner join would silently drop) — the histogram
  that predicts a join's output size and catches accidental 1:N
  explosions while they are still cheap to see.
- ``stat_partial_corr`` — the partial correlation of quantity and
  extended price CONTROLLING for the line's tax rate, entirely from
  exact sufficient statistics — "is the raw correlation real or routed
  through a third variable?", the one-step causal hygiene beside
  stat_corr_matrix's marginal r's.
- ``agg_abc_analysis`` — ABC (Pareto) classification of parts by
  revenue: A = parts covering the first 80% of cumulative revenue,
  B = to 95%, C = the tail — the inventory-analytics classic, with
  exact integer cents cumulated over the aggregated part spine.
- ``text_source_shannon`` — Shannon entropy of the corpus'
  source-share distribution and its effective-source-count exp(H) —
  completing the diversity triple with the staged HHI (concentration)
  and Simpson (repeat-collision) measures; the number a data-mixing
  recipe targets.

Exactness doctrine: unchanged — log replay, fan-out counts, ABC
cumulation and entropy inputs are exact integers; partial correlation
is one closed-form expression over exact decimal(38) sums; entropy's
per-source p·ln p terms sum across ≤|sources| rows (4 dp rounding
absorbs the reduce-order spread, stat_kruskal_wallis precedent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.loader import load_table
from .exact import money_cents, money_cents_sql

_D38 = "decimal(38,0)"

# --- AS-OF time travel over the txn log ---------------------------------------------------

_ASOF_MAX_VERSIONS = 30  # must match scan_txn_log's staging rule


def _asof_version_sql() -> str:
    # historical version = k // 2 (mid-history), derived like the log itself
    return (
        "(SELECT least(CAST("
        f"{_ASOF_MAX_VERSIONS} AS BIGINT), count(*)) // 2 FROM orders)"
    )


SCAN_TXN_LOG_ASOF_ORACLE = (
    "WITH n AS (SELECT least(CAST("
    f"{_ASOF_MAX_VERSIONS} AS BIGINT), count(*)) AS k FROM orders), "
    f"v AS (SELECT {_asof_version_sql()} AS vmax), "
    "g AS (SELECT unnest(range(0, k)) AS i, k FROM n) "
    "SELECT CAST(i AS BIGINT) AS file_id, "
    "CAST((i * 37) % 100 + 1 AS BIGINT) AS n_rows, "
    "CAST(i AS BIGINT) AS added_v, "
    "CAST(vmax AS BIGINT) AS as_of_version "
    "FROM g, v WHERE i <= vmax AND i % 3 <> 2 "
    "AND NOT (i % 3 = 0 AND i + 2 <= vmax)"
)


def scan_txn_log_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME TRAVEL: the live file set AS OF version ⌊k/2⌋ of the
    ``scan_txn_log`` transaction log — only actions with v ≤ V count
    (an add not yet removed BY V is live, even if a later version
    removed it), which is the entire reason a lakehouse keeps its log:
    "query the table as it was at yesterday's commit" is a WHERE clause
    on the version column, not a restore. Reuses the same staged JSONL
    (re-staged here for isolation) and the same order-free grouped
    replay, with the pinned version carried in the output so the driver
    hash certifies WHICH snapshot was read.

    Determinism: pure integer version arithmetic; the oracle recomputes
    the snapshot from the staging rule alone.

    Scale: identical to scan_txn_log — the AS-OF filter prunes log
    entries before the one grouped aggregate."""
    import hashlib
    import json
    import os
    import tempfile

    k = min(_ASOF_MAX_VERSIONS, load_table(spark, sf_dir, "orders").count())
    vmax = k // 2
    stage = os.path.join(
        tempfile.gettempdir(),
        f"pmrwc_txnasof_{os.getuid()}_"
        f"{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}",
    )
    os.makedirs(stage, exist_ok=True)
    for stale in os.listdir(stage):
        os.unlink(os.path.join(stage, stale))
    for i in range(k):  # ≤ 30 bounded versions — staging only
        if i % 3 == 2:
            act = {"v": i, "op": "remove", "file": f"f{i - 2}", "rows": 0}
        else:
            act = {"v": i, "op": "add", "file": f"f{i}", "rows": (i * 37) % 100 + 1}
        with open(f"{stage}/{i:05d}.json", "w") as f:
            f.write(json.dumps(act) + "\n")
    if k == 0:
        return spark.createDataFrame(
            [], "file_id long, n_rows long, added_v long, as_of_version long"
        )
    log = spark.read.schema("v long, op string, file string, rows long").json(
        f"{stage}/*.json"
    )
    asof = log.where(F.col("v") <= vmax)
    live = (
        asof.groupBy("file")
        .agg(
            F.max(F.when(F.col("op") == "add", F.col("v"))).alias("added_v"),
            F.max(F.when(F.col("op") == "add", F.col("rows"))).alias("n_rows"),
            F.count(F.when(F.col("op") == "remove", 1)).alias("removes"),
        )
        .where(F.col("added_v").isNotNull() & (F.col("removes") == 0))
    )
    return live.select(
        F.regexp_extract("file", r"^f(\d+)$", 1).cast("long").alias("file_id"),
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("added_v").cast("long").alias("added_v"),
        F.lit(vmax).cast("long").alias("as_of_version"),
    )


# --- join fan-out census --------------------------------------------------------------------

DQ_JOIN_CARDINALITY_ORACLE = (
    "WITH f AS ("
    "  SELECT o_orderkey, CAST(count(l_orderkey) AS BIGINT) AS fan "
    "  FROM orders LEFT JOIN lineitem ON o_orderkey = l_orderkey "
    "  GROUP BY o_orderkey"
    "), tot AS (SELECT CAST(count(*) AS BIGINT) AS n, "
    "CAST(sum(fan) AS BIGINT) AS total_matches FROM f) "
    "SELECT fan, CAST(count(*) AS BIGINT) AS n_orders, "
    "round(count(*) / (1.0 * n), 6) AS share, total_matches "
    "FROM f, tot GROUP BY fan, n, total_matches"
)


def dq_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join fan-out census BEFORE the join: the distribution of
    per-order lineitem match counts — how many orders match 0 lines (an
    inner join silently DROPS those; this fixture has them), 1 line,
    …, n lines — plus the total match count, which IS the output row
    count of the eventual join. The two-minute profile that predicts a
    join's size and catches accidental 1:N explosions (a fan histogram
    with mass at 10⁴ means someone's "dimension" isn't one) while
    they're still cheap to see — the empirical side of
    ``dq_key_uniqueness``'s verdicts.

    Determinism: pure integer counting (count(l_orderkey) over the left
    join counts matches, not rows — the NULL-skipping count is the
    idiom).

    Scale: one key-grouped left join + two aggregates — strictly
    cheaper than the join it profiles, because nothing wider than the
    key shuffles."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    f = (
        o.join(li, o.o_orderkey == li.l_orderkey, "left")
        .groupBy("o_orderkey")
        .agg(F.count("l_orderkey").cast("long").alias("fan"))
    )
    tot = f.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("fan").cast("long").alias("total_matches"),
    )
    return (
        f.groupBy("fan")
        .agg(F.count("*").cast("long").alias("n_orders"))
        .crossJoin(F.broadcast(tot))
        .select(
            "fan",
            "n_orders",
            F.round(F.col("n_orders") / (1.0 * F.col("n")), 6).alias("share"),
            "total_matches",
        )
    )


# --- partial correlation ----------------------------------------------------------------------


def _pcorr_oracle() -> str:
    def r(sab: str, sa: str, sb: str, saa: str, sbb: str) -> str:
        num = f"(CAST(n AS DOUBLE) * {sab} - CAST({sa} AS DOUBLE) * {sb})"
        da = f"sqrt(CAST(n AS DOUBLE) * {saa} - CAST({sa} AS DOUBLE) * {sa})"
        db = f"sqrt(CAST(n AS DOUBLE) * {sbb} - CAST({sb} AS DOUBLE) * {sb})"
        return f"({num} / nullif({da} * {db}, 0.0))"

    rxy = r("sxy", "sx", "sy", "sxx", "syy")
    rxz = r("sxz", "sx", "sz", "sxx", "szz")
    ryz = r("syz", "sy", "sz", "syy", "szz")
    return (
        "WITH d AS ("
        "  SELECT CAST(l_quantity AS BIGINT) AS x, "
        f"  {money_cents_sql('l_extendedprice')} AS y, "
        "  CAST(sign(l_tax) * floor(abs(l_tax) * 100 + 0.5) AS BIGINT) AS z "
        "  FROM lineitem"
        "), s AS ("
        "  SELECT CAST(count(*) AS BIGINT) AS n, "
        "  CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy, "
        "  CAST(sum(z) AS HUGEINT) AS sz, "
        "  CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx, "
        "  CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy, "
        "  CAST(sum(CAST(z AS HUGEINT) * z) AS HUGEINT) AS szz, "
        "  CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy, "
        "  CAST(sum(CAST(x AS HUGEINT) * z) AS HUGEINT) AS sxz, "
        "  CAST(sum(CAST(y AS HUGEINT) * z) AS HUGEINT) AS syz FROM d"
        ") SELECT n, "
        f"round({rxy}, 6) AS r_xy, "
        f"round(({rxy} - {rxz} * {ryz}) / nullif(sqrt((1.0 - {rxz} * {rxz})"
        f" * (1.0 - {ryz} * {ryz})), 0.0), 6) AS r_xy_given_z "
        "FROM s WHERE n > 2"
    )


STAT_PARTIAL_CORR_ORACLE = _pcorr_oracle()


def stat_partial_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial correlation of quantity (x) and extended price (y)
    CONTROLLING for the line's tax-rate cents (z):
    r_xy·z = (r_xy − r_xz·r_yz) / √((1−r_xz²)(1−r_yz²)) — the one-step
    causal hygiene check beside ``stat_corr_matrix``'s marginal r's: if
    the partial collapses toward 0, the raw x–y association was routed
    through z (a confounder); if it survives, it isn't explained by z.
    All three pairwise r's derive from ONE pass of exact n-scaled
    integer sums (the stat_corr_matrix machinery, three columns at
    once), so the partial is one closed-form double expression —
    transcendental-free except the correctly-rounded sqrts.

    Degenerate corpora (n ≤ 2, constant columns ⇒ zero variance, or
    |r_xz| = 1 ⇒ zero denominator) yield zero rows / NULL via
    nullif identically on both engines.

    Scale: one map-side-combined 10-number aggregate, a 1-row
    projection."""
    li = load_table(spark, sf_dir, "lineitem")
    d = li.select(
        F.col("l_quantity").cast("long").alias("x"),
        money_cents(F.col("l_extendedprice")).alias("y"),
        money_cents(F.col("l_tax")).alias("z"),
    )
    s = d.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("x").cast(_D38)).alias("sx"),
        F.sum(F.col("y").cast(_D38)).alias("sy"),
        F.sum(F.col("z").cast(_D38)).alias("sz"),
        F.sum(F.col("x").cast(_D38) * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast(_D38) * F.col("y")).alias("syy"),
        F.sum(F.col("z").cast(_D38) * F.col("z")).alias("szz"),
        F.sum(F.col("x").cast(_D38) * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast(_D38) * F.col("z")).alias("sxz"),
        F.sum(F.col("y").cast(_D38) * F.col("z")).alias("syz"),
    )

    def r(sab, sa, sb, saa, sbb):
        num = F.col("n").cast("double") * F.col(sab) - F.col(sa).cast(
            "double"
        ) * F.col(sb)
        da = F.sqrt(
            F.col("n").cast("double") * F.col(saa)
            - F.col(sa).cast("double") * F.col(sa)
        )
        db = F.sqrt(
            F.col("n").cast("double") * F.col(sbb)
            - F.col(sb).cast("double") * F.col(sb)
        )
        return num / F.nullif(da * db, F.lit(0.0))

    rxy = r("sxy", "sx", "sy", "sxx", "syy")
    rxz = r("sxz", "sx", "sz", "sxx", "szz")
    ryz = r("syz", "sy", "sz", "syy", "szz")
    partial = (rxy - rxz * ryz) / F.nullif(
        F.sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz)), F.lit(0.0)
    )
    return s.where(F.col("n") > 2).select(
        "n",
        F.round(rxy, 6).alias("r_xy"),
        F.round(partial, 6).alias("r_xy_given_z"),
    )


# --- ABC (Pareto) analysis ----------------------------------------------------------------------

AGG_ABC_ORACLE = (
    "WITH pr AS ("
    f"  SELECT l_partkey, CAST(sum({money_cents_sql('l_extendedprice')}) "
    "  AS BIGINT) AS rev FROM lineitem GROUP BY 1"
    "), tot AS (SELECT CAST(sum(rev) AS HUGEINT) AS t FROM pr), "
    "c AS ("
    "  SELECT l_partkey, rev, CAST(sum(rev) OVER (ORDER BY rev DESC, "
    "  l_partkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
    "  AS HUGEINT) AS cum FROM pr"
    "), lab AS ("
    "  SELECT l_partkey, rev, CASE "
    "  WHEN 100 * (cum - rev) < 80 * t THEN 'A' "
    "  WHEN 100 * (cum - rev) < 95 * t THEN 'B' ELSE 'C' END AS abc_class "
    "  FROM c, tot"
    ") SELECT abc_class, CAST(count(*) AS BIGINT) AS n_parts, "
    "CAST(sum(rev) AS BIGINT) AS revenue_cents, "
    "round(sum(rev) / (1.0 * t), 6) AS revenue_share "
    "FROM lab, tot GROUP BY abc_class, t"
)


def agg_abc_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto) classification of parts by revenue: rank parts by
    revenue descending, cumulate, and label A while the cumulative
    share BEFORE the part is under 80%, B under 95%, C beyond — the
    inventory-analytics classic ("the A items get daily counts, the C
    items yearly"), reported per class with part counts and exact-cents
    revenue. The class boundary is an INTEGER cross-multiplication
    (100·cum_before < 80·total), so no float knife-edge decides
    membership.

    Determinism: exact integer revenue, cumulation and boundaries; one
    share division per class row.

    Scale: the line volume is absorbed by one part-keyed aggregate; the
    ranking window rides the aggregated PART spine (|parts| rows — the
    text_zipf vocabulary-rank precedent; at extreme catalog sizes the
    same labels come from agg_percentile_iterative's quantile cuts)."""
    li = load_table(spark, sf_dir, "lineitem")
    pr = li.groupBy("l_partkey").agg(
        F.sum(money_cents(F.col("l_extendedprice"))).cast("long").alias("rev")
    )
    tot = pr.agg(F.sum(F.col("rev").cast(_D38)).alias("t"))
    w = Window.orderBy(F.desc("rev"), F.asc("l_partkey")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    c = pr.select("l_partkey", "rev", F.sum(F.col("rev").cast(_D38)).over(w).alias("cum"))
    lab = c.crossJoin(F.broadcast(tot)).select(
        "l_partkey",
        "rev",
        "t",
        F.when(
            100 * (F.col("cum") - F.col("rev")) < 80 * F.col("t"), "A"
        )
        .when(100 * (F.col("cum") - F.col("rev")) < 95 * F.col("t"), "B")
        .otherwise("C")
        .alias("abc_class"),
    )
    return lab.groupBy("abc_class", "t").agg(
        F.count("*").cast("long").alias("n_parts"),
        F.sum("rev").cast("long").alias("revenue_cents"),
    ).select(
        "abc_class",
        "n_parts",
        "revenue_cents",
        F.round(F.col("revenue_cents") / (1.0 * F.col("t")), 6).alias(
            "revenue_share"
        ),
    )


# --- Shannon source diversity --------------------------------------------------------------------

TEXT_SOURCE_SHANNON_ORACLE = (
    "WITH s AS ("
    "  SELECT source, CAST(count(*) AS BIGINT) AS c FROM documents GROUP BY 1"
    "), tot AS (SELECT CAST(sum(c) AS BIGINT) AS n, "
    "CAST(count(*) AS BIGINT) AS k FROM s) "
    "SELECT k AS n_sources, n AS n_docs, "
    "round(-sum((c / (1.0 * n)) * ln(c / (1.0 * n))), 4) AS shannon_h, "
    "round(exp(-sum((c / (1.0 * n)) * ln(c / (1.0 * n)))), 4) "
    "AS effective_sources "
    "FROM s, tot GROUP BY k, n HAVING n > 0"
)


def text_source_shannon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the corpus' source-share distribution and its
    exponential, the EFFECTIVE source count (Hill number of order 1) —
    completing the diversity triple with the staged HHI (order 2
    concentration) and Simpson (repeat-collision probability): exp(H)
    is the number a data-mixing recipe actually targets ("behave like
    N equal sources"), and the gap between exp(H) and the raw source
    count is the imbalance a ``sample_domain_mix`` temperature exists
    to close.

    Determinism: counts exact; each p·ln p term is an identical tree;
    the sum over |sources| rows rounds at 4 dp (the
    stat_kruskal_wallis reduce-order precedent — no verdict decided on
    it).

    Scale: one source aggregate (map-side combined), a 1-row reduce."""
    d = load_table(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(F.count("*").cast("long").alias("c"))
    tot = s.agg(
        F.sum("c").cast("long").alias("n"),
        F.count("*").cast("long").alias("k"),
    )
    j = s.crossJoin(F.broadcast(tot))
    p = F.col("c") / (1.0 * F.col("n"))
    h = -F.sum(p * F.log(p))
    return (
        j.groupBy("k", "n")
        .agg(h.alias("h"))
        .where(F.col("n") > 0)
        .select(
            F.col("k").alias("n_sources"),
            F.col("n").alias("n_docs"),
            F.round(F.col("h"), 4).alias("shannon_h"),
            F.round(F.exp(F.col("h")), 4).alias("effective_sources"),
        )
    )


DEV_CASES = [
    ("scan_txn_log_asof", scan_txn_log_asof, SCAN_TXN_LOG_ASOF_ORACLE),
    ("dq_join_cardinality", dq_join_cardinality, DQ_JOIN_CARDINALITY_ORACLE),
    ("stat_partial_corr", stat_partial_corr, STAT_PARTIAL_CORR_ORACLE),
    ("agg_abc_analysis", agg_abc_analysis, AGG_ABC_ORACLE),
    ("text_source_shannon", text_source_shannon, TEXT_SOURCE_SHANNON_ORACLE),
]
