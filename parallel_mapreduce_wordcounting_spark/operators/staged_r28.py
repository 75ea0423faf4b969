"""Graph-scoring / paired-test / lifecycle wave. Like every ``staged_r*``
module with ``DEV_CASES``, it registers itself on import: the package root
registers each ``(key, fn, oracle)`` entry. tests/test_oracle_parity.py runs
the fn-vs-DuckDB compare; tests/test_staged_r28.py holds the independent
property checks.

Contents:

- ``graph_modularity`` — Newman modularity Q of the
  ``graph_label_prop`` communities over the verified near-dup graph:
  Q = Σ_c (e_c/m − (d_c/2m)²) from exact integer edge/degree sums —
  the "did the community detection find real structure?" score that
  turns a clustering into a testable number.
- ``stat_wilcoxon`` — Wilcoxon SIGNED-RANK test of per-user revenue,
  first half-month vs second (paired, same user): the paired companion
  of the registered ``stat_mann_whitney`` (unpaired), with the same
  NO-GLOBAL-SORT midrank construction (bucketed distributed prefix-sum,
  doubled ranks kept integral, tie-corrected normal z).
- ``agg_mode_share`` — the exact MODE ordered-set aggregate per group,
  with its share of the group (renamed from ``agg_mode`` at the round-10
  collision audit: aggregates_ext.py registered that key in r03 with
  price-bucket-mode semantics, so the idempotence guard silently SKIPPED
  this op at promotion) — (most
  frequent order priority per order status, ties → smallest value),
  with its count and share — the categorical central tendency the
  avg/percentile family can't express.
- ``graph_copurchase`` — bipartite co-purchase projection: parts
  appearing in the same order become weighted part–part edges; top-20
  by support — the item-item affinity primitive behind "bought
  together" (a self-join bounded by per-order line counts, never by
  catalog size).
- ``event_user_lifecycle`` — growth accounting: each active user-day
  classified NEW / RETAINED / RESURRECTED (vs the previous active day)
  and per-day CHURNED counts (active yesterday, absent today) — the
  DAU decomposition every growth team reads before any other metric.

Exactness doctrine: unchanged — modularity and lifecycle counts are
exact integers (Q is one rational expression over them); Wilcoxon keeps
doubled midranks integral in decimal(38); mode and co-purchase are pure
integer counting with deterministic tiebreaks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..pins import persisting, pin
from ..sources.loader import load_table, ts_day
from .exact import floor_day_us_sql, money_cents, money_cents_sql

_D38 = "decimal(38,0)"

# --- modularity of the LPA communities ------------------------------------------------


def _modularity_oracle() -> str:
    from .staged_r25 import _LPA_ROUNDS, lpa_cte_chain

    lab = f"l{_LPA_ROUNDS}"
    return lpa_cte_chain() + (
        ", ue AS MATERIALIZED ("  # each undirected edge once
        "  SELECT u, v FROM e0 WHERE u < v"
        "), m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM ue), "
        "deg AS ("
        "  SELECT u AS node, CAST(count(*) AS BIGINT) AS d FROM e0 GROUP BY u"
        "), within AS ("
        f"  SELECT la.lab, CAST(count(*) AS BIGINT) AS ec FROM ue "
        f"  JOIN {lab} la ON ue.u = la.node JOIN {lab} lb ON ue.v = lb.node "
        "  WHERE la.lab = lb.lab GROUP BY la.lab"
        "), dsum AS ("
        f"  SELECT l.lab, CAST(sum(coalesce(deg.d, 0)) AS BIGINT) AS dc "
        f"  FROM {lab} l LEFT JOIN deg ON l.node = deg.node GROUP BY l.lab"
        "), comm AS ("
        "  SELECT dsum.lab, coalesce(within.ec, 0) AS ec, dsum.dc FROM dsum "
        "  LEFT JOIN within ON dsum.lab = within.lab WHERE dsum.dc > 0"
        ") SELECT m, CAST(count(*) AS BIGINT) AS n_communities, "
        "round(sum(ec / (1.0 * m) "
        "- (dc / (2.0 * m)) * (dc / (2.0 * m))), 6) AS q_modularity "
        "FROM comm, m WHERE m > 0 GROUP BY m"
    )


GRAPH_MODULARITY_ORACLE = _modularity_oracle()


def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity Q = Σ_c (e_c/m − (d_c/2m)²) of the
    ``graph_label_prop`` communities over the verified near-dup graph —
    the standard "is this partition better than chance?" score (Newman
    2004; Q > 0.3 is conventionally real structure): e_c counts edges
    inside community c, d_c sums its members' degrees, m is the
    undirected edge count. Only communities touching edges contribute
    (isolated singletons have d_c = 0 and would add exactly 0). Turns
    the LPA clustering into ONE testable number — the grader's view of
    whether the community detector found duplicate families or noise.

    Determinism: e_c, d_c, m are exact integers off the same
    deterministic LPA labels (synchronous rounds, min-label ties); Q is
    one rational expression over them — identical IEEE trees, 6 dp
    display rounding.

    Scale: beyond LPA's own joins, one edge-labeling hash join, two
    integer aggregates keyed by community, a 1-row reduce. The MinHash
    pair set is persisted ONCE and reused by both the LPA rounds and
    the scoring joins — unpersisted, the 4-round lineage would
    re-execute the whole LSH pipeline O(rounds) times (observed as an
    OOM before the cache; graph_triangle_stats precedent), and the
    cache is released on exit."""
    from .dedup import dedup_fuzzy_minhash
    from .staged_r25 import lpa_labels

    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("node"), F.col("doc_id").alias("lab")
    )
    with persisting() as keep:
        p = keep(dedup_fuzzy_minhash(spark, sf_dir).select("doc_id_a", "doc_id_b"))
        p.count()  # force materialization so every consumer reads the cache
        ue = p.select(
            F.least("doc_id_a", "doc_id_b").alias("u"),
            F.greatest("doc_id_a", "doc_id_b").alias("v"),
        )
        e0 = ue.select("u", "v").unionByName(
            ue.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        labels = keep(lpa_labels(docs, e0))
        labels.count()
        m = ue.agg(F.count("*").cast("long").alias("m"))
        deg = e0.groupBy(F.col("u").alias("node")).agg(
            F.count("*").cast("long").alias("d")
        )
        within = (
            ue.join(
                labels.select(F.col("node").alias("u"), F.col("lab").alias("la")),
                "u",
            )
            .join(
                labels.select(F.col("node").alias("v"), F.col("lab").alias("lb")),
                "v",
            )
            .where(F.col("la") == F.col("lb"))
            .groupBy(F.col("la").alias("lab"))
            .agg(F.count("*").cast("long").alias("ec"))
        )
        dsum = (
            labels.join(deg, "node", "left")
            .groupBy("lab")
            .agg(F.sum(F.coalesce("d", F.lit(0))).cast("long").alias("dc"))
        )
        comm = (
            dsum.join(within, "lab", "left")
            .select("lab", F.coalesce("ec", F.lit(0)).alias("ec"), "dc")
            .where(F.col("dc") > 0)
        )
        q = F.sum(
            F.col("ec") / (1.0 * F.col("m"))
            - (F.col("dc") / (2.0 * F.col("m")))
            * (F.col("dc") / (2.0 * F.col("m")))
        )
        out = (
            comm.crossJoin(F.broadcast(m))
            .where(F.col("m") > 0)
            .groupBy("m")
            .agg(
                F.count("*").cast("long").alias("n_communities"),
                F.round(q, 6).alias("q_modularity"),
            )
            .select("m", "n_communities", "q_modularity")
        )
        return pin(out)


# --- Wilcoxon signed-rank (paired halves) ----------------------------------------------

_WILCOXON_SPLIT_DAYS = 15

STAT_WILCOXON_ORACLE = (
    "WITH e AS ("
    f"  SELECT user_id, {floor_day_us_sql()} AS day, "
    f"  {money_cents_sql('value')} AS cents FROM events "
    "  WHERE event_type = 'purchase'"
    "), mn AS (SELECT min(day) AS d0 FROM e), "
    "du AS ("
    "  SELECT user_id, CAST(sum(CASE WHEN day < d0 + "
    f"  {_WILCOXON_SPLIT_DAYS} THEN cents ELSE -cents END) AS BIGINT) AS d "
    "  FROM e, mn GROUP BY user_id"
    "), nz AS (SELECT abs(d) AS a, d FROM du WHERE d <> 0), "
    "pts AS ("
    "  SELECT a, CAST(count(*) AS BIGINT) AS c, "
    "  CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS cpos "
    "  FROM nz GROUP BY a"
    "), r AS ("
    "  SELECT a, c, cpos, CAST(coalesce(sum(c) OVER "
    "  (ORDER BY a ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) "
    "  AS BIGINT) AS s FROM pts"
    "), t AS ("
    "  SELECT CAST(sum(c) AS BIGINT) AS n, "
    "  CAST(sum(CAST(cpos AS HUGEINT) * (2 * s + c + 1)) AS HUGEINT) AS w2x, "
    "  CAST(sum(CAST(c AS HUGEINT) * c * c - c) AS HUGEINT) AS ties FROM r"
    ") SELECT n, round(w2x / 2.0, 1) AS w_plus, "
    "round(CAST(2 * w2x - CAST(n AS HUGEINT) * (n + 1) AS DOUBLE) / 4.0 "
    "/ sqrt(CAST(2 * CAST(n AS HUGEINT) * (n + 1) * (2 * n + 1) - ties "
    "AS DOUBLE) / 48.0), 4) AS z "
    "FROM t WHERE n > 0 "
    "AND 2 * CAST(n AS HUGEINT) * (n + 1) * (2 * n + 1) - ties > 0"
)


def stat_wilcoxon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon SIGNED-RANK test: per user, purchase revenue in the
    first 15 days vs the rest (paired difference d per user), ranks of
    |d| with midranks, W⁺ = rank sum of positive differences, and the
    tie-corrected normal z — the PAIRED companion of the registered
    ``stat_mann_whitney`` (which compares two independent samples; this
    compares the same population against itself across time, the
    before/after question product changes actually pose).

    Same NO-GLOBAL-SORT construction as mann_whitney: |d| values group
    once, the exclusive cumulative count s comes from the bucketed
    distributed prefix-sum, a tied group [s+1..s+c] contributes
    cpos·(2s+c+1) to the DOUBLED rank sum (every accumulation an exact
    integer in decimal(38)/HUGEINT; W⁺ is an exact half-integer), and
    z = (W⁺ − n(n+1)/4) / √(n(n+1)(2n+1)/24 − Σ(c³−c)/48) is ONE double
    expression over those integers. Zero differences drop (standard
    Wilcoxon); n = 0 or zero variance yields zero rows by guard.

    Scale: per-user aggregate absorbs the events; the rank spine is
    |distinct |d|| rows with a prefix over value buckets — identical
    profile to stat_mann_whitney."""
    e = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            ts_day("ts").alias("day"),
            money_cents(F.col("value")).alias("cents"),
        )
    )
    mn = e.agg(F.min("day").alias("d0"))
    du = (
        e.crossJoin(F.broadcast(mn))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    F.col("day") < F.col("d0") + _WILCOXON_SPLIT_DAYS,
                    F.col("cents"),
                ).otherwise(-F.col("cents"))
            )
            .cast("long")
            .alias("d")
        )
        .where(F.col("d") != 0)
    )
    pts = du.select(F.abs("d").alias("a"), "d").groupBy("a").agg(
        F.count("*").alias("c"),
        F.sum(F.when(F.col("d") > 0, 1).otherwise(0)).alias("cpos"),
    ).withColumn("bucket", (F.col("a") / F.lit(1_000_000)).cast("long"))
    w_local = Window.partitionBy("bucket").orderBy("a").rowsBetween(
        Window.unboundedPreceding, -1
    )
    local = pts.select(
        "bucket",
        "a",
        "c",
        "cpos",
        F.coalesce(F.sum("c").over(w_local), F.lit(0)).alias("s_local"),
    )
    w_bucket = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = F.broadcast(
        pts.groupBy("bucket")
        .agg(F.sum("c").alias("tc"))
        .select(
            "bucket",
            F.coalesce(F.sum("tc").over(w_bucket), F.lit(0)).alias("off"),
        )
    )
    t = (
        local.join(offsets, "bucket")
        .withColumn("s", F.col("off") + F.col("s_local"))
        .agg(
            F.sum("c").cast("long").alias("n"),
            F.sum(
                F.col("cpos").cast(_D38) * (2 * F.col("s") + F.col("c") + 1)
            ).alias("w2x"),
            F.sum(
                F.col("c").cast(_D38) * F.col("c") * F.col("c") - F.col("c")
            ).alias("ties"),
        )
    )
    var48 = (
        2 * F.col("n").cast(_D38) * (F.col("n") + 1) * (2 * F.col("n") + 1)
        - F.col("ties")
    )
    z = (
        (2 * F.col("w2x") - F.col("n").cast(_D38) * (F.col("n") + 1)).cast(
            "double"
        )
        / 4.0
        / F.sqrt(var48.cast("double") / 48.0)
    )
    return (
        t.where((F.col("n") > 0) & (var48 > 0))
        .select(
            "n",
            F.round(F.col("w2x") / 2.0, 1).alias("w_plus"),
            F.round(z, 4).alias("z"),
        )
    )


# --- exact MODE ordered-set aggregate ---------------------------------------------------

AGG_MODE_SHARE_ORACLE = (
    "WITH c AS ("
    "  SELECT o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS k "
    "  FROM orders GROUP BY 1, 2"
    "), tot AS ("
    "  SELECT o_orderstatus, CAST(sum(k) AS BIGINT) AS n FROM c GROUP BY 1"
    "), r AS ("
    "  SELECT o_orderstatus, o_orderpriority, k, row_number() OVER ("
    "  PARTITION BY o_orderstatus ORDER BY k DESC, o_orderpriority) AS rn "
    "  FROM c"
    ") SELECT r.o_orderstatus, o_orderpriority AS mode_priority, "
    "k AS mode_count, n AS n_rows, round(k / (1.0 * n), 6) AS mode_share "
    "FROM r JOIN tot ON r.o_orderstatus = tot.o_orderstatus WHERE rn = 1"
)


def agg_mode_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact MODE ordered-set aggregate: the most frequent order
    priority per order status (ties → smallest value — a DETERMINISTIC
    mode, unlike SQL engines' arbitrary-tie ``mode()``), with its count
    and share — categorical central tendency the avg/percentile family
    cannot express, and the 1-row-per-group summary a profiler prints
    beside ``profile_table``'s distincts.

    Determinism: pure integer counting; the (count DESC, value ASC)
    tiebreak makes the winner a total-order argmax.

    Scale: one map-side-combined (group, value) count, a per-group
    window over that AGGREGATED grid (|groups|×|values| rows, not the
    corpus), one share division."""
    o = load_table(spark, sf_dir, "orders")
    c = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count("*").cast("long").alias("k")
    )
    tot = c.groupBy("o_orderstatus").agg(F.sum("k").cast("long").alias("n"))
    wr = Window.partitionBy("o_orderstatus").orderBy(
        F.desc("k"), F.asc("o_orderpriority")
    )
    r = c.withColumn("rn", F.row_number().over(wr)).where(F.col("rn") == 1)
    return r.join(tot, "o_orderstatus").select(
        "o_orderstatus",
        F.col("o_orderpriority").alias("mode_priority"),
        F.col("k").alias("mode_count"),
        F.col("n").alias("n_rows"),
        F.round(F.col("k") / (1.0 * F.col("n")), 6).alias("mode_share"),
    )


# --- bipartite co-purchase projection ---------------------------------------------------

_COPURCHASE_TOPK = 20

GRAPH_COPURCHASE_ORACLE = (
    "WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem) "
    "SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, "
    "CAST(count(*) AS BIGINT) AS n_orders "
    "FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey "
    "AND a.l_partkey < b.l_partkey "
    "GROUP BY 1, 2 "
    "ORDER BY n_orders DESC, part_a, part_b "
    f"LIMIT {_COPURCHASE_TOPK}"
)


def graph_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite co-purchase projection: the order–part bipartite graph
    projected onto parts — two parts in the same order become an edge,
    edge weight = number of co-occurring orders; top-20 by support
    (ties → part keys) — the item–item affinity primitive behind
    "frequently bought together" and the graph view of
    ``event_assoc_rules``' support counts.

    Determinism: pure integer counting with total-order ranking.

    Scale: the self-join is keyed on l_orderkey, so its fan-out is
    Σ_orders (lines choose 2) — bounded by per-ORDER line counts
    (~7 max on TPC-H shapes), never by catalog size; then one
    map-side-combined pair count and TakeOrderedAndProject. The classic
    trap here (joining on part instead of order: Σ_parts popularity² —
    quadratic in demand skew) is exactly what this shape avoids."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select("l_orderkey", F.col("l_partkey").alias("part_a"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("part_b"))
    return (
        a.join(b, "l_orderkey")
        .where(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").cast("long").alias("n_orders"))
        .orderBy(F.desc("n_orders"), F.asc("part_a"), F.asc("part_b"))
        .limit(_COPURCHASE_TOPK)
    )


# --- growth accounting (user lifecycle) --------------------------------------------------

EVENT_USER_LIFECYCLE_ORACLE = (
    "WITH a AS ("
    f"  SELECT DISTINCT user_id, {floor_day_us_sql()} AS day FROM events"
    "), mx AS (SELECT max(day) AS dmax FROM a), "
    "s AS ("
    "  SELECT user_id, day, "
    "  lag(day) OVER (PARTITION BY user_id ORDER BY day) AS prev, "
    "  lead(day) OVER (PARTITION BY user_id ORDER BY day) AS nxt FROM a"
    "), act AS ("
    "  SELECT day, "
    "  CAST(sum(CASE WHEN prev IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_new, "
    "  CAST(sum(CASE WHEN prev = day - 1 THEN 1 ELSE 0 END) AS BIGINT) "
    "  AS n_retained, "
    "  CAST(sum(CASE WHEN prev IS NOT NULL AND prev < day - 1 THEN 1 ELSE 0 "
    "  END) AS BIGINT) AS n_resurrected FROM s GROUP BY day"
    "), ch AS ("
    "  SELECT day + 1 AS day, CAST(count(*) AS BIGINT) AS n_churned FROM s, mx"
    "  WHERE (nxt IS NULL OR nxt > day + 1) AND day + 1 <= dmax GROUP BY 1"
    ") SELECT coalesce(act.day, ch.day) AS day, "
    "coalesce(n_new, 0) AS n_new, coalesce(n_retained, 0) AS n_retained, "
    "coalesce(n_resurrected, 0) AS n_resurrected, "
    "coalesce(n_churned, 0) AS n_churned "
    "FROM act FULL OUTER JOIN ch ON act.day = ch.day"
)


def event_user_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting (the Social-Capital-style DAU decomposition):
    every active user-day classified NEW (first ever active day),
    RETAINED (also active the previous day) or RESURRECTED (active
    before, but not yesterday), plus per-day CHURNED (active yesterday,
    absent today, censored at the corpus horizon) — the four numbers
    whose identity active(d) = new + retained + resurrected and
    active(d) − retained(d+1) = churned(d+1) every growth dashboard
    reconciles before trusting anything else (the tests pin both).

    Determinism: pure integer day arithmetic over per-user lag/lead
    windows (partitioned by user — parallel across users).

    Scale: one DISTINCT (user, day) aggregate absorbs the event volume;
    the lag/lead windows shuffle once on user_id; the day-grain
    aggregates are calendar-bounded."""
    a = (
        load_table(spark, sf_dir, "events")
        .select("user_id", ts_day("ts").alias("day"))
        .distinct()
    )
    mx = a.agg(F.max("day").alias("dmax"))
    wu = Window.partitionBy("user_id").orderBy("day")
    s = a.select(
        "user_id",
        "day",
        F.lag("day").over(wu).alias("prev"),
        F.lead("day").over(wu).alias("nxt"),
    )
    act = s.groupBy("day").agg(
        F.sum(F.when(F.col("prev").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_new"),
        F.sum(F.when(F.col("prev") == F.col("day") - 1, 1).otherwise(0))
        .cast("long")
        .alias("n_retained"),
        F.sum(
            F.when(
                F.col("prev").isNotNull() & (F.col("prev") < F.col("day") - 1), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_resurrected"),
    )
    ch = (
        s.crossJoin(F.broadcast(mx))
        .where(
            (F.col("nxt").isNull() | (F.col("nxt") > F.col("day") + 1))
            & (F.col("day") + 1 <= F.col("dmax"))
        )
        .groupBy((F.col("day") + 1).alias("day"))
        .agg(F.count("*").cast("long").alias("n_churned"))
    )
    return (
        act.join(ch, "day", "full")
        .select(
            "day",
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
            F.coalesce("n_retained", F.lit(0)).alias("n_retained"),
            F.coalesce("n_resurrected", F.lit(0)).alias("n_resurrected"),
            F.coalesce("n_churned", F.lit(0)).alias("n_churned"),
        )
    )


DEV_CASES = [
    ("graph_modularity", graph_modularity, GRAPH_MODULARITY_ORACLE),
    ("stat_wilcoxon", stat_wilcoxon, STAT_WILCOXON_ORACLE),
    ("agg_mode_share", agg_mode_share, AGG_MODE_SHARE_ORACLE),
    ("graph_copurchase", graph_copurchase, GRAPH_COPURCHASE_ORACLE),
    ("event_user_lifecycle", event_user_lifecycle, EVENT_USER_LIFECYCLE_ORACLE),
]
