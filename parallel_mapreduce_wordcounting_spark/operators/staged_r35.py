"""Variance-test / uniqueness / core-decomposition wave. Like every
``staged_r*`` module with ``DEV_CASES``, it registers itself on import: the
package root registers each ``(key, fn, oracle)`` entry.
tests/test_oracle_parity.py runs the fn-vs-DuckDB compare;
tests/test_staged_r35.py holds the independent property checks.

Contents:

- ``stat_levene`` — the Brown–Forsythe variance-equality test (Levene
  with group MEDIANS) across event types' value distributions — the
  precondition check ``stat_anova`` silently assumes (equal variances);
  run it first or the F-test's p-value is fiction.
- ``dq_key_uniqueness`` — candidate-key uniqueness census over a fixed
  key list (single and composite) — the profiler row that must be green
  before any merge_upsert/scd2 keys on a column.
- ``win_first_last_event`` — first/last value per entity BY EVENT TIME with
  the full-frame correction — ``last_value`` over the DEFAULT window
  frame (unbounded-preceding → current row) silently returns the
  CURRENT row; the op carries both the wrong-by-default and corrected
  forms so the driver hash certifies the footgun and its fix.
- ``graph_coreness`` — full k-core decomposition of the verified
  near-dup graph (coreness number per node, k ≤ 4 on this corpus) —
  the density stratification that separates template-farm cores from
  chain peripheries, generalizing the registered 2-core
  ``graph_kcore``.
- ``agg_weighted_median`` — the quantity-weighted median of line price:
  weighted quantiles via exact integer weight prefix sums over the
  aggregated value spine — the aggregate that answers "the typical
  UNIT sells at…" where the unweighted median answers "the typical
  LINE…".

Exactness doctrine: unchanged — Levene F is one double expression over
group-median deviations (medians interpolate identically; the deviation
sums are the wave's documented float-sum exception, absorbed by 4 dp
rounding); uniqueness, first/last, coreness and weighted-median
selection are exact integers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..pins import persisting, pin
from ..sources.loader import load_table
from .exact import money_cents, money_cents_sql

_D38 = "decimal(38,0)"

# --- Brown–Forsythe variance-equality test ----------------------------------------------

STAT_LEVENE_ORACLE = (
    "WITH v AS (SELECT event_type AS g, value AS x FROM events), "
    "med AS ("
    "  SELECT g, median(x) AS m FROM v GROUP BY g"
    "), z AS ("
    "  SELECT v.g, abs(v.x - med.m) AS z FROM v JOIN med ON v.g = med.g"
    "), pg AS ("
    "  SELECT g, CAST(count(*) AS BIGINT) AS n, sum(z) AS sz, "
    "  sum(z * z) AS szz FROM z GROUP BY g"
    "), tot AS ("
    "  SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n) AS BIGINT) AS nn, "
    "  sum(sz) AS tsz FROM pg"
    "), parts AS ("
    "  SELECT k, nn, "
    "  sum(n * (sz / n - tsz / nn) * (sz / n - tsz / nn)) AS ssb, "
    "  sum(szz - sz * sz / n) AS ssw FROM pg, tot GROUP BY k, nn, tsz"
    ") SELECT k AS n_groups, nn AS n, "
    "round((ssb / (k - 1.0)) / nullif(ssw / (nn - k), 0.0), 4) AS f_stat "
    "FROM parts WHERE k > 1 AND nn > k"
)


def stat_levene(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Brown–Forsythe test (Levene 1960 with Brown & Forsythe's 1974
    median centers) for EQUALITY OF VARIANCES across the five event
    types' value distributions: transform each value to its absolute
    deviation from the GROUP MEDIAN, then one-way ANOVA on the
    deviations — F = [SSB/(k−1)] / [SSW/(N−k)]. This is the
    precondition ``stat_anova``'s F-test silently assumes; when Levene
    rejects, Welch's correction (``stat_welch_ttest``) is the honest
    pairwise follow-up. Median centers (not means) keep the test robust
    to the heavy tails this fixture's value column actually has.

    Determinism: group medians interpolate identically on both engines
    (the percentile(0.5) convention established by
    event_anomaly_seasonal); the deviation sums are DOUBLES (documented
    doctrine exception — ulp·√n noise absorbed by the 4 dp rounding of
    the single F output; no verdict column is decided on them).

    Scale: one median per group (at production scale, swap in
    agg_percentile_iterative's histogram narrowing — same contract),
    one deviation scan, two nested aggregates over k=5 group rows."""
    v = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("g"), F.col("value").alias("x")
    )
    med = v.groupBy("g").agg(F.expr("percentile(x, 0.5)").alias("m"))
    z = v.join(med, "g").select("g", F.abs(F.col("x") - F.col("m")).alias("z"))
    pg = z.groupBy("g").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("z").alias("sz"),
        F.sum(F.col("z") * F.col("z")).alias("szz"),
    )
    tot = pg.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("n").cast("long").alias("nn"),
        F.sum("sz").alias("tsz"),
    )
    j = pg.crossJoin(F.broadcast(tot))
    dev = F.col("sz") / F.col("n") - F.col("tsz") / F.col("nn")
    parts = j.groupBy("k", "nn", "tsz").agg(
        F.sum(F.col("n") * dev * dev).alias("ssb"),
        F.sum(F.col("szz") - F.col("sz") * F.col("sz") / F.col("n")).alias(
            "ssw"
        ),
    )
    return parts.where((F.col("k") > 1) & (F.col("nn") > F.col("k"))).select(
        F.col("k").alias("n_groups"),
        F.col("nn").alias("n"),
        F.round(
            (F.col("ssb") / (F.col("k") - 1.0))
            / F.nullif(F.col("ssw") / (F.col("nn") - F.col("k")), F.lit(0.0)),
            4,
        ).alias("f_stat"),
    )


# --- candidate-key uniqueness census ------------------------------------------------------


def _key_sql(name: str, table: str, cols: str) -> str:
    return (
        f"SELECT '{name}' AS candidate_key, "
        "CAST(count(*) AS BIGINT) AS n_rows, "
        f"CAST(count(DISTINCT ({cols})) AS BIGINT) AS n_distinct, "
        f"count(*) = count(DISTINCT ({cols})) AS is_unique "
        f"FROM {table}"
    )


DQ_KEY_UNIQUENESS_ORACLE = " UNION ALL ".join(
    [
        _key_sql("orders.o_orderkey", "orders", "o_orderkey"),
        _key_sql(
            "lineitem.(l_orderkey,l_linenumber)",
            "lineitem",
            "l_orderkey, l_linenumber",
        ),
        _key_sql("lineitem.l_orderkey", "lineitem", "l_orderkey"),
        _key_sql("documents.doc_id", "documents", "doc_id"),
        _key_sql("events.user_id", "events", "user_id"),
    ]
)


def dq_key_uniqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-key uniqueness census over a fixed key list — single
    columns AND the composite (l_orderkey, l_linenumber) — reporting
    row count, distinct count and the uniqueness verdict per candidate:
    the profiler row that must be green BEFORE ``merge_upsert``,
    ``scd2_build`` or any join fans out on a column assumed unique.
    The list deliberately includes keys that FAIL here (l_orderkey
    alone, events.user_id) so the census demonstrably distinguishes.

    Determinism: pure exact counting (composite distinctness via the
    column tuple on both engines).

    Scale: one count-distinct aggregate per candidate — each a
    map-side-combined hash aggregate; the candidate list is constant."""

    def key(name: str, df: DataFrame, cols: list) -> DataFrame:
        return df.agg(
            F.lit(name).alias("candidate_key"),
            F.count("*").cast("long").alias("n_rows"),
            F.countDistinct(*[F.col(c) for c in cols])
            .cast("long")
            .alias("n_distinct"),
            (F.count("*") == F.countDistinct(*[F.col(c) for c in cols])).alias(
                "is_unique"
            ),
        )

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "events")
    return (
        key("orders.o_orderkey", o, ["o_orderkey"])
        .unionByName(
            key(
                "lineitem.(l_orderkey,l_linenumber)",
                li,
                ["l_orderkey", "l_linenumber"],
            )
        )
        .unionByName(key("lineitem.l_orderkey", li, ["l_orderkey"]))
        .unionByName(key("documents.doc_id", d, ["doc_id"]))
        .unionByName(key("events.user_id", e, ["user_id"]))
    )


# --- first/last value with the frame correction ---------------------------------------------

WIN_FIRST_LAST_ORACLE = (
    "WITH e AS ("
    "  SELECT user_id, CAST(epoch_ns(ts) // 1000 AS BIGINT) AS us, "
    "  event_type, event_id FROM events"
    "), w AS ("
    "  SELECT user_id, "
    "  first_value(event_type) OVER (PARTITION BY user_id "
    "    ORDER BY us, event_id) AS first_type, "
    "  last_value(event_type) OVER (PARTITION BY user_id "
    "    ORDER BY us, event_id) AS last_type_default_frame, "
    "  last_value(event_type) OVER (PARTITION BY user_id ORDER BY us, "
    "    event_id ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)"
    "    AS last_type, "
    "  row_number() OVER (PARTITION BY user_id ORDER BY us, event_id) AS rn,"
    "  count(*) OVER (PARTITION BY user_id) AS cnt, event_type"
    "  FROM e"
    ") SELECT user_id, first_type, last_type, "
    "CAST(cnt AS BIGINT) AS n_events, "
    "last_type_default_frame = event_type AS default_frame_returns_self "
    "FROM w WHERE rn = 1"
)


def win_first_last_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First and last event type per user BY EVENT TIME — carrying BOTH
    forms of ``last_value``: the DEFAULT-frame form (whose frame ends at
    the CURRENT ROW, so it silently returns the current row's own value
    — the classic window footgun) and the corrected full-frame form
    (ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING). The
    output's ``default_frame_returns_self`` column is TRUE on every row
    by that semantics, so the driver hash CERTIFIES the footgun exists
    and that the corrected column is the one to trust — executable
    documentation of a bug class, not just avoidance of it.

    Determinism: total order (ts, event_id) per user; string picks are
    exact.

    Scale: one hash-partition-by-user window pass (the single shuffle
    any per-entity first/last costs)."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        "event_type",
        "event_id",
    )
    wo = Window.partitionBy("user_id").orderBy("us", "event_id")
    wfull = wo.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    w = e.select(
        "user_id",
        "event_type",
        F.first("event_type").over(wo).alias("first_type"),
        F.last("event_type").over(wo).alias("last_type_default_frame"),
        F.last("event_type").over(wfull).alias("last_type"),
        F.row_number().over(wo).alias("rn"),
        F.count("*").over(
            Window.partitionBy("user_id")
        ).alias("cnt"),
    )
    return w.where(F.col("rn") == 1).select(
        "user_id",
        "first_type",
        "last_type",
        F.col("cnt").cast("long").alias("n_events"),
        (F.col("last_type_default_frame") == F.col("event_type")).alias(
            "default_frame_returns_self"
        ),
    )


# --- full k-core decomposition -----------------------------------------------------------------

_CORENESS_KMAX = 4
_CORENESS_ROUNDS = 8


def _coreness_oracle() -> str:
    from .dedup import SHINGLES_CTE, oracle_jaccard_pairs_select

    sql = (
        f"{SHINGLES_CTE}, "
        f"p AS ({oracle_jaccard_pairs_select(0.3)}"
        "), ek0r0 AS MATERIALIZED ("
        "  SELECT da AS u, db AS v FROM p UNION ALL SELECT db, da FROM p"
        ")"
    )
    prev_final = "ek0r0"
    finals = []
    for k in range(1, _CORENESS_KMAX + 1):
        cur = prev_final
        for r in range(1, _CORENESS_ROUNDS + 1):
            nxt = f"ek{k}r{r}"
            sql += (
                f", n{nxt} AS MATERIALIZED (SELECT u FROM {cur} GROUP BY u "
                f"  HAVING count(*) >= {k})"
                f", {nxt} AS MATERIALIZED ("
                f"  SELECT e.u, e.v FROM {cur} e "
                f"  JOIN n{nxt} a ON e.u = a.u JOIN n{nxt} b ON e.v = b.u)"
            )
            cur = nxt
        finals.append((k, cur))
        prev_final = cur
    members = " UNION ALL ".join(
        f"SELECT u, {k} AS k FROM (SELECT DISTINCT u FROM {cte})"
        for k, cte in finals
    )
    return sql + (
        f" SELECT u AS doc_id, CAST(max(k) AS BIGINT) AS coreness "
        f"FROM ({members}) GROUP BY u"
    )


GRAPH_CORENESS_ORACLE = _coreness_oracle()


def graph_coreness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full k-core decomposition of the verified near-dup graph: each
    node's CORENESS (the largest k for which it survives iterated
    degree-k peeling; k ≤ 4 bounds this corpus, asserted in tests) —
    the density stratification that generalizes the registered 2-core
    ``graph_kcore``: coreness-1 nodes are chain peripheries (safe to
    keep-one), coreness-3+ nodes sit in cyclically-woven template farms
    (audit before deleting). Each k-core computes by peeling the
    PREVIOUS core (monotone: the (k+1)-core ⊆ k-core), so total work is
    K_MAX fixpoint loops on monotonically shrinking edge sets.

    Determinism: pure integer degree peeling; the oracle unrolls
    8 MATERIALIZED rounds per k (the graph_kcore
    fixpoint-inside-unroll proof pattern — tests assert each unroll
    reached its fixpoint), Spark iterates to the true fixpoint.

    Scale: the MinHash pair set persists once (graph_modularity
    precedent, released on exit); each peel round is one degree
    aggregate + two semi-joins, edge-linear."""
    from .dedup import dedup_fuzzy_minhash

    with persisting() as keep:
        p = keep(dedup_fuzzy_minhash(spark, sf_dir).select("doc_id_a", "doc_id_b"))
        p.count()
        edges = p.select(
            F.col("doc_id_a").alias("u"), F.col("doc_id_b").alias("v")
        ).unionByName(
            p.select(F.col("doc_id_b").alias("u"), F.col("doc_id_a").alias("v"))
        )
        result = None
        cur = edges
        for k in range(1, _CORENESS_KMAX + 1):
            prev_cnt = cur.count()
            for _ in range(64):  # backstop far above any real peel depth
                if prev_cnt == 0:
                    break
                core = (
                    cur.groupBy("u")
                    .agg(F.count("*").alias("d"))
                    .where(F.col("d") >= k)
                    .select("u")
                )
                # pin per round (the min_label_propagation / graph_kcore
                # pattern): without it every count() re-runs all prior rounds
                # across ALL k values — O(total-rounds²) recompute and an
                # unboundedly deep plan
                nxt = pin(
                    cur.join(core, "u", "semi").join(
                        core.select(F.col("u").alias("v")), "v", "semi"
                    )
                )
                cnt = nxt.count()
                if cnt == prev_cnt:
                    break
                cur, prev_cnt = nxt, cnt
            members = cur.select("u").distinct().select(
                "u", F.lit(k).alias("k")
            )
            result = members if result is None else result.unionByName(members)
        out = result.groupBy(F.col("u").alias("doc_id")).agg(
            F.max("k").cast("long").alias("coreness")
        )
        return pin(out)


# --- weighted median --------------------------------------------------------------------------

AGG_WEIGHTED_MEDIAN_ORACLE = (
    "WITH d AS ("
    f"  SELECT {money_cents_sql('l_extendedprice')} AS v, "
    "  CAST(l_quantity AS BIGINT) AS w FROM lineitem"
    "), pts AS ("
    "  SELECT v, CAST(sum(w) AS BIGINT) AS w FROM d GROUP BY v"
    "), r AS ("
    "  SELECT v, w, CAST(coalesce(sum(w) OVER (ORDER BY v ROWS BETWEEN "
    "  UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s FROM pts"
    "), tw AS (SELECT CAST(sum(w) AS BIGINT) AS t FROM pts) "
    "SELECT t AS total_weight, "
    "round((SELECT v FROM r, tw WHERE 2 * s < t AND t <= 2 * (s + w)) "
    "/ 100.0, 2) AS weighted_median, "
    "round((SELECT CAST(sum(CAST(v AS HUGEINT) * w) AS DOUBLE) / sum(w) "
    "FROM d) / 100.0, 6) AS weighted_mean "
    "FROM tw WHERE t > 0"
)


def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The QUANTITY-WEIGHTED median of line price (the lower weighted
    median: the smallest value v whose cumulative weight reaches half
    the total — 2·s < T ≤ 2·(s+w) in exact integers), beside the
    weighted mean — answering "the typical UNIT sells at…" where the
    unweighted median answers "the typical LINE…"; the aggregate that
    payroll/price-index pipelines need and plain percentile cannot
    express. Selection uses the no-global-sort bucket-prefix lookup
    (stat_median_ci machinery, with weights).

    Determinism: all-integer cumulative-weight selection; the weighted
    mean is one division of exact decimal(38) sums.

    Scale: one value group-by absorbs the rows; the prefix window rides
    the distinct-value spine."""
    d = load_table(spark, sf_dir, "lineitem").select(
        money_cents(F.col("l_extendedprice")).alias("v"),
        F.col("l_quantity").cast("long").alias("w"),
    )
    pts = d.groupBy("v").agg(F.sum("w").cast("long").alias("w"))
    wp = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    r = pts.select(
        "v",
        "w",
        F.coalesce(F.sum("w").over(wp), F.lit(0)).cast("long").alias("s"),
    )
    tw = pts.agg(F.sum("w").cast("long").alias("t"))
    med = (
        r.crossJoin(F.broadcast(tw))
        .where((2 * F.col("s") < F.col("t")) & (F.col("t") <= 2 * (F.col("s") + F.col("w"))))
        .select(F.col("t"), F.round(F.col("v") / 100.0, 2).alias("wm"))
    )
    mean = d.agg(
        (
            F.sum(F.col("v").cast(_D38) * F.col("w")).cast("double")
            / F.sum("w")
        ).alias("wmean")
    )
    return (
        med.crossJoin(F.broadcast(mean))
        .where(F.col("t") > 0)
        .select(
            F.col("t").alias("total_weight"),
            F.col("wm").alias("weighted_median"),
            F.round(F.col("wmean") / 100.0, 6).alias("weighted_mean"),
        )
    )


DEV_CASES = [
    ("stat_levene", stat_levene, STAT_LEVENE_ORACLE),
    ("dq_key_uniqueness", dq_key_uniqueness, DQ_KEY_UNIQUENESS_ORACLE),
    # key renamed in round 10 (was win_first_last): windows.py already
    # registers a DIFFERENT operator under that name (orders-table
    # first/nth/last), and the idempotent registration block would have
    # silently skipped this one at its round-11 promotion
    ("win_first_last_event", win_first_last_event, WIN_FIRST_LAST_ORACLE),
    ("graph_coreness", graph_coreness, GRAPH_CORENESS_ORACLE),
    ("agg_weighted_median", agg_weighted_median, AGG_WEIGHTED_MEDIAN_ORACLE),
]
