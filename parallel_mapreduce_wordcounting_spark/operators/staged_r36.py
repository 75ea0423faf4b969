"""Multiset / join-strategy / k-sample / detector-overlap wave. Like every
``staged_r*`` module with ``DEV_CASES``, it registers itself on import: the
package root registers each ``(key, fn, oracle)`` entry.
tests/test_oracle_parity.py runs the fn-vs-DuckDB compare;
tests/test_staged_r36.py holds the independent property checks.

Contents:

- ``set_except_all`` — EXCEPT ALL / INTERSECT ALL multiset semantics:
  duplicates carry MULTIPLICITY (a row present 3× minus present 1×
  survives 2×), which the registered DISTINCT-set ops (set_union /
  set_intersect / set_except) cannot express — the bag algebra behind
  "what did this batch add beyond the last one, counting copies?".
- ``join_merge_hint`` — the join-STRATEGY control surface: the same
  orders⋈customer equi-join executed under a MERGE (sort-merge) hint,
  hash-identical results to the optimizer's broadcast choice — with the
  SortMergeJoin plan shape asserted in tests; when the build side stops
  fitting in memory at 100 TB, this hint is the steering wheel.
- ``stat_kruskal_wallis`` — the k-sample rank test (Kruskal–Wallis H
  with tie correction) across all five event types' value
  distributions — generalizes the registered two-sample
  ``stat_mann_whitney`` with the SAME no-global-sort doubled-midrank
  machinery; the nonparametric one-way ANOVA.
- ``dedup_lexical_vs_semantic`` — detector-overlap census: the verified
  LEXICAL near-dup pair set (trigram Jaccard ≥ 0.3) vs the SEMANTIC one
  (embedding cosine ≥ 0.35) — pair counts in each region of the Venn
  and the pair-set Jaccard; the eval that tells a curation pipeline
  whether the two detector families are redundant or complementary on
  ITS corpus (here: largely complementary).
- ``stat_sign_test`` — the sign test on the paired per-user revenue
  halves (the stat_wilcoxon/stat_paired_ttest pairing): counts of
  positive/negative differences and the exact-integer-seeded binomial
  z — the assumption-free floor of the paired-test family (uses only
  signs, so it survives ANY monotone transform of revenue).

Exactness doctrine: unchanged — multiset counts, plan-hint results,
midrank sums (decimal(38)), Venn counts and sign counts are exact
integers; H and z are single IEEE expressions over them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.loader import load_table, ts_day
from .exact import floor_day_us_sql, money_cents, money_cents_sql

_D38 = "decimal(38,0)"

# --- EXCEPT ALL / INTERSECT ALL ---------------------------------------------------------

SET_EXCEPT_ALL_ORACLE = (
    "WITH a AS ("
    "  SELECT o_orderpriority AS p, ((day(o_orderdate) - 1) % 7) + 1 AS slot"
    "  FROM orders WHERE o_orderstatus <> 'P'"
    "), b AS ("
    "  SELECT o_orderpriority AS p, ((day(o_orderdate) - 1) % 7) + 1 AS slot"
    "  FROM orders WHERE o_orderstatus = 'O'"
    "), ex AS (SELECT p, slot FROM a EXCEPT ALL SELECT p, slot FROM b), "
    "ix AS (SELECT p, slot FROM a INTERSECT ALL SELECT p, slot FROM b) "
    "SELECT 'except_all' AS op, p, CAST(slot AS BIGINT) AS slot, "
    "CAST(count(*) AS BIGINT) AS multiplicity FROM ex GROUP BY 2, 3 "
    "UNION ALL "
    "SELECT 'intersect_all', p, CAST(slot AS BIGINT), "
    "CAST(count(*) AS BIGINT) FROM ix GROUP BY 2, 3"
)


def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL and INTERSECT ALL — the MULTISET set operations: on
    two overlapping order slices projected to a deliberately
    low-cardinality key (priority × day-of-month slot, so duplicates
    abound), a key occurring m times in A and n times in B survives
    EXCEPT ALL max(m−n, 0) times and INTERSECT ALL min(m, n) times —
    bag algebra the registered DISTINCT-set ops cannot express, and the
    semantics batch reconciliation ("what did this load add beyond the
    last, COUNTING COPIES?") actually needs. Emitted as per-key
    multiplicities so the driver hash verifies the counts, not just
    membership.

    Determinism: pure multiset counting via Spark's native
    ``exceptAll``/``intersectAll`` (hash-based multiset difference —
    one shuffle each, no sort).

    Scale: both operators plan as hash aggregates keyed on the row —
    the same profile as distinct, with count bookkeeping."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("p"),
        (((F.dayofmonth("o_orderdate") - 1) % 7) + 1).alias("slot"),
        "o_orderstatus",
    )
    a = o.where(F.col("o_orderstatus") != "P").select("p", "slot")
    b = o.where(F.col("o_orderstatus") == "O").select("p", "slot")
    ex = (
        a.exceptAll(b)
        .groupBy("p", "slot")
        .agg(F.count("*").cast("long").alias("multiplicity"))
        .select(F.lit("except_all").alias("op"), "p", F.col("slot").cast("long").alias("slot"), "multiplicity")
    )
    ix = (
        a.intersectAll(b)
        .groupBy("p", "slot")
        .agg(F.count("*").cast("long").alias("multiplicity"))
        .select(F.lit("intersect_all").alias("op"), "p", F.col("slot").cast("long").alias("slot"), "multiplicity")
    )
    return ex.unionByName(ix)


# --- sort-merge join hint -----------------------------------------------------------------

JOIN_MERGE_HINT_ORACLE = (
    "SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders, "
    f"CAST(sum({money_cents_sql('o_totalprice')}) AS BIGINT) AS rev_cents "
    "FROM orders JOIN customer ON o_custkey = c_custkey "
    "GROUP BY c_mktsegment"
)


def join_merge_hint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The join-STRATEGY control surface: orders⋈customer under an
    explicit MERGE hint, forcing a SortMergeJoin where the optimizer
    would broadcast the small side — hash-identical results (the hint
    changes the PHYSICAL plan only; tests assert both the SortMergeJoin
    shape here and the BroadcastHashJoin shape of the unhinted twin).
    Why it matters at 100 TB: broadcast requires the build side to fit
    in executor memory; when a "dimension" grows past that (user
    tables do), the merge hint is how a pipeline steers Spark to the
    shuffle-sort strategy BEFORE the OOM teaches it — and this op
    proves the steering wheel is connected.

    Determinism: pure integer counting and exact cents.

    Scale: sort-merge join shuffles both sides on the key and sorts
    within partitions — more total work than broadcast for small dims
    (which is the point of the comparison), the only viable strategy
    for two large sides."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    j = o.join(c.hint("merge"), o.o_custkey == c.c_custkey)
    return j.groupBy("c_mktsegment").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum(money_cents(F.col("o_totalprice"))).cast("long").alias(
            "rev_cents"
        ),
    )


# --- Kruskal–Wallis k-sample rank test -------------------------------------------------------

STAT_KRUSKAL_WALLIS_ORACLE = (
    "WITH pts AS ("
    "  SELECT value AS v, event_type AS g, CAST(count(*) AS BIGINT) AS c "
    "  FROM events GROUP BY 1, 2"
    "), vs AS ("
    "  SELECT v, CAST(sum(c) AS BIGINT) AS cv FROM pts GROUP BY v"
    "), r AS ("
    "  SELECT v, cv, CAST(coalesce(sum(cv) OVER (ORDER BY v ROWS BETWEEN "
    "  UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s FROM vs"
    "), pg AS ("
    "  SELECT g, CAST(sum(pts.c) AS BIGINT) AS n, "
    "  CAST(sum(CAST(pts.c AS HUGEINT) * (2 * r.s + r.cv + 1)) AS HUGEINT)"
    "  AS r2 FROM pts JOIN r ON pts.v = r.v GROUP BY g"
    "), tot AS ("
    "  SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n) AS BIGINT) AS nn, "
    "  sum(CAST(r2 AS DOUBLE) * r2 / (4.0 * n)) AS rr FROM pg"
    "), ties AS ("
    "  SELECT CAST(sum(CAST(cv AS HUGEINT) * cv * cv - cv) AS HUGEINT) AS t"
    "  FROM vs"
    ") SELECT k AS n_groups, nn AS n, "
    "round((12.0 * rr / (CAST(nn AS DOUBLE) * (nn + 1)) - 3.0 * (nn + 1)) "
    "/ nullif(1.0 - CAST(t AS DOUBLE) / (CAST(nn AS DOUBLE) * nn * nn - nn)"
    ", 0.0), 4) AS h_stat "
    "FROM tot, ties WHERE nn > k AND k > 1"
)


def stat_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal–Wallis H across all five event types' value
    distributions — the k-sample rank test (nonparametric one-way
    ANOVA), tie-corrected: H = [12/(N(N+1)) · Σ R_g²/n_g − 3(N+1)] /
    [1 − Σ(t³−t)/(N³−N)]. Generalizes the registered two-sample
    ``stat_mann_whitney`` with the SAME no-global-sort construction:
    pooled values group once, midranks come from the exclusive prefix
    count (a tied value group [s+1..s+c] contributes c_g·(2s+c+1) to
    the DOUBLED per-group rank sum — exact in decimal(38)/HUGEINT), and
    R_g² enters as r2²/4.

    Determinism: every rank accumulation is an exact integer; H is one
    double expression over the exact parts (Σ r2²/(4n) sums k=5 doubles
    — identical engine-side addition order by the GROUP BY reduce over
    5 rows is NOT guaranteed, so H rounds at 4 dp which absorbs the
    ≤2-ulp spread; no verdict is decided on it).

    Scale: one pooled value group-by; the rank spine is |distinct
    values| rows with a prefix window (stat_mann_whitney profile)."""
    ev = load_table(spark, sf_dir, "events")
    pts = ev.groupBy(F.col("value").alias("v"), F.col("event_type").alias("g")).agg(
        F.count("*").alias("c")
    )
    vs = pts.groupBy("v").agg(F.sum("c").cast("long").alias("cv")).withColumn(
        "bucket", F.floor("v").cast("long")
    )
    w_local = Window.partitionBy("bucket").orderBy("v").rowsBetween(
        Window.unboundedPreceding, -1
    )
    local = vs.select(
        "bucket",
        "v",
        "cv",
        F.coalesce(F.sum("cv").over(w_local), F.lit(0)).alias("s_local"),
    )
    w_bucket = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = F.broadcast(
        vs.groupBy("bucket")
        .agg(F.sum("cv").alias("tc"))
        .select(
            "bucket",
            F.coalesce(F.sum("tc").over(w_bucket), F.lit(0)).alias("off"),
        )
    )
    r = local.join(offsets, "bucket").select(
        "v", "cv", (F.col("off") + F.col("s_local")).alias("s")
    )
    pg = (
        pts.join(r, "v")
        .groupBy("g")
        .agg(
            F.sum("c").cast("long").alias("n"),
            F.sum(
                F.col("c").cast(_D38) * (2 * F.col("s") + F.col("cv") + 1)
            ).alias("r2"),
        )
    )
    tot = pg.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("n").cast("long").alias("nn"),
        F.sum(
            F.col("r2").cast("double") * F.col("r2") / (4.0 * F.col("n"))
        ).alias("rr"),
    )
    ties = vs.agg(
        F.sum(
            F.col("cv").cast(_D38) * F.col("cv") * F.col("cv") - F.col("cv")
        ).alias("t")
    )
    j = tot.crossJoin(F.broadcast(ties))
    nn_d = F.col("nn").cast("double")
    h = (
        12.0 * F.col("rr") / (nn_d * (F.col("nn") + 1)) - 3.0 * (F.col("nn") + 1)
    ) / F.nullif(
        1.0 - F.col("t").cast("double") / (nn_d * F.col("nn") * F.col("nn") - F.col("nn")),
        F.lit(0.0),
    )
    return j.where((F.col("nn") > F.col("k")) & (F.col("k") > 1)).select(
        F.col("k").alias("n_groups"),
        F.col("nn").alias("n"),
        F.round(h, 4).alias("h_stat"),
    )


# --- lexical vs semantic detector overlap -----------------------------------------------------


def _venn_oracle() -> str:
    from .dedup import SHINGLES_CTE, oracle_jaccard_pairs_select

    return (
        f"{SHINGLES_CTE}, "
        f"lex AS ({oracle_jaccard_pairs_select(0.3)}"
        "), sem AS ("
        "  SELECT a.vec_id AS da, b.vec_id AS db FROM embeddings a "
        "  JOIN embeddings b ON a.vec_id < b.vec_id "
        "  AND round(list_dot_product(CAST(a.embedding AS DOUBLE[]), "
        "  CAST(b.embedding AS DOUBLE[])), 6) >= 0.35"
        "), u AS ("
        "  SELECT coalesce(l.da, s.da) AS da, coalesce(l.db, s.db) AS db, "
        "  l.da IS NOT NULL AS in_lex, s.da IS NOT NULL AS in_sem "
        "  FROM lex l FULL OUTER JOIN sem s ON l.da = s.da AND l.db = s.db"
        ") SELECT CAST(sum(CASE WHEN in_lex AND NOT in_sem THEN 1 ELSE 0 END)"
        " AS BIGINT) AS n_lexical_only, "
        "CAST(sum(CASE WHEN in_sem AND NOT in_lex THEN 1 ELSE 0 END) "
        "AS BIGINT) AS n_semantic_only, "
        "CAST(sum(CASE WHEN in_lex AND in_sem THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_both, "
        "round(sum(CASE WHEN in_lex AND in_sem THEN 1 ELSE 0 END) "
        "/ (1.0 * count(*)), 6) AS pair_set_jaccard "
        "FROM u HAVING count(*) > 0"
    )


DEDUP_LEXICAL_VS_SEMANTIC_ORACLE = _venn_oracle()


def dedup_lexical_vs_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detector-overlap census: the LEXICAL near-dup pair set (verified
    trigram Jaccard ≥ 0.3, the dedup_fuzzy_minhash contract) against
    the SEMANTIC one (embedding cosine ≥ 0.35, the sim_dbscan/
    dedup_cross_lingual grain) — pairs in each Venn region plus the
    pair-set Jaccard. This is the evaluation a curation pipeline runs
    before deciding its dedup budget: near-total overlap means one
    detector is redundant; near-zero (this fixture) means the two
    families catch DIFFERENT duplication — verbatim copies vs
    paraphrase/translation — and both belong in the funnel.

    Determinism: both pair sets are decided on already-driver-verified
    grains (exact Jaccard on shingles; 6 dp-rounded cosine); the Venn
    is exact counting over a full outer join on the pair key.

    Scale: the lexical side is the banded-LSH pair set, the semantic
    side the blocked GEMM — both candidate-bounded; the Venn join is
    keyed on (doc_a, doc_b)."""
    from .dedup import dedup_fuzzy_minhash
    from .similarity import grid_pair_sims_above

    lex = dedup_fuzzy_minhash(spark, sf_dir).select(
        F.col("doc_id_a").alias("da"), F.col("doc_id_b").alias("db")
    )
    sem = grid_pair_sims_above(spark, sf_dir, 0.35).select(
        F.col("vec_id_a").alias("da"), F.col("vec_id_b").alias("db")
    )
    u = lex.withColumn("in_lex", F.lit(True)).join(
        sem.withColumn("in_sem", F.lit(True)), ["da", "db"], "full"
    )
    in_lex = F.coalesce("in_lex", F.lit(False))
    in_sem = F.coalesce("in_sem", F.lit(False))
    return u.agg(
        F.sum(F.when(in_lex & ~in_sem, 1).otherwise(0))
        .cast("long")
        .alias("n_lexical_only"),
        F.sum(F.when(in_sem & ~in_lex, 1).otherwise(0))
        .cast("long")
        .alias("n_semantic_only"),
        F.sum(F.when(in_lex & in_sem, 1).otherwise(0))
        .cast("long")
        .alias("n_both"),
        F.round(
            F.sum(F.when(in_lex & in_sem, 1).otherwise(0))
            / (1.0 * F.count("*")),
            6,
        ).alias("pair_set_jaccard"),
    ).where(
        (F.col("n_lexical_only") + F.col("n_semantic_only") + F.col("n_both"))
        > 0
    )


# --- sign test ----------------------------------------------------------------------------------

_SIGN_SPLIT_DAYS = 15

STAT_SIGN_TEST_ORACLE = (
    "WITH e AS ("
    f"  SELECT user_id, {floor_day_us_sql()} AS day, "
    f"  {money_cents_sql('value')} AS cents FROM events "
    "  WHERE event_type = 'purchase'"
    "), mn AS (SELECT min(day) AS d0 FROM e), "
    "du AS ("
    "  SELECT user_id, CAST(sum(CASE WHEN day < d0 + "
    f"  {_SIGN_SPLIT_DAYS} THEN cents ELSE -cents END) AS BIGINT) AS d "
    "  FROM e, mn GROUP BY user_id"
    "), s AS ("
    "  SELECT CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS pos,"
    "  CAST(sum(CASE WHEN d < 0 THEN 1 ELSE 0 END) AS BIGINT) AS neg FROM du"
    ") SELECT pos, neg, CAST(pos + neg AS BIGINT) AS n, "
    "round((pos - 0.5 * (pos + neg)) "
    "/ nullif(0.5 * sqrt(CAST(pos + neg AS DOUBLE)), 0.0), 4) AS z "
    "FROM s WHERE pos + neg > 0"
)


def stat_sign_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SIGN test on the paired per-user revenue halves (the
    stat_wilcoxon / stat_paired_ttest pairing): just count users whose
    difference is positive vs negative (zeros drop) and z-score the
    positive count against Binomial(n, ½) — the assumption-free FLOOR
    of the paired family: it uses only SIGNS, so it is invariant to any
    monotone transform of revenue and immune to outliers the t-test
    chases and the magnitudes Wilcoxon still ranks. Completing the
    triple (t / signed-rank / sign) lets an analyst read the
    concordance: all three agreeing is robust evidence; t alone
    disagreeing means tails.

    Determinism: pos/neg are exact integer counts off exact cents
    differences; z is one double expression over them.

    Scale: one per-user map-side-combined aggregate, a 1-row reduce."""
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
                    F.col("day") < F.col("d0") + _SIGN_SPLIT_DAYS,
                    F.col("cents"),
                ).otherwise(-F.col("cents"))
            )
            .cast("long")
            .alias("d")
        )
    )
    s = du.agg(
        F.sum(F.when(F.col("d") > 0, 1).otherwise(0)).cast("long").alias("pos"),
        F.sum(F.when(F.col("d") < 0, 1).otherwise(0)).cast("long").alias("neg"),
    )
    n = F.col("pos") + F.col("neg")
    z = (F.col("pos") - 0.5 * n) / F.nullif(
        0.5 * F.sqrt(n.cast("double")), F.lit(0.0)
    )
    return s.where(n > 0).select(
        "pos",
        "neg",
        n.cast("long").alias("n"),
        F.round(z, 4).alias("z"),
    )


DEV_CASES = [
    ("set_except_all", set_except_all, SET_EXCEPT_ALL_ORACLE),
    ("join_merge_hint", join_merge_hint, JOIN_MERGE_HINT_ORACLE),
    ("stat_kruskal_wallis", stat_kruskal_wallis, STAT_KRUSKAL_WALLIS_ORACLE),
    (
        "dedup_lexical_vs_semantic",
        dedup_lexical_vs_semantic,
        DEDUP_LEXICAL_VS_SEMANTIC_ORACLE,
    ),
    ("stat_sign_test", stat_sign_test, STAT_SIGN_TEST_ORACLE),
]
