"""Preference-data / corpus-comparison / resampling wave. Like every
``staged_r*`` module with ``DEV_CASES``, it registers itself on import: the
package root registers each ``(key, fn, oracle)`` entry.
tests/test_oracle_parity.py runs the fn-vs-DuckDB compare;
tests/test_staged_r16.py holds the independent property checks.

Contents:

- ``pipeline_dpo_pairs`` — preference-pair construction for DPO/RLHF-style
  fine-tuning: per prompt group (source), the best-quality document as
  ``chosen`` and the worst as ``rejected`` with the quality margin.
- ``stat_log_odds`` — Monroe, Colaresi & Quinn 2008 "Fightin' Words":
  weighted log-odds-ratio with an informative Dirichlet prior for which
  words distinguish English from non-English documents — the principled
  corpus-comparison statistic (raw log-odds overweights rare words;
  the prior shrinks them).
- ``graph_component_sizes`` — size census of the near-dup components from
  the REGISTERED dedup_cluster: how big duplicate clusters are is the
  policy input for keep-one-per-cluster collapse.
- ``win_running_distinct`` — per-user running distinct-event-type count:
  the classic cumulative-cardinality feature (a first-occurrence flag +
  running sum — NO nested distinct-in-window, which neither engine does).
- ``stat_permutation_test`` — EXACT-decision permutation test for the
  arm difference in per-user purchase spend: B=32 md5-derived
  re-randomizations, each compared against the observed difference in
  EXACT integer arithmetic (cross-multiplied cents — no float decides
  any ≥), p = (1 + #extreme)/(B + 1).

Exactness doctrine: unchanged — exact integer/decimal(38) counts and
cents everywhere a comparison or rank is decided; doubles only in final
reported expressions rounded ≤6 dp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.loader import load_table
from .exact import money_cents, money_cents_sql

# --- DPO preference pairs -----------------------------------------------------

# quality score: 6-dp-rounded type-token ratio (text_quality's signal)
_DPO_SCORE_SQL = (
    "round(len(list_distinct(string_split(text, ' '))) "
    "/ (1.0 * len(string_split(text, ' '))), 6)"
)

PIPELINE_DPO_PAIRS_ORACLE = (
    "WITH scored AS ("
    f"  SELECT source, doc_id, {_DPO_SCORE_SQL} AS score FROM documents"
    "), ranked AS ("
    "  SELECT source, doc_id, score, "
    "  row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id) "
    "    AS rk_best, "
    "  row_number() OVER (PARTITION BY source ORDER BY score ASC, doc_id DESC) "
    "    AS rk_worst, "
    "  count(*) OVER (PARTITION BY source) AS n"
    "  FROM scored"
    ") SELECT b.source, "
    "b.doc_id AS chosen_doc_id, w.doc_id AS rejected_doc_id, "
    "b.score AS chosen_score, w.score AS rejected_score, "
    "round(b.score - w.score, 6) AS margin "
    "FROM ranked b JOIN ranked w ON b.source = w.source "
    "WHERE b.rk_best = 1 AND w.rk_worst = 1 AND b.n >= 2"
)


def pipeline_dpo_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair construction for DPO/RLHF-style fine-tuning data:
    within each prompt group (source), emit the highest-quality document
    as ``chosen`` and the lowest as ``rejected``, with the quality margin
    — the (prompt, chosen, rejected) triple every preference-optimization
    recipe consumes. Quality is the 6-dp-rounded type-token ratio
    (text_quality's signal); both extreme picks are decided on the
    ROUNDED score with doc_id tiebreaks (best: ascending id; worst:
    descending id so a 2-doc tie yields two distinct docs), making the
    pair selection engine-exact. Groups with < 2 documents emit nothing.

    Scale: two row_number windows over the SAME source partitioning —
    one shuffle, no global window; margin arithmetic is per-row."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    scored = d.select(
        "source",
        "doc_id",
        F.round(
            F.size(F.array_distinct(toks)) / (1.0 * F.size(toks)), 6
        ).alias("score"),
    )
    wsrc = Window.partitionBy("source")
    ranked = scored.select(
        "source",
        "doc_id",
        "score",
        F.row_number()
        .over(wsrc.orderBy(F.col("score").desc(), F.col("doc_id")))
        .alias("rk_best"),
        F.row_number()
        .over(wsrc.orderBy(F.col("score").asc(), F.col("doc_id").desc()))
        .alias("rk_worst"),
        F.count("*").over(wsrc).alias("n"),
    )
    b = ranked.filter((F.col("rk_best") == 1) & (F.col("n") >= 2)).select(
        "source",
        F.col("doc_id").alias("chosen_doc_id"),
        F.col("score").alias("chosen_score"),
    )
    w = ranked.filter(F.col("rk_worst") == 1).select(
        "source",
        F.col("doc_id").alias("rejected_doc_id"),
        F.col("score").alias("rejected_score"),
    )
    return b.join(w, "source").select(
        "source",
        "chosen_doc_id",
        "rejected_doc_id",
        "chosen_score",
        "rejected_score",
        F.round(F.col("chosen_score") - F.col("rejected_score"), 6).alias(
            "margin"
        ),
    )


# --- Monroe weighted log-odds -------------------------------------------------

_LO_A0 = 1000.0  # Dirichlet prior mass, spread over words by corpus frequency
_LO_TOPK = 20

STAT_LOG_ODDS_ORACLE = (
    "WITH toks AS ("
    "  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS grp, "
    "  unnest(string_split(text, ' ')) AS word FROM documents"
    "), wc AS ("
    "  SELECT word, "
    "  sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS y1, "
    "  sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS y2"
    "  FROM toks GROUP BY word"
    "), tot AS ("
    "  SELECT sum(y1) AS n1, sum(y2) AS n2, sum(y1 + y2) AS n FROM wc"
    "), z AS ("
    "  SELECT wc.word, wc.y1, wc.y2, "
    f"  (wc.y1 + wc.y2) * {_LO_A0} / (1.0 * tot.n) AS aw, "
    "  tot.n1, tot.n2"
    "  FROM wc CROSS JOIN tot"
    "), s AS ("
    "  SELECT word, y1, y2, "
    f"  round((ln((y1 + aw) / (n1 + {_LO_A0} - y1 - aw)) "
    f"       - ln((y2 + aw) / (n2 + {_LO_A0} - y2 - aw))) "
    "      / sqrt(1.0 / (y1 + aw) + 1.0 / (y2 + aw)), 6) AS z_score"
    "  FROM z"
    ") SELECT word, CAST(y1 AS BIGINT) AS n_en, CAST(y2 AS BIGINT) AS n_other, "
    "z_score "
    f"FROM s ORDER BY abs(z_score) DESC, word LIMIT {_LO_TOPK}"
)


def stat_log_odds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which words distinguish English from non-English documents —
    Monroe, Colaresi & Quinn 2008's weighted log-odds-ratio with an
    informative Dirichlet prior:

        δ_w = ln((y₁w+α_w)/(n₁+a₀−y₁w−α_w)) − ln((y₂w+α_w)/(n₂+a₀−y₂w−α_w))
        z_w = δ_w / √(1/(y₁w+α_w) + 1/(y₂w+α_w)),   α_w = a₀·y_w/n

    — THE principled corpus-comparison statistic: raw log-odds and PMI
    overweight rare words; the corpus-frequency prior (a₀=1000) shrinks
    them, and the variance normalization makes scores comparable across
    frequencies (beside text_js_divergence's corpus-level number, this
    is the word-level read-out). Top-20 by |z|, decided on the
    6-dp-ROUNDED z with a word tiebreak.

    Exactness: y/n counts are exact integers from one wordcount shuffle;
    each word's z is ONE closed-form double expression over them (no
    cross-word summation anywhere), rounded before the rank.

    Scale: the word-frequency table is the engine's founding wordcount
    shape (map-side combining); the prior/totals ride as a broadcast
    1-row; top-k compiles to TakeOrderedAndProject."""
    toks = load_table(spark, sf_dir, "documents").select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("grp"),
        F.explode(F.split(F.col("text"), " ")).alias("word"),
    )
    wc = toks.groupBy("word").agg(
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).alias("y1"),
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).alias("y2"),
    )
    tot = wc.agg(
        F.sum("y1").alias("n1"),
        F.sum("y2").alias("n2"),
        F.sum(F.col("y1") + F.col("y2")).alias("n"),
    )
    z = wc.crossJoin(F.broadcast(tot)).withColumn(
        "aw", (F.col("y1") + F.col("y2")) * _LO_A0 / (1.0 * F.col("n"))
    )
    delta = F.log(
        (F.col("y1") + F.col("aw"))
        / (F.col("n1") + _LO_A0 - F.col("y1") - F.col("aw"))
    ) - F.log(
        (F.col("y2") + F.col("aw"))
        / (F.col("n2") + _LO_A0 - F.col("y2") - F.col("aw"))
    )
    var = 1.0 / (F.col("y1") + F.col("aw")) + 1.0 / (
        F.col("y2") + F.col("aw")
    )
    s = z.select(
        "word",
        F.col("y1").cast("long").alias("n_en"),
        F.col("y2").cast("long").alias("n_other"),
        F.round(delta / F.sqrt(var), 6).alias("z_score"),
    )
    return s.orderBy(F.abs(F.col("z_score")).desc(), "word").limit(_LO_TOPK)


# --- duplicate-component size census ------------------------------------------

def _cluster_oracle() -> str:
    from ..registry import REGISTRY
    from . import dedup  # noqa: F401 — importing registers dedup_cluster

    return REGISTRY["dedup_cluster"].oracle


GRAPH_COMPONENT_SIZES_ORACLE = (
    f"WITH comp AS (SELECT * FROM ({_cluster_oracle()}) t), "
    "cs AS (SELECT cluster_id, count(*) AS csize FROM comp GROUP BY 1) "
    "SELECT CAST(csize AS BIGINT) AS component_size, "
    "CAST(count(*) AS BIGINT) AS n_components, "
    "CAST(sum(csize) AS BIGINT) AS n_docs "
    "FROM cs GROUP BY csize"
)


def graph_component_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size census of the near-duplicate components: how many dup
    clusters exist at each size, and how many documents they hold — the
    policy input for keep-one-per-cluster collapse (a corpus of 2-doc
    components loses ~half its dup mass to dedup; one giant component
    signals a template/boilerplate family that needs dedup_lines, not
    document-level removal). Composes the REGISTERED dedup_cluster
    verbatim on the Spark side; the oracle embeds dedup_cluster's
    registered recursive-CTE SQL as a subquery (the
    pipeline_dedup_report precedent), so component labels are
    engine-exact by that key's own hash-verified contract.

    Scale: inherits dedup_cluster's bucketed-LSH + min-label-propagation
    machinery (O(diameter) rounds, lineage-checkpointed); the census
    itself is two map-side-combining aggregates over the label table."""
    from .dedup import dedup_cluster

    comp = dedup_cluster(spark, sf_dir)
    cs = comp.groupBy("cluster_id").agg(F.count("*").alias("csize"))
    return cs.groupBy("csize").agg(
        F.count("*").cast("long").alias("n_components"),
        F.sum("csize").cast("long").alias("n_docs"),
    ).select(
        F.col("csize").cast("long").alias("component_size"),
        "n_components",
        "n_docs",
    )


# --- running distinct-cardinality feature -------------------------------------

WIN_RUNNING_DISTINCT_ORACLE = (
    "WITH flagged AS ("
    "  SELECT user_id, event_id, ts, "
    "  CASE WHEN row_number() OVER ("
    "    PARTITION BY user_id, event_type ORDER BY ts, event_id) = 1 "
    "  THEN 1 ELSE 0 END AS first_seen"
    "  FROM events"
    ") SELECT user_id, event_id, "
    "CAST(sum(first_seen) OVER ("
    "  PARTITION BY user_id ORDER BY ts, event_id "
    "  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS distinct_types_so_far "
    "FROM flagged"
)


def win_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running count of DISTINCT event types seen so far — the
    classic cumulative-cardinality feature (breadth of engagement at
    each moment) that naive SQL cannot write (COUNT(DISTINCT) over a
    running frame is unsupported on both engines): mark each (user,
    type)'s FIRST occurrence with one row_number window, then a running
    SUM of the flag over the user's (ts, event_id)-ordered stream. Both
    windows ride the SAME user_id partitioning — one shuffle for the
    whole cascade — and the (ts, event_id) integer tiebreak makes every
    prefix engine-exact.

    Scale: output is per-event (linear by construction); state per user
    is one row_number counter per type plus a running integer — the
    streaming form is the stream_stateful per-key pattern with a
    set-membership state."""
    e = load_table(spark, sf_dir, "events")
    first_w = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    run_w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    flagged = e.select(
        "user_id",
        "event_id",
        "ts",
        F.when(F.row_number().over(first_w) == 1, 1)
        .otherwise(0)
        .alias("first_seen"),
    )
    return flagged.select(
        "user_id",
        "event_id",
        F.sum("first_seen").over(run_w).cast("long").alias(
            "distinct_types_so_far"
        ),
    )


# --- exact-decision permutation test ------------------------------------------

_PERM_B = 32  # re-randomizations; p resolution = 1/(B+1)

STAT_PERMUTATION_TEST_ORACLE = (
    "WITH u AS ("
    "  SELECT user_id, user_id % 2 AS arm, "
    f"  coalesce(sum(CASE WHEN event_type = 'purchase' THEN "
    f"    {money_cents_sql('value')} END), 0) AS cents"
    "  FROM events GROUP BY user_id"
    "), obs AS ("
    "  SELECT "
    "  coalesce(sum(CASE WHEN arm = 1 THEN cents END), 0) AS s1, "
    "  coalesce(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END), 0) AS n1, "
    "  coalesce(sum(CASE WHEN arm = 0 THEN cents END), 0) AS s0, "
    "  coalesce(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END), 0) AS n0"
    "  FROM u"
    "), perm AS ("
    "  SELECT b.b, "
    "  coalesce(sum(CASE WHEN pa = 1 THEN cents END), 0) AS s1, "
    "  coalesce(sum(CASE WHEN pa = 1 THEN 1 ELSE 0 END), 0) AS n1, "
    "  coalesce(sum(CASE WHEN pa = 0 THEN cents END), 0) AS s0, "
    "  coalesce(sum(CASE WHEN pa = 0 THEN 1 ELSE 0 END), 0) AS n0"
    "  FROM ("
    "    SELECT u.cents, b.b, "
    "    CAST(strpos('0123456789abcdef', substr(md5(concat("
    "      CAST(u.user_id AS VARCHAR), ':', CAST(b.b AS VARCHAR))), 1, 1)) "
    "      - 1 AS INT) % 2 AS pa"
    f"    FROM u, (SELECT unnest(generate_series(1, {_PERM_B})) AS b) b"
    "  ) b GROUP BY b.b"
    "), extreme AS ("
    # |d_b| >= |d_obs| decided in EXACT integer arithmetic:
    # |s_b1*n_b0 - s_b0*n_b1| * (n1*n0)  >=  |s1*n0 - s0*n1| * (n_b1*n_b0)
    "  SELECT count(*) AS k FROM perm CROSS JOIN obs "
    "  WHERE perm.n1 = 0 OR perm.n0 = 0 OR "
    "  abs(CAST(perm.s1 AS HUGEINT) * perm.n0 "
    "    - CAST(perm.s0 AS HUGEINT) * perm.n1) "
    "    * (CAST(obs.n1 AS HUGEINT) * obs.n0) >= "
    "  abs(CAST(obs.s1 AS HUGEINT) * obs.n0 "
    "    - CAST(obs.s0 AS HUGEINT) * obs.n1) "
    "    * (CAST(perm.n1 AS HUGEINT) * perm.n0)"
    ") SELECT CAST(obs.n1 AS BIGINT) AS n_treat, "
    "CAST(obs.n0 AS BIGINT) AS n_ctrl, "
    "round(obs.s1 / 100.0, 2) AS spend_treat, "
    "round(obs.s0 / 100.0, 2) AS spend_ctrl, "
    "CASE WHEN obs.n1 = 0 OR obs.n0 = 0 THEN NULL ELSE "
    "round(obs.s1 / (100.0 * obs.n1) - obs.s0 / (100.0 * obs.n0), 6) END "
    "  AS delta_obs, "
    f"round((1.0 + extreme.k) / ({_PERM_B} + 1.0), 6) AS p_perm "
    "FROM obs CROSS JOIN extreme"
)


def stat_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-decision permutation test for the arm difference in
    per-user purchase spend (Fisher's randomization test): re-randomize
    users into arms B=32 times with md5-derived replayable bits
    (md5(user_id:b) first-hex-digit parity — identical on both engines),
    and report p = (1 + #{b: |Δ_b| ≥ |Δ_obs|}) / (B+1) — the
    distribution-free test that needs NO normality and no variance
    formula, the honest companion to event_ab_test's z.

    The ≥ decision is EXACT: per-user spends are integer cents, so
    each |Δ| comparison cross-multiplies to
    |s_b1·n_b0 − s_b0·n_b1|·(n₁·n₀) ≥ |s₁·n₀ − s₀·n₁|·(n_b1·n_b0) in
    decimal(38)/HUGEINT — no float ever decides an inequality (the
    event_changepoint argmax doctrine). Degenerate one-sided
    permutations (an empty arm) count as extreme — conservative.

    Scale: the explode is users × B (B=32 bounded); the per-b sums
    map-side combine, so the shuffle carries 2·B rows of sufficient
    statistics, not user rows. p resolution 1/(B+1) is a documented
    design point — raise B for finer p at linear cost."""
    e = load_table(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.coalesce(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    money_cents(F.col("value")),
                )
            ),
            F.lit(0),
        ).alias("cents")
    )
    u = u.withColumn("arm", F.col("user_id") % 2)
    obs = u.agg(
        F.coalesce(F.sum(F.when(F.col("arm") == 1, F.col("cents"))), F.lit(0)).alias("s1"),
        F.coalesce(F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)), F.lit(0)).alias("n1"),
        F.coalesce(F.sum(F.when(F.col("arm") == 0, F.col("cents"))), F.lit(0)).alias("s0"),
        F.coalesce(F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)), F.lit(0)).alias("n0"),
    )
    pa = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("user_id").cast("string"),
                        F.lit(":"),
                        F.col("b").cast("string"),
                    )
                ),
                1,
                1,
            ),
            16,
            10,
        ).cast("int")
        % 2
    )
    perm = (
        u.select(
            "user_id",
            "cents",
            F.explode(F.sequence(F.lit(1), F.lit(_PERM_B))).alias("b"),
        )
        .withColumn("pa", pa)
        .groupBy("b")
        .agg(
            F.coalesce(F.sum(F.when(F.col("pa") == 1, F.col("cents"))), F.lit(0)).alias("s1"),
            F.coalesce(F.sum(F.when(F.col("pa") == 1, 1).otherwise(0)), F.lit(0)).alias("n1"),
            F.coalesce(F.sum(F.when(F.col("pa") == 0, F.col("cents"))), F.lit(0)).alias("s0"),
            F.coalesce(F.sum(F.when(F.col("pa") == 0, 1).otherwise(0)), F.lit(0)).alias("n0"),
        )
    )
    d38 = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    ob = obs.select(
        d38("s1").alias("os1"),
        d38("n1").alias("on1"),
        d38("s0").alias("os0"),
        d38("n0").alias("on0"),
    )
    # |d_b| >= |d_obs| cross-multiplied to integers:
    # |s_b1*n_b0 - s_b0*n_b1| * (n1_obs*n0_obs)
    #   >= |s1_obs*n0_obs - s0_obs*n1_obs| * (n_b1*n_b0)
    ext = (
        perm.crossJoin(F.broadcast(ob))
        .filter(
            (F.col("n1") == 0)
            | (F.col("n0") == 0)
            | (
                F.abs(d38("s1") * d38("n0") - d38("s0") * d38("n1"))
                * (F.col("on1") * F.col("on0")).cast("decimal(38,0)")
                >= F.abs(
                    F.col("os1") * F.col("on0")
                    - F.col("os0") * F.col("on1")
                )
                * (d38("n1") * d38("n0")).cast("decimal(38,0)")
            )
        )
        .agg(F.count("*").alias("k"))
    )
    return obs.crossJoin(F.broadcast(ext)).select(
        F.col("n1").cast("long").alias("n_treat"),
        F.col("n0").cast("long").alias("n_ctrl"),
        F.round(F.col("s1") / 100.0, 2).alias("spend_treat"),
        F.round(F.col("s0") / 100.0, 2).alias("spend_ctrl"),
        F.when(
            (F.col("n1") == 0) | (F.col("n0") == 0),
            F.lit(None).cast("double"),
        )
        .otherwise(
            F.round(
                F.col("s1") / (100.0 * F.col("n1"))
                - F.col("s0") / (100.0 * F.col("n0")),
                6,
            )
        )
        .alias("delta_obs"),
        F.round((1.0 + F.col("k")) / (_PERM_B + 1.0), 6).alias("p_perm"),
    )


DEV_CASES = [
    ("pipeline_dpo_pairs", pipeline_dpo_pairs, PIPELINE_DPO_PAIRS_ORACLE),
    ("stat_log_odds", stat_log_odds, STAT_LOG_ODDS_ORACLE),
    (
        "graph_component_sizes",
        graph_component_sizes,
        GRAPH_COMPONENT_SIZES_ORACLE,
    ),
    ("win_running_distinct", win_running_distinct, WIN_RUNNING_DISTINCT_ORACLE),
    (
        "stat_permutation_test",
        stat_permutation_test,
        STAT_PERMUTATION_TEST_ORACLE,
    ),
]
