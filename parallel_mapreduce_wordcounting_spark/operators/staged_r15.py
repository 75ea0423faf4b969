"""Evaluation / privacy / agreement wave. Like every ``staged_r*`` module with
``DEV_CASES``, it registers itself on import: the package root registers
each ``(key, fn, oracle)`` entry. tests/test_oracle_parity.py runs the
fn-vs-DuckDB compare; tests/test_staged_r15.py holds the independent
property checks.

Contents:

- ``stat_fisher_exact`` — EXACT one-sided Fisher test on the 2×2
  experiment table (arm × high-value conversion): the hypergeometric
  upper tail summed in log space from the shared log-factorial prefix
  table (the event_ab_bayes machinery) — the small-sample replacement
  for event_ab_test's normal approximation.
- ``stat_mcnemar`` — EXACT McNemar test for paired classifiers (the
  langid heuristic vs ground truth): two-sided binomial tail on the
  discordant pairs, no χ² approximation.
- ``stat_cohens_kappa`` — chance-corrected agreement (Cohen 1960) over
  the same paired-classifier table — the annotation-QA number beside
  raw accuracy.
- ``sim_retrieval_eval`` — ranking-quality metrics for the embedding
  retrieval stack: precision@10 / recall@10 / MRR@10 / NDCG@10 per
  query, relevance = label match.
- ``dq_k_anonymity`` — privacy audit: quasi-identifier group-size
  census, the k-anonymity level and the share of re-identifiable rows.
- ``dedup_winnow`` — winnowing fingerprint selection (Schleimer,
  Wilkerson & Aiken 2003, the MOSS algorithm): per-window minimum gram
  hashes as a GUARANTEED-coverage sample of the span space — the scale
  path of dedup_spans' exhaustive registry.
- ``sample_importance`` — importance reweighting of a skewed language
  mix to a uniform target + the effective sample size that says what
  the reweighting costs.
- ``sim_cluster_purity`` — external cluster validation of sim_kmeans'
  deterministic assignment vs labels: purity + NMI from exact counts.

Exactness doctrine: unchanged — all counts are exact integers; doubles
appear only in single expressions over them, rounded ≤6 dp; the only
iterated float sums are log-space tail series whose terms both engines
evaluate identically from the bit-identical log-factorial prefix table
(the event_ab_bayes argument), absorbed by the 6-dp round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.loader import load_table
from .exact import money_cents, money_cents_sql
from .staged_r11 import _lf_table

# --- Fisher's exact test ------------------------------------------------------

_FISHER_HI = 80.0  # "high-value conversion": any purchase with value > 80

_LF_CTE = (
    "SELECT 0 AS j, 0.0 AS lf UNION ALL "
    "SELECT j, sum(ln(j)) OVER (ORDER BY j ROWS UNBOUNDED PRECEDING) AS lf "
    "FROM (SELECT unnest(generate_series(1, {m})) AS j)"
)

STAT_FISHER_EXACT_ORACLE = (
    "WITH u AS ("
    "  SELECT user_id, user_id % 2 AS variant, "
    "  max(CASE WHEN event_type = 'purchase' AND value > "
    f"{_FISHER_HI} THEN 1 ELSE 0 END) AS conv"
    "  FROM events GROUP BY user_id"
    "), c AS ("
    "  SELECT "
    "  coalesce(sum(CASE WHEN variant = 1 THEN conv END), 0) AS a, "
    "  coalesce(sum(CASE WHEN variant = 1 THEN 1 - conv END), 0) AS b, "
    "  coalesce(sum(CASE WHEN variant = 0 THEN conv END), 0) AS cc, "
    "  coalesce(sum(CASE WHEN variant = 0 THEN 1 - conv END), 0) AS d"
    "  FROM u"
    "), m AS ("
    "  SELECT a, b, cc, d, a + b + cc + d AS n, a + cc AS kk, a + b AS nt FROM c"
    "), lf AS ("
    + _LF_CTE.format(m="CAST((SELECT greatest(n, 1) FROM m) AS BIGINT)")
    + "), ks AS ("
    "  SELECT m.*, k.k FROM m, (SELECT unnest(generate_series("
    "    CAST((SELECT a FROM m) AS BIGINT), "
    "    CAST((SELECT least(kk, nt) FROM m) AS BIGINT))) AS k) k"
    "), terms AS ("
    # ln P(X=k) = lnC(K,k) + lnC(N-K, n_t-k) - lnC(N, n_t)
    "  SELECT ks.k, "
    "  (l1.lf - l2.lf - l3.lf) + (l4.lf - l5.lf - l6.lf) "
    "    - (l7.lf - l8.lf - l9.lf) AS lnp"
    "  FROM ks "
    "  JOIN lf l1 ON l1.j = ks.kk "
    "  JOIN lf l2 ON l2.j = ks.k "
    "  JOIN lf l3 ON l3.j = ks.kk - ks.k "
    "  JOIN lf l4 ON l4.j = ks.n - ks.kk "
    "  JOIN lf l5 ON l5.j = ks.nt - ks.k "
    "  JOIN lf l6 ON l6.j = ks.n - ks.kk - ks.nt + ks.k "
    "  JOIN lf l7 ON l7.j = ks.n "
    "  JOIN lf l8 ON l8.j = ks.nt "
    "  JOIN lf l9 ON l9.j = ks.n - ks.nt"
    ") SELECT CAST(m.a AS BIGINT) AS conv_treat, "
    "CAST(m.b AS BIGINT) AS nonconv_treat, "
    "CAST(m.cc AS BIGINT) AS conv_ctrl, CAST(m.d AS BIGINT) AS nonconv_ctrl, "
    "CASE WHEN m.b * m.cc = 0 THEN NULL "
    "     ELSE round((m.a * m.d) / (1.0 * m.b * m.cc), 6) END AS odds_ratio, "
    "round((SELECT sum(exp(lnp)) FROM terms), 6) AS p_upper "
    "FROM m"
)


def _lf_lookup(df: DataFrame, lf: DataFrame, jexpr, name: str) -> DataFrame:
    """Join one log-factorial value lf(jexpr) onto every row as ``name``."""
    l = lf.select(F.col("j").alias(f"__{name}_j"), F.col("lf").alias(name))
    return df.join(F.broadcast(l), F.col(f"__{name}_j") == jexpr).drop(
        f"__{name}_j"
    )


def stat_fisher_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT one-sided Fisher test of arm × high-value conversion (any
    purchase with value > 80 per user, arms by user_id parity): the
    upper-tail hypergeometric probability

        p = Σ_{k=a}^{min(K,n_t)} C(K,k)·C(N−K, n_t−k) / C(N, n_t)

    (N users, K total converters, n_t treatment users, a treatment
    converters) — the small-sample test event_ab_test's z approximation
    cannot honestly provide, with NO approximation anywhere: every
    binomial coefficient is three lookups in the log-factorial prefix
    table both engines build by the same ordered cumsum
    (bit-identical — the event_ab_bayes argument), and the ≤ n_t + 1
    positive tail terms sum in log space under a 6-dp round.

    Sample odds ratio (a·d)/(b·c) reported alongside (NULL when a
    discordant cell is empty).

    Scale: the 2×2 table is one map-side-combining per-user aggregate +
    one 4-integer row; the lf spine is linear in the USER population
    (never event volume) and every join against it is a broadcast; the
    tail spine is ≤ n_t + 1 rows. plan_audit allowlists the spine's
    ordered-cumsum GlobalWindow (the staged_r11 precedent)."""
    e = load_table(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("value") > _FISHER_HI),
                1,
            ).otherwise(0)
        ).alias("conv")
    )
    u = u.withColumn("variant", F.col("user_id") % 2)
    c = u.agg(
        F.coalesce(
            F.sum(F.when(F.col("variant") == 1, F.col("conv"))), F.lit(0)
        ).alias("a"),
        F.coalesce(
            F.sum(F.when(F.col("variant") == 1, 1 - F.col("conv"))), F.lit(0)
        ).alias("b"),
        F.coalesce(
            F.sum(F.when(F.col("variant") == 0, F.col("conv"))), F.lit(0)
        ).alias("cc"),
        F.coalesce(
            F.sum(F.when(F.col("variant") == 0, 1 - F.col("conv"))), F.lit(0)
        ).alias("d"),
    )
    m = c.select(
        "a",
        "b",
        "cc",
        "d",
        (F.col("a") + F.col("b") + F.col("cc") + F.col("d")).alias("n"),
        (F.col("a") + F.col("cc")).alias("kk"),
        (F.col("a") + F.col("b")).alias("nt"),
    )
    lf = _lf_table(
        spark, m.select(F.greatest(F.col("n"), F.lit(1)).alias("mx")), "mx"
    )
    ks = m.select(
        "*",
        F.explode(
            F.sequence(F.col("a"), F.least(F.col("kk"), F.col("nt")))
        ).alias("k"),
    )
    # Spark resolves column names case-insensitively: lookup aliases must
    # differ by more than case (lK vs lk would be AMBIGUOUS_REFERENCE)
    t = ks
    t = _lf_lookup(t, lf, F.col("kk"), "l1")
    t = _lf_lookup(t, lf, F.col("k"), "l2")
    t = _lf_lookup(t, lf, F.col("kk") - F.col("k"), "l3")
    t = _lf_lookup(t, lf, F.col("n") - F.col("kk"), "l4")
    t = _lf_lookup(t, lf, F.col("nt") - F.col("k"), "l5")
    t = _lf_lookup(
        t, lf, F.col("n") - F.col("kk") - F.col("nt") + F.col("k"), "l6"
    )
    t = _lf_lookup(t, lf, F.col("n"), "l7")
    t = _lf_lookup(t, lf, F.col("nt"), "l8")
    t = _lf_lookup(t, lf, F.col("n") - F.col("nt"), "l9")
    lnp = (
        (F.col("l1") - F.col("l2") - F.col("l3"))
        + (F.col("l4") - F.col("l5") - F.col("l6"))
        - (F.col("l7") - F.col("l8") - F.col("l9"))
    )
    tail = t.agg(F.sum(F.exp(lnp)).alias("p_raw"))
    return m.crossJoin(F.broadcast(tail)).select(
        F.col("a").cast("long").alias("conv_treat"),
        F.col("b").cast("long").alias("nonconv_treat"),
        F.col("cc").cast("long").alias("conv_ctrl"),
        F.col("d").cast("long").alias("nonconv_ctrl"),
        F.when(F.col("b") * F.col("cc") == 0, F.lit(None).cast("double"))
        .otherwise(
            F.round(
                (F.col("a") * F.col("d"))
                / (1.0 * F.col("b") * F.col("cc")),
                6,
            )
        )
        .alias("odds_ratio"),
        F.round(F.col("p_raw"), 6).alias("p_upper"),
    )


# --- McNemar's exact test -----------------------------------------------------

# paired classifiers over documents: A = the text_langid marker heuristic,
# B = ground truth (lang = 'en'); discordant cells drive the test
_PAIR_CELLS_SQL = (
    "SELECT "
    "coalesce(sum(CASE WHEN ga AND gb THEN 1 ELSE 0 END), 0) AS a, "
    "coalesce(sum(CASE WHEN ga AND NOT gb THEN 1 ELSE 0 END), 0) AS b, "
    "coalesce(sum(CASE WHEN NOT ga AND gb THEN 1 ELSE 0 END), 0) AS c, "
    "coalesce(sum(CASE WHEN NOT ga AND NOT gb THEN 1 ELSE 0 END), 0) AS d "
    "FROM (SELECT (contains(text, 'the ') OR contains(text, ' the')) AS ga, "
    "lang = 'en' AS gb FROM documents)"
)

STAT_MCNEMAR_ORACLE = (
    f"WITH cells AS ({_PAIR_CELLS_SQL}), "
    "m AS (SELECT a, b, c, d, b + c AS nd, least(b, c) AS mm FROM cells), "
    "lf AS ("
    + _LF_CTE.format(m="CAST((SELECT greatest(nd, 1) FROM m) AS BIGINT)")
    + "), ks AS ("
    "  SELECT m.*, k.k FROM m, (SELECT unnest(generate_series(0, "
    "    CAST((SELECT mm FROM m) AS BIGINT))) AS k) k"
    "), terms AS ("
    "  SELECT ks.k, ln.lf - lk.lf - lnk.lf - ks.nd * ln(2.0) AS lnp"
    "  FROM ks "
    "  JOIN lf ln  ON ln.j  = ks.nd "
    "  JOIN lf lk  ON lk.j  = ks.k "
    "  JOIN lf lnk ON lnk.j = ks.nd - ks.k"
    ") SELECT CAST(m.a AS BIGINT) AS both_pos, CAST(m.b AS BIGINT) AS only_a, "
    "CAST(m.c AS BIGINT) AS only_b, CAST(m.d AS BIGINT) AS both_neg, "
    "CASE WHEN m.nd = 0 THEN NULL "
    "     ELSE round((m.b - m.c) * (m.b - m.c) / (1.0 * m.nd), 6) END "
    "  AS mcnemar_chi2, "
    "round(least(1.0, 2.0 * (SELECT sum(exp(lnp)) FROM terms)), 6) "
    "  AS p_two_sided "
    "FROM m"
)


def _pair_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2×2 agreement cells of the langid marker heuristic (A) vs ground
    truth lang='en' (B) over documents — one map-side-combining pass."""
    d = load_table(spark, sf_dir, "documents").select(
        (
            F.col("text").contains("the ") | F.col("text").contains(" the")
        ).alias("ga"),
        (F.col("lang") == "en").alias("gb"),
    )
    return d.agg(
        F.coalesce(
            F.sum(F.when(F.col("ga") & F.col("gb"), 1).otherwise(0)), F.lit(0)
        ).alias("a"),
        F.coalesce(
            F.sum(F.when(F.col("ga") & ~F.col("gb"), 1).otherwise(0)),
            F.lit(0),
        ).alias("b"),
        F.coalesce(
            F.sum(F.when(~F.col("ga") & F.col("gb"), 1).otherwise(0)),
            F.lit(0),
        ).alias("c"),
        F.coalesce(
            F.sum(F.when(~F.col("ga") & ~F.col("gb"), 1).otherwise(0)),
            F.lit(0),
        ).alias("d"),
    )


def stat_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT McNemar test for two paired binary classifiers (the langid
    marker heuristic vs ground truth English): under H₀ the discordant
    pairs split Binomial(b+c, ½), so

        p = min(1, 2·Σ_{k=0}^{min(b,c)} C(b+c, k) / 2^{b+c})

    — the exact two-sided tail, NOT the χ² approximation (reported
    alongside as (b−c)²/(b+c) for interpretability). This is the
    detector-comparison primitive: "is detector A's error profile
    actually different from B's on the same rows?".

    Exactness: cells are exact integers; each tail term is
    exp(lf(n)−lf(k)−lf(n−k) − n·ln 2) over the bit-identical
    log-factorial table; ≤ min(b,c)+1 terms under a 6-dp round.

    Scale: one scan to 4 integers; the lf spine is linear in the
    DISCORDANT count only."""
    cells = _pair_cells(spark, sf_dir)
    m = cells.select(
        "a",
        "b",
        "c",
        "d",
        (F.col("b") + F.col("c")).alias("nd"),
        F.least(F.col("b"), F.col("c")).alias("mm"),
    )
    lf = _lf_table(
        spark, m.select(F.greatest(F.col("nd"), F.lit(1)).alias("mx")), "mx"
    )
    ks = m.select(
        "*", F.explode(F.sequence(F.lit(0), F.col("mm"))).alias("k")
    )
    t = _lf_lookup(ks, lf, F.col("nd"), "ln_")
    t = _lf_lookup(t, lf, F.col("k"), "lk")
    t = _lf_lookup(t, lf, F.col("nd") - F.col("k"), "lnk")
    lnp = (
        F.col("ln_")
        - F.col("lk")
        - F.col("lnk")
        - F.col("nd") * F.log(F.lit(2.0))
    )
    tail = t.agg(F.sum(F.exp(lnp)).alias("p_raw"))
    return m.crossJoin(F.broadcast(tail)).select(
        F.col("a").cast("long").alias("both_pos"),
        F.col("b").cast("long").alias("only_a"),
        F.col("c").cast("long").alias("only_b"),
        F.col("d").cast("long").alias("both_neg"),
        F.when(F.col("nd") == 0, F.lit(None).cast("double"))
        .otherwise(
            F.round(
                (F.col("b") - F.col("c"))
                * (F.col("b") - F.col("c"))
                / (1.0 * F.col("nd")),
                6,
            )
        )
        .alias("mcnemar_chi2"),
        F.round(F.least(F.lit(1.0), 2.0 * F.col("p_raw")), 6).alias(
            "p_two_sided"
        ),
    )


# --- Cohen's kappa ------------------------------------------------------------

STAT_COHENS_KAPPA_ORACLE = (
    f"WITH cells AS ({_PAIR_CELLS_SQL}), "
    "m AS (SELECT a, b, c, d, a + b + c + d AS n FROM cells) "
    "SELECT CAST(a AS BIGINT) AS both_pos, CAST(b AS BIGINT) AS only_a, "
    "CAST(c AS BIGINT) AS only_b, CAST(d AS BIGINT) AS both_neg, "
    "CASE WHEN n = 0 THEN NULL ELSE round((a + d) / (1.0 * n), 6) END AS po, "
    "CASE WHEN n = 0 THEN NULL ELSE round("
    "  ((a + b) * (a + c) + (c + d) * (b + d)) / (1.0 * n * n), 6) END AS pe, "
    "CASE WHEN n = 0 OR n * n = (a + b) * (a + c) + (c + d) * (b + d) "
    "  THEN NULL ELSE round("
    "  ((a + d) / (1.0 * n) "
    "    - ((a + b) * (a + c) + (c + d) * (b + d)) / (1.0 * n * n)) "
    "  / (1.0 - ((a + b) * (a + c) + (c + d) * (b + d)) / (1.0 * n * n)), 6) "
    "END AS kappa "
    "FROM m"
)


def stat_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa (1960) — chance-corrected agreement between the
    langid marker heuristic and ground truth over the SAME 2×2 cells as
    stat_mcnemar: κ = (p_o − p_e)/(1 − p_e) with p_o the observed
    agreement and p_e the agreement expected from the marginals. The
    annotation-QA number raw accuracy overstates: a detector that says
    "English" for everything gets p_o = base rate but κ = 0.

    Exactness: cells/marginals are exact integers; p_o, p_e, κ are
    single double expressions over them, rounded 6 dp; κ is NULL when
    p_e = 1 (a constant classifier — division by zero on both engines'
    guard).

    Scale: one scan, 4 integers, constant-size arithmetic."""
    cells = _pair_cells(spark, sf_dir)
    n = F.col("a") + F.col("b") + F.col("c") + F.col("d")
    chance = (F.col("a") + F.col("b")) * (F.col("a") + F.col("c")) + (
        F.col("c") + F.col("d")
    ) * (F.col("b") + F.col("d"))
    po = (F.col("a") + F.col("d")) / (1.0 * n)
    pe = chance / (1.0 * n * n)
    return cells.select(
        F.col("a").cast("long").alias("both_pos"),
        F.col("b").cast("long").alias("only_a"),
        F.col("c").cast("long").alias("only_b"),
        F.col("d").cast("long").alias("both_neg"),
        F.when(n == 0, F.lit(None).cast("double"))
        .otherwise(F.round(po, 6))
        .alias("po"),
        F.when(n == 0, F.lit(None).cast("double"))
        .otherwise(F.round(pe, 6))
        .alias("pe"),
        F.when(
            (n == 0) | (n * n == chance), F.lit(None).cast("double")
        )
        .otherwise(F.round((po - pe) / (1.0 - pe), 6))
        .alias("kappa"),
    )


# --- retrieval-quality metrics ------------------------------------------------

_REV_PROBES = 5  # vec_id < 5 double as queries
_REV_K = 10  # metrics cutoff

_REV_RANK_SQL = (
    "SELECT q.vec_id AS query_id, d.vec_id AS doc_id, "
    "CASE WHEN d.label = q.label THEN 1 ELSE 0 END AS rel, "
    "row_number() OVER (PARTITION BY q.vec_id ORDER BY "
    "  round(list_dot_product(CAST(q.embedding AS DOUBLE[]), "
    "                         CAST(d.embedding AS DOUBLE[])) "
    "    / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[]))) "
    "     * sqrt(list_dot_product(CAST(d.embedding AS DOUBLE[]), CAST(d.embedding AS DOUBLE[])))), 6) DESC, "
    "  d.vec_id) AS rnk "
    f"FROM embeddings q JOIN embeddings d ON q.vec_id < {_REV_PROBES} "
    "  AND d.vec_id <> q.vec_id"
)

SIM_RETRIEVAL_EVAL_ORACLE = (
    f"WITH r AS ({_REV_RANK_SQL}), "
    "rtot AS (SELECT query_id, sum(rel) AS n_rel FROM r GROUP BY 1), "
    f"top AS (SELECT * FROM r WHERE rnk <= {_REV_K}), "
    "tk AS ("
    "  SELECT query_id, sum(rel) AS rel_at_k, "
    "  min(CASE WHEN rel = 1 THEN rnk END) AS first_rel, "
    "  sum(CASE WHEN rel = 1 THEN 1.0 / (ln(rnk + 1.0) / ln(2.0)) "
    "      ELSE 0.0 END) AS dcg"
    "  FROM top GROUP BY 1"
    "), idcg AS ("
    "  SELECT rtot.query_id, sum(1.0 / (ln(t.i + 1.0) / ln(2.0))) AS idcg"
    "  FROM rtot, unnest(generate_series(1, "
    f"    CAST(least(rtot.n_rel, {_REV_K}) AS BIGINT))) t(i)"
    "  GROUP BY 1"
    ") SELECT tk.query_id, CAST(rtot.n_rel AS BIGINT) AS n_rel, "
    "CAST(tk.rel_at_k AS BIGINT) AS rel_at_k, "
    f"round(tk.rel_at_k / {float(_REV_K)}, 6) AS precision_at_k, "
    "CASE WHEN rtot.n_rel = 0 THEN NULL "
    "     ELSE round(tk.rel_at_k / (1.0 * rtot.n_rel), 6) END AS recall_at_k, "
    "round(CASE WHEN tk.first_rel IS NULL THEN 0.0 "
    "      ELSE 1.0 / tk.first_rel END, 6) AS mrr_at_k, "
    "CASE WHEN idcg.idcg IS NULL THEN NULL "
    "     ELSE round(tk.dcg / idcg.idcg, 6) END AS ndcg_at_k "
    "FROM tk JOIN rtot USING (query_id) LEFT JOIN idcg USING (query_id)"
)


def sim_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-quality evaluation of the embedding retrieval stack:
    rank all candidates per query by 6-dp-rounded cosine (vec_id
    tiebreak — the sim_knn_query convention), relevance = label match,
    and report the four standard numbers at k=10: precision@k,
    recall@k (of ALL relevant, not just top-k), MRR@k (0 when no
    relevant hit in the top k), and NDCG@k with the exact ideal-DCG
    denominator Σ_{i≤min(R,k)} 1/log₂(i+1). This is the measurement
    layer that says whether sim_topk_blocked / sim_pq / sim_rrf_hybrid
    re-rankings actually help.

    Exactness: ranks are decided on rounded scores with integer
    tiebreaks; rel counts are exact integers; DCG/IDCG sum ≤ k
    identical double terms (6-dp round absorbs order).

    Scale: the bounded probe set broadcasts against the corpus (swap in
    the ANN index for the exact scan at 100 TB — the metrics layer is
    unchanged); everything after the rank window is per-query
    constant-size. plan_audit allowlists the bounded-probe broadcast
    NLJ (the sim_rrf_hybrid precedent)."""
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < _REV_PROBES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("label").alias("qlabel"),
    )
    # the shared JVM-side fold from similarity.py — one definition of the
    # dot/norm semantics, not a hand-synced F.expr copy (r8 review)
    from .similarity import dot as _dot

    dot = _dot(F.col("qe"), F.col("embedding"))
    norm = lambda c: F.sqrt(_dot(F.col(c), F.col(c)))  # noqa: E731
    r = (
        emb.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("doc_id"),
            F.when(F.col("label") == F.col("qlabel"), 1)
            .otherwise(0)
            .alias("rel"),
            F.round(dot / (norm("qe") * norm("embedding")), 6).alias("cos"),
        )
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("cos").desc(), "doc_id"
                )
            ),
        )
    )
    rtot = r.groupBy("query_id").agg(F.sum("rel").alias("n_rel"))
    log2 = lambda x: F.log(x) / F.log(F.lit(2.0))  # noqa: E731
    tk = (
        r.filter(F.col("rnk") <= _REV_K)
        .groupBy("query_id")
        .agg(
            F.sum("rel").alias("rel_at_k"),
            F.min(F.when(F.col("rel") == 1, F.col("rnk"))).alias(
                "first_rel"
            ),
            F.sum(
                F.when(
                    F.col("rel") == 1,
                    1.0 / log2(F.col("rnk") + 1.0),
                ).otherwise(0.0)
            ).alias("dcg"),
        )
    )
    idcg = (
        rtot.filter(F.col("n_rel") >= 1)
        .select(
            "query_id",
            F.explode(
                F.sequence(
                    F.lit(1), F.least(F.col("n_rel"), F.lit(_REV_K))
                )
            ).alias("i"),
        )
        .groupBy("query_id")
        .agg(F.sum(1.0 / log2(F.col("i") + 1.0)).alias("idcg"))
    )
    return (
        tk.join(rtot, "query_id")
        .join(idcg, "query_id", "left")
        .select(
            "query_id",
            F.col("n_rel").cast("long").alias("n_rel"),
            F.col("rel_at_k").cast("long").alias("rel_at_k"),
            F.round(F.col("rel_at_k") / float(_REV_K), 6).alias(
                "precision_at_k"
            ),
            F.when(F.col("n_rel") == 0, F.lit(None).cast("double"))
            .otherwise(
                F.round(F.col("rel_at_k") / (1.0 * F.col("n_rel")), 6)
            )
            .alias("recall_at_k"),
            F.round(
                F.when(F.col("first_rel").isNull(), 0.0).otherwise(
                    1.0 / F.col("first_rel")
                ),
                6,
            ).alias("mrr_at_k"),
            F.when(F.col("idcg").isNull(), F.lit(None).cast("double"))
            .otherwise(F.round(F.col("dcg") / F.col("idcg"), 6))
            .alias("ndcg_at_k"),
        )
    )


# --- k-anonymity audit --------------------------------------------------------

_KANON_K = 5  # the privacy threshold: groups smaller than this are "at risk"

DQ_K_ANONYMITY_ORACLE = (
    "WITH q AS ("
    "  SELECT c_mktsegment AS seg, c_nationkey AS nat, "
    f"  CAST(floor(({money_cents_sql('c_acctbal')}) / 100000.0) AS BIGINT) "
    "    AS bal_bucket"
    "  FROM customer"
    "), g AS ("
    "  SELECT seg, nat, bal_bucket, count(*) AS sz FROM q GROUP BY 1, 2, 3"
    ") SELECT CAST(coalesce(sum(sz), 0) AS BIGINT) AS n_rows, "
    "CAST(count(*) AS BIGINT) AS n_groups, "
    "CAST(min(sz) AS BIGINT) AS k_anonymity, "
    f"CAST(coalesce(sum(CASE WHEN sz < {_KANON_K} THEN 1 ELSE 0 END), 0) "
    "  AS BIGINT) AS groups_below_k, "
    f"CAST(coalesce(sum(CASE WHEN sz < {_KANON_K} THEN sz ELSE 0 END), 0) "
    "  AS BIGINT) AS rows_below_k, "
    f"CASE WHEN coalesce(sum(sz), 0) = 0 THEN NULL ELSE "
    f"round(sum(CASE WHEN sz < {_KANON_K} THEN sz ELSE 0 END) "
    "  / (1.0 * sum(sz)), 6) END AS at_risk_share "
    "FROM g"
)


def dq_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy audit of the customer table under the quasi-identifier
    (market segment, nation, $1000 account-balance bucket) — Sweeney's
    k-anonymity: the minimum group size k (an attacker knowing the QI
    narrows any customer to ≥ k candidates), the number of groups below
    the k=5 policy line, and the share of rows in them. The release
    gate a training-data pipeline runs before shipping user-derived
    records.

    Exactness: the balance bucket floors EXACT integer cents (the
    money_cents fixed-point convention) divided by 100 000 — floor on
    an integer-valued-double quotient, identical on both engines for
    negative balances too (a bare integer ``div`` truncates toward
    zero and would disagree at -$123).

    Scale: one groupBy to the QI census (bounded by the QI domain),
    then a constant-size rollup — corpus volume touches only the first
    map-side-combining aggregate."""
    q = load_table(spark, sf_dir, "customer").select(
        F.col("c_mktsegment").alias("seg"),
        F.col("c_nationkey").alias("nat"),
        F.floor(money_cents(F.col("c_acctbal")) / 100000.0)
        .cast("long")
        .alias("bal_bucket"),
    )
    g = q.groupBy("seg", "nat", "bal_bucket").agg(F.count("*").alias("sz"))
    at_risk = F.sum(F.when(F.col("sz") < _KANON_K, F.col("sz")).otherwise(0))
    return g.agg(
        F.coalesce(F.sum("sz"), F.lit(0)).cast("long").alias("n_rows"),
        F.count("*").cast("long").alias("n_groups"),
        F.min("sz").cast("long").alias("k_anonymity"),
        F.coalesce(
            F.sum(F.when(F.col("sz") < _KANON_K, 1).otherwise(0)), F.lit(0)
        )
        .cast("long")
        .alias("groups_below_k"),
        F.coalesce(at_risk, F.lit(0)).cast("long").alias("rows_below_k"),
        F.when(
            F.coalesce(F.sum("sz"), F.lit(0)) == 0,
            F.lit(None).cast("double"),
        )
        .otherwise(F.round(at_risk / (1.0 * F.sum("sz")), 6))
        .alias("at_risk_share"),
    )


# --- winnowing fingerprint dedup ---------------------------------------------

_WIN_K = 4  # tokens per gram
_WIN_W = 4  # grams per winnow window -> guarantee length k + w - 1 = 7 tokens

DEDUP_WINNOW_ORACLE = (
    "WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), "
    "g AS ("
    "  SELECT doc_id, list_transform(generate_series(1, "
    f"    greatest(len(toks) - {_WIN_K - 1}, 0)), "
    f"    i -> array_to_string(list_slice(toks, i, i + {_WIN_K - 1}), ' ')) "
    "    AS grams"
    "  FROM t"
    "), gh AS ("
    "  SELECT doc_id, grams, list_transform(grams, "
    "    x -> CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT)) AS ghs"
    "  FROM g"
    "), fps AS ("
    "  SELECT DISTINCT doc_id, fp FROM ("
    "    SELECT doc_id, unnest(list_transform(generate_series(1, "
    f"      greatest(len(ghs) - {_WIN_W - 1}, 0)), "
    f"      j -> list_min(list_slice(ghs, j, j + {_WIN_W - 1})))) AS fp"
    "    FROM gh)"
    "), cand AS ("
    "  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared_fp"
    "  FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id"
    "  GROUP BY 1, 2"
    "), cdocs AS ("
    "  SELECT DISTINCT doc_id FROM ("
    "    SELECT doc_a AS doc_id FROM cand "
    "    UNION ALL SELECT doc_b FROM cand)"
    "), gset AS ("
    "  SELECT DISTINCT g.doc_id, gram FROM g "
    "  JOIN cdocs ON cdocs.doc_id = g.doc_id, unnest(g.grams) u(gram)"
    ") SELECT cand.doc_a, cand.doc_b, "
    "CAST(cand.n_shared_fp AS BIGINT) AS n_shared_fp, "
    "CAST(coalesce(v.n_shared_grams, 0) AS BIGINT) AS n_shared_grams "
    "FROM cand LEFT JOIN ("
    "  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, "
    "  count(*) AS n_shared_grams"
    "  FROM gset a JOIN gset b ON a.gram = b.gram AND a.doc_id < b.doc_id"
    "  GROUP BY 1, 2"
    ") v USING (doc_a, doc_b)"
)


def dedup_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint dedup candidates (Schleimer, Wilkerson &
    Aiken 2003 — the MOSS algorithm): hash every 4-token gram (the
    md5→60-bit convention shared with dedup_simhash), keep the MINIMUM
    hash of every 4-gram window as a fingerprint, and pair documents
    sharing a fingerprint. The windowed-minimum selection is the
    guaranteed sample: any shared token run of ≥ k+w−1 = 7 tokens
    forces a shared fingerprint (both docs' windows over that run see
    the same minimum) — unlike uniform sampling, recall on long
    overlaps is a THEOREM, while storing ~2/(w+1) of the span space.
    This is the scale path of dedup_spans' exhaustive registry: the
    fingerprint table is ~3× smaller here and shrinks linearly in w.

    Each candidate pair carries the exact shared-4-gram count
    (computed over candidate docs only) — pairs found by fingerprint
    but sharing only sub-window overlap show n_shared_grams ≥ 1 with
    small counts; template near-dups show large counts.

    Exactness: gram hashes are the md5-prefix integers both engines
    parse identically; window minima, distinct-fp sets and every count
    are exact integers.

    Scale: gram hashing and window minima are per-doc array lambdas
    (zero shuffle, whole-stage codegen); the pair join is bucketed by
    fingerprint value — never all-pairs; the exact-gram verify join
    runs over CANDIDATE documents only."""
    t = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.split(F.col("text"), " ").alias("toks"))
        # docs shorter than the k+w-1 guarantee emit no fingerprints (the
        # oracle's generate_series(1, 0) is simply empty) and can never
        # appear in a candidate pair, so drop them BEFORE the transforms:
        # without the guard, Spark's sequence(1, greatest(n, 0)) bottoms
        # out at the DESCENDING [1, 0] and slice(_, 0, k) throws
        # INVALID_PARAMETER_VALUE on any short/empty doc (r8 review; the
        # curation_ext.py size-guard precedent)
        .where(F.size("toks") >= _WIN_K + _WIN_W - 1)
    )
    g = t.select(
        "doc_id",
        F.expr(
            f"transform(sequence(1, greatest(size(toks) - {_WIN_K - 1}, 0)), "
            f"i -> concat_ws(' ', slice(toks, i, {_WIN_K})))"
        ).alias("grams"),
    )
    gh = g.select(
        "doc_id",
        "grams",
        F.expr(
            "transform(grams, x -> cast(conv(substr(md5(x), 1, 15), 16, 10) "
            "as bigint))"
        ).alias("ghs"),
    )
    fps = (
        gh.select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, greatest(size(ghs) - {_WIN_W - 1}, 0)), "
                    f"j -> array_min(slice(ghs, j, {_WIN_W})))"
                )
            ).alias("fp"),
        )
        .distinct()
    )
    a = fps.select(F.col("doc_id").alias("doc_a"), "fp")
    b = fps.select(F.col("doc_id").alias("doc_b"), "fp")
    cand = (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared_fp"))
    )
    cdocs = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionAll(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    gset = (
        g.join(cdocs, "doc_id")
        .select("doc_id", F.explode("grams").alias("gram"))
        .distinct()
    )
    ga = gset.select(F.col("doc_id").alias("doc_a"), "gram")
    gb = gset.select(F.col("doc_id").alias("doc_b"), "gram")
    ver = (
        ga.join(gb, "gram")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared_grams"))
    )
    return cand.join(ver, ["doc_a", "doc_b"], "left").select(
        "doc_a",
        "doc_b",
        F.col("n_shared_fp").cast("long").alias("n_shared_fp"),
        F.coalesce(F.col("n_shared_grams"), F.lit(0))
        .cast("long")
        .alias("n_shared_grams"),
    )


# --- importance reweighting ---------------------------------------------------

SAMPLE_IMPORTANCE_ORACLE = (
    "WITH s AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1), "
    "t AS (SELECT sum(n) AS nn, count(*) AS l FROM s), "
    "w AS ("
    "  SELECT s.lang, s.n, round(s.n / (1.0 * t.nn), 6) AS share, "
    "  round(t.nn / (1.0 * t.l * s.n), 6) AS weight"
    "  FROM s CROSS JOIN t"
    "), e AS ("
    "  SELECT sum(n * weight) AS sw, sum(n * weight * weight) AS sw2 FROM w"
    ") SELECT w.lang, CAST(w.n AS BIGINT) AS n_docs, w.share, w.weight, "
    "round(e.sw * e.sw / e.sw2, 4) AS ess, "
    "round(e.sw * e.sw / (e.sw2 * (SELECT nn FROM t)), 6) AS efficiency "
    "FROM w CROSS JOIN e"
)


def sample_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance reweighting of the corpus language mix to a UNIFORM
    target: per-language weight w_ℓ = target_ℓ / share_ℓ = N/(L·n_ℓ)
    (the standard covariate-shift correction for training on a skewed
    mix while optimizing a balanced objective), plus the Kish effective
    sample size ESS = (Σw)²/Σw² and ESS/N efficiency — the number that
    says what the reweighting costs in variance (ESS = N iff the mix
    is already on-target).

    Exactness: counts are exact integers; shares/weights are single
    rounded ratios; ESS aggregates L ≤ 5 per-language terms built from
    the ROUNDED weights, so both engines square and sum identical
    doubles (4-dp round absorbs order).

    Scale: one map-side-combining groupBy to |langs| rows; everything
    after is constant-size."""
    s = (
        load_table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
    )
    t = s.agg(F.sum("n").alias("nn"), F.count("*").alias("l"))
    w = s.crossJoin(F.broadcast(t)).select(
        "lang",
        "n",
        "nn",
        F.round(F.col("n") / (1.0 * F.col("nn")), 6).alias("share"),
        F.round(F.col("nn") / (1.0 * F.col("l") * F.col("n")), 6).alias(
            "weight"
        ),
    )
    e = w.agg(
        F.sum(F.col("n") * F.col("weight")).alias("sw"),
        F.sum(F.col("n") * F.col("weight") * F.col("weight")).alias("sw2"),
    )
    return w.crossJoin(F.broadcast(e)).select(
        "lang",
        F.col("n").cast("long").alias("n_docs"),
        "share",
        "weight",
        F.round(F.col("sw") * F.col("sw") / F.col("sw2"), 4).alias("ess"),
        F.round(
            F.col("sw") * F.col("sw") / (F.col("sw2") * F.col("nn")), 6
        ).alias("efficiency"),
    )


# --- external cluster validation ----------------------------------------------

def _kmeans_oracle_sql() -> str:
    from .similarity_ext import SIM_KMEANS_ORACLE

    return SIM_KMEANS_ORACLE


SIM_CLUSTER_PURITY_ORACLE = (
    f"WITH km AS (SELECT * FROM ({_kmeans_oracle_sql()}) t), "
    "j AS ("
    "  SELECT km.cluster, e.label FROM km "
    "  JOIN embeddings e USING (vec_id)"
    "), cont AS (SELECT cluster, label, count(*) AS n FROM j GROUP BY 1, 2), "
    "ct AS (SELECT cluster, sum(n) AS nc FROM cont GROUP BY 1), "
    "lt AS (SELECT label, sum(n) AS nl FROM cont GROUP BY 1), "
    "tot AS (SELECT sum(n) AS nn FROM cont), "
    "mx AS (SELECT cluster, max(n) AS mxn FROM cont GROUP BY 1), "
    "ent AS ("
    "  SELECT "
    "  (SELECT -sum((nc / (1.0 * tot.nn)) * ln(nc / (1.0 * tot.nn))) "
    "   FROM ct) AS hc, "
    "  (SELECT -sum((nl / (1.0 * tot.nn)) * ln(nl / (1.0 * tot.nn))) "
    "   FROM lt) AS hl, "
    "  (SELECT sum((cont.n / (1.0 * tot.nn)) "
    "    * ln((cont.n * tot.nn) / (1.0 * ct.nc * lt.nl))) "
    "   FROM cont JOIN ct USING (cluster) JOIN lt USING (label)) AS mi, "
    "  tot.nn AS nn"
    "  FROM tot"
    ") SELECT CAST(coalesce(ent.nn, 0) AS BIGINT) AS n, "
    "CAST((SELECT count(*) FROM ct) AS BIGINT) AS k_clusters, "
    "CAST((SELECT count(*) FROM lt) AS BIGINT) AS n_labels, "
    "CASE WHEN coalesce(ent.nn, 0) = 0 THEN NULL "
    "     ELSE round((SELECT sum(mxn) FROM mx) / (1.0 * ent.nn), 6) END "
    "  AS purity, "
    "CASE WHEN coalesce(ent.nn, 0) = 0 OR ent.hc * ent.hl = 0 THEN NULL "
    "     ELSE round(ent.mi / sqrt(ent.hc * ent.hl), 6) END AS nmi "
    "FROM ent"
)


def sim_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """External validation of sim_kmeans' deterministic 2-iteration
    Lloyd assignment against the embedding labels: purity
    (Σ_c max_ℓ n_cℓ / N — the share of vectors whose cluster's majority
    label matches theirs) and normalized mutual information
    NMI = I(C;L)/√(H(C)·H(L)) — purity's chance-corrected sibling (a
    K=N clustering gets purity 1 but NMI near 0). The number that says
    whether the embedding space actually separates the classes —
    i.e. whether IVF/SemDeDup-style clustering stages can be trusted.

    Composes the REGISTERED sim_kmeans verbatim on the Spark side; the
    oracle embeds sim_kmeans' full registered SQL as a subquery (the
    pipeline_dedup_report precedent), so cluster assignments are
    engine-exact by that key's own hash-verified contract.

    Exactness: the contingency table and margins are exact integers;
    entropies/MI aggregate ≤ K·|labels| double terms of exact-count
    ratios under the 6-dp round (the stat_chi2 precedent); NMI is NULL
    when either entropy is 0 (single cluster or single label).

    Scale: contingency is a K×|labels| frame — constant-size after one
    groupBy over the assignment."""
    from .similarity_ext import sim_kmeans

    km = sim_kmeans(spark, sf_dir).select("vec_id", "cluster")
    lab = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    cont = (
        km.join(lab, "vec_id")
        .groupBy("cluster", "label")
        .agg(F.count("*").alias("n"))
    )
    ct = cont.groupBy("cluster").agg(F.sum("n").alias("nc"))
    lt = cont.groupBy("label").agg(F.sum("n").alias("nl"))
    tot = cont.agg(F.coalesce(F.sum("n"), F.lit(0)).alias("nn"))
    mx = cont.groupBy("cluster").agg(F.max("n").alias("mxn"))
    joined = (
        cont.join(F.broadcast(ct), "cluster")
        .join(F.broadcast(lt), "label")
        .crossJoin(F.broadcast(tot))
    )
    mi = joined.agg(
        F.sum(
            (F.col("n") / (1.0 * F.col("nn")))
            * F.log(
                (F.col("n") * F.col("nn"))
                / (1.0 * F.col("nc") * F.col("nl"))
            )
        ).alias("mi")
    )
    hc = ct.crossJoin(F.broadcast(tot)).agg(
        (
            -F.sum(
                (F.col("nc") / (1.0 * F.col("nn")))
                * F.log(F.col("nc") / (1.0 * F.col("nn")))
            )
        ).alias("hc"),
        F.count("*").alias("k_clusters"),
    )
    hl = lt.crossJoin(F.broadcast(tot)).agg(
        (
            -F.sum(
                (F.col("nl") / (1.0 * F.col("nn")))
                * F.log(F.col("nl") / (1.0 * F.col("nn")))
            )
        ).alias("hl"),
        F.count("*").alias("n_labels"),
    )
    pur = mx.agg(F.sum("mxn").alias("sum_mx"))
    return (
        tot.crossJoin(F.broadcast(pur))
        .crossJoin(F.broadcast(mi))
        .crossJoin(F.broadcast(hc))
        .crossJoin(F.broadcast(hl))
        .select(
            F.col("nn").cast("long").alias("n"),
            F.col("k_clusters").cast("long").alias("k_clusters"),
            F.col("n_labels").cast("long").alias("n_labels"),
            F.when(F.col("nn") == 0, F.lit(None).cast("double"))
            .otherwise(F.round(F.col("sum_mx") / (1.0 * F.col("nn")), 6))
            .alias("purity"),
            F.when(
                (F.col("nn") == 0) | (F.col("hc") * F.col("hl") == 0),
                F.lit(None).cast("double"),
            )
            .otherwise(
                F.round(
                    F.col("mi") / F.sqrt(F.col("hc") * F.col("hl")), 6
                )
            )
            .alias("nmi"),
        )
    )


DEV_CASES = [
    ("stat_fisher_exact", stat_fisher_exact, STAT_FISHER_EXACT_ORACLE),
    ("stat_mcnemar", stat_mcnemar, STAT_MCNEMAR_ORACLE),
    ("stat_cohens_kappa", stat_cohens_kappa, STAT_COHENS_KAPPA_ORACLE),
    ("sim_retrieval_eval", sim_retrieval_eval, SIM_RETRIEVAL_EVAL_ORACLE),
    ("dq_k_anonymity", dq_k_anonymity, DQ_K_ANONYMITY_ORACLE),
    ("dedup_winnow", dedup_winnow, DEDUP_WINNOW_ORACLE),
    ("sample_importance", sample_importance, SAMPLE_IMPORTANCE_ORACLE),
    ("sim_cluster_purity", sim_cluster_purity, SIM_CLUSTER_PURITY_ORACLE),
]
