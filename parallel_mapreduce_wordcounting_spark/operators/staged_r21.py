"""Distributed ML-training-primitive wave. Like every ``staged_r*`` module with
``DEV_CASES``, it registers itself on import: the package root registers
each ``(key, fn, oracle)`` entry. tests/test_oracle_parity.py runs the
fn-vs-DuckDB compare; tests/test_staged_r21.py holds the independent
property checks.

Contents — the "can the engine TRAIN, not just filter?" wave:

- ``stat_naive_bayes`` — multinomial Naive Bayes language classifier
  trained on an 80% hash split of ``documents`` and evaluated on the
  rest, returning the full confusion matrix. The prediction argmax is
  decided on EXACT integer nano-nat scores (per-(word,label) log-weights
  quantized once, summed as int64), so no cross-engine float sum-order
  noise can flip a prediction.
- ``stat_gd_logreg`` — logistic regression by THREE full-batch gradient
  descent iterations (the distributed-SGD shape: gradients are map-side
  partial aggregates, weights are a driver-side 3-vector), weights
  re-quantized to 6 dp between iterations so both engines walk the
  identical trajectory.
- ``stat_decision_stump`` — histogram-based best-split search (the
  LightGBM/XGBoost inner loop): per-feature threshold grid → cumulative
  class counts → exact-integer Gini score per split → deterministic
  argmax.
- ``text_bleu`` — BLEU-2 of every verified near-duplicate pair
  (candidate = higher doc_id), the n-gram-precision audit of "HOW
  literal are our near-dups?" — clipped counts are exact integers, and
  the BLEU product needs only sqrt (IEEE-exact), no logs.
- ``stat_mi`` — mutual information + normalized MI between event type
  and day-of-week — the information-theoretic complement of
  stat_chi2_independence's p-value on the same contingency cells.
- ``event_cusum_alarm`` — one-sided CUSUM drift ALARM (Page's sequential
  detector with reset) per event type over daily volumes, monitored
  against a 10-day reference period. The recursion is ALL-INTEGER
  (counts scaled by 4·R so mean+25% allowance and the 2-mean threshold
  are exact), run per-group in ``applyInPandas`` and mirrored by a
  DuckDB RECURSIVE CTE — the order-dependent shape SQL windows cannot
  express. Distinct from the registered ``event_changepoint``: that one
  LOCATES a single retrospective mean shift at the CUSUM argmax; this
  one DETECTS online, with reset and an alarm threshold.

Exactness doctrine: unchanged — integer/decimal accumulation wherever a
sum crosses partitions; transcendentals (ln/exp) appear only in per-row
or per-cell expressions whose inputs are exact integers (identical IEEE
trees up to a library ulp), then are either quantized to integers BEFORE
any aggregation (the argmax paths) or land in final outputs rounded
≤6 dp (sum-order noise ~1e-13 « the rounding grain).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..pins import pin
from ..sources.loader import load_table, ts_day
from .exact import floor_day_us_sql, money_cents, money_cents_sql

_NANO = 1_000_000_000


def _q9(c):
    """A double quantized to integer nano-units, HALF_UP (the money_cents
    pattern at scale 1e9): |x| ≤ ~30 nats → ≤ 3e10 nano-nats, far inside
    int64 and the double-exact integer range."""
    return (F.signum(c) * F.floor(F.abs(c) * _NANO + F.lit(0.5))).cast("long")


def _q9_sql(x: str) -> str:
    """DuckDB mirror of :func:`_q9`."""
    return f"CAST(sign(({x})) * floor(abs(({x})) * {_NANO} + 0.5) AS BIGINT)"


# --- multinomial Naive Bayes train + confusion matrix ---------------------------

NB_ORACLE = (
    "WITH tok AS ("
    "  SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS w"
    "  FROM documents"
    "), tk AS (SELECT * FROM tok WHERE w <> ''), "
    "tr AS (SELECT * FROM tk WHERE doc_id % 5 <> 0), "
    "ev AS ("
    "  SELECT doc_id, lang, w, CAST(count(*) AS BIGINT) AS cnt"
    "  FROM tk WHERE doc_id % 5 = 0 GROUP BY 1, 2, 3"
    "), cwl AS (SELECT lang, w, CAST(count(*) AS BIGINT) AS c FROM tr GROUP BY 1, 2), "
    "ls AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n_l FROM cwl GROUP BY 1), "
    "pr AS (SELECT lang, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs_l "
    "  FROM tr GROUP BY 1), "
    "vc AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v FROM tr), "
    "nt AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_train FROM tr), "
    "lab AS ("
    "  SELECT pr.lang AS pred_lang, "
    f"  {_q9_sql('ln(CAST(n_docs_l AS DOUBLE) / n_train)')} AS prior_q, "
    f"  {_q9_sql('ln(1.0 / (n_l + v))')} AS default_q, "
    "  n_l, v"
    "  FROM pr JOIN ls USING (lang) CROSS JOIN vc CROSS JOIN nt WHERE v > 0"
    "), wt AS ("
    "  SELECT cwl.lang AS pred_lang, w, "
    f"  {_q9_sql('ln((c + 1.0) / (n_l + v))')} AS wq"
    "  FROM cwl JOIN ls USING (lang) CROSS JOIN vc"
    "), sc AS ("
    "  SELECT e.doc_id, e.lang AS true_lang, l.pred_lang, "
    "  max(l.prior_q) + sum(e.cnt * coalesce(wt.wq, l.default_q)) AS score"
    "  FROM ev e CROSS JOIN lab l "
    "  LEFT JOIN wt ON wt.w = e.w AND wt.pred_lang = l.pred_lang"
    "  GROUP BY 1, 2, 3"
    "), pk AS ("
    "  SELECT true_lang, pred_lang, row_number() OVER ("
    "    PARTITION BY doc_id ORDER BY score DESC, pred_lang) AS rn"
    "  FROM sc"
    ") SELECT true_lang AS lang, pred_lang, CAST(count(*) AS BIGINT) AS n_docs "
    "FROM pk WHERE rn = 1 GROUP BY 1, 2"
)


def stat_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes over ``documents``: train P(word|lang) with
    Laplace smoothing on the 80% split (doc_id % 5 != 0), classify the
    held-out 20%, and return the confusion matrix (true lang × predicted
    lang × doc count) — the fastText-style cheap classifier shape used to
    LABEL corpora (quality/language/domain) before filtering, here run
    entirely as DataFrame ops.

    Exact argmax: each (word,label) log-weight ln((c+1)/(N_l+V)) and each
    prior ln(n_l/n) is quantized ONCE to integer nano-nats (HALF_UP, the
    money_cents pattern at 1e9); document scores are then INT64 sums, so
    the argmax (ties → smallest label) is bit-exact on both engines in
    any accumulation order. Labels and vocabulary derive from the TRAIN
    split only — a corpus whose train slice is empty yields zero rows.

    Scale: the model is vocabulary×labels-sized → broadcast to the token
    stream (at open-vocab 100 TB you'd hash-bucket the vocabulary and
    let the weight join shuffle instead); the eval explode is linear;
    the per-doc argmax partitions by doc_id. One shuffle for training
    counts, one for scoring groups."""
    d = load_table(spark, sf_dir, "documents")
    toks = (
        d.select(
            "doc_id", "lang", F.explode(F.split(F.lower("text"), " ")).alias("w")
        )
        .where(F.col("w") != "")
    )
    train = toks.where(F.col("doc_id") % 5 != 0)
    ev = (
        toks.where(F.col("doc_id") % 5 == 0)
        .groupBy("doc_id", F.col("lang").alias("true_lang"), "w")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    cwl = train.groupBy("lang", "w").agg(F.count("*").cast("long").alias("c"))
    ls = cwl.groupBy("lang").agg(F.sum("c").cast("long").alias("n_l"))
    pr = train.groupBy("lang").agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs_l")
    )
    vc = train.agg(F.countDistinct("w").cast("long").alias("v"))
    nt = train.agg(F.countDistinct("doc_id").cast("long").alias("n_train"))
    lab = (
        pr.join(ls, "lang")
        .crossJoin(F.broadcast(vc))
        .crossJoin(F.broadcast(nt))
        .where(F.col("v") > 0)
        .select(
            F.col("lang").alias("pred_lang"),
            _q9(F.log(F.col("n_docs_l").cast("double") / F.col("n_train"))).alias(
                "prior_q"
            ),
            _q9(F.log(F.lit(1.0) / (F.col("n_l") + F.col("v")))).alias("default_q"),
        )
    )
    wt = (
        cwl.join(ls, "lang")
        .crossJoin(F.broadcast(vc))
        .select(
            F.col("lang").alias("pred_lang"),
            "w",
            _q9(F.log((F.col("c") + F.lit(1.0)) / (F.col("n_l") + F.col("v")))).alias(
                "wq"
            ),
        )
    )
    sc = (
        ev.crossJoin(F.broadcast(lab))
        .join(F.broadcast(wt), ["w", "pred_lang"], "left")
        .groupBy("doc_id", "true_lang", "pred_lang")
        .agg(
            (
                F.max("prior_q")
                + F.sum(F.col("cnt") * F.coalesce(F.col("wq"), F.col("default_q")))
            ).alias("score")
        )
    )
    win = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.asc("pred_lang")
    )
    return (
        sc.withColumn("rn", F.row_number().over(win))
        .where(F.col("rn") == 1)
        .groupBy(F.col("true_lang").alias("lang"), "pred_lang")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )


# --- full-batch gradient-descent logistic regression ----------------------------

_GD_ITERS = 3
_GD_LR = 0.5

# one quantized weight step, as SQL: round-to-6dp via the sign/floor form
# (identical to the Python walk in stat_gd_logreg and to F.round HALF_UP)
def _w6_sql(x: str) -> str:
    return f"(sign(({x})) * floor(abs(({x})) * 1000000 + 0.5) / 1000000.0)"


def _w6_py(v: float) -> float:
    return math.copysign(math.floor(abs(v) * 1_000_000 + 0.5), v) / 1_000_000.0


def _gd_prefix() -> str:
    """The shared CTE chain through the final weights ``w3`` — reused by
    ``staged_r22.pipeline_active_learning``'s oracle."""
    sql = (
        "WITH d AS ("
        "  SELECT l_quantity / 50.0 AS x1, l_discount * 10.0 AS x2, "
        "  CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y"
        "  FROM lineitem"
        "), w0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2)"
    )
    for i in range(_GD_ITERS):
        z = f"(w0 + w1 * x1 + w2 * x2)"
        p = f"(1.0 / (1.0 + exp(-{z})))"
        sql += (
            f", g{i + 1} AS ("
            f"  SELECT count(*) AS n, "
            f"  avg(({p} - y)) AS gb, avg(({p} - y) * x1) AS g1, "
            f"  avg(({p} - y) * x2) AS g2, max(w0) AS w0, max(w1) AS w1, "
            f"  max(w2) AS w2 FROM d CROSS JOIN w{i}"
            f"), w{i + 1} AS ("
            f"  SELECT {_w6_sql(f'w0 - {_GD_LR} * gb')} AS w0, "
            f"  {_w6_sql(f'w1 - {_GD_LR} * g1')} AS w1, "
            f"  {_w6_sql(f'w2 - {_GD_LR} * g2')} AS w2, n FROM g{i + 1}"
            ")"
        )
    return sql


def _gd_oracle() -> str:
    """Chained-CTE unroll of the 3 GD iterations: gradient CTE → weight
    CTE per step, then the final accuracy/log-loss scan."""
    sql = _gd_prefix()
    z = "(w0 + w1 * x1 + w2 * x2)"
    return sql + (
        f" SELECT CAST(n AS BIGINT) AS n, w0, w1, w2, "
        "CAST(sum(CASE WHEN ({z} > 0.0) = (y > 0.5) THEN 1 ELSE 0 END) "
        "  AS BIGINT) AS n_correct, "
        "round(CAST(sum(CASE WHEN ({z} > 0.0) = (y > 0.5) THEN 1 ELSE 0 END) "
        "  AS DOUBLE) / n, 6) AS accuracy, "
        "round(avg(ln(1.0 + exp(-((2.0 * y - 1.0) * {z})))), 6) AS logloss "
        f"FROM d CROSS JOIN w{_GD_ITERS} "
        "GROUP BY n, w0, w1, w2 HAVING n > 0"
    ).replace("{z}", z)


GD_LOGREG_ORACLE = _gd_oracle()

_GD_SCHEMA = (
    "n long, w0 double, w1 double, w2 double, n_correct long, "
    "accuracy double, logloss double"
)


def _gd_fit(spark: SparkSession, sf_dir: str):
    """Run the 3 quantized GD iterations; return (features_df, weights)
    with weights None on an empty corpus. Shared by ``stat_gd_logreg``
    and ``staged_r22.pipeline_active_learning`` so both walk the one
    trajectory the unrolled oracle CTEs replicate."""
    li = load_table(spark, sf_dir, "lineitem")
    d = li.select(
        (F.col("l_quantity") / 50.0).alias("x1"),
        (F.col("l_discount") * 10.0).alias("x2"),
        F.when(F.col("l_returnflag") == "R", 1.0).otherwise(0.0).alias("y"),
    )
    w = (0.0, 0.0, 0.0)
    for _ in range(_GD_ITERS):
        z = F.lit(w[0]) + F.lit(w[1]) * F.col("x1") + F.lit(w[2]) * F.col("x2")
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        r = d.agg(
            F.count("*").alias("n"),
            F.avg(p - F.col("y")).alias("gb"),
            F.avg((p - F.col("y")) * F.col("x1")).alias("g1"),
            F.avg((p - F.col("y")) * F.col("x2")).alias("g2"),
        ).collect()[0]
        if not r["n"]:
            return d, None
        w = (
            _w6_py(w[0] - _GD_LR * r["gb"]),
            _w6_py(w[1] - _GD_LR * r["g1"]),
            _w6_py(w[2] - _GD_LR * r["g2"]),
        )
    return d, w


def stat_gd_logreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic regression — P(l_returnflag = 'R' | quantity, discount) —
    trained by THREE full-batch gradient-descent iterations: exactly the
    distributed-training shape (each iteration is ONE map-side-combined
    gradient aggregate producing a 3-number partial sum per partition; the
    driver holds only the weight vector). Features are scaled to [0,1] by
    exact constant arithmetic (qty/50, disc×10).

    Cross-engine determinism: weights are re-quantized to 6 dp after every
    step with the HALF_UP sign/floor form, so both engines (and the
    pure-Python replica in the tests) walk the identical trajectory — the
    only float noise is the gradient mean's summation order (~1e-15),
    absorbed by the 6 dp grain. The final accuracy count is an exact
    integer: z's sign is an identical IEEE tree given identical quantized
    weights. Returns one row (n, w0..w2, n_correct, accuracy, logloss) —
    zero rows on an empty corpus.

    Scale: per iteration ONE scan + a 4-double aggregate — no shuffle of
    data rows at all (partial aggregation); the driver collect is a
    single row per iteration, constant in corpus size. This is textbook
    synchronous data-parallel SGD with batch = everything."""
    d, w = _gd_fit(spark, sf_dir)
    if w is None:
        return spark.createDataFrame([], _GD_SCHEMA)
    z = F.lit(w[0]) + F.lit(w[1]) * F.col("x1") + F.lit(w[2]) * F.col("x2")
    correct = F.when((z > 0.0) == (F.col("y") > 0.5), 1).otherwise(0)
    margin = (F.lit(2.0) * F.col("y") - F.lit(1.0)) * z
    return d.agg(
        F.count("*").cast("long").alias("n"),
        F.lit(w[0]).alias("w0"),
        F.lit(w[1]).alias("w1"),
        F.lit(w[2]).alias("w2"),
        F.sum(correct).cast("long").alias("n_correct"),
        F.round(
            F.sum(correct).cast("double") / F.count("*"), 6
        ).alias("accuracy"),
        F.round(F.avg(F.log(F.lit(1.0) + F.exp(-margin))), 6).alias("logloss"),
    ).where(F.col("n") > 0)


# --- histogram-based decision-stump split search --------------------------------

STUMP_ORACLE = (
    "WITH b AS ("
    "  SELECT 'l_quantity' AS feature, CAST(l_quantity AS BIGINT) AS v, "
    "  CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y FROM lineitem"
    "  UNION ALL "
    f"  SELECT 'l_discount_cents', {money_cents_sql('l_discount')}, "
    "  CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END FROM lineitem"
    "), g AS ("
    "  SELECT feature, v, CAST(count(*) AS BIGINT) AS n_v, "
    "  CAST(sum(y) AS BIGINT) AS pos_v FROM b GROUP BY 1, 2"
    "), cum AS ("
    "  SELECT feature, v, "
    "  CAST(sum(n_v) OVER w AS BIGINT) AS n_l, "
    "  CAST(sum(pos_v) OVER w AS BIGINT) AS pos_l, "
    "  CAST(sum(n_v) OVER (PARTITION BY feature) AS BIGINT) AS n_t, "
    "  CAST(sum(pos_v) OVER (PARTITION BY feature) AS BIGINT) AS pos_t"
    "  FROM g WINDOW w AS (PARTITION BY feature ORDER BY v)"
    "), s AS ("
    "  SELECT feature, v, n_l, pos_l, n_t - n_l AS n_r, "
    "  pos_t - pos_l AS pos_r, n_t, pos_t, "
    "  CAST(pos_l * pos_l + (n_l - pos_l) * (n_l - pos_l) AS DOUBLE) / n_l"
    "    + CAST((pos_t - pos_l) * (pos_t - pos_l) "
    "      + ((n_t - n_l) - (pos_t - pos_l)) * ((n_t - n_l) - (pos_t - pos_l)) "
    "      AS DOUBLE) / (n_t - n_l) AS score"
    "  FROM cum WHERE n_t - n_l > 0"
    "), r AS ("
    "  SELECT *, row_number() OVER ("
    "    PARTITION BY feature ORDER BY score DESC, v) AS rn FROM s"
    ") SELECT feature, v AS thr, n_l AS n_left, pos_l AS pos_left, "
    "n_r AS n_right, pos_r AS pos_right, "
    "round(score / n_t "
    "  - CAST(pos_t * pos_t + (n_t - pos_t) * (n_t - pos_t) AS DOUBLE) "
    "    / n_t / n_t, 6) AS gini_gain "
    "FROM r WHERE rn = 1"
)


def stat_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best single-feature threshold split for y = (l_returnflag = 'R'),
    searched over the integer histogram grids of l_quantity (1..50) and
    l_discount in cents (0..10) — the histogram-based split finding at
    the core of LightGBM/XGBoost: aggregate the data ONCE per feature to
    (value, count, positives), then score every split from cumulative
    sums over the tiny grid.

    The split rule is x <= thr → left. Argmax determinism: the Gini score
    (pos_l² + neg_l²)/n_l + (pos_r² + neg_r²)/n_r is a double built from
    exact int64 counts by IEEE-exact ops only (× on ints < 2^53, /, +) —
    bit-identical on both engines — with ties broken to the smallest
    threshold. gini_gain = score/n − (pos² + neg²)/n² rescales it to the
    familiar impurity decrease (same IEEE tree both sides, rounded 6 dp).
    Splits with an empty right side are excluded; a constant feature
    yields no row for that feature; an empty corpus yields zero rows.
    (At 100 TB the squares want decimal(38) — counts beyond ~3e9 rows
    per side overflow int64 when squared; the fixture peaks ~6e5.)

    Scale: one shuffle per feature down to |grid| rows (50 + 11 here —
    LightGBM's default is 255 bins); the window scan is over the GRID,
    never the data. Adding features = adding unioned histogram branches."""
    li = load_table(spark, sf_dir, "lineitem")
    y = F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y")
    b = li.select(
        F.lit("l_quantity").alias("feature"),
        F.col("l_quantity").cast("long").alias("v"),
        y,
    ).unionByName(
        li.select(
            F.lit("l_discount_cents").alias("feature"),
            money_cents(F.col("l_discount")).alias("v"),
            y,
        )
    )
    g = b.groupBy("feature", "v").agg(
        F.count("*").cast("long").alias("n_v"),
        F.sum("y").cast("long").alias("pos_v"),
    )
    wcum = Window.partitionBy("feature").orderBy("v")
    wtot = Window.partitionBy("feature")
    cum = g.select(
        "feature",
        "v",
        F.sum("n_v").over(wcum).cast("long").alias("n_l"),
        F.sum("pos_v").over(wcum).cast("long").alias("pos_l"),
        F.sum("n_v").over(wtot).cast("long").alias("n_t"),
        F.sum("pos_v").over(wtot).cast("long").alias("pos_t"),
    )
    neg_l = F.col("n_l") - F.col("pos_l")
    n_r = F.col("n_t") - F.col("n_l")
    pos_r = F.col("pos_t") - F.col("pos_l")
    neg_r = n_r - pos_r
    s = cum.where(n_r > 0).select(
        "feature",
        "v",
        "n_l",
        "pos_l",
        n_r.alias("n_r"),
        pos_r.alias("pos_r"),
        "n_t",
        "pos_t",
        (
            (F.col("pos_l") * F.col("pos_l") + neg_l * neg_l).cast("double")
            / F.col("n_l")
            + (pos_r * pos_r + neg_r * neg_r).cast("double") / n_r
        ).alias("score"),
    )
    win = Window.partitionBy("feature").orderBy(F.desc("score"), F.asc("v"))
    neg_t = F.col("n_t") - F.col("pos_t")
    return (
        s.withColumn("rn", F.row_number().over(win))
        .where(F.col("rn") == 1)
        .select(
            "feature",
            F.col("v").alias("thr"),
            F.col("n_l").alias("n_left"),
            F.col("pos_l").alias("pos_left"),
            F.col("n_r").alias("n_right"),
            F.col("pos_r").alias("pos_right"),
            F.round(
                F.col("score") / F.col("n_t")
                - (F.col("pos_t") * F.col("pos_t") + neg_t * neg_t).cast("double")
                / F.col("n_t")
                / F.col("n_t"),
                6,
            ).alias("gini_gain"),
        )
    )


# --- BLEU-2 over verified near-duplicate pairs ----------------------------------


def _bleu_oracle() -> str:
    from .dedup import SHINGLES_CTE, oracle_jaccard_pairs_select

    return (
        f"{SHINGLES_CTE}, "
        f"p AS ({oracle_jaccard_pairs_select(0.3, 'doc_id_a', 'doc_id_b')}"
        "), tt AS ("
        "  SELECT doc_id, list_filter(string_split(lower(text), ' '), "
        "    x -> x <> '') AS t FROM documents"
        "), du AS ("
        "  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c FROM ("
        "    SELECT doc_id, unnest(t) AS w FROM tt) GROUP BY 1, 2"
        "), db AS ("
        "  SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c FROM ("
        "    SELECT doc_id, unnest(list_transform("
        "      generate_series(1, len(t) - 1), "
        "      i -> t[i] || ' ' || t[i + 1])) AS g FROM tt) GROUP BY 1, 2"
        "), dl AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n FROM tt), "
        "m1 AS ("
        "  SELECT p.doc_id_a, p.doc_id_b, "
        "  CAST(sum(least(cu.c, ru.c)) AS BIGINT) AS m1"
        "  FROM p JOIN du cu ON cu.doc_id = p.doc_id_b"
        "  JOIN du ru ON ru.doc_id = p.doc_id_a AND ru.w = cu.w"
        "  GROUP BY 1, 2"
        "), m2 AS ("
        "  SELECT p.doc_id_a, p.doc_id_b, "
        "  CAST(sum(least(cb.c, rb.c)) AS BIGINT) AS m2"
        "  FROM p JOIN db cb ON cb.doc_id = p.doc_id_b"
        "  JOIN db rb ON rb.doc_id = p.doc_id_a AND rb.g = cb.g"
        "  GROUP BY 1, 2"
        ") SELECT p.doc_id_a, p.doc_id_b, "
        "cl.n AS c_len, rl.n AS r_len, "
        "coalesce(m1.m1, 0) AS m1, coalesce(m2.m2, 0) AS m2, "
        "round((CASE WHEN cl.n >= rl.n THEN 1.0 "
        "  ELSE exp(1.0 - CAST(rl.n AS DOUBLE) / cl.n) END) "
        "  * sqrt((CAST(coalesce(m1.m1, 0) AS DOUBLE) / cl.n) "
        "    * (CAST(coalesce(m2.m2, 0) AS DOUBLE) / (cl.n - 1))), 6) AS bleu2 "
        "FROM p "
        "JOIN dl cl ON cl.doc_id = p.doc_id_b "
        "JOIN dl rl ON rl.doc_id = p.doc_id_a "
        "LEFT JOIN m1 ON m1.doc_id_a = p.doc_id_a AND m1.doc_id_b = p.doc_id_b "
        "LEFT JOIN m2 ON m2.doc_id_a = p.doc_id_a AND m2.doc_id_b = p.doc_id_b"
    )


def text_bleu(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-audit BLEU-2 of every VERIFIED near-duplicate pair (exact
    trigram-Jaccard ≥ 0.3 via the registered ``dedup_ngram_jaccard``
    inverted-index join — never all-pairs): candidate = the higher
    doc_id, reference = the lower. Jaccard says the documents share
    vocabulary; BLEU says they share ORDER — a pair with high Jaccard
    but low BLEU is a shuffle/paraphrase, high BLEU is a literal copy.
    That distinction picks the right dedup policy (drop vs keep-one).

    Exactness: clipped n-gram matches are exact integer multiset
    intersections (Σ min(candidate count, reference count)); BLEU-2 =
    BP · √(p1·p2) needs only IEEE-exact ops (sqrt, ·, /) on those
    integers, except the brevity penalty's exp — a per-pair scalar
    landing in the 6 dp-rounded output. Candidate pairs always have ≥3
    tokens (the shingle precondition), so no denominator can be zero.

    Scale: pair discovery goes through the LSH path — the registered
    ``dedup_fuzzy_minhash`` (banded MinHash candidates → exact-Jaccard
    verify), which the driver has hash-verified EQUAL to the exact
    inverted-index pair set on this fixture (CORRECTNESS r04; the band
    construction's miss probability above threshold is < 1e-7, measured
    256/256 at sf0.1) — because the exact postings self-join is
    Σ freq²-quadratic on this fixture's 31-word vocabulary (measured
    14 s vs 1.2 s at sf0.1). The token stream is then PRUNED to
    pair-member docs (broadcast semi-join on the tiny id list) before
    any explode, and the pair list itself broadcasts into the clipped
    count joins — so n-gram counting cost rides the near-dup pair
    population, never the corpus."""
    from .dedup import dedup_fuzzy_minhash

    # Both pinned frames are BOUNDED by the near-dup pair population (256
    # pairs / ≤512 member docs at sf0.1), yet feed 5 and 3 plan branches
    # respectively — unpinned, every branch re-ran the whole MinHash
    # pipeline and the pruned document scan (the dedup_eval_simhash
    # r13 disease). Interleaved same-session A/B at sf0.1 (3 rounds,
    # alternating, output row-for-row equal 256 pairs): pinned 1.7–1.9 s
    # vs unpinned 3.3–4.6 s (~2×).
    pairs = pin(dedup_fuzzy_minhash(spark, sf_dir).select("doc_id_a", "doc_id_b"))
    ids = (
        pairs.select(F.col("doc_id_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_id_b").alias("doc_id")))
        .distinct()
    )
    t = F.filter(F.split(F.lower("text"), " "), lambda x: x != "")
    tt = pin(
        load_table(spark, sf_dir, "documents")
        .join(F.broadcast(ids), "doc_id")
        .select("doc_id", t.alias("t"))
    )
    du = tt.select("doc_id", F.explode("t").alias("w")).groupBy(
        "doc_id", "w"
    ).agg(F.count("*").cast("long").alias("c"))
    grams = F.when(
        F.size("t") >= 2,
        F.expr(
            "transform(sequence(1, size(t) - 1), "
            "i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    db = tt.select("doc_id", F.explode(grams).alias("g")).groupBy(
        "doc_id", "g"
    ).agg(F.count("*").cast("long").alias("c"))
    dl = tt.select("doc_id", F.size("t").cast("long").alias("n"))
    m1 = (
        F.broadcast(pairs)
        .join(
            du.select(F.col("doc_id").alias("doc_id_b"), "w", F.col("c").alias("cc")),
            "doc_id_b",
        )
        .join(
            du.select(F.col("doc_id").alias("doc_id_a"), "w", F.col("c").alias("rc")),
            ["doc_id_a", "w"],
        )
        .groupBy("doc_id_a", "doc_id_b")
        .agg(F.sum(F.least("cc", "rc")).cast("long").alias("m1"))
    )
    m2 = (
        F.broadcast(pairs)
        .join(
            db.select(F.col("doc_id").alias("doc_id_b"), "g", F.col("c").alias("cc")),
            "doc_id_b",
        )
        .join(
            db.select(F.col("doc_id").alias("doc_id_a"), "g", F.col("c").alias("rc")),
            ["doc_id_a", "g"],
        )
        .groupBy("doc_id_a", "doc_id_b")
        .agg(F.sum(F.least("cc", "rc")).cast("long").alias("m2"))
    )
    out = (
        F.broadcast(pairs)
        .join(
            dl.select(F.col("doc_id").alias("doc_id_b"), F.col("n").alias("c_len")),
            "doc_id_b",
        )
        .join(
            dl.select(F.col("doc_id").alias("doc_id_a"), F.col("n").alias("r_len")),
            "doc_id_a",
        )
        .join(m1, ["doc_id_a", "doc_id_b"], "left")
        .join(m2, ["doc_id_a", "doc_id_b"], "left")
        .withColumn("m1", F.coalesce("m1", F.lit(0)).cast("long"))
        .withColumn("m2", F.coalesce("m2", F.lit(0)).cast("long"))
    )
    bp = F.when(F.col("c_len") >= F.col("r_len"), 1.0).otherwise(
        F.exp(F.lit(1.0) - F.col("r_len").cast("double") / F.col("c_len"))
    )
    p1 = F.col("m1").cast("double") / F.col("c_len")
    p2 = F.col("m2").cast("double") / (F.col("c_len") - 1)
    return out.select(
        "doc_id_a",
        "doc_id_b",
        "c_len",
        "r_len",
        "m1",
        "m2",
        F.round(bp * F.sqrt(p1 * p2), 6).alias("bleu2"),
    )


TEXT_BLEU_ORACLE = _bleu_oracle()


# --- mutual information over a contingency table --------------------------------

STAT_MI_ORACLE = (
    "WITH e AS ("
    f"  SELECT event_type, (({floor_day_us_sql()} % 7) + 7) % 7 AS dow"
    "  FROM events"
    "), cells AS ("
    "  SELECT event_type, dow, CAST(count(*) AS BIGINT) AS n_xy"
    "  FROM e GROUP BY 1, 2"
    "), mx AS (SELECT event_type, CAST(sum(n_xy) AS BIGINT) AS n_x "
    "  FROM cells GROUP BY 1), "
    "my AS (SELECT dow, CAST(sum(n_xy) AS BIGINT) AS n_y FROM cells GROUP BY 1), "
    "tot AS (SELECT CAST(sum(n_xy) AS BIGINT) AS n FROM cells), "
    "mi AS ("
    "  SELECT max(tot.n) AS n, CAST(count(*) AS BIGINT) AS n_cells, "
    "  sum(n_xy * ln((1.0 * n_xy * tot.n) / (1.0 * n_x * n_y))) AS mi_raw"
    "  FROM cells JOIN mx USING (event_type) JOIN my USING (dow) CROSS JOIN tot"
    "), hx AS (SELECT sum(n_x * ln(1.0 * n_x / tot.n)) AS hx_raw "
    "  FROM mx CROSS JOIN tot), "
    "hy AS (SELECT sum(n_y * ln(1.0 * n_y / tot.n)) AS hy_raw "
    "  FROM my CROSS JOIN tot) "
    "SELECT n, n_cells, round(mi_raw / n, 6) AS mi_nats, "
    "round(-hx_raw / n, 6) AS h_x, round(-hy_raw / n, 6) AS h_y, "
    "round((mi_raw / n) / nullif(sqrt(((-hx_raw) / n) * ((-hy_raw) / n)), 0.0), "
    "  6) AS nmi "
    "FROM mi CROSS JOIN hx CROSS JOIN hy WHERE n > 0"
)


def stat_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information (and normalized MI) between event type and
    day-of-week — "does WHAT happens depend on WHEN?" — the
    information-theoretic complement of ``stat_chi2_independence``'s
    significance test on the same contingency cells: chi² asks IF the
    margins are dependent, MI measures HOW MANY nats the dependence is
    worth (feature-selection's standard relevance score).

    Exactness: all cell and margin counts are exact int64; each of the
    ≤ |types|·7 cells contributes one ln() of an exact-integer ratio
    (n_xy·n and n_x·n_y are exact products « 2^53 — at 100-TB row counts
    promote them to decimal(38)); the weighted sums land in a 1-row
    output rounded 6 dp, absorbing summation-order noise (~1e-13). NMI's
    denominator is exactly 0.0 for a degenerate 1-cell table (ln 1 = 0
    exactly on both engines) → NULL via nullif/try_divide on both.

    Scale: one shuffle to contingency cells; margins and totals are
    grid-sized rollups of the cells, broadcast back — the data is
    scanned once."""
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type", F.pmod(ts_day(), F.lit(7)).alias("dow")
    ).agg(F.count("*").cast("long").alias("n_xy"))
    mx = cells.groupBy("event_type").agg(F.sum("n_xy").cast("long").alias("n_x"))
    my = cells.groupBy("dow").agg(F.sum("n_xy").cast("long").alias("n_y"))
    tot = cells.agg(F.sum("n_xy").cast("long").alias("n"))
    mi = (
        cells.join(F.broadcast(mx), "event_type")
        .join(F.broadcast(my), "dow")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.max("n").alias("n"),
            F.count("*").cast("long").alias("n_cells"),
            F.sum(
                F.col("n_xy")
                * F.log(
                    (F.lit(1.0) * F.col("n_xy") * F.col("n"))
                    / (F.lit(1.0) * F.col("n_x") * F.col("n_y"))
                )
            ).alias("mi_raw"),
        )
    )
    hx = mx.crossJoin(F.broadcast(tot)).agg(
        F.sum(F.col("n_x") * F.log(F.lit(1.0) * F.col("n_x") / F.col("n"))).alias(
            "hx_raw"
        )
    )
    hy = my.crossJoin(F.broadcast(tot)).agg(
        F.sum(F.col("n_y") * F.log(F.lit(1.0) * F.col("n_y") / F.col("n"))).alias(
            "hy_raw"
        )
    )
    return (
        mi.crossJoin(hx)
        .crossJoin(hy)
        .where(F.col("n") > 0)
        .select(
            "n",
            "n_cells",
            F.round(F.col("mi_raw") / F.col("n"), 6).alias("mi_nats"),
            F.round(-F.col("hx_raw") / F.col("n"), 6).alias("h_x"),
            F.round(-F.col("hy_raw") / F.col("n"), 6).alias("h_y"),
            F.round(
                F.try_divide(
                    F.col("mi_raw") / F.col("n"),
                    F.sqrt(
                        ((-F.col("hx_raw")) / F.col("n"))
                        * ((-F.col("hy_raw")) / F.col("n"))
                    ),
                ),
                6,
            ).alias("nmi"),
        )
    )


# --- one-sided CUSUM alarm detector (exact-integer recursion) -------------------

_CUSUM_REF_DAYS = 10

EVENT_CUSUM_ORACLE = (
    "WITH RECURSIVE g AS ("
    f"  SELECT event_type, {floor_day_us_sql()} AS day, "
    "  CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1, 2"
    "), r AS ("
    "  SELECT event_type, day, c, row_number() OVER ("
    "    PARTITION BY event_type ORDER BY day) AS rn FROM g"
    "), ref AS ("
    "  SELECT event_type, CAST(sum(c) AS BIGINT) AS ref_sum"
    f"  FROM r WHERE rn <= {_CUSUM_REF_DAYS} GROUP BY 1"
    "), mon AS ("
    f"  SELECT r.event_type, r.day, r.c, r.rn - {_CUSUM_REF_DAYS} AS m, "
    "  ref.ref_sum FROM r JOIN ref USING (event_type) "
    f"  WHERE r.rn > {_CUSUM_REF_DAYS}"
    "), walk(event_type, m, day, s, ref_sum) AS ("
    "  SELECT event_type, m, day, "
    f"  greatest(0, {4 * _CUSUM_REF_DAYS} * c - 5 * ref_sum), ref_sum"
    "  FROM mon WHERE m = 1"
    "  UNION ALL "
    "  SELECT mo.event_type, mo.m, mo.day, "
    f"  greatest(0, w.s + {4 * _CUSUM_REF_DAYS} * mo.c - 5 * mo.ref_sum), "
    "  mo.ref_sum"
    "  FROM walk w JOIN mon mo "
    "  ON mo.event_type = w.event_type AND mo.m = w.m + 1"
    ") SELECT event_type, CAST(count(*) AS BIGINT) AS n_monitor_days, "
    "CAST(sum(CASE WHEN s > 8 * ref_sum THEN 1 ELSE 0 END) AS BIGINT) "
    "  AS n_alarm_days, "
    "min(CASE WHEN s > 8 * ref_sum THEN day END) AS first_alarm_day, "
    "CAST(max(s) AS BIGINT) AS peak_stat, "
    "CAST(max(ref_sum) AS BIGINT) AS ref_sum "
    "FROM walk GROUP BY 1"
)

_CUSUM_SCHEMA = (
    "event_type string, n_monitor_days long, n_alarm_days long, "
    "first_alarm_day long, peak_stat long, ref_sum long"
)


def event_cusum_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM volume-surge detector per event type (Page 1954):
    daily counts from days 11+ are monitored against the first
    10 observed days' total; the statistic S_d = max(0, S_{d-1} + x_d −
    μ(1+δ)) resets at zero and ALARMS when it exceeds h = 2μ — the
    online drift detector a streaming ingest pipeline runs per source,
    complementing the registered ``event_changepoint`` (which LOCATES a
    single retrospective shift at the CUSUM argmax, no reset, no
    threshold).

    The recursion is ALL-INTEGER: with R = 10 reference days and
    allowance δ = 25%, scaling by 4R turns the step into
    S' = max(0, S' + 4R·x_d − 5·ref_sum) and the alarm into
    S' > 8·ref_sum — no float ever enters the walk, so both engines (and
    the pure-Python replica in the tests) produce bit-identical alarm
    sequences. Order-dependence makes this non-window-expressible: Spark
    runs it per-group in ``applyInPandas`` (state = one int); the oracle
    is a DuckDB RECURSIVE CTE advancing all series one day per step.

    Scale: the walk runs over DAY-GRAIN rows (one per type per day —
    thousands of rows at any corpus size), after a single linear
    count shuffle; groups are independent, so 1000 sources spread
    across the cluster. The §2-designated weaker check does NOT apply:
    this op is fully SQL-expressible via the recursive CTE."""
    import pandas as pd

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", ts_day().alias("day")
    ).agg(F.count("*").cast("long").alias("c"))

    def walk(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("day")
        if len(pdf) <= _CUSUM_REF_DAYS:
            return pd.DataFrame(
                {
                    "event_type": pd.Series([], dtype="object"),
                    "n_monitor_days": pd.Series([], dtype="int64"),
                    "n_alarm_days": pd.Series([], dtype="int64"),
                    "first_alarm_day": pd.Series([], dtype="object"),
                    "peak_stat": pd.Series([], dtype="int64"),
                    "ref_sum": pd.Series([], dtype="int64"),
                }
            )
        ref_sum = int(pdf["c"].iloc[:_CUSUM_REF_DAYS].sum())
        mon = pdf.iloc[_CUSUM_REF_DAYS:]
        s = 0
        peak = 0
        alarms = 0
        first = None
        h = 8 * ref_sum
        for day, c in zip(mon["day"], mon["c"]):
            s = max(0, s + 4 * _CUSUM_REF_DAYS * int(c) - 5 * ref_sum)
            peak = max(peak, s)
            if s > h:
                alarms += 1
                if first is None:
                    first = int(day)
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n_monitor_days": [len(mon)],
                "n_alarm_days": [alarms],
                "first_alarm_day": [first],
                "peak_stat": [peak],
                "ref_sum": [ref_sum],
            }
        )

    return daily.groupBy("event_type").applyInPandas(walk, _CUSUM_SCHEMA)


DEV_CASES = [
    ("stat_naive_bayes", stat_naive_bayes, NB_ORACLE),
    ("stat_gd_logreg", stat_gd_logreg, GD_LOGREG_ORACLE),
    ("stat_decision_stump", stat_decision_stump, STUMP_ORACLE),
    ("text_bleu", text_bleu, TEXT_BLEU_ORACLE),
    ("stat_mi", stat_mi, STAT_MI_ORACLE),
    ("event_cusum_alarm", event_cusum_alarm, EVENT_CUSUM_ORACLE),
]
