"""Iterative-algorithm wave. Like every ``staged_r*`` module with
``DEV_CASES``, it registers itself on import: the package root registers
each ``(key, fn, oracle)`` entry. tests/test_oracle_parity.py runs the
fn-vs-DuckDB compare; tests/test_staged_r22.py holds the independent
property checks.

Contents — driver-bounded iteration over distributed scans, every loop
unrolled (or made recursive) in the DuckDB oracle:

- ``graph_kcore`` — 2-core of the verified near-dup graph by iterative
  degree peeling (remove degree-<2 nodes until fixpoint): "which
  duplicate families are CYCLICALLY woven (template farms) vs mere
  chains/pendants?" — continues graph_local_clustering's policy story.
  Oracle unrolls 8 peel rounds; the tests assert the fixpoint landed
  inside the unroll at both SFs.
- ``sample_kcenter`` — greedy k-center (farthest-point) selection of 8
  maximally-diverse embeddings with the coverage radius at each pick —
  the classic diversity-sampling / coreset primitive for choosing what
  to label or retain. Argmaxes are decided on 6 dp-rounded cosine
  distances with vec_id tiebreaks (the driver-verified dot-product
  grain of the sim_* family).
- ``event_holt`` — Holt double-exponential smoothing (level + TREND)
  per event type over daily counts, with a 7-day-ahead forecast and
  1-step-ahead MAE — beside the registered ``event_forecast_ewma``
  (level only). The float recursion is an identical IEEE tree on both
  engines (× and + only, integer inputs), walked by ``applyInPandas``
  and mirrored by a DuckDB RECURSIVE CTE.
- ``stat_mixture_em`` — 2-component 1-D Gaussian mixture via THREE EM
  iterations (the unsupervised counterpart of stat_gd_logreg's
  supervised loop): responsibilities are per-row expressions, the
  M-step is one sufficient-statistics aggregate, and the 5 parameters
  are re-quantized to 6 dp between iterations so both engines (and the
  numpy replica) walk the identical trajectory. Variances floor at
  1e-6 (standard EM regularization) on both engines.
- ``pipeline_active_learning`` — uncertainty sampling on top of the
  staged_r21 GD logistic model: the 100 rows nearest the decision
  boundary (|p − 0.5| quantized to integer nano-units, integer-key
  tiebreaks) — the label-routing step of a data-centric training loop,
  and a composition proof that the trained model is a first-class
  intermediate.

Exactness doctrine: unchanged — iteration states quantized to a fixed
grid (6 dp weights/params) or kept all-integer (peel degrees) between
rounds; argmaxes and top-k decided on quantized values with integer
tiebreaks; transcendentals only in per-row expressions absorbed by the
quantization grain or final ≤6 dp rounding.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..pins import pin
from ..sources.loader import load_table, ts_day
from .exact import floor_day_us_sql

# --- 2-core of the near-dup graph by unrolled peeling ---------------------------

_KCORE_K = 2
_KCORE_ROUNDS = 8


def _kcore_oracle() -> str:
    from .dedup import SHINGLES_CTE, oracle_jaccard_pairs_select

    sql = (
        f"{SHINGLES_CTE}, "
        f"p AS ({oracle_jaccard_pairs_select(0.3)}"
        "), e0 AS MATERIALIZED ("
        "  SELECT da AS u, db AS v FROM p UNION ALL SELECT db, da FROM p"
        ")"
    )
    # MATERIALIZED stops DuckDB inlining each round's CTE into the next —
    # an inlined unroll re-expands the whole shingle chain 2^rounds times
    # (observed as an fd-exhaustion error at 8 rounds).
    for i in range(1, _KCORE_ROUNDS + 1):
        sql += (
            f", n{i} AS MATERIALIZED (SELECT u FROM e{i - 1} GROUP BY u "
            f"  HAVING count(*) >= {_KCORE_K})"
            f", e{i} AS MATERIALIZED ("
            f"  SELECT e.u, e.v FROM e{i - 1} e "
            f"  JOIN n{i} a ON e.u = a.u JOIN n{i} b ON e.v = b.u)"
        )
    return sql + (
        f" SELECT u AS doc_id, CAST(count(*) AS BIGINT) AS core_deg "
        f"FROM e{_KCORE_ROUNDS} GROUP BY u"
    )


GRAPH_KCORE_ORACLE = _kcore_oracle()


def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core extraction of the verified near-duplicate graph by
    iterative peeling: repeatedly drop nodes with degree < 2 (and their
    edges) until no node changes — what survives is the cyclically
    connected duplicate families. A pendant doc hanging off a template
    cluster is a one-off copy; a 2-core member sits inside a web of
    mutual near-dups (template farms, mirror sets) where
    cluster-collapse dedup is the right policy. Output: surviving doc →
    its within-core degree.

    Edges come from the registered ``dedup_fuzzy_minhash`` (banded
    MinHash → exact-Jaccard verify; driver-verified hash-equal to the
    exact pair set — see text_bleu's rationale). The peel loop runs
    driver-side with ONE bounded count per round (rounds ≤ O(longest
    pendant chain /2); the oracle unrolls 8 rounds and the tests assert
    rounds 7 == 8 at both SFs, i.e. the fixpoint landed inside the
    unroll — the Spark side iterates to the true fixpoint regardless).

    Scale: each round is a degree aggregate + two semi-joins on the
    CURRENT edge set (shrinking monotonically); this is the standard
    distributed k-core schedule, O(peel-depth) rounds — peel depth on
    real dup graphs is tiny (components are shallow)."""
    from .dedup import dedup_fuzzy_minhash

    pairs = dedup_fuzzy_minhash(spark, sf_dir).select("doc_id_a", "doc_id_b")
    # pin ONCE up front, then once per peel round (the
    # min_label_propagation pattern, dedup.py): without it every round's
    # count() re-runs the whole MinHash pipeline plus all prior rounds —
    # O(rounds²) recompute and an O(rounds)-deep plan
    edges = pin(
        pairs.select(F.col("doc_id_a").alias("u"), F.col("doc_id_b").alias("v"))
        .unionByName(
            pairs.select(
                F.col("doc_id_b").alias("u"), F.col("doc_id_a").alias("v")
            )
        )
    )
    prev = edges.count()
    for _ in range(64):  # backstop far above any real peel depth
        if prev == 0:
            break
        keep = (
            edges.groupBy("u")
            .agg(F.count("*").alias("d"))
            .where(F.col("d") >= _KCORE_K)
            .select("u")
        )
        nxt = pin(
            edges.join(keep, "u", "semi").join(
                keep.select(F.col("u").alias("v")), "v", "semi"
            )
        )
        cnt = nxt.count()
        if cnt == prev:
            break
        edges, prev = nxt, cnt
    return edges.groupBy(F.col("u").alias("doc_id")).agg(
        F.count("*").cast("long").alias("core_deg")
    )


# --- greedy k-center (farthest-point) diversity sampling ------------------------

_KCENTER_K = 8


def _kcenter_oracle() -> str:
    dot = "list_dot_product(e.v, c{i}.v)"
    sql = (
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label "
        "FROM embeddings), "
        "c1 AS (SELECT vec_id, v, label, CAST(NULL AS DOUBLE) AS md "
        "FROM e ORDER BY vec_id LIMIT 1), "
        "d1 AS (SELECT e.vec_id, e.v, e.label, "
        f"round(1.0 - {dot.format(i=1)}, 6) AS md FROM e, c1)"
    )
    for i in range(2, _KCENTER_K + 1):
        sql += (
            f", c{i} AS (SELECT vec_id, v, label, md FROM d{i - 1} "
            "ORDER BY md DESC, vec_id LIMIT 1)"
            f", d{i} AS (SELECT d.vec_id, d.v, d.label, "
            f"least(d.md, round(1.0 - list_dot_product(d.v, c{i}.v), 6)) AS md "
            f"FROM d{i - 1} d, c{i})"
        )
    picks = " UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS rank, vec_id, label, md AS sel_dist "
        f"FROM c{i}"
        for i in range(1, _KCENTER_K + 1)
    )
    return sql + f" {picks}"


SAMPLE_KCENTER_ORACLE = _kcenter_oracle()

_KCENTER_SCHEMA = "rank long, vec_id long, label int, sel_dist double"


def sample_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center (Gonzalez farthest-point) selection of 8
    maximally-diverse embeddings: seed with the smallest vec_id, then
    repeatedly pick the point FARTHEST (cosine distance) from the chosen
    set, reporting each pick's distance-at-selection — the coverage
    radius curve. This is the classic diversity-sampling / coreset
    primitive: "which 8 examples span the space?" for labeling budgets,
    eval-set seeding, or prototype selection; the greedy radius is a
    2-approximation of the optimal k-center cover (Gonzalez 1985).

    Determinism: distances round to 6 dp BEFORE every min/argmax (the
    driver-verified grain of the sim_* dot products — float32 inputs,
    double accumulation in array order on both engines), ties break to
    the smallest vec_id, and the running min over an incrementally grown
    center set equals the oracle's ``least()`` chain exactly (min of
    rounded values is associative).

    Scale: each of the k rounds is one linear scan recomputing the min
    distance against ALL centers picked so far (round r costs r dots per
    corpus row — Σ = k(k−1)/2 ≈ 28 dots/row total at k=8; an incremental
    form carrying the prior per-row min would cost k dots/row but needs
    a corpus-sized persisted intermediate per round — at a fixed small k
    the stateless rescan is the better trade) + a TakeOrdered argmax;
    the collected state is k rows — constant in corpus size. The final
    result is the k-row selection itself."""
    from .similarity import dot

    e = load_table(spark, sf_dir, "embeddings")
    seed = e.orderBy("vec_id").limit(1).collect()
    if not seed:
        return spark.createDataFrame([], _KCENTER_SCHEMA)
    picks = [
        (1, seed[0]["vec_id"], seed[0]["label"], None, list(seed[0]["embedding"]))
    ]
    for rank in range(2, _KCENTER_K + 1):
        centers = spark.createDataFrame(
            [(p[4],) for p in picks], "cemb array<double>"
        )
        win = (
            e.crossJoin(F.broadcast(centers))
            .select(
                "vec_id",
                "label",
                F.round(1.0 - dot(F.col("embedding"), F.col("cemb")), 6).alias(
                    "dd"
                ),
            )
            .groupBy("vec_id", "label")
            .agg(F.min("dd").alias("md"))
            .orderBy(F.desc("md"), F.asc("vec_id"))
            .limit(1)
            .collect()[0]
        )
        emb = (
            e.where(F.col("vec_id") == win["vec_id"]).collect()[0]["embedding"]
        )
        picks.append(
            (rank, win["vec_id"], win["label"], win["md"], list(emb))
        )
    return spark.createDataFrame(
        [(r, v, lb, d) for r, v, lb, d, _ in picks], _KCENTER_SCHEMA
    )


# --- Holt double-exponential smoothing with trend -------------------------------

_HOLT_ALPHA = 0.5
_HOLT_BETA = 0.3
_HOLT_H = 7

EVENT_HOLT_ORACLE = (
    "WITH RECURSIVE g AS ("
    f"  SELECT event_type, {floor_day_us_sql()} AS day, "
    "  CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1, 2"
    "), r AS ("
    "  SELECT event_type, day, c, row_number() OVER ("
    "    PARTITION BY event_type ORDER BY day) AS rn FROM g"
    "), nn AS ("
    "  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days FROM r GROUP BY 1"
    "), walk(event_type, rn, l, b, err_sum) AS ("
    "  SELECT a.event_type, 2, "
    f"  {_HOLT_ALPHA} * b.c + (1.0 - {_HOLT_ALPHA}) * (CAST(a.c AS DOUBLE) "
    "    + (b.c - CAST(a.c AS DOUBLE))), "
    f"  {_HOLT_BETA} * (({_HOLT_ALPHA} * b.c + (1.0 - {_HOLT_ALPHA}) "
    "    * (CAST(a.c AS DOUBLE) + (b.c - CAST(a.c AS DOUBLE)))) "
    "    - CAST(a.c AS DOUBLE)) "
    f"    + (1.0 - {_HOLT_BETA}) * (b.c - CAST(a.c AS DOUBLE)), "
    "  abs(b.c - (CAST(a.c AS DOUBLE) + (b.c - CAST(a.c AS DOUBLE))))"
    "  FROM r a JOIN r b ON a.event_type = b.event_type "
    "  AND a.rn = 1 AND b.rn = 2"
    "  UNION ALL "
    "  SELECT mo.event_type, mo.rn, "
    f"  {_HOLT_ALPHA} * mo.c + (1.0 - {_HOLT_ALPHA}) * (w.l + w.b), "
    f"  {_HOLT_BETA} * (({_HOLT_ALPHA} * mo.c + (1.0 - {_HOLT_ALPHA}) "
    f"    * (w.l + w.b)) - w.l) + (1.0 - {_HOLT_BETA}) * w.b, "
    "  w.err_sum + abs(mo.c - (w.l + w.b))"
    "  FROM walk w JOIN r mo "
    "  ON mo.event_type = w.event_type AND mo.rn = w.rn + 1"
    ") SELECT w.event_type, nn.n_days, round(w.l, 6) AS smooth_level, "
    "round(w.b, 6) AS smooth_trend, "
    f"round(w.l + {_HOLT_H} * w.b, 6) AS forecast_7d, "
    "round(w.err_sum / (nn.n_days - 1), 6) AS mae "
    "FROM walk w JOIN nn ON nn.event_type = w.event_type "
    "WHERE w.rn = nn.n_days"
)

_HOLT_SCHEMA = (
    "event_type string, n_days long, smooth_level double, "
    "smooth_trend double, forecast_7d double, mae double"
)


def event_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing per event type over daily event
    counts (α=0.5 level, β=0.3 trend; init l₁=x₁, b₁=x₂−x₁), reporting
    the final level/trend state, the 7-day-ahead forecast l+7b, and the
    1-step-ahead MAE — the capacity-planning forecast with TREND, beside
    the registered ``event_forecast_ewma`` (level only, so it lags any
    drifting series by construction).

    Determinism: the recursion is ×/+/abs on doubles seeded from exact
    integer counts — an identical IEEE tree per step on both engines
    (and in the pandas walk), so the states are bit-identical before the
    final 6 dp rounding; no quantization between steps is needed (unlike
    the EM/GD loops there is no cross-partition float SUM feeding the
    state — each step consumes one exact integer).

    Order-dependence makes this non-window-expressible: Spark walks each
    series in ``applyInPandas`` (day-grain rows, bounded per group); the
    oracle is a DuckDB RECURSIVE CTE advancing all series one day per
    step. Types with < 2 observed days yield no row (no trend init).

    Scale: one linear count shuffle to day grain, then the walk touches
    days-per-type rows — thousands at any corpus size, groups spread
    across the cluster."""
    import pandas as pd

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", ts_day().alias("day")).agg(
        F.count("*").cast("long").alias("c")
    )

    def walk(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("day")
        if len(pdf) < 2:
            return pd.DataFrame(
                {
                    "event_type": pd.Series([], dtype="object"),
                    "n_days": pd.Series([], dtype="int64"),
                    "smooth_level": pd.Series([], dtype="float64"),
                    "smooth_trend": pd.Series([], dtype="float64"),
                    "forecast_7d": pd.Series([], dtype="float64"),
                    "mae": pd.Series([], dtype="float64"),
                }
            )
        xs = [int(c) for c in pdf["c"]]
        l = float(xs[0])
        b = xs[1] - float(xs[0])
        err = 0.0
        first = True
        for x in xs[1:]:
            f = l + b
            if first:
                # the t=2 step mirrors the oracle's base case exactly:
                # f = x1 + (x2 - x1), so err contribution is 0 by identity
                first = False
            err += abs(x - f)
            l_new = _HOLT_ALPHA * x + (1.0 - _HOLT_ALPHA) * (l + b)
            b = _HOLT_BETA * (l_new - l) + (1.0 - _HOLT_BETA) * b
            l = l_new
        n = len(xs)

        def r6(v: float) -> float:
            return math.copysign(math.floor(abs(v) * 1e6 + 0.5), v) / 1e6

        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n_days": [n],
                "smooth_level": [r6(l)],
                "smooth_trend": [r6(b)],
                "forecast_7d": [r6(l + _HOLT_H * b)],
                "mae": [r6(err / (n - 1))],
            }
        )

    return daily.groupBy("event_type").applyInPandas(walk, _HOLT_SCHEMA)


# --- 2-component Gaussian mixture by unrolled EM --------------------------------

_EM_ITERS = 3
_EM_VAR_FLOOR = 1e-6


def _p6_sql(x: str) -> str:
    return f"(sign(({x})) * floor(abs(({x})) * 1000000 + 0.5) / 1000000.0)"


def _p6_py(v: float) -> float:
    return math.copysign(math.floor(abs(v) * 1_000_000 + 0.5), v) / 1_000_000.0


def _em_oracle() -> str:
    sql = (
        "WITH d AS (SELECT l_extendedprice / 10000.0 AS x FROM lineitem), "
        "s AS (SELECT count(*) AS n, min(x) AS xmin, max(x) AS xmax FROM d), "
        "p0 AS (SELECT n, 0.5 AS pi, "
        "xmin + (xmax - xmin) * 0.25 AS mu1, "
        "xmin + (xmax - xmin) * 0.75 AS mu2, "
        f"greatest(((xmax - xmin) * 0.25) * ((xmax - xmin) * 0.25), "
        f"  {_EM_VAR_FLOOR}) AS v1, "
        f"greatest(((xmax - xmin) * 0.25) * ((xmax - xmin) * 0.25), "
        f"  {_EM_VAR_FLOOR}) AS v2 FROM s)"
    )
    for i in range(1, _EM_ITERS + 1):
        p1 = "(pi * exp(-(x - mu1) * (x - mu1) / (2.0 * v1)) / sqrt(v1))"
        p2 = "((1.0 - pi) * exp(-(x - mu2) * (x - mu2) / (2.0 * v2)) / sqrt(v2))"
        sql += (
            f", e{i} AS (SELECT x, {p1} / nullif({p1} + {p2}, 0.0) AS r, n "
            f"FROM d CROSS JOIN p{i - 1})"
            f", g{i} AS (SELECT max(n) AS n, sum(r) AS n1, sum(r * x) AS sx1, "
            "sum(r * x * x) AS sxx1, sum(1.0 - r) AS n2, "
            "sum((1.0 - r) * x) AS sx2, sum((1.0 - r) * x * x) AS sxx2 "
            f"FROM e{i})"
            f", p{i} AS (SELECT n, {_p6_sql('n1 / n')} AS pi, "
            f"{_p6_sql('sx1 / n1')} AS mu1, {_p6_sql('sx2 / n2')} AS mu2, "
            f"greatest({_p6_sql('sxx1 / n1 - (sx1 / n1) * (sx1 / n1)')}, "
            f"  {_EM_VAR_FLOOR}) AS v1, "
            f"greatest({_p6_sql('sxx2 / n2 - (sx2 / n2) * (sx2 / n2)')}, "
            f"  {_EM_VAR_FLOOR}) AS v2 FROM g{i})"
        )
    p1 = "(pi * exp(-(x - mu1) * (x - mu1) / (2.0 * v1)) / sqrt(v1))"
    p2 = "((1.0 - pi) * exp(-(x - mu2) * (x - mu2) / (2.0 * v2)) / sqrt(v2))"
    return sql + (
        f" SELECT CAST(n AS BIGINT) AS n, pi AS pi_1, mu1 AS mu_1, "
        "mu2 AS mu_2, v1 AS var_1, v2 AS var_2, "
        f"round(avg(ln({p1} + {p2})) - 0.5 * ln(2.0 * pi()), 6) AS avg_loglik "
        f"FROM d CROSS JOIN p{_EM_ITERS} "
        "GROUP BY n, pi, mu1, mu2, v1, v2 HAVING n > 0"
    )


STAT_MIXTURE_EM_ORACLE = _em_oracle()

_EM_SCHEMA = (
    "n long, pi_1 double, mu_1 double, mu_2 double, var_1 double, "
    "var_2 double, avg_loglik double"
)


def stat_mixture_em(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-component 1-D Gaussian mixture over scaled line-item revenue
    (x = extendedprice/10000), fit by THREE EM iterations — the
    unsupervised counterpart of ``stat_gd_logreg``'s supervised loop and
    the canonical "cluster without labels" training primitive (soft
    k-means with variances). Each E-step is a per-row responsibility
    expression; each M-step is ONE sufficient-statistics aggregate
    (Σr, Σrx, Σrx² per component — map-side combined, no data shuffle);
    the driver holds only the 5-parameter state.

    Cross-engine determinism: deterministic init from exact min/max
    (μ at the 25%/75% span points, σ² = (span/4)², π = ½); after every
    M-step all five parameters are re-quantized to 6 dp (HALF_UP
    sign/floor) and variances floored at 1e-6 (standard EM
    regularization), so both engines and the numpy replica walk the
    identical trajectory — the only float noise is the aggregate's
    summation order, absorbed by the quantization grain. The final
    average log-likelihood rounds at 6 dp.

    Scale: per iteration one scan + a 7-double aggregate; driver state
    is constant-size. Batch EM over a cluster, textbook shape."""
    li = load_table(spark, sf_dir, "lineitem")
    d = li.select((F.col("l_extendedprice") / 10000.0).alias("x"))
    s = d.agg(
        F.count("*").alias("n"), F.min("x").alias("xmin"), F.max("x").alias("xmax")
    ).collect()[0]
    if not s["n"]:
        return spark.createDataFrame([], _EM_SCHEMA)
    n = s["n"]
    span = s["xmax"] - s["xmin"]
    pi = 0.5
    mu1 = s["xmin"] + span * 0.25
    mu2 = s["xmin"] + span * 0.75
    v1 = v2 = max((span * 0.25) * (span * 0.25), _EM_VAR_FLOOR)
    x = F.col("x")
    for _ in range(_EM_ITERS):
        p1 = (
            F.lit(pi)
            * F.exp(-(x - F.lit(mu1)) * (x - F.lit(mu1)) / F.lit(2.0 * v1))
            / F.lit(math.sqrt(v1))
        )
        p2 = (
            F.lit(1.0 - pi)
            * F.exp(-(x - F.lit(mu2)) * (x - F.lit(mu2)) / F.lit(2.0 * v2))
            / F.lit(math.sqrt(v2))
        )
        r = F.try_divide(p1, p1 + p2)
        g = d.agg(
            F.sum(r).alias("n1"),
            F.sum(r * x).alias("sx1"),
            F.sum(r * x * x).alias("sxx1"),
            F.sum(F.lit(1.0) - r).alias("n2"),
            F.sum((F.lit(1.0) - r) * x).alias("sx2"),
            F.sum((F.lit(1.0) - r) * x * x).alias("sxx2"),
        ).collect()[0]
        pi = _p6_py(g["n1"] / n)
        mu1 = _p6_py(g["sx1"] / g["n1"])
        mu2 = _p6_py(g["sx2"] / g["n2"])
        v1 = max(
            _p6_py(g["sxx1"] / g["n1"] - (g["sx1"] / g["n1"]) * (g["sx1"] / g["n1"])),
            _EM_VAR_FLOOR,
        )
        v2 = max(
            _p6_py(g["sxx2"] / g["n2"] - (g["sx2"] / g["n2"]) * (g["sx2"] / g["n2"])),
            _EM_VAR_FLOOR,
        )
    p1 = (
        F.lit(pi)
        * F.exp(-(x - F.lit(mu1)) * (x - F.lit(mu1)) / F.lit(2.0 * v1))
        / F.lit(math.sqrt(v1))
    )
    p2 = (
        F.lit(1.0 - pi)
        * F.exp(-(x - F.lit(mu2)) * (x - F.lit(mu2)) / F.lit(2.0 * v2))
        / F.lit(math.sqrt(v2))
    )
    return d.agg(
        F.count("*").cast("long").alias("n"),
        F.lit(pi).alias("pi_1"),
        F.lit(mu1).alias("mu_1"),
        F.lit(mu2).alias("mu_2"),
        F.lit(v1).alias("var_1"),
        F.lit(v2).alias("var_2"),
        F.round(
            F.avg(F.log(p1 + p2)) - F.lit(0.5 * math.log(2.0 * math.pi)), 6
        ).alias("avg_loglik"),
    ).where(F.col("n") > 0)


# --- uncertainty sampling over the trained GD model -----------------------------


def _active_oracle() -> str:
    from .staged_r21 import _gd_prefix, _q9_sql

    uq = _q9_sql("abs(p - 0.5)")
    return (
        f"{_gd_prefix()}, "
        "d2 AS (SELECT l_orderkey, l_linenumber, l_quantity / 50.0 AS x1, "
        "l_discount * 10.0 AS x2 FROM lineitem), "
        "q1 AS (SELECT l_orderkey, l_linenumber, "
        "1.0 / (1.0 + exp(-(w0 + w1 * x1 + w2 * x2))) AS p "
        "FROM d2 CROSS JOIN w3) "
        "SELECT l_orderkey, l_linenumber, round(p, 6) AS p_return, "
        f"{uq} AS uncertainty_q "
        f"FROM q1 ORDER BY {uq} ASC, l_orderkey, l_linenumber LIMIT 100"
    )


PIPELINE_ACTIVE_ORACLE = _active_oracle()

_ACTIVE_SCHEMA = (
    "l_orderkey long, l_linenumber int, p_return double, uncertainty_q long"
)


def pipeline_active_learning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncertainty sampling on the staged_r21 GD logistic model: fit the
    3-iteration model, score every line item, and emit the 100 rows
    CLOSEST to the decision boundary (smallest |p − ½|) — the
    label-routing step of an active-learning loop ("spend the labeling
    budget where the model is unsure"), and the composition proof that a
    model trained BY the engine is a first-class intermediate for
    downstream queries.

    Determinism: the trajectory is the shared quantized ``_gd_fit``
    walk, so scores are identical IEEE trees (up to exp's library ulp);
    the ranking key is |p − ½| quantized to integer NANO-units (HALF_UP)
    with (l_orderkey, l_linenumber) integer tiebreaks, so the top-100
    cut is decided on integers. ``orderBy().limit()`` compiles to
    TakeOrderedAndProject — per-task heaps, no global sort.

    Scale: one scoring scan + top-k; the model rides as three literals."""
    from .staged_r21 import _gd_fit, _q9

    _, w = _gd_fit(spark, sf_dir)
    if w is None:
        return spark.createDataFrame([], _ACTIVE_SCHEMA)
    li = load_table(spark, sf_dir, "lineitem")
    x1 = F.col("l_quantity") / 50.0
    x2 = F.col("l_discount") * 10.0
    p = F.lit(1.0) / (
        F.lit(1.0) + F.exp(-(F.lit(w[0]) + F.lit(w[1]) * x1 + F.lit(w[2]) * x2))
    )
    uq = _q9(F.abs(p - F.lit(0.5)))
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            F.round(p, 6).alias("p_return"),
            uq.alias("uncertainty_q"),
        )
        .orderBy(F.asc("uncertainty_q"), F.asc("l_orderkey"), F.asc("l_linenumber"))
        .limit(100)
    )


DEV_CASES = [
    ("graph_kcore", graph_kcore, GRAPH_KCORE_ORACLE),
    ("sample_kcenter", sample_kcenter, SAMPLE_KCENTER_ORACLE),
    ("event_holt", event_holt, EVENT_HOLT_ORACLE),
    ("stat_mixture_em", stat_mixture_em, STAT_MIXTURE_EM_ORACLE),
    ("pipeline_active_learning", pipeline_active_learning, PIPELINE_ACTIVE_ORACLE),
]
