"""Equivalence / profiling / log-replay wave. Like every ``staged_r*`` module
with ``DEV_CASES``, it registers itself on import: the package root
registers each ``(key, fn, oracle)`` entry. tests/test_oracle_parity.py runs
the fn-vs-DuckDB compare; tests/test_staged_r26.py holds the independent
property checks.

Contents:

- ``stat_tost_equivalence`` — two one-sided tests (Schuirmann 1987) on
  the A/B purchase-rate difference: "are the arms equivalent within
  ±2 pp?" — the decision fixed-horizon superiority tests (the
  registered ``event_ab_test``) CANNOT make, since failing to reject ≠
  equivalent. Shares event_ab_test's arm/label convention.
- ``dq_fd_check`` — functional-dependency profiling over a fixed
  candidate set (documents.lang↔source, orders custkey→status,
  status→priority): per-FD violation counts and confidence — the
  schema-discovery screen a profiler runs before trusting a join key or
  a denormalization.
- ``win_rolling_corr`` — 14-day trailing correlation between daily
  purchase revenue and daily click volume, entirely from exact integer
  window sums (the n-scaling trick per window) — "are these two series
  coupling?", the rolling companion of stat_corr_matrix's static r.
- ``event_anomaly_seasonal`` — seasonality-adjusted anomaly flags: the
  event_seasonal_decompose residual screened by a median ± 3·MAD
  (Hampel) gate — catches days anomalous FOR THEIR weekday that a raw
  threshold misses, and ignores ordinary weekend dips a raw threshold
  would flag.
- ``scan_txn_log`` — transaction-log snapshot reconstruction: a staged
  JSONL action log (add/remove per version — the Delta/Iceberg protocol
  essence) replayed to the live file set with one grouped aggregate
  over a real ``spark.read.json`` scan. The log derives
  deterministically from the orders row count, so the oracle recomputes
  the expected snapshot from table arithmetic alone.
- ``dedup_cross_lingual`` — cross-LANGUAGE near-duplicate pairs:
  embedding cosine ≥ 0.35 between docs of different langs — the
  translation-pair / contamination screen monolingual shingle dedup is
  structurally blind to (no shared tokens), built on the exact blocked
  GEMM pair search.

Exactness doctrine: unchanged — TOST decisions, FD counts and log
replay are exact integers; rolling correlations derive from exact
decimal(38) window sums; anomaly gates compare bit-identical doubles;
cross-lingual pairs are decided on the 6 dp-rounded cosine grain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.loader import load_table, ts_day
from .exact import floor_day_us_sql, money_cents, money_cents_sql

_D38 = "decimal(38,0)"

# --- TOST equivalence test ----------------------------------------------------------

_TOST_MARGIN = 0.02  # ± 2 percentage points

STAT_TOST_ORACLE = (
    "WITH u AS ("
    "  SELECT event_id % 2 AS variant, "
    "  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS converted"
    "  FROM events"
    "), s AS ("
    "  SELECT CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0, "
    "  CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1, "
    "  CAST(sum(CASE WHEN variant = 0 THEN converted ELSE 0 END) AS BIGINT) AS c0, "
    "  CAST(sum(CASE WHEN variant = 1 THEN converted ELSE 0 END) AS BIGINT) AS c1"
    "  FROM u"
    "), z AS ("
    "  SELECT n0, n1, c0, c1, "
    "  c1 / (1.0 * n1) - c0 / (1.0 * n0) AS diff, "
    "  sqrt(c0 / (1.0 * n0) * (1 - c0 / (1.0 * n0)) / n0 "
    "     + c1 / (1.0 * n1) * (1 - c1 / (1.0 * n1)) / n1) AS se"
    "  FROM s WHERE n0 > 0 AND n1 > 0"
    ") SELECT n0, n1, c0, c1, round(diff, 6) AS diff, "
    f"round((diff + {_TOST_MARGIN}) / nullif(se, 0.0), 4) AS z_lower, "
    f"round((diff - {_TOST_MARGIN}) / nullif(se, 0.0), 4) AS z_upper, "
    f"CASE WHEN (diff + {_TOST_MARGIN}) / nullif(se, 0.0) > 1.6448536269514722 "
    f"AND (diff - {_TOST_MARGIN}) / nullif(se, 0.0) < -1.6448536269514722 "
    "THEN 'equivalent' ELSE 'not_shown' END AS verdict "
    "FROM z"
)


def stat_tost_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two one-sided tests (TOST, Schuirmann 1987) of A/B purchase-rate
    EQUIVALENCE within ±2 pp, at the EVENT grain (variant = event_id % 2,
    success = 'purchase' — the per-user grain of event_ab_test is
    degenerate for equivalence on this fixture, every user converts, so
    se = 0 and nothing can be shown; per-event Bernoulli keeps the test
    live): reject
    "diff ≤ −δ" AND "diff ≥ +δ" at α = 0.05 (z > 1.645 / z < −1.645,
    unpooled SE) ⇒ the arms are shown equivalent. The inference
    superiority tests cannot make — a non-significant z-test is NOT
    evidence of no effect, which is why ship/no-ship gates for
    "harmless" changes use TOST.

    Determinism: counts exact ints; diff/SE/z are identical IEEE trees
    (correctly-rounded /, *, sqrt); the verdict compares bit-identical
    doubles against the repr-embedded critical literal, so the decision
    string is exact, and z's round at 4 dp for display only.

    Scale: one per-user map-side-combined aggregate, one 1-row global —
    the event_ab_test shape with one more projection."""
    e = load_table(spark, sf_dir, "events")
    u = e.select(
        (F.col("event_id") % 2).alias("variant"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias(
            "converted"
        ),
    )
    s = u.agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0)).alias("n0"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("variant") == 0, F.col("converted")).otherwise(0)).alias(
            "c0"
        ),
        F.sum(F.when(F.col("variant") == 1, F.col("converted")).otherwise(0)).alias(
            "c1"
        ),
    ).where((F.col("n0") > 0) & (F.col("n1") > 0))
    p0 = F.col("c0") / (1.0 * F.col("n0"))
    p1 = F.col("c1") / (1.0 * F.col("n1"))
    diff = p1 - p0
    se = F.sqrt(p0 * (1 - p0) / F.col("n0") + p1 * (1 - p1) / F.col("n1"))
    z_lo = (diff + _TOST_MARGIN) / F.nullif(se, F.lit(0.0))
    z_hi = (diff - _TOST_MARGIN) / F.nullif(se, F.lit(0.0))
    crit = 1.6448536269514722  # Phi^-1(0.95), literal on both engines
    return s.select(
        "n0",
        "n1",
        "c0",
        "c1",
        F.round(diff, 6).alias("diff"),
        F.round(z_lo, 4).alias("z_lower"),
        F.round(z_hi, 4).alias("z_upper"),
        F.when((z_lo > crit) & (z_hi < -crit), F.lit("equivalent"))
        .otherwise(F.lit("not_shown"))
        .alias("verdict"),
    )


# --- functional-dependency profiling -------------------------------------------------


def _fd_sql(name: str, table: str, lhs: str, rhs: str) -> str:
    # outer n_rows filter: an empty corpus must yield ZERO rows like the
    # Spark side, not one all-NULL aggregate row (ADVICE-r6 stat_ks_test
    # degenerate-corpus contract)
    return (
        "SELECT * FROM ("
        f"SELECT '{name}' AS fd, CAST(count(*) AS BIGINT) AS n_lhs, "
        "CAST(sum(cnt) AS BIGINT) AS n_rows, "
        "CAST(sum(cnt - mx) AS BIGINT) AS violations, "
        "round(sum(mx) / (1.0 * sum(cnt)), 6) AS confidence, "
        "CAST(sum(cnt - mx) = 0 AS BOOLEAN) AS holds FROM ("
        f"  SELECT {lhs}, sum(c) AS cnt, max(c) AS mx FROM ("
        f"    SELECT {lhs}, {rhs}, count(*) AS c FROM {table} GROUP BY 1, 2"
        f"  ) GROUP BY {lhs})"
        ") WHERE n_rows > 0"
    )


DQ_FD_CHECK_ORACLE = " UNION ALL ".join(
    [
        _fd_sql("documents.lang->source", "documents", "lang", "source"),
        _fd_sql("documents.source->lang", "documents", "source", "lang"),
        _fd_sql("orders.custkey->status", "orders", "o_custkey", "o_orderstatus"),
        _fd_sql(
            "orders.status->priority", "orders", "o_orderstatus", "o_orderpriority"
        ),
    ]
)


def dq_fd_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency profiling over a fixed candidate set: for
    each FD X→Y, count the rows whose Y is not the majority Y of their X
    group (violations = Σ_x (n_x − max_y n_{x,y})) and the confidence
    Σ max / Σ n — the TANE/metanome-style screen a profiler runs before
    trusting a denormalization ("is lang determined by source?") or an
    upsert key. confidence = 1.0 ⇔ the FD holds exactly.

    Determinism: pure integer counting — the two-level aggregate
    (group by X,Y then by X) is the canonical distributed FD counter.

    Scale: each FD costs two map-side-combined hash aggregates; the
    candidate list is a constant. An FD-DISCOVERY pass over all column
    pairs would lattice-prune à la TANE — this op is the verifier each
    lattice node needs."""

    def fd(name: str, df: DataFrame, lhs: str, rhs: str) -> DataFrame:
        g = df.groupBy(lhs, rhs).agg(F.count("*").alias("c"))
        per_lhs = g.groupBy(lhs).agg(
            F.sum("c").alias("cnt"), F.max("c").alias("mx")
        )
        return per_lhs.agg(
            F.lit(name).alias("fd"),
            F.count("*").cast("long").alias("n_lhs"),
            F.sum("cnt").cast("long").alias("n_rows"),
            F.sum(F.col("cnt") - F.col("mx")).cast("long").alias("violations"),
            F.round(F.sum("mx") / (1.0 * F.sum("cnt")), 6).alias("confidence"),
            (F.sum(F.col("cnt") - F.col("mx")) == 0).alias("holds"),
        )

    d = load_table(spark, sf_dir, "documents")
    o = load_table(spark, sf_dir, "orders")
    return (
        fd("documents.lang->source", d, "lang", "source")
        .unionByName(fd("documents.source->lang", d, "source", "lang"))
        .unionByName(fd("orders.custkey->status", o, "o_custkey", "o_orderstatus"))
        .unionByName(
            fd("orders.status->priority", o, "o_orderstatus", "o_orderpriority")
        )
        .where(F.col("n_rows") > 0)
    )


# --- rolling revenue/click correlation -----------------------------------------------

_RC_WIN = 14

WIN_ROLLING_CORR_ORACLE = (
    "WITH g AS ("
    f"  SELECT {floor_day_us_sql()} AS day, "
    f"  CAST(sum(CASE WHEN event_type = 'purchase' THEN "
    f"  {money_cents_sql('value')} ELSE 0 END) AS BIGINT) AS rev, "
    "  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT)"
    "  AS clk FROM events GROUP BY 1"
    "), w AS ("
    "  SELECT day, rev, clk, count(*) OVER ww AS k, "
    "  CAST(sum(rev) OVER ww AS HUGEINT) AS sx, "
    "  CAST(sum(clk) OVER ww AS HUGEINT) AS sy, "
    "  CAST(sum(CAST(rev AS HUGEINT) * rev) OVER ww AS HUGEINT) AS sxx, "
    "  CAST(sum(CAST(clk AS HUGEINT) * clk) OVER ww AS HUGEINT) AS syy, "
    "  CAST(sum(CAST(rev AS HUGEINT) * clk) OVER ww AS HUGEINT) AS sxy FROM g "
    f"  WINDOW ww AS (ORDER BY day ROWS BETWEEN {_RC_WIN - 1} PRECEDING "
    "  AND CURRENT ROW)"
    f") SELECT day, rev AS rev_cents, clk AS clicks, "
    f"round(CAST({_RC_WIN} * sxy - sx * sy AS DOUBLE) / nullif("
    f"sqrt(CAST({_RC_WIN} * sxx - sx * sx AS DOUBLE)) * "
    f"sqrt(CAST({_RC_WIN} * syy - sy * sy AS DOUBLE)), 0.0), 6) AS corr14 "
    f"FROM w WHERE k = {_RC_WIN}"
)


def win_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """14-day trailing Pearson correlation between daily purchase revenue
    (cents) and daily click volume — "are engagement and monetization
    coupling or decoupling this fortnight?", the rolling companion of
    ``stat_corr_matrix``'s whole-history r and ``win_bollinger``'s
    single-series bands. Full windows only (the causal monitor form).

    Determinism: each window's five sums accumulate exact integers
    (decimal(38)/HUGEINT); the n-scaled numerator k·Σxy − Σx·Σy and both
    variance terms are exact integers, so the correlation is one
    division of identical doubles (sqrt correctly rounded) — a
    constant window (zero variance) yields NULL on both engines via
    nullif.

    Scale: the day-grain aggregate absorbs the event volume; windows
    ride the calendar-bounded day series (stat_spearman precedent)."""
    g = (
        load_table(spark, sf_dir, "events")
        .groupBy(ts_day("ts").alias("day"))
        .agg(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    money_cents(F.col("value")),
                ).otherwise(0)
            )
            .cast("long")
            .alias("rev"),
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
            .cast("long")
            .alias("clk"),
        )
    )
    ww = Window.orderBy("day").rowsBetween(-(_RC_WIN - 1), 0)
    w = g.select(
        "day",
        "rev",
        "clk",
        F.count("*").over(ww).alias("k"),
        F.sum(F.col("rev").cast(_D38)).over(ww).alias("sx"),
        F.sum(F.col("clk").cast(_D38)).over(ww).alias("sy"),
        F.sum(F.col("rev").cast(_D38) * F.col("rev")).over(ww).alias("sxx"),
        F.sum(F.col("clk").cast(_D38) * F.col("clk")).over(ww).alias("syy"),
        F.sum(F.col("rev").cast(_D38) * F.col("clk")).over(ww).alias("sxy"),
    )
    num = (_RC_WIN * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = F.sqrt(
        (_RC_WIN * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    ) * F.sqrt(
        (_RC_WIN * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    )
    return w.where(F.col("k") == _RC_WIN).select(
        "day",
        F.col("rev").alias("rev_cents"),
        F.col("clk").alias("clicks"),
        F.round(num / F.nullif(den, F.lit(0.0)), 6).alias("corr14"),
    )


# --- seasonality-adjusted anomaly flags ----------------------------------------------

_SEAS_CTES = (
    "g AS ("
    f"  SELECT {floor_day_us_sql()} AS day, CAST(count(*) AS BIGINT) AS cnt "
    "  FROM events GROUP BY 1"
    "), w AS ("
    "  SELECT day, cnt, CAST(sum(cnt) OVER ww AS BIGINT) AS sum7, "
    "  count(*) OVER ww AS k7 FROM g "
    "  WINDOW ww AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)"
    "), t AS ("
    "  SELECT day, cnt, sum7, ((day % 7) + 7) % 7 AS dow, "
    "  7 * cnt - sum7 AS det7 FROM w WHERE k7 = 7"
    "), s AS ("
    "  SELECT dow, CAST(count(*) AS BIGINT) AS k, "
    "  CAST(sum(det7) AS BIGINT) AS sden FROM t GROUP BY dow"
    "), r AS ("
    "  SELECT day, cnt, "
    "  cnt - sum7 / 7.0 - sden / (7.0 * s.k) AS resid "
    "  FROM t JOIN s ON t.dow = s.dow"
    "), med AS (SELECT median(resid) AS m FROM r), "
    "mad AS (SELECT median(abs(resid - m)) AS d FROM r, med)"
)

EVENT_ANOMALY_SEASONAL_ORACLE = (
    f"WITH {_SEAS_CTES} "
    "SELECT day, cnt, round(resid, 6) AS resid, "
    "round(abs(resid - m) / nullif(CAST(1.4826 AS DOUBLE) * d, 0.0), 6) "
    "AS score, "
    "abs(resid - m) > 3.0 * (CAST(1.4826 AS DOUBLE) * d) AS is_anomaly "
    "FROM r, med, mad"
)


def event_anomaly_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-adjusted daily anomaly screen: the
    ``event_seasonal_decompose`` residual (trend AND weekday effect
    removed) gated by a Hampel rule — |resid − median| > 3·(1.4826·MAD)
    — so a Tuesday that is merely "weekend-quiet" never flags, while a
    day anomalous FOR ITS OWN weekday does. The composition
    ``win_hampel`` (raw series) and ``dq_anomaly_iqr`` (global quantile
    fences) cannot express, and the payoff of keeping decomposition
    components inspectable.

    Determinism: residuals are identical IEEE trees over exact integer
    statistics (see event_seasonal_decompose); both engines' median over
    an even count averages the two middle values of bit-identical
    doubles, so medians, MAD, score and the boolean gate agree exactly
    (score rounds 6 dp for display).

    Scale: day-grain throughout after one event aggregate; the medians
    run over the calendar-bounded residual series (a production
    deployment over years of days would swap the exact median for
    agg_percentile_iterative's histogram narrowing — same contract)."""
    g = (
        load_table(spark, sf_dir, "events")
        .groupBy(ts_day("ts").alias("day"))
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    ww = Window.orderBy("day").rowsBetween(-3, 3)
    w = g.select(
        "day",
        "cnt",
        F.sum("cnt").over(ww).cast("long").alias("sum7"),
        F.count("*").over(ww).alias("k7"),
    )
    t = w.where(F.col("k7") == 7).select(
        "day",
        "cnt",
        "sum7",
        (((F.col("day") % 7) + 7) % 7).alias("dow"),
        (7 * F.col("cnt") - F.col("sum7")).alias("det7"),
    )
    s = t.groupBy("dow").agg(
        F.count("*").cast("long").alias("k"),
        F.sum("det7").cast("long").alias("sden"),
    )
    r = t.join(s, "dow").select(
        "day",
        "cnt",
        (
            F.col("cnt") - F.col("sum7") / 7.0 - F.col("sden") / (7.0 * F.col("k"))
        ).alias("resid"),
    )
    med = r.agg(F.expr("percentile(resid, 0.5)").alias("m"))
    r_m = r.crossJoin(F.broadcast(med))
    mad = r_m.agg(
        F.expr("percentile(abs(resid - m), 0.5)").alias("d")
    )
    sigma = F.lit(1.4826) * F.col("d")
    return r_m.crossJoin(F.broadcast(mad)).select(
        "day",
        "cnt",
        F.round("resid", 6).alias("resid"),
        F.round(
            F.abs(F.col("resid") - F.col("m")) / F.nullif(sigma, F.lit(0.0)), 6
        ).alias("score"),
        (F.abs(F.col("resid") - F.col("m")) > 3.0 * sigma).alias("is_anomaly"),
    )


# --- transaction-log snapshot replay -------------------------------------------------

_TXN_MAX_VERSIONS = 30

SCAN_TXN_LOG_ORACLE = (
    "WITH n AS (SELECT least(CAST("
    f"{_TXN_MAX_VERSIONS} AS BIGINT), count(*)) AS k FROM orders), "
    "g AS (SELECT unnest(range(0, k)) AS i, k FROM n) "
    "SELECT CAST(i AS BIGINT) AS file_id, "
    "CAST((i * 37) % 100 + 1 AS BIGINT) AS n_rows, "
    "CAST(i AS BIGINT) AS added_v "
    "FROM g WHERE i % 3 <> 2 "
    "AND NOT (i % 3 = 0 AND i + 2 < k)"
)


def scan_txn_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transaction-log snapshot reconstruction — the Delta/Iceberg
    protocol essence on stock Spark: a JSONL action log (one
    ``{"v", "op", "file", "rows"}`` object per line; version i ADDS
    file_i except every third version, which REMOVES the file added two
    versions earlier) is read with a real ``spark.read.json`` scan and
    replayed to the LIVE file set — a file is live iff it was added and
    never removed — with one grouped aggregate. This is the metadata
    read a lakehouse table format performs before every query; doing it
    as a declarative groupBy (max add / any remove per file) instead of
    a sequential log walk is what makes snapshot reconstruction
    parallel at 100 TB-scale log volumes.

    The log derives deterministically from the orders row count
    (k = min(30, |orders|) versions), so the ORACLE recomputes the
    expected snapshot from source-table arithmetic alone and any
    staging/scan/replay corruption fails the hash.

    Scale: JSON log scans parallelize per file; the replay is one
    map-side-combined aggregate keyed by file — no ordering requirement
    at all, because add-before-remove is a protocol invariant, not an
    execution-order assumption."""
    import hashlib
    import json
    import os
    import tempfile

    k = min(
        _TXN_MAX_VERSIONS,
        load_table(spark, sf_dir, "orders").count(),
    )
    stage = os.path.join(
        tempfile.gettempdir(),
        f"pmrwc_txn_{os.getuid()}_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}",
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
            [], "file_id long, n_rows long, added_v long"
        )
    log = spark.read.schema("v long, op string, file string, rows long").json(
        f"{stage}/*.json"
    )
    live = (
        log.groupBy("file")
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
    )


# --- cross-lingual near-duplicate pairs ----------------------------------------------

_XLING_COS = 0.35

DEDUP_CROSS_LINGUAL_ORACLE = (
    "SELECT a.vec_id AS doc_id_a, b.vec_id AS doc_id_b, "
    "da.lang AS lang_a, db.lang AS lang_b, "
    "round(list_dot_product(CAST(a.embedding AS DOUBLE[]), "
    "CAST(b.embedding AS DOUBLE[])), 6) AS cosine "
    "FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id "
    "AND round(list_dot_product(CAST(a.embedding AS DOUBLE[]), "
    f"CAST(b.embedding AS DOUBLE[])), 6) >= {_XLING_COS} "
    "JOIN documents da ON da.doc_id = a.vec_id "
    "JOIN documents db ON db.doc_id = b.vec_id "
    "WHERE da.lang <> db.lang"
)


def dedup_cross_lingual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-LANGUAGE near-duplicate pairs: embedding cosine ≥ 0.35
    between documents of DIFFERENT langs — the translation-pair /
    cross-lingual-contamination screen every multilingual corpus needs
    and that shingle/MinHash dedup is structurally blind to (a document
    and its translation share no tokens, so ``dedup_fuzzy_minhash``
    scores them 0). Emits both doc ids, both langs and the rounded
    cosine, ready for the curation funnel's keeper rules ("keep one per
    translation family per lang").

    Determinism: pair membership is decided on the 6 dp-rounded cosine
    (the driver-verified sim_* grain); lang fields are exact joins.

    Scale: the pair search is the exact blocked GEMM
    (``similarity.grid_pair_sims_above`` — emitted pairs proportional
    to matches, never an n² crossJoin; at 100 TB swap in the
    hyperplane-LSH candidate generator); the two lang lookups are
    hash joins on doc id."""
    from .similarity import grid_pair_sims_above

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    pairs = grid_pair_sims_above(spark, sf_dir, _XLING_COS)
    return (
        pairs.join(
            d.select(
                F.col("doc_id").alias("vec_id_a"), F.col("lang").alias("lang_a")
            ),
            "vec_id_a",
        )
        .join(
            d.select(
                F.col("doc_id").alias("vec_id_b"), F.col("lang").alias("lang_b")
            ),
            "vec_id_b",
        )
        .where(F.col("lang_a") != F.col("lang_b"))
        .select(
            F.col("vec_id_a").alias("doc_id_a"),
            F.col("vec_id_b").alias("doc_id_b"),
            "lang_a",
            "lang_b",
            F.round("cosine", 6).alias("cosine"),
        )
    )


DEV_CASES = [
    ("stat_tost_equivalence", stat_tost_equivalence, STAT_TOST_ORACLE),
    ("dq_fd_check", dq_fd_check, DQ_FD_CHECK_ORACLE),
    ("win_rolling_corr", win_rolling_corr, WIN_ROLLING_CORR_ORACLE),
    ("event_anomaly_seasonal", event_anomaly_seasonal, EVENT_ANOMALY_SEASONAL_ORACLE),
    ("scan_txn_log", scan_txn_log, SCAN_TXN_LOG_ORACLE),
    ("dedup_cross_lingual", dedup_cross_lingual, DEDUP_CROSS_LINGUAL_ORACLE),
]
