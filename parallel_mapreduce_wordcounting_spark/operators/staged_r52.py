"""Mixture-scheduling / garbage-detection / size-telemetry /
planner-calibration wave. Like every ``staged_r*`` module with
``DEV_CASES``, it registers itself on import: the package root registers
each ``(key, fn, oracle)`` entry. tests/test_oracle_parity.py runs the
fn-vs-DuckDB compare; tests/test_staged_r52.py holds the independent
property checks.

Contents:

- ``pipeline_epoch_scheduler`` — the data-mixture WATER-FILLING problem
  every pretraining run solves: allocate a token budget B = 1.5·Σtokens
  across sources with temperature-flattened target weights
  (w ∝ √tokens, the mBERT/XLM-R α = 0.5 rule) under QUALITY-TIERED
  epoch caps (even-numbered sources may repeat 3×, odd 1× — the
  "Wikipedia upsampled, CommonCrawl capped" policy). Solved in CLOSED
  FORM, not a loop: sort sources by cap/weight (integer
  cross-multiplication), take cumulative cap/weight sums, the capped
  set is the longest prefix with capᵢ·(W−cwᵢ) ≤ (B−ccᵢ)·wᵢ (the
  water-level monotonicity), and uncapped allocations are one integer
  division against the residual level. Every comparison and allocation
  is exact integer arithmetic — the only float is one correctly-rounded
  IEEE sqrt per source (and tests replay the sequential water-filling
  to certify the prefix rule).
- ``text_char_entropy_rate`` — per-document character-bigram
  CONDITIONAL entropy H(c₂|c₁) = H(bigrams) − H(chars): the classic
  OCR-garbage/keyboard-mash screen (natural text has low conditional
  entropy — the next character is predictable; byte junk is near
  log |alphabet|). Complements the token-level ``text_entropy`` and
  zlib-based ``text_compression_ratio`` with the character-model
  information rate, entirely in groupBy aggregates.
- ``agg_log2_hist`` — power-of-two (log₂-bucketed) histogram of
  document sizes per source — the size-telemetry idiom of every
  storage/RPC dashboard (linear ``agg_hist`` buckets under-resolve
  heavy tails). floor(log₂ x) is computed EXACTLY as the binary-digit
  count minus one (Spark ``bin()``, DuckDB ``printf('%b')``) — no
  floating log that could straddle a power-of-two boundary.
- ``join_cardinality_estimate`` — the textbook containment estimator
  |A⋈B| ≈ nA·nB / max(ndv_A, ndv_B) scored against ground truth on
  two joins: the PK–FK orders⋈customer (estimator exact, q-ratio 1)
  and the M:N events self-join on user_id (truth is Σf², the estimator
  assumes uniformity and drifts under skew). The calibration readout
  behind every cost-based join-order decision — and the quantitative
  companion to ``join_skew_diagnose``, which diagnoses the same
  uniformity assumption from the frequency side.

Exactness doctrine: allocations, entropy count tables, bucket censuses
and cardinalities are exact integers end-to-end; entropies / epochs /
q-ratios spend ln or one division on identically-derived values and
round to 6 dp; floor(log₂) never touches a float.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..pins import persisting, pin
from ..sources.loader import load_table

_D38 = "decimal(38,0)"

# --- token-budget water-filling under tiered epoch caps --------------------------------

_WF_WEIGHT_SCALE = 1_000_000  # w = floor(sqrt(tokens) · 1e6)

PIPELINE_EPOCH_SCHEDULER_ORACLE = (
    "WITH s AS ("
    "  SELECT source, CAST(sum(len(string_split(lower(text), ' ')))"
    "    AS HUGEINT) AS toks FROM documents GROUP BY source"
    "), w AS ("
    "  SELECT source, toks, "
    f"  CAST(floor(sqrt(CAST(toks AS DOUBLE)) * {_WF_WEIGHT_SCALE})"
    "    AS HUGEINT) AS wt, "
    "  CASE WHEN CAST(regexp_extract(source, '([0-9]+)$', 1) AS BIGINT)"
    "    % 2 = 0 THEN 3 * toks ELSE toks END AS cap FROM s"
    "), tot AS ("
    "  SELECT (3 * CAST(sum(toks) AS HUGEINT)) // 2 AS B, "
    "  CAST(sum(wt) AS HUGEINT) AS W FROM w"
    "), ord AS ("
    "  SELECT *, row_number() OVER (ORDER BY"
    "    cap * (SELECT W FROM tot) - wt * (SELECT B FROM tot), source) AS rk, "
    "  sum(cap) OVER (ORDER BY"
    "    cap * (SELECT W FROM tot) - wt * (SELECT B FROM tot), source) AS cc, "
    "  sum(wt) OVER (ORDER BY"
    "    cap * (SELECT W FROM tot) - wt * (SELECT B FROM tot), source) AS cw"
    "  FROM w"
    "), flag AS ("
    "  SELECT *, CASE WHEN cap * ((SELECT W FROM tot) - cw)"
    "    <= ((SELECT B FROM tot) - cc) * wt THEN 1 ELSE 0 END AS cp FROM ord"
    "), brk AS ("
    "  SELECT coalesce(max(CASE WHEN cp = 1 THEN rk END), 0) AS K FROM flag"
    "), lam AS ("
    "  SELECT (SELECT B FROM tot) - coalesce(max(CASE WHEN"
    "    rk = (SELECT K FROM brk) THEN cc END), 0) AS nb, "
    "  (SELECT W FROM tot) - coalesce(max(CASE WHEN"
    "    rk = (SELECT K FROM brk) THEN cw END), 0) AS nw FROM flag"
    ") SELECT source, CAST(toks AS BIGINT) AS toks, "
    "CAST(cap AS BIGINT) AS cap_tokens, "
    "CAST(CASE WHEN rk <= (SELECT K FROM brk) THEN cap"
    "  ELSE ((SELECT nb FROM lam) * wt) // (SELECT nw FROM lam) END"
    "  AS BIGINT) AS alloc_tokens, "
    "rk <= (SELECT K FROM brk) AS is_capped, "
    "round(CAST(CASE WHEN rk <= (SELECT K FROM brk) THEN cap"
    "  ELSE ((SELECT nb FROM lam) * wt) // (SELECT nw FROM lam) END"
    "  AS DOUBLE) / toks, 6) AS epochs "
    "FROM flag"
)


def pipeline_epoch_scheduler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See module docstring. One token aggregate absorbs the corpus;
    everything after runs on the |sources|-row frame (a broadcast 1-row
    total, one |sources| window for the prefix sums, two scalar
    broadcast joins for the break point and residual level). The closed
    form replaces the sequential cap-and-redistribute loop — the same
    answer, zero driver iterations, certified against the sequential
    replay in the tests."""
    d = load_table(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(
        F.sum(F.size(F.split(F.lower("text"), " "))).cast(_D38).alias("toks")
    )
    w = s.select(
        "source",
        "toks",
        F.floor(F.sqrt(F.col("toks").cast("double")) * _WF_WEIGHT_SCALE)
        .cast(_D38)
        .alias("wt"),
        F.when(
            F.regexp_extract("source", r"([0-9]+)$", 1).cast("long") % 2 == 0,
            3 * F.col("toks"),
        )
        .otherwise(F.col("toks"))
        .alias("cap"),
    )
    tot = w.agg(
        F.expr("CAST((3 * sum(toks)) div 2 AS decimal(38,0))").alias("B"),
        F.sum("wt").alias("W"),
    )
    j = w.crossJoin(F.broadcast(tot))
    key = F.col("cap") * F.col("W") - F.col("wt") * F.col("B")
    win = Window.orderBy(key, "source")
    ordw = j.select(
        "*",
        F.row_number().over(win).alias("rk"),
        F.sum("cap").over(win).alias("cc"),
        F.sum("wt").over(win).alias("cw"),
    )
    flag = ordw.withColumn(
        "cp",
        F.when(
            F.col("cap") * (F.col("W") - F.col("cw"))
            <= (F.col("B") - F.col("cc")) * F.col("wt"),
            1,
        ).otherwise(0),
    )
    with persisting() as keep:
        keep(flag)
        brk = flag.agg(
            F.coalesce(
                F.max(F.when(F.col("cp") == 1, F.col("rk"))), F.lit(0)
            ).alias("K")
        )
        lam = (
            flag.crossJoin(F.broadcast(brk))
            .agg(
                (
                    F.first("B")
                    - F.coalesce(
                        F.max(
                            F.when(F.col("rk") == F.col("K"), F.col("cc"))
                        ),
                        F.lit(0).cast(_D38),
                    )
                ).alias("nb"),
                (
                    F.first("W")
                    - F.coalesce(
                        F.max(
                            F.when(F.col("rk") == F.col("K"), F.col("cw"))
                        ),
                        F.lit(0).cast(_D38),
                    )
                ).alias("nw"),
            )
        )
        alloc = F.when(
            F.col("rk") <= F.col("K"), F.col("cap")
        ).otherwise(
            F.expr("CAST((nb * wt) div nw AS decimal(38,0))")
        )
        out = (
            flag.crossJoin(F.broadcast(brk))
            .crossJoin(F.broadcast(lam))
            .select(
                "source",
                F.col("toks").cast("long").alias("toks"),
                F.col("cap").cast("long").alias("cap_tokens"),
                alloc.cast("long").alias("alloc_tokens"),
                (F.col("rk") <= F.col("K")).alias("is_capped"),
                F.round(
                    alloc.cast("double") / F.col("toks").cast("double"), 6
                ).alias("epochs"),
            )
        )
        return pin(out)


# --- character-bigram conditional entropy rate ------------------------------------------

_ENT_DOCS = 40  # census over a bounded doc slice keeps output row-bounded

TEXT_CHAR_ENTROPY_RATE_ORACLE = (
    "WITH ch AS ("
    "  SELECT doc_id, substr(text, CAST(i AS INT), 2) AS bg, "
    "  substr(text, CAST(i AS INT), 1) AS c1"
    "  FROM documents, unnest(range(1, length(text))) t(i)"
    f"  WHERE doc_id < {_ENT_DOCS}"
    "), bgc AS ("
    "  SELECT doc_id, bg, CAST(count(*) AS BIGINT) AS k FROM ch GROUP BY 1, 2"
    "), cc AS ("
    "  SELECT doc_id, c1, CAST(count(*) AS BIGINT) AS k FROM ch GROUP BY 1, 2"
    "), n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM ch GROUP BY 1), "
    "hxy AS ("
    "  SELECT b.doc_id, -sum((CAST(k AS DOUBLE) / n.n)"
    "    * ln(CAST(k AS DOUBLE) / n.n)) AS h, max(n.n) AS n"
    "  FROM bgc b JOIN n ON n.doc_id = b.doc_id GROUP BY b.doc_id"
    "), hx AS ("
    "  SELECT c.doc_id, -sum((CAST(k AS DOUBLE) / n.n)"
    "    * ln(CAST(k AS DOUBLE) / n.n)) AS h"
    "  FROM cc c JOIN n ON n.doc_id = c.doc_id GROUP BY c.doc_id"
    ") SELECT hxy.doc_id, CAST(hxy.n AS BIGINT) AS n_bigrams, "
    "round(hxy.h, 6) AS h_bigram, round(hx.h, 6) AS h_char, "
    "round(hxy.h - hx.h, 6) AS cond_entropy "
    "FROM hxy JOIN hx ON hx.doc_id = hxy.doc_id"
)


def text_char_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See module docstring. Bigrams explode JVM-side (substring over a
    posexploded index), then two map-side-combined count tables and one
    entropy aggregate per doc — all hash-partitioned on doc_id. The
    entropy sum runs over ≤|alphabet|² distinct rows per doc, so the
    1e-16 summation-order noise sits ten orders below the 6-dp grain
    (the text_entropy precedent)."""
    d = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < _ENT_DOCS)
        # length >= 2: sequence(1, length-1) DESCENDS ([1, 0], never
        # empty) on shorter docs — spurious bigram rows the oracle's
        # range(1, length(text)) never generates (r10 ADVICE)
        .where(F.length("text") >= 2)
        .select("doc_id", "text")
    )
    ch = (
        d.select(
            "doc_id",
            "text",
            F.explode(
                F.sequence(F.lit(1), F.length("text") - 1)
            ).alias("i"),
        )
        .select(
            "doc_id",
            F.expr("substring(text, i, 1)").alias("c1"),
            F.expr("substring(text, i, 2)").alias("bg"),
        )
    )
    bgc = ch.groupBy("doc_id", "bg").agg(F.count(F.lit(1)).alias("k"))
    cc = ch.groupBy("doc_id", "c1").agg(F.count(F.lit(1)).alias("k"))
    n = ch.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    ent = lambda tbl: (  # noqa: E731
        tbl.join(n, "doc_id")
        .groupBy("doc_id")
        .agg(
            (
                -F.sum(
                    (F.col("k").cast("double") / F.col("n"))
                    * F.log(F.col("k").cast("double") / F.col("n"))
                )
            ).alias("h"),
            F.max("n").alias("n"),
        )
    )
    hxy = ent(bgc)
    hx = ent(cc).select("doc_id", F.col("h").alias("hx"))
    return hxy.join(hx, "doc_id").select(
        "doc_id",
        F.col("n").cast("long").alias("n_bigrams"),
        F.round("h", 6).alias("h_bigram"),
        F.round("hx", 6).alias("h_char"),
        F.round(F.col("h") - F.col("hx"), 6).alias("cond_entropy"),
    )


# --- power-of-two size histogram ---------------------------------------------------------

AGG_LOG2_HIST_ORACLE = (
    "SELECT source, "
    "CAST(length(printf('%b', n_chars)) - 1 AS BIGINT) AS log2_bucket, "
    "CAST(count(*) AS BIGINT) AS n_docs, "
    "CAST(sum(n_chars) AS BIGINT) AS sum_chars "
    "FROM documents WHERE n_chars > 0 GROUP BY 1, 2"
)


def agg_log2_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See module docstring. One map-side-combined groupBy on
    (source, bucket) — the bucket expression is ``length(bin(x)) − 1``,
    exact for any positive int64, so a size sitting exactly on 2ᵏ can
    never flip buckets between engines the way ``floor(log2(x))``
    could at the ulp."""
    d = load_table(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    bucket = (F.length(F.bin(F.col("n_chars"))) - 1).cast("long")
    return d.groupBy("source", bucket.alias("log2_bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


# --- containment join-cardinality estimator vs truth --------------------------------------

JOIN_CARDINALITY_ESTIMATE_ORACLE = (
    "WITH oa AS ("
    "  SELECT CAST(count(*) AS BIGINT) AS n, "
    "  CAST(count(DISTINCT o_custkey) AS BIGINT) AS ndv FROM orders"
    "), cb AS ("
    "  SELECT CAST(count(*) AS BIGINT) AS n, "
    "  CAST(count(DISTINCT c_custkey) AS BIGINT) AS ndv FROM customer"
    "), oact AS ("
    "  SELECT CAST(count(*) AS BIGINT) AS n FROM orders o"
    "  JOIN customer c ON c.c_custkey = o.o_custkey"
    "), ea AS ("
    "  SELECT CAST(count(*) AS BIGINT) AS n, "
    "  CAST(count(DISTINCT user_id) AS BIGINT) AS ndv FROM events"
    "), eact AS ("
    "  SELECT CAST(sum(f * f) AS BIGINT) AS n FROM ("
    "    SELECT count(*) AS f FROM events GROUP BY user_id)"
    ") SELECT 'orders_customer' AS join_name, "
    "(SELECT n FROM oa) AS n_left, (SELECT n FROM cb) AS n_right, "
    "(SELECT ndv FROM oa) AS ndv_left, (SELECT ndv FROM cb) AS ndv_right, "
    "((SELECT n FROM oa) * (SELECT n FROM cb))"
    " // greatest((SELECT ndv FROM oa), (SELECT ndv FROM cb)) AS est_rows, "
    "(SELECT n FROM oact) AS actual_rows, "
    "round(CAST(((SELECT n FROM oa) * (SELECT n FROM cb))"
    " // greatest((SELECT ndv FROM oa), (SELECT ndv FROM cb)) AS DOUBLE)"
    " / (SELECT n FROM oact), 6) AS q_ratio "
    "UNION ALL "
    "SELECT 'events_self_user', (SELECT n FROM ea), (SELECT n FROM ea), "
    "(SELECT ndv FROM ea), (SELECT ndv FROM ea), "
    "((SELECT n FROM ea) * (SELECT n FROM ea)) // (SELECT ndv FROM ea), "
    "(SELECT n FROM eact), "
    "round(CAST(((SELECT n FROM ea) * (SELECT n FROM ea))"
    " // (SELECT ndv FROM ea) AS DOUBLE) / (SELECT n FROM eact), 6)"
)


def join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See module docstring. Four 1-row statistics aggregates + one
    actual-count join (PK–FK, hash equi-join) + one Σf² aggregate (the
    self-join truth WITHOUT running the self-join — the
    join_skew_diagnose identity). Everything after the aggregates is
    2-row arithmetic."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    ev = load_table(spark, sf_dir, "events")
    oa = o.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.countDistinct("o_custkey").cast("long").alias("ndv"),
    )
    cb = c.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.countDistinct("c_custkey").cast("long").alias("ndv"),
    )
    oact = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    ea = ev.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.countDistinct("user_id").cast("long").alias("ndv"),
    )
    eact = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("f"))
        .agg(F.sum(F.col("f") * F.col("f")).cast("long").alias("n"))
    )
    r1 = (
        oa.select(F.col("n").alias("nl"), F.col("ndv").alias("dl"))
        .crossJoin(
            F.broadcast(
                cb.select(F.col("n").alias("nr"), F.col("ndv").alias("dr"))
            )
        )
        .crossJoin(F.broadcast(oact.select(F.col("n").alias("act"))))
        .select(
            F.lit("orders_customer").alias("join_name"),
            F.col("nl").alias("n_left"),
            F.col("nr").alias("n_right"),
            F.col("dl").alias("ndv_left"),
            F.col("dr").alias("ndv_right"),
            F.expr("(nl * nr) div greatest(dl, dr)").alias("est_rows"),
            F.col("act").alias("actual_rows"),
            F.round(
                F.expr("(nl * nr) div greatest(dl, dr)").cast("double")
                / F.col("act"),
                6,
            ).alias("q_ratio"),
        )
    )
    r2 = (
        ea.select(F.col("n").alias("nl"), F.col("ndv").alias("dl"))
        .crossJoin(F.broadcast(eact.select(F.col("n").alias("act"))))
        .select(
            F.lit("events_self_user").alias("join_name"),
            F.col("nl").alias("n_left"),
            F.col("nl").alias("n_right"),
            F.col("dl").alias("ndv_left"),
            F.col("dl").alias("ndv_right"),
            F.expr("(nl * nl) div dl").alias("est_rows"),
            F.col("act").alias("actual_rows"),
            F.round(
                F.expr("(nl * nl) div dl").cast("double") / F.col("act"), 6
            ).alias("q_ratio"),
        )
    )
    return r1.unionAll(r2)


DEV_CASES = [
    (
        "pipeline_epoch_scheduler",
        pipeline_epoch_scheduler,
        PIPELINE_EPOCH_SCHEDULER_ORACLE,
    ),
    (
        "text_char_entropy_rate",
        text_char_entropy_rate,
        TEXT_CHAR_ENTROPY_RATE_ORACLE,
    ),
    ("agg_log2_hist", agg_log2_hist, AGG_LOG2_HIST_ORACLE),
    (
        "join_cardinality_estimate",
        join_cardinality_estimate,
        JOIN_CARDINALITY_ESTIMATE_ORACLE,
    ),
]
