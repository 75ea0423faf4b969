"""Pitfall-certification / classifier-quality / continuity wave. Like every
``staged_r*`` module with ``DEV_CASES``, it registers itself on import: the
package root registers each ``(key, fn, oracle)`` entry.
tests/test_oracle_parity.py runs the fn-vs-DuckDB compare;
tests/test_staged_r39.py holds the independent property checks.

Contents:

- ``agg_ratio_pitfall`` — ratio-of-sums vs average-of-ratios, side by
  side per order priority (discount rate of lineitems): the aggregation
  pitfall behind most wrong "average rate" dashboards, certified as two
  labeled columns with their divergence — the win_first_last /
  stat_regression_to_mean genre: executable documentation of a bug
  class, driver-hash-verified.
- ``stat_mcc_langid`` — the Matthews correlation coefficient of the
  ``text_langid`` heuristic against ground truth (binary en-vs-rest),
  beside accuracy — the balanced single-number classifier score that
  accuracy fakes on imbalanced classes (a predict-all-negative rule
  scores ~0.6 accuracy here but MCC ≈ 0, which is the point).
- ``dq_id_continuity`` — sequence-id continuity census per table:
  min/max/expected span vs distinct count → missing-id count and the
  contiguity verdict — the ingestion tripwire for dropped batches
  (a gap in a monotone id column is a lost file, visible in one scan).
- ``fn_base64`` — base64 encode/decode of document heads with the
  round-trip inverse certified IN the output row (the fn_inet
  convention) — the binary-safe transport encoding every webhook and
  key-value payload path needs.

Exactness doctrine: unchanged — everything here is exact integer
counting, exact string transforms, or single divisions of exact
integers (MCC's sqrt over exact products included).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.loader import load_table

_D38 = "decimal(38,0)"

# --- ratio-of-sums vs average-of-ratios ---------------------------------------------------

AGG_RATIO_PITFALL_ORACLE = (
    "WITH l AS ("
    "  SELECT o_orderpriority AS p, l_discount, l_extendedprice "
    "  FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
    ") SELECT p, CAST(count(*) AS BIGINT) AS n_lines, "
    "round(sum(l_discount * l_extendedprice) / sum(l_extendedprice), 6) "
    "AS ratio_of_sums, "
    "round(avg(l_discount), 6) AS avg_of_ratios, "
    "round(abs(sum(l_discount * l_extendedprice) / sum(l_extendedprice) "
    "- avg(l_discount)), 6) AS divergence "
    "FROM l GROUP BY p"
)


def agg_ratio_pitfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-of-sums vs average-of-ratios, certified side by side: the
    effective discount RATE per order priority computed correctly
    (Σ discount·price / Σ price — dollars-weighted, what finance means
    by "discount rate") and incorrectly (the unweighted mean of per-line
    discount fractions — what a naive AVG(discount) dashboard computes),
    with their divergence. The two agree only when discounts are
    uncorrelated with line value; every real corpus violates that, and
    most wrong "average rate" KPIs in the wild are exactly this bug.
    The win_first_last genre: the pitfall is made an output column the
    driver hash verifies, not a code-review hope.

    Determinism: both ratios are single-expression aggregates of the
    same doubles through identical trees (the discount×price product
    sums carry the documented float-sum exception, absorbed by 6 dp
    rounding; no verdict is decided on them).

    Scale: one orders⋈lineitem key join + one map-side-combined
    aggregate per priority."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_orderpriority").alias("p")
    )
    l = li.join(o, li.l_orderkey == o.o_orderkey)
    ros = F.sum(F.col("l_discount") * F.col("l_extendedprice")) / F.sum(
        "l_extendedprice"
    )
    aor = F.avg("l_discount")
    return l.groupBy("p").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.round(ros, 6).alias("ratio_of_sums"),
        F.round(aor, 6).alias("avg_of_ratios"),
        F.round(F.abs(ros - aor), 6).alias("divergence"),
    )


# --- MCC of the langid heuristic --------------------------------------------------------------

STAT_MCC_LANGID_ORACLE = (
    "WITH p AS ("
    "  SELECT CASE WHEN text LIKE '%the %' OR text LIKE '% the%' "
    "  THEN 1 ELSE 0 END AS pred, "
    "  CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y FROM documents"
    "), c AS ("
    "  SELECT CAST(sum(CASE WHEN pred = 1 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp, "
    "  CAST(sum(CASE WHEN pred = 1 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp, "
    "  CAST(sum(CASE WHEN pred = 0 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn, "
    "  CAST(sum(CASE WHEN pred = 0 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn "
    "  FROM p"
    ") SELECT tp, fp, fn, tn, "
    "round((tp + tn) / (1.0 * (tp + fp + fn + tn)), 6) AS accuracy, "
    "round((CAST(tp AS DOUBLE) * tn - CAST(fp AS DOUBLE) * fn) / nullif("
    "sqrt(CAST(tp + fp AS DOUBLE)) * sqrt(CAST(tp + fn AS DOUBLE)) "
    "* sqrt(CAST(tn + fp AS DOUBLE)) * sqrt(CAST(tn + fn AS DOUBLE)), 0.0)"
    ", 6) AS mcc "
    "FROM c WHERE tp + fp + fn + tn > 0"
)


def stat_mcc_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Matthews correlation coefficient of the ``text_langid``
    heuristic (the-marker ⇒ English) against the labeled lang column,
    beside raw accuracy: MCC = (TP·TN − FP·FN)/√((TP+FP)(TP+FN)(TN+FP)
    (TN+FN)) — the balanced single-number classifier score. Accuracy
    flatters trivial rules on imbalanced classes (~61% of this corpus
    is non-English, so "never English" already scores 0.61); MCC of a
    rule with no real signal sits near 0 regardless of imbalance, which
    is why curation-filter evaluations should lead with it. Emitted
    with the full confusion matrix so the driver hash verifies the
    cells, not just the summary.

    Determinism: exact integer confusion counts; MCC is one double
    expression (the four sqrts factored to avoid int64 overflow of the
    product — (TP+FP)(TP+FN)(TN+FP)(TN+FN) can exceed 2⁶³ at corpus
    scale, √·√·√·√ cannot).

    Scale: one map-side-combined 4-counter aggregate."""
    d = load_table(spark, sf_dir, "documents")
    p = d.select(
        F.when(
            F.col("text").contains("the ") | F.col("text").contains(" the"), 1
        )
        .otherwise(0)
        .alias("pred"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    c = p.agg(
        F.sum(F.when((F.col("pred") == 1) & (F.col("y") == 1), 1).otherwise(0))
        .cast("long")
        .alias("tp"),
        F.sum(F.when((F.col("pred") == 1) & (F.col("y") == 0), 1).otherwise(0))
        .cast("long")
        .alias("fp"),
        F.sum(F.when((F.col("pred") == 0) & (F.col("y") == 1), 1).otherwise(0))
        .cast("long")
        .alias("fn"),
        F.sum(F.when((F.col("pred") == 0) & (F.col("y") == 0), 1).otherwise(0))
        .cast("long")
        .alias("tn"),
    )
    total = F.col("tp") + F.col("fp") + F.col("fn") + F.col("tn")
    num = F.col("tp").cast("double") * F.col("tn") - F.col("fp").cast(
        "double"
    ) * F.col("fn")
    den = (
        F.sqrt((F.col("tp") + F.col("fp")).cast("double"))
        * F.sqrt((F.col("tp") + F.col("fn")).cast("double"))
        * F.sqrt((F.col("tn") + F.col("fp")).cast("double"))
        * F.sqrt((F.col("tn") + F.col("fn")).cast("double"))
    )
    return c.where(total > 0).select(
        "tp",
        "fp",
        "fn",
        "tn",
        F.round((F.col("tp") + F.col("tn")) / (1.0 * total), 6).alias(
            "accuracy"
        ),
        F.round(num / F.nullif(den, F.lit(0.0)), 6).alias("mcc"),
    )


# --- sequence-id continuity census --------------------------------------------------------------


def _cont_sql(name: str, table: str, col: str) -> str:
    return (
        f"SELECT '{name}' AS id_column, "
        f"CAST(min({col}) AS BIGINT) AS min_id, "
        f"CAST(max({col}) AS BIGINT) AS max_id, "
        f"CAST(max({col}) - min({col}) + 1 AS BIGINT) AS expected_span, "
        f"CAST(count(DISTINCT {col}) AS BIGINT) AS n_distinct, "
        f"CAST(max({col}) - min({col}) + 1 - count(DISTINCT {col}) AS BIGINT)"
        " AS n_missing, "
        f"max({col}) - min({col}) + 1 = count(DISTINCT {col}) AS is_contiguous"
        f" FROM {table} WHERE {col} IS NOT NULL"
    )


DQ_ID_CONTINUITY_ORACLE = " UNION ALL ".join(
    [
        _cont_sql("orders.o_orderkey", "orders", "o_orderkey"),
        _cont_sql("documents.doc_id", "documents", "doc_id"),
        _cont_sql("events.event_id", "events", "event_id"),
        _cont_sql("lineitem.l_orderkey", "lineitem", "l_orderkey"),
    ]
)


def dq_id_continuity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-id continuity census: for each candidate monotone id
    column, the observed [min, max] span vs the distinct count — every
    missing id in the span is a hole, and a hole in a
    producer-assigned sequence means a DROPPED batch (the cheapest
    lost-data tripwire there is: one scan, no join against a manifest).
    The list includes lineitem.l_orderkey, which is EXPECTED to be
    non-contiguous (27-per-1500 orders have no lines) — the census
    distinguishes rather than assumes.

    Determinism: pure integer min/max/distinct arithmetic.

    Scale: one map-side-combined aggregate per column; min/max ride
    parquet row-group statistics."""

    def cont(name: str, df: DataFrame, col: str) -> DataFrame:
        d = df.where(F.col(col).isNotNull())
        span = F.max(col) - F.min(col) + 1
        return d.agg(
            F.lit(name).alias("id_column"),
            F.min(col).cast("long").alias("min_id"),
            F.max(col).cast("long").alias("max_id"),
            span.cast("long").alias("expected_span"),
            F.countDistinct(col).cast("long").alias("n_distinct"),
            (span - F.countDistinct(col)).cast("long").alias("n_missing"),
            (span == F.countDistinct(col)).alias("is_contiguous"),
        )

    o = load_table(spark, sf_dir, "orders")
    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "events")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        cont("orders.o_orderkey", o, "o_orderkey")
        .unionByName(cont("documents.doc_id", d, "doc_id"))
        .unionByName(cont("events.event_id", e, "event_id"))
        .unionByName(cont("lineitem.l_orderkey", li, "l_orderkey"))
    )


# --- base64 round trip ----------------------------------------------------------------------------

FN_BASE64_ORACLE = (
    "WITH h AS ("
    "  SELECT doc_id, substr(text, 1, 24) AS head FROM documents "
    "  WHERE text IS NOT NULL"
    ") SELECT doc_id, base64(CAST(head AS BLOB)) AS b64, "
    "CAST(length(base64(CAST(head AS BLOB))) AS BIGINT) AS b64_len, "
    "CAST(from_base64(base64(CAST(head AS BLOB))) AS VARCHAR) = head "
    "AS roundtrip_ok "
    "FROM h"
)


def fn_base64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Base64 transport encoding of each document's 24-char head, with
    the decode-inverts-encode property certified IN the output row (the
    fn_inet convention — the driver hash itself verifies every
    round trip): the binary-safe encoding every webhook payload,
    key-value blob and signed-URL path relies on. b64_len additionally
    pins the ⌈n/3⌉·4 length law.

    Determinism: RFC 4648 standard alphabet with padding on both
    engines; byte-level, so UTF-8 multibyte heads round-trip too.

    Scale: per-row JVM codec projection, zero shuffle."""
    d = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    head = F.substring("text", 1, 24)
    b64 = F.base64(head.cast("binary"))
    return d.select(
        "doc_id",
        b64.alias("b64"),
        F.length(b64).cast("long").alias("b64_len"),
        (F.unbase64(b64).cast("string") == head).alias("roundtrip_ok"),
    )


DEV_CASES = [
    ("agg_ratio_pitfall", agg_ratio_pitfall, AGG_RATIO_PITFALL_ORACLE),
    ("stat_mcc_langid", stat_mcc_langid, STAT_MCC_LANGID_ORACLE),
    ("dq_id_continuity", dq_id_continuity, DQ_ID_CONTINUITY_ORACLE),
    ("fn_base64", fn_base64, FN_BASE64_ORACLE),
]
