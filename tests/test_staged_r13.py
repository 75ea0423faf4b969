"""Round-13 staged operators (operators/staged_r13.py): the wave's fn-vs-DuckDB
value compares, shared with tests/test_oracle_parity.py through the memoized
`run_compare`, and the checks an oracle cannot express."""

from __future__ import annotations

import pytest

from parallel_mapreduce_wordcounting_spark.operators import staged_r13

from .conftest import SF_DIR, assert_nonvacuous, run_compare, wave_keys


@pytest.mark.parametrize("key", wave_keys(staged_r13))
def test_staged_r13_oracle_parity(spark, duck, key):
    run_compare(spark, duck, key)


def test_staged_r13_nonvacuous(spark, duck):
    assert_nonvacuous(spark, duck, wave_keys(staged_r13))


def test_spearman_invariant_under_monotone_transform(duck):
    """ρ must be identical when y is replaced by a monotone transform
    (ln(1+y)) — the property Pearson lacks and Spearman exists for."""
    base = duck.execute(staged_r13.STAT_SPEARMAN_ORACLE).fetchone()
    transformed = duck.execute(
        staged_r13.STAT_SPEARMAN_ORACLE.replace(
            "ELSE 0 END) AS y", "ELSE 0 END) AS y0, ln(1 + sum(CASE WHEN "
            "event_type = 'purchase' THEN CAST(sign((value)) * "
            "floor(abs((value)) * 100 + 0.5) AS BIGINT) ELSE 0 END)) AS y"
        )
    ).fetchone()
    assert base[1] == transformed[1]


def test_corpus_is_tab_free(duck):
    """scan_text_gzip's tab framing precondition — if the fixture ever
    grows tabs, the operator must switch to a framed escape, loudly."""
    n = duck.execute(
        "SELECT count(*) FROM documents WHERE text LIKE '%' || chr(9) || '%'"
    ).fetchone()[0]
    assert n == 0


def test_benford_discriminates_both_ways(duck):
    """The multi-decade fixture approximately conforms to Benford (small
    chi2); a floor-truncated copy (scale-invariance destroyed) must score
    FAR higher — the screen separates natural from tampered data."""
    chi2 = duck.execute(
        f"SELECT max(chi2_total) FROM ({staged_r13.DQ_BENFORD_ORACLE})"
    ).fetchone()[0]
    truncated = duck.execute(
        f"SELECT max(chi2_total) FROM ({staged_r13.DQ_BENFORD_ORACLE.replace('FROM events', 'FROM (SELECT * FROM events WHERE value >= 30) events', 1)})"
    ).fetchone()[0]
    assert chi2 < 40.0, "natural multi-decade data should score low"
    assert truncated > 3.0 * chi2, "tampered data must stand out"


def test_asof_nearest_beats_backward_asof_gap(spark):
    """For every event, the nearest match's |gap| is <= the backward as-of
    match's gap (nearest is optimal over both directions by definition)."""
    from pyspark.sql import functions as F

    from parallel_mapreduce_wordcounting_spark import REGISTRY
    from parallel_mapreduce_wordcounting_spark.sources.loader import ts_us

    near = staged_r13.join_asof_nearest(spark, SF_DIR).select(
        "event_id", F.col("abs_us").alias("near_us")
    )
    back = (
        REGISTRY["join_asof"]
        .fn(spark, SF_DIR)
        .join(
            staged_r13.load_table(spark, SF_DIR, "events").select("event_id", "ts"),
            "event_id",
        )
        .join(
            staged_r13.load_table(spark, SF_DIR, "orders").select(
                F.col("o_orderkey").alias("asof_orderkey"), "o_orderdate"
            ),
            "asof_orderkey",
        )
        .select(
            "event_id",
            F.abs(ts_us("ts") - ts_us("o_orderdate")).alias("back_us"),
        )
    )
    bad = near.join(back, "event_id").filter(F.col("near_us") > F.col("back_us"))
    assert bad.count() == 0
