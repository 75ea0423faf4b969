"""Round-42 staged operators (operators/staged_r42.py): the wave's fn-vs-DuckDB
value compares, shared with tests/test_oracle_parity.py through the memoized
`run_compare`, and the checks an oracle cannot express. Independent guards:
the percentile envelope against a from-scratch Python interpolating
quantile, frequent items against exact Python counting, bloom staging reuse
+ predicate pushdown on the read-back scan, and the anneal mix against a
Python greedy replay with the prefix-property invariant."""

from __future__ import annotations

import math
from collections import Counter

import pytest

from parallel_mapreduce_wordcounting_spark.operators import staged_r42

from .conftest import SF_DIR, assert_nonvacuous, run_compare, wave_keys


@pytest.mark.parametrize("key", wave_keys(staged_r42))
def test_staged_r42_oracle_parity(spark, duck, key):
    run_compare(spark, duck, key)


def test_staged_r42_nonvacuous(spark, duck):
    assert_nonvacuous(spark, duck, wave_keys(staged_r42))


def _interp_quantile(sorted_vals, p):
    """numpy-style linear interpolation — quantile_cont / F.percentile."""
    idx = p * (len(sorted_vals) - 1)
    lo = math.floor(idx)
    hi = math.ceil(idx)
    frac = idx - lo
    return sorted_vals[lo] * (1 - frac) + sorted_vals[hi] * frac


def test_approx_percentile_envelope_python(spark, duck):
    vals = sorted(
        v for (v,) in duck.execute("SELECT l_extendedprice FROM lineitem").fetchall()
    )
    rows = {r.p: r for r in staged_r42.agg_approx_percentile(spark, SF_DIR).collect()}
    assert set(rows) == set(staged_r42._PCTL_PS)
    for p, r in rows.items():
        assert r.approx_in_envelope is True
        assert r.exact_pctl == pytest.approx(_interp_quantile(vals, p), abs=1e-5)


def test_freq_items_contains_exact_heavy_hitters(spark, duck):
    counts = Counter(
        t for (t,) in duck.execute("SELECT event_type FROM events").fetchall()
    )
    n = sum(counts.values())
    heavy = {t for t, c in counts.items() if c > staged_r42._FREQ_SUPPORT * n}
    rows = staged_r42.agg_freq_items(spark, SF_DIR).collect()
    assert {r.event_type for r in rows} == heavy
    assert all(r.in_freq_items for r in rows)  # the KSP guarantee held
    assert all(r.cnt == counts[r.event_type] for r in rows)


def test_bloom_sink_pushes_predicate_and_reuses_staging(spark):
    from parallel_mapreduce_wordcounting_spark.plans import explain_str

    df = staged_r42.sink_parquet_bloom(spark, SF_DIR)
    (a,) = df.collect()
    # the read-back point predicate must reach the parquet scan, where the
    # written bloom filter (and min/max stats) can actually skip row groups
    p = explain_str(df)
    assert "PushedFilters" in p and "l_suppkey" in p.split("PushedFilters", 1)[1][:200]
    # staging reuse: a second call reads the same completed _SUCCESS dir
    (b,) = staged_r42.sink_parquet_bloom(spark, SF_DIR).collect()
    assert tuple(a) == tuple(b)
    assert a.n_rows > 0 and a.sum_cents > 0


def test_anneal_mix_python_greedy_replay(spark, duck):
    rows = sorted(
        staged_r42.pipeline_anneal_mix(spark, SF_DIR).collect(),
        key=lambda r: r.rank,
    )
    stats = duck.execute(
        "SELECT source, sum(len(string_split(lower(text), ' '))) FROM documents GROUP BY source"
    ).fetchall()
    total = sum(t for _, t in stats)
    budget = math.floor(staged_r42._ANNEAL_FRAC * total)
    # rank order is (mean_quality desc, source); replay greedily
    cum_before = 0
    expect_in = {}
    for r in rows:  # rows already rank-sorted; cum arithmetic must agree
        expect_in[r.source] = cum_before < budget
        assert r.cum_tokens == cum_before + r.src_tokens
        cum_before = r.cum_tokens
    assert {r.source: r.in_anneal for r in rows} == expect_in
    # prefix property: the anneal set is a PREFIX of the rank order
    flags = [r.in_anneal for r in rows]
    assert flags == sorted(flags, reverse=True)
    assert any(flags) and not all(flags)  # non-vacuous split on the fixture
    assert total == sum(r.src_tokens for r in rows)
