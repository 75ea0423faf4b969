"""Round-30 staged operators (operators/staged_r30.py): the wave's fn-vs-DuckDB
value compares, shared with tests/test_oracle_parity.py through the memoized
`run_compare`, and the checks an oracle cannot express. Independent guards:
the median CI against plain sorted order statistics (plus the coverage-
direction sanity ci_lo ≤ median ≤ ci_hi), the compaction plan against a
sequential Python fill (plus the no-bin-overflow-beyond-one-file property),
incremental stats against recomputing from raw rows, the reconciliation
census against per-order Python dict math, and argmax against sorted
tiebreak selection."""

from __future__ import annotations

import math
from collections import defaultdict

import pytest

from parallel_mapreduce_wordcounting_spark.operators import staged_r30

from .conftest import SF_DIR, assert_nonvacuous, run_compare, wave_keys


@pytest.mark.parametrize("key", wave_keys(staged_r30))
def test_staged_r30_oracle_parity(spark, duck, key):
    run_compare(spark, duck, key)


def test_staged_r30_nonvacuous(spark, duck):
    assert_nonvacuous(spark, duck, wave_keys(staged_r30))


def test_median_ci_sorted_order_stats(spark, duck):
    cents = sorted(
        r[0]
        for r in duck.execute(
            "SELECT CAST(sign(o_totalprice) * floor(abs(o_totalprice) * 100 "
            "+ 0.5) AS BIGINT) FROM orders"
        ).fetchall()
    )
    n = len(cents)
    z = staged_r30._Z975
    lo_r = max(int(math.floor((n - z * math.sqrt(n)) / 2)), 1)
    hi_r = min(int(math.ceil(1 + (n + z * math.sqrt(n)) / 2)), n)
    med = (cents[(n + 1) // 2 - 1] + cents[n // 2]) / 200.0
    r = staged_r30.stat_median_ci(spark, SF_DIR).collect()[0]
    assert r.n == n
    assert abs(r.median - med) < 1e-4
    assert r.ci_lo == round(cents[lo_r - 1] / 100.0, 2)
    assert r.ci_hi == round(cents[hi_r - 1] / 100.0, 2)
    assert r.ci_lo <= r.median <= r.ci_hi


def test_compaction_sequential_fill(spark, duck):
    rows = sorted(
        (
            (r.file_id, r.size_mb, r.bin)
            for r in staged_r30.layout_compaction_plan(spark, SF_DIR).collect()
        ),
        key=lambda t: (-t[1], t[0]),
    )
    cum = 0
    for fid, size, bin_ in rows:
        # full sequential replay: each file's bin is its start offset
        # divided by the target, in (size DESC, id) order
        assert bin_ == cum // staged_r30._COMPACT_TARGET_MB
        cum += size
    # bins are contiguous from 0 and there is more than one (the manifest
    # genuinely exceeds one target bin)
    bins = sorted({b for _, _, b in rows})
    assert bins == list(range(len(bins))) and len(bins) > 1


def test_incremental_equals_direct(spark, duck):
    direct = {
        r[0]: r[1:]
        for r in duck.execute(
            "SELECT o_orderpriority, count(*), "
            "sum(CAST(sign(o_totalprice) * floor(abs(o_totalprice) * 100 "
            "+ 0.5) AS BIGINT)), "
            "min(CAST(sign(o_totalprice) * floor(abs(o_totalprice) * 100 "
            "+ 0.5) AS BIGINT)), "
            "max(CAST(sign(o_totalprice) * floor(abs(o_totalprice) * 100 "
            "+ 0.5) AS BIGINT)) FROM orders GROUP BY 1"
        ).fetchall()
    }
    got = {
        r.o_orderpriority: (r.n, r.sum_cents, r.min_cents, r.max_cents)
        for r in staged_r30.warehouse_incremental_stats(spark, SF_DIR).collect()
    }
    assert got == direct


def test_reconciliation_python_dict(spark, duck):
    lines = duck.execute(
        "SELECT l_orderkey, l_extendedprice, l_discount, l_tax FROM lineitem"
    ).fetchall()
    per_order = defaultdict(int)
    for ok, ep, disc, tax in lines:
        x = ep * (1 - disc) * (1 + tax)
        per_order[ok] += int(math.copysign(math.floor(abs(x) * 100 + 0.5), x))
    orders = duck.execute(
        "SELECT o_orderkey, CAST(sign(o_totalprice) * floor(abs(o_totalprice)"
        " * 100 + 0.5) AS BIGINT) FROM orders"
    ).fetchall()
    n_no = n_match = n_mis = tot = 0
    mx = None
    for ok, hdr in orders:
        if ok not in per_order:
            n_no += 1
            continue
        d = abs(hdr - per_order[ok])
        tot += d
        mx = d if mx is None else max(mx, d)
        if d == 0:
            n_match += 1
        else:
            n_mis += 1
    r = staged_r30.dq_reconciliation(spark, SF_DIR).collect()[0]
    assert (
        r.n_orders,
        r.n_no_lines,
        r.n_match,
        r.n_mismatch,
        r.total_abs_delta_cents,
        r.max_abs_delta_cents,
    ) == (len(orders), n_no, n_match, n_mis, tot, mx)
    # this fixture genuinely violates the TPC-H identity: surface it
    assert r.n_mismatch > 0 and r.n_no_lines > 0


def test_argmax_sorted_tiebreak(spark, duck):
    data = duck.execute(
        "SELECT o_orderpriority, o_orderkey, CAST(sign(o_totalprice) "
        "* floor(abs(o_totalprice) * 100 + 0.5) AS BIGINT) FROM orders"
    ).fetchall()
    per = defaultdict(list)
    for pr, ok, c in data:
        per[pr].append((c, ok))
    rows = {r.o_orderpriority: r for r in staged_r30.agg_argmax(spark, SF_DIR).collect()}
    assert set(rows) == set(per)
    for pr, lst in per.items():
        mx = max(lst)
        mn = min(lst)
        r = rows[pr]
        assert (r.max_cents, r.argmax_order) == mx
        assert (r.min_cents, r.argmin_order) == mn
        assert r.n == len(lst)
