"""Round-37 staged operators (operators/staged_r37.py): the wave's fn-vs-DuckDB
value compares, shared with tests/test_oracle_parity.py through the memoized
`run_compare`, and the checks an oracle cannot express. Independent guards:
the AS-OF snapshot against a sequential log walk truncated at V (plus
consistency with the full scan_txn_log head), join cardinality against dict
counting (with the inner-join row-count prediction identity), partial
correlation against numpy.corrcoef algebra, ABC against a sorted cumulative
walk (plus the Pareto-shape sanity A_share ≥ 0.8·…), and Shannon against
math.log."""

from __future__ import annotations

import math
from collections import defaultdict

import pytest

from parallel_mapreduce_wordcounting_spark.operators import staged_r37

from .conftest import SF_DIR, assert_nonvacuous, run_compare, wave_keys


@pytest.mark.parametrize("key", wave_keys(staged_r37))
def test_staged_r37_oracle_parity(spark, duck, key):
    run_compare(spark, duck, key)


def test_staged_r37_nonvacuous(spark, duck):
    assert_nonvacuous(spark, duck, wave_keys(staged_r37))


def test_asof_sequential_truncated_walk(spark, duck):
    k = min(
        staged_r37._ASOF_MAX_VERSIONS,
        duck.execute("SELECT count(*) FROM orders").fetchone()[0],
    )
    vmax = k // 2
    live = {}
    for i in range(k):
        if i > vmax:
            break
        if i % 3 == 2:
            live.pop(f"f{i - 2}", None)
        else:
            live[f"f{i}"] = ((i * 37) % 100 + 1, i)
    rows = {
        r.file_id: r for r in staged_r37.scan_txn_log_asof(spark, SF_DIR).collect()
    }
    assert {int(f[1:]): (r[0], r[1]) for f, r in live.items()} == {
        fid: (r.n_rows, r.added_v) for fid, r in rows.items()
    }
    assert all(r.as_of_version == vmax for r in rows.values())
    # time travel is not the head: some file live AT vmax was later removed
    head = set()
    cur = {}
    for i in range(k):
        if i % 3 == 2:
            cur.pop(f"f{i - 2}", None)
        else:
            cur[f"f{i}"] = i
    head = {int(f[1:]) for f in cur}
    assert set(rows) != head


def test_join_cardinality_dict_counts(spark, duck):
    orders = [r[0] for r in duck.execute("SELECT o_orderkey FROM orders").fetchall()]
    lines = [r[0] for r in duck.execute("SELECT l_orderkey FROM lineitem").fetchall()]
    per = defaultdict(int)
    for ok in lines:
        per[ok] += 1
    fans = defaultdict(int)
    for ok in orders:
        fans[per.get(ok, 0)] += 1
    rows = {r.fan: r for r in staged_r37.dq_join_cardinality(spark, SF_DIR).collect()}
    assert {f: r.n_orders for f, r in rows.items()} == dict(fans)
    # the census PREDICTS the inner join size exactly
    total = next(iter(rows.values())).total_matches
    assert total == len(lines)  # every line matches exactly one order here
    assert 0 in rows  # zero-match orders exist and are visible


def test_partial_corr_numpy(spark, duck):
    import numpy as np

    data = duck.execute(
        "SELECT CAST(l_quantity AS BIGINT), "
        "CAST(sign(l_extendedprice) * floor(abs(l_extendedprice) * 100 "
        "+ 0.5) AS BIGINT), "
        "CAST(sign(l_tax) * floor(abs(l_tax) * 100 + 0.5) AS BIGINT) "
        "FROM lineitem"
    ).fetchall()
    X = np.array(data, dtype=np.float64).T
    C = np.corrcoef(X)
    rxy, rxz, ryz = C[0, 1], C[0, 2], C[1, 2]
    partial = (rxy - rxz * ryz) / math.sqrt((1 - rxz**2) * (1 - ryz**2))
    r = staged_r37.stat_partial_corr(spark, SF_DIR).collect()[0]
    assert r.n == len(data)
    assert abs(r.r_xy - rxy) < 1e-6
    assert abs(r.r_xy_given_z - partial) < 1e-6
    assert -1.0 - 1e-9 <= r.r_xy_given_z <= 1.0 + 1e-9


def test_abc_sorted_cumulative_walk(spark, duck):
    pr = duck.execute(
        "SELECT l_partkey, CAST(sum(CAST(sign(l_extendedprice) * "
        "floor(abs(l_extendedprice) * 100 + 0.5) AS BIGINT)) AS BIGINT) "
        "FROM lineitem GROUP BY 1"
    ).fetchall()
    total = sum(r for _, r in pr)
    cum = 0
    agg = defaultdict(lambda: [0, 0])
    for pk, rev in sorted(pr, key=lambda t: (-t[1], t[0])):
        if 100 * cum < 80 * total:
            cls = "A"
        elif 100 * cum < 95 * total:
            cls = "B"
        else:
            cls = "C"
        agg[cls][0] += 1
        agg[cls][1] += rev
        cum += rev
    rows = {r.abc_class: r for r in staged_r37.agg_abc_analysis(spark, SF_DIR).collect()}
    assert set(rows) == set(agg)
    for cls, (n, rev) in agg.items():
        r = rows[cls]
        assert (r.n_parts, r.revenue_cents) == (n, rev)
        assert abs(r.revenue_share - rev / total) < 1e-6
    # Pareto shape: A holds >= ~80% of revenue with a minority of parts
    if "A" in rows and "C" in rows:
        assert rows["A"].revenue_share >= 0.79
        assert rows["A"].n_parts < sum(r.n_parts for r in rows.values())


def test_shannon_math_log(spark, duck):
    counts = [
        r[0]
        for r in duck.execute(
            "SELECT count(*) FROM documents GROUP BY source"
        ).fetchall()
    ]
    n = sum(counts)
    h = -sum((c / n) * math.log(c / n) for c in counts)
    r = staged_r37.text_source_shannon(spark, SF_DIR).collect()[0]
    assert (r.n_sources, r.n_docs) == (len(counts), n)
    assert abs(r.shannon_h - h) < 1e-3
    assert abs(r.effective_sources - math.exp(h)) < 1e-2
    # bounds: 1 <= exp(H) <= n_sources
    assert 1.0 - 1e-9 <= r.effective_sources <= len(counts) + 1e-6
