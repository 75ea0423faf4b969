"""Round-27 staged operators (operators/staged_r27.py): the wave's fn-vs-DuckDB
value compares, shared with tests/test_oracle_parity.py through the memoized
`run_compare`, and the checks an oracle cannot express. Independent guards:
pivot↔unpivot structural round-trip properties (cell totals and long/wide
consistency), the RANGE frame against a brute-force per-customer Python
sweep (including a gap case the ROWS frame would get wrong), Shapley
efficiency (Σφ = v(N) − v(∅)) plus a from-scratch Python permutation-
average, and freshness against direct max-timestamp queries."""

from __future__ import annotations

import itertools
from collections import defaultdict

import pytest

from parallel_mapreduce_wordcounting_spark.operators import staged_r27

from .conftest import SF_DIR, assert_nonvacuous, run_compare, wave_keys


@pytest.mark.parametrize("key", wave_keys(staged_r27))
def test_staged_r27_oracle_parity(spark, duck, key):
    run_compare(spark, duck, key)


def test_staged_r27_nonvacuous(spark, duck):
    assert_nonvacuous(spark, duck, wave_keys(staged_r27))


def test_pivot_cells_sum_to_corpus(spark, duck):
    rows = staged_r27.sql_pivot(spark, SF_DIR).collect()
    total = sum(
        getattr(r, t) for r in rows for t in staged_r27._EVENT_TYPES
    )
    assert total == duck.execute("SELECT count(*) FROM events").fetchone()[0]
    # per-type column sums equal the type counts
    by_type = dict(
        duck.execute(
            "SELECT event_type, count(*) FROM events GROUP BY 1"
        ).fetchall()
    )
    for t in staged_r27._EVENT_TYPES:
        assert sum(getattr(r, t) for r in rows) == by_type.get(t, 0)


def test_unpivot_is_long_form_of_wide(spark, duck):
    long = staged_r27.sql_unpivot(spark, SF_DIR).collect()
    wide = {
        r[0]: r[1:]
        for r in duck.execute(
            "SELECT o_orderpriority, count(*), "
            "sum(CAST(sign(o_totalprice) * floor(abs(o_totalprice) * 100 "
            "+ 0.5) AS BIGINT)), count(DISTINCT o_custkey) "
            "FROM orders GROUP BY 1"
        ).fetchall()
    }
    got = defaultdict(dict)
    for r in long:
        got[r.o_orderpriority][r.metric] = r.value
    assert set(got) == set(wide)
    for prio, (n, rev, ncust) in wide.items():
        assert got[prio] == {
            "n_orders": float(n),
            "rev_cents": float(rev),
            "n_customers": float(ncust),
        }


def test_range_frame_python_sweep(spark, duck):
    data = duck.execute(
        "SELECT o_custkey, o_orderkey, "
        "date_diff('day', DATE '1970-01-01', o_orderdate), "
        "CAST(sign(o_totalprice) * floor(abs(o_totalprice) * 100 + 0.5) "
        "AS BIGINT) FROM orders"
    ).fetchall()
    per_cust = defaultdict(list)
    for ck, ok, day, cents in data:
        per_cust[ck].append((ok, day, cents))
    expect = {}
    for ck, orders in per_cust.items():
        for ok, day, _ in orders:
            near = [
                (o, c)
                for o, d, c in orders
                if abs(d - day) <= staged_r27._RANGE_DAYS
            ]
            expect[ok] = (len(near), sum(c for _, c in near))
    got = {
        r.o_orderkey: (r.n_near, r.near_cents)
        for r in staged_r27.win_range_frame_days(spark, SF_DIR).collect()
    }
    assert got == expect
    # the RANGE semantics bite: some order's frame must EXCLUDE a
    # same-customer order that a whole-partition ROWS frame would include
    assert any(
        got[ok][0] < len(per_cust[ck])
        for ck, orders in per_cust.items()
        if len(orders) > 1
        for ok, _, _ in orders
    )


def _coalition_rates(duck):
    cells = duck.execute(
        "WITH u AS (SELECT user_id, "
        "CAST(((epoch_ns(ts) // 1000) - ((((epoch_ns(ts) // 1000)"
        " % 86400000000) + 86400000000) % 86400000000)) // 86400000000 "
        "AS BIGINT) AS day, "
        "max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c1, "
        "max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS c2, "
        "max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS c3, "
        "max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y "
        "FROM events GROUP BY 1, 2) "
        "SELECT c1, c2, c3, count(*), sum(y) FROM u GROUP BY 1, 2, 3"
    ).fetchall()
    v = defaultdict(float)
    n_total = 0
    for c1, c2, c3, n, cv in cells:
        v[(c1, c2, c3)] = cv / n
        n_total += n
    return v, n_total


def test_shapley_permutation_average(spark, duck):
    """Recompute each φ as the average over all 3! channel orderings of
    the marginal contribution — the DEFINITION of the Shapley value —
    and check efficiency: Σφ = v(111) − v(000)."""
    v, n_total = _coalition_rates(duck)
    phis = [0.0, 0.0, 0.0]
    perms = list(itertools.permutations(range(3)))
    for perm in perms:
        have = [0, 0, 0]
        for ch in perm:
            before = v[tuple(have)]
            have[ch] = 1
            after = v[tuple(have)]
            phis[ch] += (after - before) / len(perms)
    r = staged_r27.event_attribution_shapley(spark, SF_DIR).collect()[0]
    assert r.n_journeys == n_total
    got = [r.shapley_click, r.shapley_view, r.shapley_signup]
    for g, e in zip(got, phis):
        assert abs(g - e) < 1e-5
    # efficiency axiom
    assert abs(sum(got) - (v[(1, 1, 1)] - v[(0, 0, 0)])) < 1e-5
    assert abs(r.base_rate - v[(0, 0, 0)]) < 1e-6
    assert abs(r.full_rate - v[(1, 1, 1)]) < 1e-6


def test_freshness_direct_max(spark, duck):
    per_type = dict(
        duck.execute(
            "SELECT event_type, CAST(max(epoch_ns(ts) // 1000) AS BIGINT) "
            "FROM events GROUP BY 1"
        ).fetchall()
    )
    wm = max(per_type.values())
    rows = {r.event_type: r for r in staged_r27.dq_freshness(spark, SF_DIR).collect()}
    assert set(rows) == set(per_type)
    for t, last in per_type.items():
        r = rows[t]
        assert (r.last_us, r.lag_us) == (last, wm - last)
        assert r.stale == (wm - last > staged_r27._STALE_US)
    # the freshest stream has zero lag by definition
    assert min(r.lag_us for r in rows.values()) == 0
