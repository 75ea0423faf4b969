"""Round-35 staged operators (operators/staged_r35.py): the wave's fn-vs-DuckDB
value compares, shared with tests/test_oracle_parity.py through the memoized
`run_compare`, and the checks an oracle cannot express. Independent guards:
Levene against a from-scratch Python Brown–Forsythe, key uniqueness against
set() counting, the first/last footgun columns against a sequential per-user
scan, coreness against a full Python peeling (with the k ≤ K_MAX bound
asserted — the oracle's unroll budget), and the weighted median against a
sorted cumulative-weight walk plus its defining left/right mass property."""

from __future__ import annotations

import math
from collections import defaultdict

import pytest

from parallel_mapreduce_wordcounting_spark.operators import staged_r35

from .conftest import SF_DIR, assert_nonvacuous, run_compare, wave_keys


@pytest.mark.parametrize("key", wave_keys(staged_r35))
def test_staged_r35_oracle_parity(spark, duck, key):
    run_compare(spark, duck, key)


def test_staged_r35_nonvacuous(spark, duck):
    assert_nonvacuous(spark, duck, wave_keys(staged_r35))


def test_levene_python_brown_forsythe(spark, duck):
    vals = duck.execute("SELECT event_type, value FROM events").fetchall()
    groups = defaultdict(list)
    for g, x in vals:
        groups[g].append(x)

    def median(xs):
        xs = sorted(xs)
        n = len(xs)
        return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2

    zs = {
        g: [abs(x - median(xs)) for x in xs] for g, xs in groups.items()
    }
    k = len(zs)
    nn = sum(len(v) for v in zs.values())
    grand = sum(sum(v) for v in zs.values()) / nn
    ssb = sum(len(v) * (sum(v) / len(v) - grand) ** 2 for v in zs.values())
    ssw = sum(
        sum((x - sum(v) / len(v)) ** 2 for x in v) for v in zs.values()
    )
    f = (ssb / (k - 1)) / (ssw / (nn - k))
    r = staged_r35.stat_levene(spark, SF_DIR).collect()[0]
    assert (r.n_groups, r.n) == (k, nn)
    assert abs(r.f_stat - f) < 1e-3


def test_key_uniqueness_set_counting(spark, duck):
    rows = {
        r.candidate_key: r
        for r in staged_r35.dq_key_uniqueness(spark, SF_DIR).collect()
    }
    ok_rows = duck.execute("SELECT o_orderkey FROM orders").fetchall()
    li_rows = duck.execute(
        "SELECT l_orderkey, l_linenumber FROM lineitem"
    ).fetchall()
    ev_rows = duck.execute("SELECT user_id FROM events").fetchall()
    cases = {
        "orders.o_orderkey": (len(ok_rows), len(set(ok_rows))),
        "lineitem.(l_orderkey,l_linenumber)": (len(li_rows), len(set(li_rows))),
        "lineitem.l_orderkey": (
            len(li_rows),
            len({r[0] for r in li_rows}),
        ),
        "events.user_id": (len(ev_rows), len(set(ev_rows))),
    }
    for key, (n, d) in cases.items():
        r = rows[key]
        assert (r.n_rows, r.n_distinct, r.is_unique) == (n, d, n == d)
    # the census distinguishes: at least one candidate passes, one fails
    assert any(r.is_unique for r in rows.values())
    assert any(not r.is_unique for r in rows.values())


def test_first_last_sequential_scan(spark, duck):
    evs = duck.execute(
        "SELECT user_id, CAST(epoch_ns(ts) // 1000 AS BIGINT), event_id, "
        "event_type FROM events"
    ).fetchall()
    per = defaultdict(list)
    for u, us, eid, et in evs:
        per[u].append((us, eid, et))
    rows = {r.user_id: r for r in staged_r35.win_first_last_event(spark, SF_DIR).collect()}
    assert set(rows) == set(per)
    for u, lst in per.items():
        lst.sort()
        r = rows[u]
        assert r.first_type == lst[0][2]
        assert r.last_type == lst[-1][2]
        assert r.n_events == len(lst)
        # the footgun column: default frame's last_value == current row
        assert r.default_frame_returns_self


def test_coreness_python_peeling(spark, duck):
    from parallel_mapreduce_wordcounting_spark.operators.dedup import (
        SHINGLES_CTE,
        _ORACLE_PAIR_JACCARD,
    )

    pairs = duck.execute(
        f"{SHINGLES_CTE} SELECT a.doc_id, b.doc_id FROM sh a JOIN sh b "
        f"ON a.doc_id < b.doc_id WHERE {_ORACLE_PAIR_JACCARD} >= 0.3"
    ).fetchall()
    adj = defaultdict(set)
    for u, v in pairs:
        adj[u].add(v)
        adj[v].add(u)
    work = {n: set(nb) for n, nb in adj.items()}
    core = {}
    k = 1
    while work:
        changed = True
        while changed:
            changed = False
            for n in list(work):
                if len(work[n]) < k:
                    core[n] = k - 1
                    for m in work[n]:
                        work[m].discard(n)
                    del work[n]
                    changed = True
        k += 1
        assert k <= 30
    expect = {n: c for n, c in core.items() if c >= 1}
    got = {
        r.doc_id: r.coreness
        for r in staged_r35.graph_coreness(spark, SF_DIR).collect()
    }
    assert got == expect
    # the oracle's unroll budget holds: K_MAX bounds true coreness here
    assert max(expect.values()) <= staged_r35._CORENESS_KMAX
    # stratification is non-trivial: more than one coreness level exists
    assert len(set(expect.values())) > 1


def test_weighted_median_cumulative_walk(spark, duck):
    rows = duck.execute(
        "SELECT CAST(sign(l_extendedprice) * floor(abs(l_extendedprice) "
        "* 100 + 0.5) AS BIGINT), CAST(l_quantity AS BIGINT) FROM lineitem"
    ).fetchall()
    agg = defaultdict(int)
    for v, w in rows:
        agg[v] += w
    total = sum(agg.values())
    cum = 0
    wm = None
    for v in sorted(agg):
        if 2 * cum < total <= 2 * (cum + agg[v]):
            wm = v
            break
        cum += agg[v]
    r = staged_r35.agg_weighted_median(spark, SF_DIR).collect()[0]
    assert r.total_weight == total
    assert r.weighted_median == round(wm / 100.0, 2)
    # defining property: mass strictly below < T/2 and mass above <= T/2
    below = sum(w for v, w in agg.items() if v < wm)
    above = sum(w for v, w in agg.items() if v > wm)
    assert 2 * below < total and 2 * above <= total
    wmean = sum(v * w for v, w in agg.items()) / total
    assert abs(r.weighted_mean - wmean / 100.0) < 1e-4
