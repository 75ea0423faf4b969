"""Round-28 staged operators (operators/staged_r28.py): the wave's fn-vs-DuckDB
value compares, shared with tests/test_oracle_parity.py through the memoized
`run_compare`, and the checks an oracle cannot express. Independent guards:
modularity against a from-scratch Python Q over the brute-force edge set +
LPA replay, Wilcoxon against a plain sorted-midranks recomputation, mode
against dict counting, the co-purchase projection against per-order pair
enumeration, and lifecycle counts against a sequential per-user replay plus
the two growth-accounting reconciliation identities."""

from __future__ import annotations

from collections import defaultdict

import pytest

from parallel_mapreduce_wordcounting_spark.operators import staged_r28

from .conftest import SF_DIR, assert_nonvacuous, run_compare, wave_keys


@pytest.mark.parametrize("key", wave_keys(staged_r28))
def test_staged_r28_oracle_parity(spark, duck, key):
    run_compare(spark, duck, key)


def test_staged_r28_nonvacuous(spark, duck):
    assert_nonvacuous(spark, duck, wave_keys(staged_r28))


def _lpa_python(duck):
    from parallel_mapreduce_wordcounting_spark.operators.dedup import (
        SHINGLES_CTE,
        _ORACLE_PAIR_JACCARD,
    )
    from parallel_mapreduce_wordcounting_spark.operators.staged_r25 import (
        _LPA_ROUNDS,
    )

    pairs = duck.execute(
        f"{SHINGLES_CTE} SELECT a.doc_id, b.doc_id FROM sh a JOIN sh b "
        f"ON a.doc_id < b.doc_id WHERE {_ORACLE_PAIR_JACCARD} >= 0.3"
    ).fetchall()
    docs = [r[0] for r in duck.execute("SELECT doc_id FROM documents").fetchall()]
    adj = defaultdict(list)
    for u, v in pairs:
        adj[u].append(v)
        adj[v].append(u)
    lab = {d: d for d in docs}
    for _ in range(_LPA_ROUNDS):
        nxt = dict(lab)
        for node in docs:
            if adj[node]:
                votes = defaultdict(int)
                for nb in adj[node]:
                    votes[lab[nb]] += 1
                nxt[node] = min(votes, key=lambda l: (-votes[l], l))  # noqa: B023
        lab = nxt
    return pairs, adj, lab


def test_modularity_python_q(spark, duck):
    pairs, adj, lab = _lpa_python(duck)
    m = len(pairs)
    ec = defaultdict(int)
    dc = defaultdict(int)
    for u, v in pairs:
        if lab[u] == lab[v]:
            ec[lab[u]] += 1
    for node, nbs in adj.items():
        dc[lab[node]] += len(nbs)
    q = sum(
        ec.get(c, 0) / m - (d / (2 * m)) ** 2 for c, d in dc.items() if d > 0
    )
    r = staged_r28.graph_modularity(spark, SF_DIR).collect()[0]
    assert r.m == m
    assert r.n_communities == sum(1 for d in dc.values() if d > 0)
    assert abs(r.q_modularity - q) < 1e-6
    # sanity: Q is bounded and the partition beats a single blob of noise
    assert -0.5 <= r.q_modularity <= 1.0
    assert r.q_modularity > 0  # LPA found real duplicate families


def test_wilcoxon_sorted_midranks(spark, duck):
    days = duck.execute(
        "SELECT user_id, CAST(((epoch_ns(ts) // 1000) - ((((epoch_ns(ts) "
        "// 1000) % 86400000000) + 86400000000) % 86400000000)) "
        "// 86400000000 AS BIGINT), "
        "CAST(sign(value) * floor(abs(value) * 100 + 0.5) AS BIGINT) "
        "FROM events WHERE event_type = 'purchase'"
    ).fetchall()
    d0 = min(d for _, d, _ in days)
    per_user = defaultdict(int)
    for u, d, c in days:
        per_user[u] += c if d < d0 + staged_r28._WILCOXON_SPLIT_DAYS else -c
    ds = [v for v in per_user.values() if v != 0]
    n = len(ds)
    ranked = sorted((abs(v), v > 0) for v in ds)
    # midranks with ties
    w_plus = 0.0
    i = 0
    while i < n:
        j = i
        while j < n and ranked[j][0] == ranked[i][0]:
            j += 1
        mid = (i + 1 + j) / 2  # average of ranks i+1..j
        w_plus += mid * sum(1 for k in range(i, j) if ranked[k][1])
        i = j
    ties = 0
    i = 0
    while i < n:
        j = i
        while j < n and ranked[j][0] == ranked[i][0]:
            j += 1
        ties += (j - i) ** 3 - (j - i)
        i = j
    import math

    var = n * (n + 1) * (2 * n + 1) / 24 - ties / 48
    z = (w_plus - n * (n + 1) / 4) / math.sqrt(var)
    r = staged_r28.stat_wilcoxon(spark, SF_DIR).collect()[0]
    assert r.n == n
    assert abs(r.w_plus - w_plus) < 1e-6
    assert abs(r.z - z) < 1e-3


def test_mode_dict_counting(spark, duck):
    rows = {r.o_orderstatus: r for r in staged_r28.agg_mode_share(spark, SF_DIR).collect()}
    data = duck.execute(
        "SELECT o_orderstatus, o_orderpriority FROM orders"
    ).fetchall()
    per = defaultdict(lambda: defaultdict(int))
    for st, pr in data:
        per[st][pr] += 1
    assert set(rows) == set(per)
    for st, counts in per.items():
        mode = min(counts, key=lambda p: (-counts[p], p))
        r = rows[st]
        assert (r.mode_priority, r.mode_count) == (mode, counts[mode])
        assert r.n_rows == sum(counts.values())
        assert abs(r.mode_share - counts[mode] / r.n_rows) < 1e-6


def test_copurchase_pair_enumeration(spark, duck):
    li = duck.execute("SELECT l_orderkey, l_partkey FROM lineitem").fetchall()
    # the op counts LINE pairs (a part repeated on two lines of one order
    # pairs with each) — replicate exactly that rule
    counts = defaultdict(int)
    per_order_lines = defaultdict(list)
    for ok, pk in li:
        per_order_lines[ok].append(pk)
    for parts in per_order_lines.values():
        for i in range(len(parts)):
            for j in range(len(parts)):
                a, b = parts[i], parts[j]
                if a < b:
                    counts[(a, b)] += 1
    top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[
        : staged_r28._COPURCHASE_TOPK
    ]
    got = [
        ((r.part_a, r.part_b), r.n_orders)
        for r in staged_r28.graph_copurchase(spark, SF_DIR).collect()
    ]
    assert got == top


def test_lifecycle_sequential_replay(spark, duck):
    data = duck.execute(
        "SELECT DISTINCT user_id, CAST(((epoch_ns(ts) // 1000) - "
        "((((epoch_ns(ts) // 1000) % 86400000000) + 86400000000) "
        "% 86400000000)) // 86400000000 AS BIGINT) FROM events"
    ).fetchall()
    per_user = defaultdict(list)
    for u, d in data:
        per_user[u].append(d)
    dmax = max(d for _, d in data)
    agg = defaultdict(lambda: [0, 0, 0, 0])  # new, ret, res, churn
    for u, ds in per_user.items():
        ds = sorted(ds)
        for i, d in enumerate(ds):
            if i == 0:
                agg[d][0] += 1
            elif ds[i - 1] == d - 1:
                agg[d][1] += 1
            else:
                agg[d][2] += 1
            nxt = ds[i + 1] if i + 1 < len(ds) else None
            if (nxt is None or nxt > d + 1) and d + 1 <= dmax:
                agg[d + 1][3] += 1
    rows = {
        r.day: (r.n_new, r.n_retained, r.n_resurrected, r.n_churned)
        for r in staged_r28.event_user_lifecycle(spark, SF_DIR).collect()
    }
    assert rows == {d: tuple(v) for d, v in agg.items()}
    # reconciliation identities: active(d) = new+ret+res and
    # active(d) - retained(d+1) = churned(d+1) inside the horizon
    active = defaultdict(int)
    for u, ds in per_user.items():
        for d in ds:
            active[d] += 1
    for d, (nn, nr, ns2, _) in rows.items():
        if nn + nr + ns2 > 0:
            assert active[d] == nn + nr + ns2
    for d in sorted(active):
        if d + 1 <= dmax:
            ret_next = rows.get(d + 1, (0, 0, 0, 0))[1]
            churn_next = rows.get(d + 1, (0, 0, 0, 0))[3]
            assert active[d] == ret_next + churn_next
