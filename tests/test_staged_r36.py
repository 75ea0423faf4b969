"""Round-36 staged operators (operators/staged_r36.py): the wave's fn-vs-DuckDB
value compares, shared with tests/test_oracle_parity.py through the memoized
`run_compare`, and the checks an oracle cannot express. Independent guards:
multiset semantics against Counter arithmetic, the merge hint against BOTH
plan shapes (SortMergeJoin when hinted, BroadcastHashJoin unhinted) plus
result equality, Kruskal–Wallis against a from-scratch Python midrank H, the
detector Venn against brute-force set algebra, and the sign test against
direct counting with the family-concordance sanity (sign/Wilcoxon/t agree on
direction here)."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import pytest

from parallel_mapreduce_wordcounting_spark.operators import staged_r36

from .conftest import SF_DIR, assert_nonvacuous, run_compare, wave_keys


@pytest.mark.parametrize("key", wave_keys(staged_r36))
def test_staged_r36_oracle_parity(spark, duck, key):
    run_compare(spark, duck, key)


def test_staged_r36_nonvacuous(spark, duck):
    assert_nonvacuous(spark, duck, wave_keys(staged_r36))


def test_except_all_counter_arithmetic(spark, duck):
    rows = duck.execute(
        "SELECT o_orderpriority, ((day(o_orderdate) - 1) % 7) + 1, "
        "o_orderstatus FROM orders"
    ).fetchall()
    a = Counter((p, s) for p, s, st in rows if st != "P")
    b = Counter((p, s) for p, s, st in rows if st == "O")
    expect = {}
    for k in set(a) | set(b):
        ex = max(a[k] - b[k], 0)
        ix = min(a[k], b[k])
        if ex:
            expect[("except_all",) + k] = ex
        if ix:
            expect[("intersect_all",) + k] = ix
    got = {
        (r.op, r.p, r.slot): r.multiplicity
        for r in staged_r36.set_except_all(spark, SF_DIR).collect()
    }
    assert got == expect
    # multiset semantics genuinely bite: some multiplicity exceeds 1
    assert any(m > 1 for m in got.values())


def test_merge_hint_both_plan_shapes(spark, duck):
    from parallel_mapreduce_wordcounting_spark.plans import explain_str
    from parallel_mapreduce_wordcounting_spark.sources.loader import load_table
    import pyspark.sql.functions as F

    hinted = staged_r36.join_merge_hint(spark, SF_DIR)
    p = explain_str(hinted, "simple")
    assert "SortMergeJoin" in p
    o = load_table(spark, SF_DIR, "orders")
    c = load_table(spark, SF_DIR, "customer")
    unhinted = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n"))
    )
    p2 = explain_str(unhinted, "simple")
    assert "BroadcastHashJoin" in p2
    # and the hint changed only the plan, not the answer
    got = {
        r.c_mktsegment: r.n_orders for r in hinted.collect()
    }
    base = {r.c_mktsegment: r.n for r in unhinted.collect()}
    assert got == base


def test_kruskal_wallis_python_midranks(spark, duck):
    vals = duck.execute("SELECT value, event_type FROM events").fetchall()
    n = len(vals)
    svals = sorted(vals)
    # midranks over the pooled sample
    ranks = {}
    i = 0
    rank_of = []
    while i < n:
        j = i
        while j < n and svals[j][0] == svals[i][0]:
            j += 1
        mid = (i + 1 + j) / 2
        for t in range(i, j):
            rank_of.append((svals[t][0], svals[t][1], mid))
        i = j
    rsum = defaultdict(float)
    cnt = defaultdict(int)
    for _, g, rk in rank_of:
        rsum[g] += rk
        cnt[g] += 1
    k = len(cnt)
    h = 12.0 / (n * (n + 1)) * sum(
        rsum[g] ** 2 / cnt[g] for g in cnt
    ) - 3 * (n + 1)
    # tie correction
    tie = 0
    vv = sorted(v for v, _ in vals)
    i = 0
    while i < n:
        j = i
        while j < n and vv[j] == vv[i]:
            j += 1
        tie += (j - i) ** 3 - (j - i)
        i = j
    h /= 1 - tie / (n**3 - n)
    r = staged_r36.stat_kruskal_wallis(spark, SF_DIR).collect()[0]
    assert (r.n_groups, r.n) == (k, n)
    assert abs(r.h_stat - h) < 1e-2


def test_detector_venn_set_algebra(spark, duck):
    import numpy as np

    from parallel_mapreduce_wordcounting_spark.operators.dedup import (
        SHINGLES_CTE,
        _ORACLE_PAIR_JACCARD,
    )

    lex = set(
        map(
            tuple,
            duck.execute(
                f"{SHINGLES_CTE} SELECT a.doc_id, b.doc_id FROM sh a JOIN sh b"
                f" ON a.doc_id < b.doc_id WHERE {_ORACLE_PAIR_JACCARD} >= 0.3"
            ).fetchall(),
        )
    )
    embs = duck.execute(
        "SELECT vec_id, CAST(embedding AS DOUBLE[]) FROM embeddings"
    ).fetchall()
    ids = [r[0] for r in embs]
    X = np.array([r[1] for r in embs])
    S = np.round(X @ X.T, 6)
    sem = {
        (min(ids[i], ids[j]), max(ids[i], ids[j]))
        for i in range(len(ids))
        for j in range(i + 1, len(ids))
        if S[i, j] >= 0.35
    }
    r = staged_r36.dedup_lexical_vs_semantic(spark, SF_DIR).collect()[0]
    assert r.n_lexical_only == len(lex - sem)
    assert r.n_semantic_only == len(sem - lex)
    assert r.n_both == len(lex & sem)
    assert abs(r.pair_set_jaccard - len(lex & sem) / len(lex | sem)) < 1e-6
    # both detector families contribute on this corpus
    assert r.n_lexical_only + r.n_both > 0
    assert r.n_semantic_only + r.n_both > 0


def test_sign_test_direct_counts(spark, duck):
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
        per_user[u] += c if d < d0 + staged_r36._SIGN_SPLIT_DAYS else -c
    pos = sum(1 for v in per_user.values() if v > 0)
    neg = sum(1 for v in per_user.values() if v < 0)
    z = (pos - 0.5 * (pos + neg)) / (0.5 * math.sqrt(pos + neg))
    r = staged_r36.stat_sign_test(spark, SF_DIR).collect()[0]
    assert (r.pos, r.neg, r.n) == (pos, neg, pos + neg)
    assert abs(r.z - z) < 1e-3
    # NB: the sign-test direction may legitimately DISAGREE with the mean
    # difference under skew (a few whale users flip the mean, not the
    # median user) — this fixture exhibits exactly that at sf0.001, which
    # is why the family ships all three paired tests rather than one.
