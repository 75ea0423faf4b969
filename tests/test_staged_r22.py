"""Round-22 staged operators (operators/staged_r22.py): the wave's fn-vs-DuckDB
value compares, shared with tests/test_oracle_parity.py through the memoized
`run_compare`, and the checks an oracle cannot express. Independent guards:
a plain-Python peel replica plus a fixpoint-inside-the-unroll proof for the
k-core, a full Python greedy replay for k-center, a Python Holt walk, the
numpy EM trajectory with the monotone-likelihood property, and boundary
accounting for the active-learning top-100 cut."""

from __future__ import annotations

import math
from collections import defaultdict

import pytest

from parallel_mapreduce_wordcounting_spark.operators import staged_r22

from .conftest import SF_DIR, assert_nonvacuous, run_compare, wave_keys


@pytest.mark.parametrize("key", wave_keys(staged_r22))
def test_staged_r22_oracle_parity(spark, duck, key):
    run_compare(spark, duck, key)


def test_staged_r22_nonvacuous(spark, duck):
    assert_nonvacuous(spark, duck, wave_keys(staged_r22))


def _exact_pairs(duck):
    import parallel_mapreduce_wordcounting_spark as engine

    return [
        (r[0], r[1])
        for r in duck.execute(
            "SELECT doc_id_a, doc_id_b FROM "
            f"({engine.REGISTRY['dedup_ngram_jaccard'].oracle})"
        ).fetchall()
    ]


def test_kcore_python_peel_and_fixpoint(spark, duck):
    """Peel in plain Python to the true fixpoint; also prove the oracle's
    unroll CONTAINS the fixpoint (rounds-1 == rounds)."""
    adj = defaultdict(set)
    for u, v in _exact_pairs(duck):
        adj[u].add(v)
        adj[v].add(u)
    changed = True
    while changed:
        drop = [v for v, nb in adj.items() if len(nb) < staged_r22._KCORE_K]
        changed = bool(drop)
        for v in drop:
            for w in adj[v]:
                adj[w].discard(v)
            del adj[v]
    expect = {v: len(nb) for v, nb in adj.items() if nb}
    got = {
        r.doc_id: r.core_deg
        for r in staged_r22.graph_kcore(spark, SF_DIR).collect()
    }
    assert got == expect
    # fixpoint landed inside the oracle's unroll: one fewer round is equal
    import re

    shorter = staged_r22.GRAPH_KCORE_ORACLE.replace(
        f"FROM e{staged_r22._KCORE_ROUNDS} GROUP BY u",
        f"FROM e{staged_r22._KCORE_ROUNDS - 1} GROUP BY u",
    )
    assert sorted(duck.execute(shorter).fetchall()) == sorted(
        duck.execute(staged_r22.GRAPH_KCORE_ORACLE).fetchall()
    )
    assert re.search(r"AS MATERIALIZED", staged_r22.GRAPH_KCORE_ORACLE)


def test_kcenter_python_greedy_replica(spark, duck):
    """Replay the greedy selection with plain-Python float arithmetic
    (same IEEE sequence: in-order dot, round-6, min, argmax)."""
    vecs = {
        r[0]: [float(x) for x in r[1]]
        for r in duck.execute(
            "SELECT vec_id, CAST(embedding AS DOUBLE[]) FROM embeddings"
        ).fetchall()
    }

    def r6(v: float) -> float:
        return math.copysign(math.floor(abs(v) * 1e6 + 0.5), v) / 1e6

    def cdist(a, b):
        s = 0.0
        for x, y in zip(a, b):
            s = s + x * y
        return r6(1.0 - s)

    chosen = [min(vecs)]
    sel = [(1, chosen[0], None)]
    md = {v: cdist(vecs[v], vecs[chosen[0]]) for v in vecs}
    for rank in range(2, staged_r22._KCENTER_K + 1):
        best_md = max(md.values())
        # argmax with tie-break to the smallest vec_id
        w = min(v for v in vecs if md[v] == best_md)
        sel.append((rank, w, md[w]))
        for v in vecs:
            md[v] = min(md[v], cdist(vecs[v], vecs[w]))
    got = [
        (r.rank, r.vec_id, r.sel_dist)
        for r in sorted(
            staged_r22.sample_kcenter(spark, SF_DIR).collect(),
            key=lambda r: r.rank,
        )
    ]
    assert got == sel
    # coverage radius is non-increasing
    radii = [d for _, _, d in sel[1:]]
    assert all(a >= b for a, b in zip(radii, radii[1:]))


def test_holt_python_walk(spark, duck):
    rows = duck.execute(
        "SELECT event_type, CAST(epoch_ns(ts) // 86400000000000 AS BIGINT), "
        "count(*) FROM events GROUP BY 1, 2 ORDER BY 1, 2"
    ).fetchall()
    series = defaultdict(list)
    for t, _, c in rows:
        series[t].append(c)
    a, b_ = staged_r22._HOLT_ALPHA, staged_r22._HOLT_BETA
    got = {
        r.event_type: r for r in staged_r22.event_holt(spark, SF_DIR).collect()
    }
    for t, xs in series.items():
        if len(xs) < 2:
            assert t not in got
            continue
        l, b = float(xs[0]), xs[1] - float(xs[0])
        err = 0.0
        for x in xs[1:]:
            err += abs(x - (l + b))
            l_new = a * x + (1.0 - a) * (l + b)
            b = b_ * (l_new - l) + (1.0 - b_) * b
            l = l_new
        r = got[t]
        assert r.n_days == len(xs)
        assert abs(r.smooth_level - l) < 1e-6
        assert abs(r.smooth_trend - b) < 1e-6
        assert abs(r.forecast_7d - (l + staged_r22._HOLT_H * b)) < 1e-5
        assert abs(r.mae - err / (len(xs) - 1)) < 1e-6
        assert r.mae >= 0.0


def test_mixture_em_numpy_trajectory(spark, duck):
    import numpy as np

    x = np.array(
        [
            float(r[0])
            for r in duck.execute(
                "SELECT l_extendedprice / 10000.0 FROM lineitem"
            ).fetchall()
        ]
    )
    q = staged_r22._p6_py
    fl = staged_r22._EM_VAR_FLOOR
    pi, n = 0.5, len(x)
    mu1 = x.min() + (x.max() - x.min()) * 0.25
    mu2 = x.min() + (x.max() - x.min()) * 0.75
    v1 = v2 = max(((x.max() - x.min()) * 0.25) ** 2, fl)

    def dens(pi_, m1, m2, s1, s2):
        p1 = pi_ * np.exp(-((x - m1) ** 2) / (2.0 * s1)) / math.sqrt(s1)
        p2 = (1.0 - pi_) * np.exp(-((x - m2) ** 2) / (2.0 * s2)) / math.sqrt(s2)
        return p1, p2

    ll0 = float(np.mean(np.log(sum(dens(pi, mu1, mu2, v1, v2))))) - 0.5 * math.log(
        2.0 * math.pi
    )
    for _ in range(staged_r22._EM_ITERS):
        p1, p2 = dens(pi, mu1, mu2, v1, v2)
        r = p1 / (p1 + p2)
        n1, n2 = float(r.sum()), float((1.0 - r).sum())
        sx1, sx2 = float((r * x).sum()), float(((1.0 - r) * x).sum())
        sxx1 = float((r * x * x).sum())
        sxx2 = float(((1.0 - r) * x * x).sum())
        pi = q(n1 / n)
        mu1, mu2 = q(sx1 / n1), q(sx2 / n2)
        v1 = max(q(sxx1 / n1 - (sx1 / n1) ** 2), fl)
        v2 = max(q(sxx2 / n2 - (sx2 / n2) ** 2), fl)
    row = staged_r22.stat_mixture_em(spark, SF_DIR).collect()[0]
    assert (row.pi_1, row.mu_1, row.mu_2, row.var_1, row.var_2) == (
        pi,
        mu1,
        mu2,
        v1,
        v2,
    )
    assert row.n == n
    assert 0.0 < row.pi_1 < 1.0 and row.mu_1 <= row.mu_2
    # EM's monotone-likelihood property survives the 6 dp re-quantization
    assert row.avg_loglik >= ll0 - 1e-4


def test_active_learning_boundary_cut(spark, duck):
    rows = staged_r22.pipeline_active_learning(spark, SF_DIR).collect()
    n_li = duck.execute("SELECT count(*) FROM lineitem").fetchone()[0]
    assert len(rows) == min(100, n_li)
    for r in rows:
        assert 0.0 < r.p_return < 1.0
        # uncertainty_q is the nano-quantized |p - 1/2| of the UNROUNDED p;
        # p_return is the same p rounded 6 dp — they agree to the grain
        assert abs(r.uncertainty_q - round(abs(r.p_return - 0.5) * 1e9)) <= 501
    # the cut is a true boundary: nothing outside the selection is MORE
    # certain than the least-certain selected row
    max_sel = max(r.uncertainty_q for r in rows)
    strictly_inside = duck.execute(
        "SELECT count(*) FROM ("
        + staged_r22.PIPELINE_ACTIVE_ORACLE.replace(" LIMIT 100", "")
        + f") WHERE uncertainty_q < {max_sel}"
    ).fetchone()[0]
    assert strictly_inside <= 100
