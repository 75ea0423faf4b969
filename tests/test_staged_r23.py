"""Round-23 staged operators (operators/staged_r23.py): the wave's fn-vs-DuckDB
value compares, shared with tests/test_oracle_parity.py through the memoized
`run_compare`, and the checks an oracle cannot express. Independent guards:
a full Python DBSCAN replay over the brute-force pair set, the Hill
estimator against sorted-order Python, KDE cells against a Python kernel sum
with the same integer grid/bandwidth, Mahalanobis against numpy's covariance
solve, and the compression ratio byte-for-byte against stdlib zlib (its
rows-only substitute for an oracle)."""

from __future__ import annotations

import math
from collections import defaultdict

import pytest

from parallel_mapreduce_wordcounting_spark.operators import staged_r23

from .conftest import SF_DIR, assert_nonvacuous, run_compare, wave_keys


@pytest.mark.parametrize("key", wave_keys(staged_r23))
def test_staged_r23_oracle_parity(spark, duck, key):
    run_compare(spark, duck, key)


def test_staged_r23_nonvacuous(spark, duck):
    assert_nonvacuous(spark, duck, wave_keys(staged_r23))


def test_dbscan_python_replay(spark, duck):
    """Full plain-Python DBSCAN over the brute-force ε-graph."""
    pairs = duck.execute(
        "SELECT a.vec_id, b.vec_id FROM embeddings a JOIN embeddings b "
        "ON a.vec_id < b.vec_id AND "
        "round(list_dot_product(CAST(a.embedding AS DOUBLE[]), "
        "CAST(b.embedding AS DOUBLE[])), 6) >= "
        f"{staged_r23._DBSCAN_COS}"
    ).fetchall()
    all_ids = [
        r[0] for r in duck.execute("SELECT vec_id FROM embeddings").fetchall()
    ]
    adj = defaultdict(set)
    for u, v in pairs:
        adj[u].add(v)
        adj[v].add(u)
    core = {u for u, nb in adj.items() if len(nb) >= staged_r23._DBSCAN_MINPTS}
    # components over core-core edges, labeled by min member
    label = {}
    for c in sorted(core):
        if c in label:
            continue
        comp, stack = {c}, [c]
        while stack:
            x = stack.pop()
            for y in adj[x]:
                if y in core and y not in comp:
                    comp.add(y)
                    stack.append(y)
        m = min(comp)
        for x in comp:
            label[x] = m
    expect = {}
    for v in all_ids:
        if v in core:
            expect[v] = ("core", label[v])
        elif adj[v] & core:
            expect[v] = ("border", min(label[c] for c in adj[v] & core))
        else:
            expect[v] = ("noise", None)
    got = {
        r.vec_id: (r.role, r.cluster_id)
        for r in staged_r23.sim_dbscan(spark, SF_DIR).collect()
    }
    assert got == expect
    roles = {r for r, _ in got.values()}
    assert roles == {"core", "border", "noise"}  # all three populated


def test_hill_python_sorted(spark, duck):
    xs = sorted(
        (
            float(r[0])
            for r in duck.execute("SELECT o_totalprice FROM orders").fetchall()
        ),
        reverse=True,
    )
    k = staged_r23._HILL_K
    assert len(xs) >= k + 1
    xk = xs[k]
    mean = sum(math.log(x / xk) for x in xs[: k + 1]) / k
    r = staged_r23.stat_hill_tail(spark, SF_DIR).collect()[0]
    assert r.n == len(xs)
    assert abs(r.hill_mean - mean) < 1e-6
    assert abs(r.alpha - 1.0 / mean) < 1e-4
    assert r.x_k == round(xk, 2)
    assert r.alpha > 0


def test_kde_python_kernel_sum(spark, duck):
    cents = [
        r[0]
        for r in duck.execute(
            "SELECT CAST(sign(o_totalprice) * floor(abs(o_totalprice) * 100 "
            "+ 0.5) AS BIGINT) FROM orders"
        ).fetchall()
    ]
    n = len(cents)
    gmin, gmax = min(cents), max(cents)
    sx, sxx = sum(cents), sum(c * c for c in cents)
    var = sxx / n - (sx / n) * (sx / n)
    h = max(1, int(math.floor(1.06 * math.sqrt(var) * n ** -0.2 + 0.5)))
    rows = {
        r.grid_idx: r for r in staged_r23.stat_kde_grid(spark, SF_DIR).collect()
    }
    assert len(rows) == staged_r23._KDE_POINTS
    for j in (0, 16, 32):
        g = gmin + ((gmax - gmin) * j) // 32
        assert rows[j].grid_cents == g
        phi = sum(math.exp(-0.5 * ((g - c) / h) ** 2) for c in cents) / n
        assert abs(rows[j].phi_mean - phi) < 1e-5
    # densities are positive and the grid is monotone
    assert all(r.phi_mean > 0 for r in rows.values())
    gs = [rows[j].grid_cents for j in range(staged_r23._KDE_POINTS)]
    assert gs == sorted(gs)


def test_mahalanobis_numpy_solve(spark, duck):
    import numpy as np

    data = duck.execute(
        "SELECT l_orderkey, l_linenumber, CAST(l_quantity AS BIGINT), "
        "CAST(sign(l_extendedprice) * floor(abs(l_extendedprice) * 100 + 0.5)"
        " AS BIGINT) FROM lineitem"
    ).fetchall()
    X = np.array([[r[2], r[3]] for r in data], dtype=np.float64)
    mu = X.mean(axis=0)
    cov = np.cov(X.T, bias=True)
    inv = np.linalg.inv(cov)
    d = X - mu
    md2 = np.einsum("ij,jk,ik->i", d, inv, d)
    order = sorted(
        range(len(data)), key=lambda i: (-md2[i], data[i][0], data[i][1])
    )[: staged_r23._MAHA_TOPK]
    expect = [(data[i][0], data[i][1]) for i in order]
    rows = staged_r23.dq_mahalanobis(spark, SF_DIR).collect()
    got = [(r.l_orderkey, r.l_linenumber) for r in rows]
    assert got == expect
    for r, i in zip(rows, order):
        assert abs(r.md2 - md2[i]) < 1e-4
        assert r.md2 > 0


def test_compression_ratio_stdlib_zlib(spark, duck):
    import zlib

    texts = dict(duck.execute("SELECT doc_id, text FROM documents").fetchall())
    rows = staged_r23.text_compression_ratio(spark, SF_DIR).collect()
    assert len(rows) == len(texts)
    for r in rows:
        raw = texts[r.doc_id].encode("utf-8")
        comp = zlib.compress(raw, 6)
        assert (r.raw_bytes, r.comp_bytes) == (len(raw), len(comp))
        # HALF_UP like F.round (93/128 = .7265625 ties at the 6th decimal)
        assert r.ratio == math.floor(len(comp) / len(raw) * 1e6 + 0.5) / 1e6
        assert 0.0 < r.ratio < 2.0
