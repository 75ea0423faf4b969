"""Round-24 staged operators (operators/staged_r24.py): the wave's fn-vs-DuckDB
value compares, shared with tests/test_oracle_parity.py through the memoized
`run_compare`, and the checks an oracle cannot express. Independent guards:
the Hilbert key against a plain-Python xy2d replay plus the bijection/unit-
step curve properties, PCA against numpy.linalg.eigh, Cook's distance
against a numpy OLS-influence replica, the SPRT decision against a pure-
Python sequential walk, the hashed embedding against a hashlib/md5 replica,
and the seasonal decomposition against a Python moving-average replay plus
the exact reconstruction identity."""

from __future__ import annotations

import hashlib
import math
from collections import defaultdict

import pytest

from parallel_mapreduce_wordcounting_spark.operators import staged_r24

from .conftest import SF_DIR, assert_nonvacuous, run_compare, wave_keys


@pytest.mark.parametrize("key", wave_keys(staged_r24))
def test_staged_r24_oracle_parity(spark, duck, key):
    run_compare(spark, duck, key)


def test_staged_r24_nonvacuous(spark, duck):
    assert_nonvacuous(spark, duck, wave_keys(staged_r24))


def _hilbert_small(order, x, y):
    """Order-parameterized replica of the staged recurrence (reflection
    against the full grid), for curve-property checks on enumerable
    grids."""
    n = 1 << order
    d, s = 0, n >> 1
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x, y = n - 1 - x, n - 1 - y
            x, y = y, x
        s >>= 1
    return d


def test_hilbert_curve_properties():
    """The recurrence actually IS a Hilbert curve: a bijection onto
    [0, n²) whose consecutive cells are unit Manhattan steps (the
    locality property Z-order lacks — Morton's worst-case jump on the
    same grid spans half the keyspace)."""
    order = 4
    n = 1 << order
    inv = {}
    for x in range(n):
        for y in range(n):
            d = _hilbert_small(order, x, y)
            assert d not in inv
            inv[d] = (x, y)
    assert len(inv) == n * n
    for d in range(n * n - 1):
        (x0, y0), (x1, y1) = inv[d], inv[d + 1]
        assert abs(x1 - x0) + abs(y1 - y0) == 1


def test_hilbert_python_replay(spark, duck):
    rows = duck.execute(
        "SELECT o_orderkey, o_custkey & 65535, "
        "date_diff('day', DATE '1970-01-01', o_orderdate) & 65535 FROM orders"
    ).fetchall()
    expect = {k: staged_r24.hilbert_d(x, y) for k, x, y in rows}
    got = {
        r.o_orderkey: r.hval
        for r in staged_r24.layout_hilbert(spark, SF_DIR).collect()
    }
    assert got == expect
    # range partitioning holds: per-partition hval ranges are disjoint
    import pyspark.sql.functions as F

    parts = (
        staged_r24.layout_hilbert(spark, SF_DIR)
        .withColumn("p", F.spark_partition_id())
        .groupBy("p")
        .agg(F.min("hval").alias("lo"), F.max("hval").alias("hi"))
        .collect()
    )
    spans = sorted((r.lo, r.hi) for r in parts)
    for (l0, h0), (l1, h1) in zip(spans, spans[1:]):
        assert h0 <= l1


def test_pca_numpy_eigh(spark, duck):
    import numpy as np

    data = duck.execute(
        "SELECT CAST(l_quantity AS BIGINT), "
        "CAST(sign(l_extendedprice) * floor(abs(l_extendedprice) * 100 + 0.5)"
        " AS BIGINT) FROM lineitem"
    ).fetchall()
    X = np.array(data, dtype=np.float64)
    cov = np.cov(X.T, bias=True)
    lam, vec = np.linalg.eigh(cov)
    r = staged_r24.stat_pca(spark, SF_DIR).collect()[0]
    assert r.n == len(data)
    assert abs(r.lam1 - lam[1]) < 1e-6 * max(1.0, abs(lam[1]))
    assert abs(r.lam2 - lam[0]) < 1e-6 * max(1.0, abs(lam[1]))
    assert abs(r.var_explained - lam[1] / (lam[0] + lam[1])) < 1e-6
    v = vec[:, 1] if vec[0, 1] >= 0 else -vec[:, 1]
    assert abs(r.ev1 - v[0]) < 1e-6 and abs(r.ev2 - v[1]) < 1e-6
    assert abs(r.ev1**2 + r.ev2**2 - 1.0) < 1e-5  # unit eigenvector
    assert r.lam1 >= r.lam2 >= 0


def test_cooks_numpy_influence(spark, duck):
    import numpy as np

    data = duck.execute(
        "SELECT l_orderkey, l_linenumber, CAST(l_quantity AS BIGINT), "
        "CAST(sign(l_extendedprice) * floor(abs(l_extendedprice) * 100 + 0.5)"
        " AS BIGINT) FROM lineitem"
    ).fetchall()
    x = np.array([r[2] for r in data], dtype=np.float64)
    y = np.array([r[3] for r in data], dtype=np.float64)
    n = len(x)
    mx, my = x.mean(), y.mean()
    sxx = ((x - mx) ** 2).sum()
    sxy = ((x - mx) * (y - my)).sum()
    b = sxy / sxx
    a = my - b * mx
    e = y - a - b * x
    h = 1.0 / n + (x - mx) ** 2 / sxx
    s2 = (e**2).sum() / (n - 2)
    cd = e**2 * h / (2 * s2 * (1 - h) ** 2)
    order = sorted(
        range(n), key=lambda i: (-cd[i], data[i][0], data[i][1])
    )[: staged_r24._COOKS_TOPK]
    rows = staged_r24.stat_cooks_distance(spark, SF_DIR).collect()
    assert [(r.l_orderkey, r.l_linenumber) for r in rows] == [
        (data[i][0], data[i][1]) for i in order
    ]
    for r, i in zip(rows, order):
        assert abs(r.cooks_d - cd[i]) < 1e-4 * max(1.0, cd[i])
        assert abs(r.leverage - h[i]) < 1e-6
        assert 0 < r.leverage < 1


def test_sprt_python_walk(spark, duck):
    stream = duck.execute(
        "SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END "
        "FROM events ORDER BY ts, event_id"
    ).fetchall()
    c = 0
    expect = None
    for n, (xi,) in enumerate(stream, start=1):
        c += xi
        llr = c * staged_r24._SPRT_L1 + (n - c) * staged_r24._SPRT_L0
        if llr >= staged_r24._SPRT_A:
            expect = ("accept_h1", n, c, round(llr, 6))
            break
        if llr <= staged_r24._SPRT_B:
            expect = ("accept_h0", n, c, round(llr, 6))
            break
    if expect is None:
        expect = ("continue", n, c, round(llr, 6))
    rows = staged_r24.event_ab_sprt(spark, SF_DIR).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.decision, r.n_obs, r.conversions) == expect[:3]
    assert abs(r.llr - expect[3]) < 1e-9
    # the sequential test stops FAR before the stream ends on this corpus
    assert r.decision != "continue" and r.n_obs < len(stream)


def test_hash_embed_hashlib_replica(spark, duck):
    texts = dict(
        duck.execute(
            "SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 5"
        ).fetchall()
    )
    got = defaultdict(dict)
    for r in staged_r24.text_hash_embed(spark, SF_DIR).collect():
        got[r.doc_id][r.bucket] = r.weight
    for doc_id, text in texts.items():
        vals = defaultdict(int)
        toks = text.lower().split(" ")
        cnt = defaultdict(int)
        for w in toks:
            cnt[w] += 1
        for w, k in cnt.items():
            h = int(hashlib.md5(w.encode("utf-8")).hexdigest()[:15], 16)
            vals[h % 64] += k if (h >> 6) & 1 else -k
        vals = {b: v for b, v in vals.items() if v != 0}
        nn = math.sqrt(sum(v * v for v in vals.values()))
        expect = {b: round(v / nn, 6) for b, v in vals.items()}
        assert set(got[doc_id]) == set(expect)
        for b, wgt in expect.items():
            assert abs(got[doc_id][b] - wgt) < 1e-9
        # unit norm (up to the 6 dp display rounding)
        assert abs(sum(w * w for w in got[doc_id].values()) - 1.0) < 1e-4


def test_seasonal_python_replay(spark, duck):
    days = dict(
        duck.execute(
            "SELECT CAST(((epoch_ns(ts) // 1000) - ((((epoch_ns(ts) // 1000)"
            " % 86400000000) + 86400000000) % 86400000000)) // 86400000000 "
            "AS BIGINT) AS day, CAST(count(*) AS BIGINT) "
            "FROM events GROUP BY 1"
        ).fetchall()
    )
    series = sorted(days.items())
    full = []
    for i in range(3, len(series) - 3):
        day, cnt = series[i]
        sum7 = sum(c for _, c in series[i - 3 : i + 4])
        full.append((day, cnt, sum7, ((day % 7) + 7) % 7, 7 * cnt - sum7))
    sden = defaultdict(int)
    k = defaultdict(int)
    for _, _, _, dow, det7 in full:
        sden[dow] += det7
        k[dow] += 1
    rows = {
        r.day: r
        for r in staged_r24.event_seasonal_decompose(spark, SF_DIR).collect()
    }
    assert len(rows) == len(full)
    for day, cnt, sum7, dow, _ in full:
        r = rows[day]
        trend = sum7 / 7.0
        seasonal = sden[dow] / (7.0 * k[dow])
        assert (r.dow, r.cnt) == (dow, cnt)
        assert abs(r.trend - trend) < 1e-6  # 6 dp display rounding
        assert abs(r.seasonal - seasonal) < 1e-6
        assert abs(r.resid - (cnt - trend - seasonal)) < 1e-6
        # exact reconstruction identity (up to display rounding)
        assert abs((r.trend + r.seasonal + r.resid) - cnt) < 1e-5
