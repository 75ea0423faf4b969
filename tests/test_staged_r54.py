"""Round-54 staged operators (operators/staged_r54.py): the wave's fn-vs-DuckDB
value compares, shared with tests/test_oracle_parity.py through the memoized
`run_compare`, and the checks an oracle cannot express. Independent guards:
energy distance against a pairwise Python replay (plus the metric non-
negativity and the same-sample zero identity), the NDV drift against set-
arithmetic replay, the resampler against a numpy replay pinned to floor
semantics on negative sums, and Yule's K against a Counter replay."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import pytest

from parallel_mapreduce_wordcounting_spark.operators import staged_r54

from .conftest import SF_DIR, assert_nonvacuous, run_compare, wave_keys


@pytest.mark.parametrize("key", wave_keys(staged_r54))
def test_staged_r54_oracle_parity(spark, duck, key):
    run_compare(spark, duck, key)


def test_staged_r54_nonvacuous(spark, duck):
    assert_nonvacuous(spark, duck, wave_keys(staged_r54))


def test_energy_distance_python_replay(spark, duck):
    ys = [
        y
        for (y,) in duck.execute(
            "SELECT y FROM (SELECT epoch_ns(ts)//1000//86400000000 AS day, "
            "sum(CAST(sign(value)*floor(abs(value)*100+0.5) AS BIGINT)) AS y "
            "FROM events WHERE event_type = 'purchase' GROUP BY 1) "
            "ORDER BY day"
        ).fetchall()
    ]
    n = len(ys)
    a = [y for t, y in enumerate(ys, 1) if 2 * t <= n]
    b = [y for t, y in enumerate(ys, 1) if 2 * t > n]
    exy = sum(abs(x - y) for x in a for y in b) / (len(a) * len(b))
    exx = sum(abs(x - y) for x in a for y in a) / (len(a) ** 2)
    eyy = sum(abs(x - y) for x in b for y in b) / (len(b) ** 2)
    want = (2 * exy - exx - eyy) / 100
    r = staged_r54.stat_energy_distance(spark, SF_DIR).first()
    assert (r.n_a, r.n_b) == (len(a), len(b))
    assert r.energy_usd == pytest.approx(want, abs=2e-6)
    # energy distance is a metric between distributions: non-negative,
    # and exactly zero when both halves are the same sample
    assert r.energy_usd >= -1e-6
    same = (2 * exx - exx - exx) / 100
    assert same == 0.0


def test_cardinality_drift_set_replay(spark, duck):
    rows = duck.execute(
        "SELECT o_orderkey, o_custkey, o_orderpriority, "
        "epoch_ns(o_orderdate)//1000//86400000000 FROM orders"
    ).fetchall()
    srt = sorted((d, ok) for ok, _, _, d in rows)
    m = srt[(len(srt) + 1) // 2 - 1][0]
    first = [(c, p) for _, c, p, d in rows if d <= m]
    second = [(c, p) for _, c, p, d in rows if d > m]
    got = {r.col: r for r in staged_r54.dq_cardinality_drift(spark, SF_DIR).collect()}
    for col, idx in (("o_custkey", 0), ("o_orderpriority", 1)):
        f = {t[idx] for t in first}
        s = {t[idx] for t in second}
        r = got[col]
        assert (r.ndv_first, r.ndv_second) == (len(f), len(s))
        assert r.ndv_shared == len(f & s)
        assert r.value_jaccard == pytest.approx(
            len(f & s) / len(f | s), abs=5.01e-7
        )
        assert r.ndv_shared <= min(r.ndv_first, r.ndv_second)


def test_stride_resample_numpy_replay(spark):
    import numpy as np

    got = {r.doc_id: r for r in staged_r54.mm_stride_resample(spark, SF_DIR).collect()}
    assert len(got) == staged_r54._RS_DOC_HI - staged_r54._RS_DOC_LO
    saw_negative_pair_sum = False
    for doc_id, r in got.items():
        n = 160 + (doc_id % 17) * 8
        k = np.arange(n, dtype=np.int64)
        v = (doc_id * 7919 + k * 104729 + 12345) % 65536 - 32768
        s0, s1 = v[0::2], v[1::2]
        o = (s0 + s1) // 2  # floor division — the pinned semantics
        if ((s0 + s1) < 0).any():
            saw_negative_pair_sum = True
        assert r.n_out == n // 2
        assert r.peak_out == int(np.max(np.abs(o)))
        assert r.sum_out == int(o.sum())
        rms_out = math.sqrt(float((o * o).sum()) / len(o))
        rms_in = math.sqrt(float((s0 * s0).sum() + (s1 * s1).sum()) / n)
        assert r.rms_ratio == pytest.approx(rms_out / rms_in, abs=5.01e-7)
        # boxcar averaging of near-white samples reduces power
        assert 0.0 < r.rms_ratio < 1.0
    # the floor-vs-truncate distinction is actually exercised
    assert saw_negative_pair_sum


def test_yule_k_counter_replay(spark, duck):
    rows = duck.execute("SELECT source, lower(text) FROM documents").fetchall()
    toks = defaultdict(Counter)
    for s, t in rows:
        toks[s].update(t.split(" "))
    got = {r.source: r for r in staged_r54.text_yule_k(spark, SF_DIR).collect()}
    assert set(got) == set(toks)
    for s, cnt in toks.items():
        s1 = sum(cnt.values())
        s2 = sum(f * f for f in cnt.values())
        r = got[s]
        assert (r.n_tokens, r.vocab) == (s1, len(cnt))
        assert r.yule_k == pytest.approx(
            10000 * (s2 - s1) / (s1 * s1), abs=2e-6
        )
        assert r.yule_k >= 0.0  # S2 >= S1 always (f^2 >= f)
