"""Round-51 staged operators (operators/staged_r51.py): the wave's fn-vs-DuckDB
value compares, shared with tests/test_oracle_parity.py through the memoized
`run_compare`, and the checks an oracle cannot express. Independent guards:
the snowflake codec against a pure-Python encode/decode, the interval union
against a merge-span sweep, seasonal MK against a nested-loop replay (plus
the tie-free variance identity), and the palette census against a numpy
posterization replay."""

from __future__ import annotations

from collections import Counter, defaultdict

import pytest

from parallel_mapreduce_wordcounting_spark.operators import staged_r51

from .conftest import SF_DIR, assert_nonvacuous, run_compare, wave_keys


@pytest.mark.parametrize("key", wave_keys(staged_r51))
def test_staged_r51_oracle_parity(spark, duck, key):
    run_compare(spark, duck, key)


def test_staged_r51_nonvacuous(spark, duck):
    assert_nonvacuous(spark, duck, wave_keys(staged_r51))


def test_snowflake_python_codec_replay(spark, duck):
    rows = duck.execute(
        "SELECT epoch_ns(ts)//1000//1000, user_id, event_id FROM events"
    ).fetchall()
    ms0 = min(ms for ms, _, _ in rows)
    per_worker = defaultdict(lambda: [0, [], 0])
    for ms, uid, eid in rows:
        worker, seq = uid % 1024, eid % 4096
        sid = (ms - ms0) * (1 << 22) + worker * (1 << 12) + seq
        # python decode must round-trip bit-exactly
        assert sid >> 22 == ms - ms0
        assert (sid >> 12) & 1023 == worker
        assert sid & 4095 == seq
        st = per_worker[worker]
        st[0] += 1
        st[1].append(ms - ms0)
        st[2] = max(st[2], seq)
    got = {r.worker: r for r in staged_r51.fn_snowflake_decode(spark, SF_DIR).collect()}
    assert set(got) == set(per_worker)
    for w, (n, rels, mx) in per_worker.items():
        r = got[w]
        assert r.n_ids == n
        assert r.span_ms == max(rels) - min(rels)
        assert r.max_seq == mx
        assert r.roundtrip_ok == n  # every id decodes back exactly


def test_interval_union_merge_sweep_replay(spark, duck):
    raw = duck.execute(
        "SELECT user_id, epoch_ns(ts)//1000 FROM events"
    ).fetchall()
    by_user = defaultdict(list)
    for u, us in raw:
        by_user[u].append(us)
    L = staged_r51._HOLD_US
    got = {r.user_id: r for r in staged_r51.event_interval_union(spark, SF_DIR).collect()}
    assert set(got) == set(by_user)
    for u, uss in by_user.items():
        uss.sort()
        total = 0
        cur_s, cur_e = uss[0], uss[0] + L
        for s in uss[1:]:
            if s > cur_e:
                total += cur_e - cur_s
                cur_s, cur_e = s, s + L
            else:
                cur_e = max(cur_e, s + L)
        total += cur_e - cur_s
        r = got[u]
        assert r.union_us == total
        assert r.n_contributing <= len(uss)
        assert r.merge_ratio == pytest.approx(
            total / (r.n_contributing * L), abs=5.01e-7
        )
        # the union is sandwiched by single-interval and no-overlap bounds
        assert L <= r.union_us <= len(uss) * L


def test_mann_kendall_python_replay(spark, duck):
    rows = duck.execute(
        "SELECT epoch_ns(ts)//1000//86400000000 AS day, "
        "sum(CAST(sign(value)*floor(abs(value)*100+0.5) AS BIGINT)) "
        "FROM events WHERE event_type = 'purchase' GROUP BY 1"
    ).fetchall()
    seasons = defaultdict(list)
    for day, y in rows:
        seasons[day % 7].append((day, y))
    S = n_pairs = 0
    v18 = 0
    for pts in seasons.values():
        pts.sort()
        n = len(pts)
        v18 += n * (n - 1) * (2 * n + 5)
        for t in Counter(y for _, y in pts).values():
            if t > 1:
                v18 -= t * (t - 1) * (2 * t + 5)
        for i in range(n):
            for j in range(i + 1, n):
                d = pts[j][1] - pts[i][1]
                S += (d > 0) - (d < 0)
                n_pairs += 1
    r = staged_r51.stat_mann_kendall_seasonal(spark, SF_DIR).first()
    assert (r.s_stat, r.n_pairs, r.var18) == (S, n_pairs, v18)
    import math

    z = 0.0 if S == 0 else round((S - (1 if S > 0 else -1)) / math.sqrt(v18 / 18), 6)
    assert r.z == pytest.approx(z, abs=1e-6)
    assert r.trend_detected == (abs(r.z) > staged_r51._MK_Z_CUTOFF)
    # |S| can never exceed the pair count
    assert abs(r.s_stat) <= r.n_pairs


def test_color_quantize_numpy_replay(spark):
    import numpy as np

    got = {r.doc_id: r for r in staged_r51.mm_color_quantize(spark, SF_DIR).collect()}
    assert len(got) == staged_r51._CQ_DOC_HI - staged_r51._CQ_DOC_LO
    for doc_id, r in got.items():
        w, h = 8 + doc_id % 8, 6 + doc_id % 6
        k = np.arange(w * h * 3, dtype=np.int64)
        v = (doc_id * 31 + k * 7) % 256
        q = v >> 5
        colors = (q[0::3] << 6) | (q[1::3] << 3) | q[2::3]
        cnt = Counter(colors.tolist())
        top_color, top_count = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
        assert r.n_pixels == w * h
        assert r.n_colors == len(cnt)
        assert (r.top_color, r.top_count) == (top_color, top_count)
        assert 1 <= r.n_colors <= min(512, r.n_pixels)
        assert 0 <= r.top_color < 512
