"""Round-26 staged operators (operators/staged_r26.py): the wave's fn-vs-DuckDB
value compares, shared with tests/test_oracle_parity.py through the memoized
`run_compare`, and the checks an oracle cannot express. Independent guards:
TOST against a Python z recomputation, the FD counts against brute-force
Python dict counting, the rolling correlation against statistics-free Python
sums, the seasonal anomaly gate against a replayed median/MAD screen, the
txn-log snapshot against a sequential Python log walk over the staged JSONL
bytes, and cross-lingual pairs against a brute-force numpy cosine sweep."""

from __future__ import annotations

import math
from collections import defaultdict

import pytest

from parallel_mapreduce_wordcounting_spark.operators import staged_r26

from .conftest import SF_DIR, assert_nonvacuous, run_compare, wave_keys


@pytest.mark.parametrize("key", wave_keys(staged_r26))
def test_staged_r26_oracle_parity(spark, duck, key):
    run_compare(spark, duck, key)


def test_staged_r26_nonvacuous(spark, duck):
    assert_nonvacuous(spark, duck, wave_keys(staged_r26))


def test_tost_python_z(spark, duck):
    n0, n1, c0, c1 = duck.execute(
        "SELECT sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END), "
        "sum(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END), "
        "sum(CASE WHEN event_id % 2 = 0 AND event_type = 'purchase' "
        "THEN 1 ELSE 0 END), "
        "sum(CASE WHEN event_id % 2 = 1 AND event_type = 'purchase' "
        "THEN 1 ELSE 0 END) FROM events"
    ).fetchone()
    p0, p1 = c0 / n0, c1 / n1
    diff = p1 - p0
    se = math.sqrt(p0 * (1 - p0) / n0 + p1 * (1 - p1) / n1)
    r = staged_r26.stat_tost_equivalence(spark, SF_DIR).collect()[0]
    assert (r.n0, r.n1, r.c0, r.c1) == (n0, n1, c0, c1)
    assert abs(r.diff - diff) < 1e-6
    assert abs(r.z_lower - (diff + 0.02) / se) < 1e-4
    assert abs(r.z_upper - (diff - 0.02) / se) < 1e-4
    crit = 1.6448536269514722
    want = (
        "equivalent"
        if (diff + 0.02) / se > crit and (diff - 0.02) / se < -crit
        else "not_shown"
    )
    assert r.verdict == want


def test_fd_brute_force(spark, duck):
    cases = {
        "documents.lang->source": ("documents", "lang", "source"),
        "orders.status->priority": ("orders", "o_orderstatus", "o_orderpriority"),
    }
    rows = {r.fd: r for r in staged_r26.dq_fd_check(spark, SF_DIR).collect()}
    assert len(rows) == 4
    for fd, (table, lhs, rhs) in cases.items():
        counts = defaultdict(lambda: defaultdict(int))
        for l, rr in duck.execute(f"SELECT {lhs}, {rhs} FROM {table}").fetchall():
            counts[l][rr] += 1
        n_rows = sum(sum(v.values()) for v in counts.values())
        viol = sum(sum(v.values()) - max(v.values()) for v in counts.values())
        r = rows[fd]
        assert (r.n_lhs, r.n_rows, r.violations) == (len(counts), n_rows, viol)
        assert r.holds == (viol == 0)
        assert abs(r.confidence - (n_rows - viol) / n_rows) < 1e-6
    # a real FD screen distinguishes: at least one candidate must FAIL
    assert any(not r.holds for r in rows.values())


def test_rolling_corr_python(spark, duck):
    days = sorted(
        duck.execute(
            "SELECT CAST(((epoch_ns(ts) // 1000) - ((((epoch_ns(ts) // 1000)"
            " % 86400000000) + 86400000000) % 86400000000)) // 86400000000 "
            "AS BIGINT), "
            "CAST(sum(CASE WHEN event_type = 'purchase' THEN "
            "CAST(sign(value) * floor(abs(value) * 100 + 0.5) AS BIGINT) "
            "ELSE 0 END) AS BIGINT), "
            "CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) "
            "AS BIGINT) FROM events GROUP BY 1"
        ).fetchall()
    )
    k = staged_r26._RC_WIN
    rows = {r.day: r for r in staged_r26.win_rolling_corr(spark, SF_DIR).collect()}
    assert len(rows) == max(0, len(days) - k + 1)
    for i in range(k - 1, len(days)):
        day, _, _ = days[i]
        win = days[i - k + 1 : i + 1]
        xs = [x for _, x, _ in win]
        ys = [y for _, _, y in win]
        num = k * sum(a * b for a, b in zip(xs, ys)) - sum(xs) * sum(ys)
        vx = k * sum(a * a for a in xs) - sum(xs) ** 2
        vy = k * sum(b * b for b in ys) - sum(ys) ** 2
        r = rows[day]
        if vx == 0 or vy == 0:
            assert r.corr14 is None
        else:
            assert abs(r.corr14 - num / (math.sqrt(vx) * math.sqrt(vy))) < 1e-6
            assert -1.0 - 1e-9 <= r.corr14 <= 1.0 + 1e-9


def test_seasonal_anomaly_replay(spark, duck):
    days = sorted(
        duck.execute(
            "SELECT CAST(((epoch_ns(ts) // 1000) - ((((epoch_ns(ts) // 1000)"
            " % 86400000000) + 86400000000) % 86400000000)) // 86400000000 "
            "AS BIGINT), CAST(count(*) AS BIGINT) FROM events GROUP BY 1"
        ).fetchall()
    )
    full = []
    for i in range(3, len(days) - 3):
        day, cnt = days[i]
        sum7 = sum(c for _, c in days[i - 3 : i + 4])
        full.append((day, cnt, sum7, ((day % 7) + 7) % 7, 7 * cnt - sum7))
    sden = defaultdict(int)
    kk = defaultdict(int)
    for _, _, _, dow, det7 in full:
        sden[dow] += det7
        kk[dow] += 1
    resid = {
        day: cnt - sum7 / 7.0 - sden[dow] / (7.0 * kk[dow])
        for day, cnt, sum7, dow, _ in full
    }

    def median(xs):
        xs = sorted(xs)
        n = len(xs)
        return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2

    m = median(resid.values())
    d = median([abs(v - m) for v in resid.values()])
    rows = {
        r.day: r
        for r in staged_r26.event_anomaly_seasonal(spark, SF_DIR).collect()
    }
    assert set(rows) == set(resid)
    for day, rv in resid.items():
        r = rows[day]
        assert abs(r.resid - rv) < 1e-5
        assert r.is_anomaly == (abs(rv - m) > 3 * 1.4826 * d)
        assert abs(r.score - abs(rv - m) / (1.4826 * d)) < 1e-4


def test_txn_log_sequential_walk(spark, duck):
    """Replay the staged JSONL bytes SEQUENTIALLY (the way a naive log
    reader would) and pin the declarative groupBy snapshot to it."""
    import glob
    import hashlib
    import json
    import os
    import tempfile

    rows = {r.file_id: r for r in staged_r26.scan_txn_log(spark, SF_DIR).collect()}
    stage = os.path.join(
        tempfile.gettempdir(),
        f"pmrwc_txn_{os.getuid()}_{hashlib.md5(SF_DIR.encode()).hexdigest()[:8]}",
    )
    live = {}
    for path in sorted(glob.glob(f"{stage}/*.json")):
        act = json.loads(open(path).read())
        if act["op"] == "add":
            live[act["file"]] = (act["rows"], act["v"])
        else:
            live.pop(act["file"], None)
    expect = {
        int(f[1:]): (nr, av) for f, (nr, av) in live.items()
    }
    assert {k: (r.n_rows, r.added_v) for k, r in rows.items()} == expect
    assert rows  # nonvacuous: some files survive the removes


def test_cross_lingual_numpy_sweep(spark, duck):
    import numpy as np

    embs = duck.execute(
        "SELECT vec_id, CAST(embedding AS DOUBLE[]) FROM embeddings"
    ).fetchall()
    langs = dict(duck.execute("SELECT doc_id, lang FROM documents").fetchall())
    ids = [r[0] for r in embs]
    X = np.array([r[1] for r in embs])
    S = np.round(X @ X.T, 6)
    expect = set()
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            if S[i, j] >= staged_r26._XLING_COS and langs[ids[i]] != langs[ids[j]]:
                expect.add((min(ids[i], ids[j]), max(ids[i], ids[j])))
    got = {
        (r.doc_id_a, r.doc_id_b): (r.lang_a, r.lang_b, r.cosine)
        for r in staged_r26.dedup_cross_lingual(spark, SF_DIR).collect()
    }
    assert set(got) == expect
    for (a, b), (la, lb, cos) in got.items():
        assert (la, lb) == (langs[a], langs[b])
        assert la != lb and cos >= staged_r26._XLING_COS
