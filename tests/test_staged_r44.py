"""Round-44 staged operators (operators/staged_r44.py): the wave's fn-vs-DuckDB
value compares, shared with tests/test_oracle_parity.py through the memoized
`run_compare`, and the checks an oracle cannot express. Independent guards:
Durbin–Watson against a float OLS replay, BFS against a plain Python
adjacency walk, the ablation against per-doc Python filter flags, and the
decontamination census against Python ``in``."""

from __future__ import annotations

from collections import Counter

import pytest

from parallel_mapreduce_wordcounting_spark.operators import staged_r44

from .conftest import SF_DIR, assert_nonvacuous, run_compare, wave_keys


@pytest.mark.parametrize("key", wave_keys(staged_r44))
def test_staged_r44_oracle_parity(spark, duck, key):
    run_compare(spark, duck, key)


def test_staged_r44_nonvacuous(spark, duck):
    assert_nonvacuous(spark, duck, wave_keys(staged_r44))


def test_durbin_watson_float_replay(spark, duck):
    daily = sorted(
        duck.execute(
            "SELECT CAST(date_trunc('day', make_timestamp(epoch_ns(ts) // 1000)) "
            "AS TIMESTAMP) AS day, "
            "sum(CAST(sign(value) * floor(abs(value) * 100 + 0.5) AS BIGINT)) "
            "FROM events WHERE event_type = 'purchase' GROUP BY 1"
        ).fetchall()
    )
    n = len(daily)
    ys = [y for _, y in daily]
    ts = list(range(1, n + 1))
    tbar, ybar = sum(ts) / n, sum(ys) / n
    b = sum((t - tbar) * (y - ybar) for t, y in zip(ts, ys)) / sum(
        (t - tbar) ** 2 for t in ts
    )
    a = ybar - b * tbar
    e = [y - a - b * t for t, y in zip(ts, ys)]
    dw = sum((e[i] - e[i - 1]) ** 2 for i in range(1, n)) / sum(x * x for x in e)
    row = staged_r44.stat_durbin_watson(spark, SF_DIR).first()
    assert row.n_days == n
    assert row.dw == pytest.approx(dw, abs=1e-5)
    assert row.rho1 == pytest.approx(1 - row.dw / 2, abs=1e-6)
    assert row.positive_autocorr == (row.dw < staged_r44._DW_POSITIVE_CUTOFF)
    assert 0.0 <= row.dw <= 4.0


def test_bfs_python_walk(spark, duck):
    edges = duck.execute(
        f"WITH {staged_r44.SPAN_EDGES_ORACLE_CTES} SELECT da, db FROM e"
    ).fetchall()
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    nodes = set(adj)
    seeds = {v for v in nodes if v % staged_r44._BFS_SEED_MOD == 0}
    dist, frontier = {v: 0 for v in seeds}, set(seeds)
    for k in range(1, staged_r44._BFS_HOPS + 1):
        frontier = {
            u for v in frontier for u in adj[v] if u not in dist
        }
        for u in frontier:
            dist[u] = k
    want = Counter(dist.values())
    want[-1] = len(nodes) - len(dist)
    got = {
        r.dist: r.n_nodes for r in staged_r44.graph_bfs_frontier(spark, SF_DIR).collect()
    }
    assert got == {
        d: want.get(d, 0) for d in list(range(staged_r44._BFS_HOPS + 1)) + [-1]
    }
    assert got[0] == len(seeds) > 0


def test_ablation_python_flags(spark, duck):
    rows = duck.execute("SELECT text FROM documents").fetchall()
    base = 0
    solo = Counter()
    for (t,) in rows:
        words = t.split(" ")
        n_words, n_types = len(words), len(set(words))
        n_chars_w = sum(len(w) for w in words)
        flags = [
            n_words < 30,
            ("<" in t) and (">" in t),
            n_types < 0.3 * n_words,
            n_chars_w < 3.0 * n_words or n_chars_w > 12.0 * n_words,
        ]
        if not any(flags):
            base += 1
        elif sum(flags) == 1:
            solo[flags.index(True)] += 1
    got = {
        r.filter: r for r in staged_r44.pipeline_quality_ablation(spark, SF_DIR).collect()
    }
    assert set(got) == set(staged_r44._ABLATION_FILTERS)
    for i, name in enumerate(staged_r44._ABLATION_FILTERS):
        assert got[name].solo_kills == solo.get(i, 0)
        assert got[name].survivors_all == base
        assert got[name].survivors_without == base + solo.get(i, 0)


def test_substring_contamination_python_in(spark, duck):
    docs = dict(duck.execute("SELECT doc_id, text FROM documents").fetchall())
    mod, k = staged_r44._DECONTAM_EVAL_MOD, staged_r44._DECONTAM_NEEDLE_CHARS
    cap = staged_r44._DECONTAM_ID_CAP
    train = [t for d, t in docs.items() if d % mod != 0]
    want = {
        d: sum(1 for t in train if txt[:k] in t)
        for d, txt in docs.items()
        if d % mod == 0 and d < cap and len(txt) >= k
    }
    got = {
        r.eval_doc_id: r
        for r in staged_r44.text_substring_contamination(spark, SF_DIR).collect()
    }
    assert {d: r.n_train_hits for d, r in got.items()} == want
    for d, r in got.items():
        assert r.contaminated == (r.n_train_hits > 0)
