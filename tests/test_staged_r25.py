"""Round-25 staged operators (operators/staged_r25.py): the wave's fn-vs-DuckDB
value compares, shared with tests/test_oracle_parity.py through the memoized
`run_compare`, and the checks an oracle cannot express. Independent guards:
the isotonic fit against a plain pool-adjacent-violators stack replay
(monotonicity + level-set means), LPA against a Python synchronous-rounds
replay over the brute-force edge set, the periodogram against a Python DFT
with the identical integer centering, Bollinger bands against a Python
rolling window, k-fold per-stratum balance (max−min ≤ 1), and the JPEG walk
against Python struct re-parsing of the staged bytes."""

from __future__ import annotations

import math
from collections import defaultdict

import pytest

from parallel_mapreduce_wordcounting_spark.operators import staged_r25

from .conftest import SF_DIR, assert_nonvacuous, run_compare, wave_keys


@pytest.mark.parametrize("key", wave_keys(staged_r25))
def test_staged_r25_oracle_parity(spark, duck, key):
    run_compare(spark, duck, key)


def test_staged_r25_nonvacuous(spark, duck):
    assert_nonvacuous(spark, duck, wave_keys(staged_r25))


def _pav(ns, cs):
    """Classic stack PAV over bins in order: returns the isotonic rates."""
    blocks = []  # (n, c)
    for n, c in zip(ns, cs):
        blocks.append([n, c])
        while len(blocks) > 1 and (
            blocks[-2][1] * blocks[-1][0] >= blocks[-1][1] * blocks[-2][0]
        ):  # prev_rate >= cur_rate -> pool (integer cross-multiplication)
            n1, c1 = blocks.pop()
            blocks[-1][0] += n1
            blocks[-1][1] += c1
    # expand: each block covers as many bins as were pooled into it
    rates = []
    i = 0
    for n, c in blocks:
        # count how many original bins were pooled into this block
        tot = 0
        k = 0
        while tot < n:
            tot += ns[i + k]
            k += 1
        rates.extend([c / n] * k)
        i += k
    return rates


def test_isotonic_pav_stack_replay(spark, duck):
    bins = duck.execute(
        "WITH lab AS (SELECT value AS v, CASE WHEN event_type = 'purchase' "
        "THEN 1 ELSE 0 END AS y FROM events), "
        "mm AS (SELECT min(v) AS lo, max(v) AS hi FROM lab), "
        "b AS (SELECT CASE WHEN mm.hi = mm.lo THEN 0 ELSE least(CAST("
        "floor((v - mm.lo) / ((mm.hi - mm.lo) / 10)) AS BIGINT), 9) END AS "
        "bin, y FROM lab, mm) "
        "SELECT bin, count(*), sum(y) FROM b GROUP BY bin ORDER BY bin"
    ).fetchall()
    ns = [r[1] for r in bins]
    cs = [r[2] for r in bins]
    expect = _pav(ns, cs)
    rows = sorted(
        staged_r25.stat_isotonic(spark, SF_DIR).collect(), key=lambda r: r.bin
    )
    assert [r.bin for r in rows] == [r[0] for r in bins]
    for r, exp in zip(rows, expect):
        assert abs(r.iso_rate - exp) < 1e-6
    # the defining property: monotone non-decreasing in bin order
    iso = [r.iso_rate for r in rows]
    assert iso == sorted(iso)
    # and it differs from the raw curve somewhere (fixture is non-monotone)
    assert any(abs(r.iso_rate - r.raw_rate) > 1e-9 for r in rows)


def test_label_prop_python_replay(spark, duck):
    from parallel_mapreduce_wordcounting_spark.operators.dedup import (
        SHINGLES_CTE,
        _ORACLE_PAIR_JACCARD,
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
    for _ in range(staged_r25._LPA_ROUNDS):
        nxt = dict(lab)
        for node in docs:
            if not adj[node]:
                continue
            votes = defaultdict(int)
            for nb in adj[node]:
                votes[lab[nb]] += 1
            nxt[node] = min(
                votes, key=lambda l: (-votes[l], l)  # noqa: B023
            )
        lab = nxt
    sizes = defaultdict(int)
    for l in lab.values():
        sizes[l] += 1
    got = {
        r.doc_id: (r.community, r.community_size)
        for r in staged_r25.graph_label_prop(spark, SF_DIR).collect()
    }
    assert got == {d: (lab[d], sizes[lab[d]]) for d in docs}
    # communities are non-trivial: at least one with size > 1
    assert any(s > 1 for _, s in got.values())


def test_periodogram_python_dft(spark, duck):
    days = duck.execute(
        "SELECT CAST(((epoch_ns(ts) // 1000) - ((((epoch_ns(ts) // 1000)"
        " % 86400000000) + 86400000000) % 86400000000)) // 86400000000 "
        "AS BIGINT) AS day, CAST(count(*) AS BIGINT) FROM events GROUP BY 1"
    ).fetchall()
    n = len(days)
    s = sum(c for _, c in days)
    d0 = min(d for d, _ in days)
    xs = [(d - d0, n * c - s) for d, c in days]
    sstot = sum(x * x for _, x in xs)
    rows = {
        r.period: r.power
        for r in staged_r25.event_periodogram(spark, SF_DIR).collect()
    }
    assert set(rows) == set(staged_r25._PERIODS)
    for p in staged_r25._PERIODS:
        cr = sum(x * math.cos(2 * math.pi * di / p) for di, x in xs)
        ci = sum(x * math.sin(2 * math.pi * di / p) for di, x in xs)
        assert abs(rows[p] - (cr * cr + ci * ci) / sstot) < 1e-5
    # normalized power is non-negative
    assert all(v >= 0 for v in rows.values())


def test_bollinger_python_rolling(spark, duck):
    days = sorted(
        duck.execute(
            "SELECT CAST(((epoch_ns(ts) // 1000) - ((((epoch_ns(ts) // 1000)"
            " % 86400000000) + 86400000000) % 86400000000)) // 86400000000 "
            "AS BIGINT) AS day, CAST(sum(CAST(sign(value) * floor(abs(value)"
            " * 100 + 0.5) AS BIGINT)) AS BIGINT) FROM events "
            "WHERE event_type = 'purchase' GROUP BY 1"
        ).fetchall()
    )
    rows = {r.day: r for r in staged_r25.win_bollinger(spark, SF_DIR).collect()}
    assert len(rows) == max(0, len(days) - 6)
    for i in range(6, len(days)):
        day, rev = days[i]
        window = [r for _, r in days[i - 6 : i + 1]]
        mean = sum(window) / 7.0
        var = sum(w * w for w in window) / 7.0 - mean * mean
        sigma = math.sqrt(max(var, 0.0))
        r = rows[day]
        assert r.rev_cents == rev
        assert abs(r.mean7 - mean) < 1e-5
        assert abs(r.sigma7 - sigma) < 1e-4
        if rev > mean + 2 * sigma + 1e-6:
            assert r.breakout == 1
        elif rev < mean - 2 * sigma - 1e-6:
            assert r.breakout == -1


def test_kfold_stratum_balance(spark):
    rows = staged_r25.sample_kfold(spark, SF_DIR).collect()
    per_lang = defaultdict(dict)
    for r in rows:
        per_lang[r.lang][r.fold] = r.n_docs
    assert per_lang  # nonvacuous
    for lang, folds in per_lang.items():
        sizes = [folds.get(f, 0) for f in range(staged_r25._KFOLDS)]
        assert max(sizes) - min(sizes) <= 1, (lang, sizes)
    # every doc lands in exactly one fold
    total = sum(r.n_docs for r in rows)
    import duckdb

    con = duckdb.connect()
    n_docs = con.execute(
        f"SELECT count(*) FROM read_parquet('{SF_DIR}/documents.parquet')"
    ).fetchone()[0]
    assert total == n_docs


def test_jpeg_struct_reparse(spark, duck):
    """Re-parse the staged JPEG bytes with Python struct (an independent
    marker walk) and pin the Spark fields byte-for-byte."""
    import glob
    import struct

    rows = {r.doc_id: r for r in staged_r25.mm_jpeg_meta(spark, SF_DIR).collect()}
    assert len(rows) == min(
        staged_r25._JPEG_DOCS,
        duck.execute("SELECT count(*) FROM documents").fetchone()[0],
    )
    import hashlib
    import os
    import tempfile

    stage = os.path.join(
        tempfile.gettempdir(),
        f"pmrwc_jpeg_{os.getuid()}_{hashlib.md5(SF_DIR.encode()).hexdigest()[:8]}",
    )
    for path in glob.glob(f"{stage}/*.jpg"):
        doc_id = int(os.path.basename(path).split(".")[0])
        blob = open(path, "rb").read()
        assert blob[:2] == b"\xff\xd8"
        pos = 2  # 0-based python walk
        w = h = prec = None
        for _ in range(8):
            marker = blob[pos : pos + 2]
            seg_len = struct.unpack(">H", blob[pos + 2 : pos + 4])[0]
            if marker == b"\xff\xc0":
                prec = blob[pos + 4]
                h, w = struct.unpack(">HH", blob[pos + 5 : pos + 9])
                break
            pos += 2 + seg_len
        r = rows[doc_id]
        assert (r.width, r.height, r.precision) == (w, h, prec)
        assert r.n_bytes == len(blob)
        assert r.valid_soi
