"""Round-33 staged operators (operators/staged_r33.py): the wave's fn-vs-DuckDB
value compares, shared with tests/test_oracle_parity.py through the memoized
`run_compare`, and the checks an oracle cannot express. Independent guards:
the fixed-width parse against Python slicing of the staged bytes, dispersion
against statistics-module math with the integer verdict re-derived, digests
against hashlib, embeddedness against a brute-force neighbor-set sweep (with
the bridge/component consistency property), and peaks against a plain
neighbor scan."""

from __future__ import annotations

import hashlib
from collections import defaultdict

import pytest

from parallel_mapreduce_wordcounting_spark.operators import staged_r33

from .conftest import SF_DIR, assert_nonvacuous, run_compare, wave_keys


@pytest.mark.parametrize("key", wave_keys(staged_r33))
def test_staged_r33_oracle_parity(spark, duck, key):
    run_compare(spark, duck, key)


def test_staged_r33_nonvacuous(spark, duck):
    assert_nonvacuous(spark, duck, wave_keys(staged_r33))


def test_fixed_width_python_slicing(spark, duck):
    import glob
    import os
    import tempfile

    rows = {r.code: r for r in staged_r33.scan_fixed_width(spark, SF_DIR).collect()}
    stage = os.path.join(
        tempfile.gettempdir(),
        f"pmrwc_fw_{os.getuid()}_{hashlib.md5(SF_DIR.encode()).hexdigest()[:8]}",
    )
    agg = defaultdict(lambda: [0, 0, 0])
    for path in glob.glob(f"{stage}/*.txt"):
        for line in open(path):
            line = line.rstrip("\n")
            assert len(line) == 17  # 6 + 3 + 8 fixed layout
            code, amt = line[6:9], int(line[9:17])
            agg[code][0] += 1
            agg[code][1] += amt
            agg[code][2] = max(agg[code][2], amt)
    assert set(rows) == set(agg)
    for code, (n, tot, mx) in agg.items():
        r = rows[code]
        assert (r.n_recs, r.total_cents, r.max_cents) == (n, tot, mx)


def test_dispersion_python_math(spark, duck):
    cnts = [
        r[0]
        for r in duck.execute(
            "SELECT count(*) FROM events GROUP BY "
            "CAST(((epoch_ns(ts) // 1000) - ((((epoch_ns(ts) // 1000)"
            " % 86400000000) + 86400000000) % 86400000000)) // 86400000000 "
            "AS BIGINT)"
        ).fetchall()
    ]
    n = len(cnts)
    sx = sum(cnts)
    sxx = sum(c * c for c in cnts)
    mean = sx / n
    var = (n * sxx - sx * sx) / (n * (n - 1))
    r = staged_r33.stat_dispersion(spark, SF_DIR).collect()[0]
    assert r.n == n
    assert abs(r.mean_per_day - mean) < 1e-6
    assert abs(r.dispersion - var / mean) < 1e-6
    assert abs(r.chi2 - (n - 1) * var / mean) < 1e-2
    assert r.overdispersed == (n * sxx - sx * sx > (n - 1) * sx)


def test_digest_hashlib(spark, duck):
    texts = dict(
        duck.execute(
            "SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 20"
        ).fetchall()
    )
    rows = {r.doc_id: r for r in staged_r33.fn_digest(spark, SF_DIR).collect()}
    for doc_id, text in texts.items():
        raw = text.encode("utf-8")
        r = rows[doc_id]
        assert r.md5_hex == hashlib.md5(raw).hexdigest()
        assert r.sha256_hex == hashlib.sha256(raw).hexdigest()
        assert r.n_bytes == len(raw)


def test_embeddedness_brute_force(spark, duck):
    from parallel_mapreduce_wordcounting_spark.operators.dedup import (
        SHINGLES_CTE,
        _ORACLE_PAIR_JACCARD,
    )

    pairs = duck.execute(
        f"{SHINGLES_CTE} SELECT a.doc_id, b.doc_id FROM sh a JOIN sh b "
        f"ON a.doc_id < b.doc_id WHERE {_ORACLE_PAIR_JACCARD} >= 0.3"
    ).fetchall()
    adj = defaultdict(set)
    for u, v in pairs:
        adj[u].add(v)
        adj[v].add(u)
    rows = {
        (r.doc_id_a, r.doc_id_b): r
        for r in staged_r33.graph_edge_embeddedness(spark, SF_DIR).collect()
    }
    assert set(rows) == {(min(u, v), max(u, v)) for u, v in pairs}
    for (u, v), r in rows.items():
        common = (adj[u] & adj[v]) - {u, v}
        union = (adj[u] | adj[v]) - {u, v}
        assert r.n_common == len(common)
        assert r.n_union == len(union)
        if union:
            assert abs(r.embeddedness - len(common) / len(union)) < 1e-6
        else:
            assert r.embeddedness is None
        assert r.is_bridge == (len(common) == 0)
    # tie-strength split is informative on this graph: both kinds exist
    assert any(r.is_bridge for r in rows.values())
    assert any(not r.is_bridge for r in rows.values())


def test_peaks_neighbor_scan(spark, duck):
    days = dict(
        duck.execute(
            "SELECT CAST(((epoch_ns(ts) // 1000) - ((((epoch_ns(ts) // 1000)"
            " % 86400000000) + 86400000000) % 86400000000)) // 86400000000 "
            "AS BIGINT), CAST(count(*) AS BIGINT) FROM events GROUP BY 1"
        ).fetchall()
    )
    rows = {r.day: r for r in staged_r33.event_peaks(spark, SF_DIR).collect()}
    for day, r in rows.items():
        assert day - 1 in days and day + 1 in days
        c, p, nx = days[day], days[day - 1], days[day + 1]
        assert r.cnt == c
        assert r.is_peak == (c > p and c > nx)
        assert r.prominence == c - max(p, nx)
    # every interior gapless day appears; peaks exist on a 30-day series
    assert any(r.is_peak for r in rows.values())
